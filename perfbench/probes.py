"""Counters read from outside the engine: Spark's status store and
DAG scheduler (over py4j), a StreamingQueryListener, and /proc.

Nothing here imports the engine package; every probe takes the live
SparkSession or a pid."""

from __future__ import annotations

import os
import threading

from pyspark.sql.streaming import StreamingQueryListener

_TICK = os.sysconf("SC_CLK_TCK")
_MB = 1e6


class SparkCounters:
    """Executor totals and the job count, read after the listener bus
    drains so that every finished task is accounted for. Job ids are
    assigned at submission, so the DAG scheduler's count is exact."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def read(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        execs = self._sc.statusStore().executorList(True)
        out = dict.fromkeys(
            ("tasks", "failed_tasks", "task_s", "gc_s", "input_mb",
             "shuffle_read_mb", "shuffle_write_mb"), 0
        )
        for i in range(execs.size()):
            e = execs.apply(i)
            out["tasks"] += e.totalTasks()
            out["failed_tasks"] += e.failedTasks()
            out["task_s"] += e.totalDuration() / 1000.0
            out["gc_s"] += e.totalGCTime() / 1000.0
            out["input_mb"] += e.totalInputBytes() / _MB
            out["shuffle_read_mb"] += e.totalShuffleRead() / _MB
            out["shuffle_write_mb"] += e.totalShuffleWrite() / _MB
        out["jobs"] = self._sc.dagScheduler().numTotalJobs()
        return out


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


class BatchListener(StreamingQueryListener):
    """Collects every micro-batch's progress: input rows, the
    durationMs breakdown, and state-operator rows and memory."""

    def __init__(self):
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs
        rec = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "input_rows": p.numInputRows,
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "planning_ms": d.get("queryPlanning", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            "state_mem_mb": sum(s.memoryUsedBytes for s in p.stateOperators) / _MB,
        }
        with self._lock:
            self.batches.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def mark(self) -> int:
        with self._lock:
            return len(self.batches)

    def since(self, mark: int) -> list[dict]:
        with self._lock:
            return self.batches[mark:]


def streaming_summary(batches: list[dict]) -> dict:
    """Per-pass streaming figures: totals over batches, and each
    query's final state size (state is cumulative per query)."""
    final: dict[str, dict] = {}
    for b in batches:
        final[b["run_id"]] = b
    return {
        "batches": len(batches),
        "input_rows": sum(b["input_rows"] for b in batches),
        "trigger_ms": sum(b["trigger_ms"] for b in batches),
        "add_batch_ms": sum(b["add_batch_ms"] for b in batches),
        "planning_ms": sum(b["planning_ms"] for b in batches),
        "wal_commit_ms": sum(b["wal_commit_ms"] for b in batches),
        "state_rows": sum(b["state_rows"] for b in final.values()),
        "state_mem_mb": sum(b["state_mem_mb"] for b in final.values()),
    }


# ---- /proc -----------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def process_tree(root: int) -> list[int]:
    """`root` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _cpu_s(st: list[str]) -> float:
    # utime stime cutime cstime: reaped children (exited Python workers)
    # are charged to their parent's cutime/cstime
    return sum(int(x) for x in st[11:15]) / _TICK


class ProcTree:
    """CPU seconds of the benchmark's process tree, split into the
    Python driver, the JVM and the PySpark worker processes."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self._kind: dict[int, str] = {}

    def _kind_of(self, pid: int) -> str:
        kind = self._kind.get(pid)
        if kind is None:
            cmd = _cmdline(pid)
            if pid == self.root:
                kind = "driver"
            elif "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
                kind = "pyworker"
            elif "java" in cmd.split(" ", 1)[0]:
                kind = "jvm"
            else:
                kind = "other"
            self._kind[pid] = kind
        return kind

    def cpu(self) -> dict:
        out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
        for pid in process_tree(self.root):
            st = _stat(pid)
            if st is not None:
                out[self._kind_of(pid)] += _cpu_s(st)
        out["total"] = sum(out.values())
        return out

    def peak_rss_mb(self) -> float:
        """Sum over live processes of each one's peak resident set."""
        total_kb = 0
        for pid in process_tree(self.root):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                pass
        return total_kb / 1024.0


def steal_s() -> float:
    """CPU-seconds stolen from this VM by the hypervisor, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def process_age_s() -> float:
    """Seconds since this process started."""
    st = _stat(os.getpid())
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(st[19]) / _TICK
