#!/usr/bin/env python3
"""Benchmark of the engine at its layer boundaries.

Usage (from the repository root):

    python3 perfbench/run.py --workload llm-text-sf0.01 --seed 1 --seconds 5 --trace 0

One run is one process and one warm SparkSession on local[<cores>], driven
as a closed loop: a single client issues each operation after the
previous one finishes. A run

1. starts the session and generates the workload's inputs from --seed
   (three times; the median generation time goes into setup_s); the
   fixture tables are read in place,
2. runs one cold pass over every operation in the fresh JVM (cold_s),
3. checks every cold-pass output against an independent recomputation
   (gate.py), outside the timers,
4. runs the workload's warm-up passes, then measured warm passes until
   --seconds have passed and the workload's minimum number of passes is
   reached, and reports the medians of the measured passes; every warm
   output must equal the checked cold output,
5. with --trace 1, makes the warm-up passes (at least one), then blocks
   of four passes in the order untraced, traced, traced, untraced, so
   that a steady drift from pass to pass cancels; it reports the
   per-layer metrics from the traced passes. trace.overhead_s is the
   mean traced minus the mean untraced pass time; trace.span_cost_s is
   the recording cost itself: spans per pass times the calibrated cost
   of one span, plus the time to install and remove the wrappers.

Counters come from outside the engine: Spark's status store and DAG
scheduler, a StreamingQueryListener, and /proc. The last line of stdout
is one JSON object: {"correct", "attempted", "failed", "metrics"}; the
line before it is the full report.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

import layers
import probes
from gate import fingerprint
from spans import Tracer, self_times, span_cost_s

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPEATS = 3
MAX_WARM = 40
DEADLINE_S = 150  # stop starting passes after this; the run must end by 180 s
ABBA = (False, True, True, False)  # traced? per pass of a --trace 1 block


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _quantile(xs, q):
    """Nearest-rank quantile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM that PySpark launched for it, and
    wait for that process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Runner:
    """Runs passes over a workload's operations, timing each phase and
    reading the counters around it."""

    def __init__(self, spark, workload_name: str, tracer: Tracer):
        self.workload_name = workload_name
        self.tracer = tracer
        self.counters = probes.SparkCounters(spark)
        self.listener = probes.BatchListener()
        spark.streams.addListener(self.listener)
        self.proc = probes.ProcTree()

    def run_op(self, op, pass_id: int) -> dict:
        self.tracer.trace_id = f"{self.workload_name}/pass{pass_id}/{op.name}"
        rec = {"op": op.name, "layer": op.layer, "error": None, "result": None}
        c0, cpu0, steal0 = self.counters.read(), self.proc.cpu(), probes.steal_s()
        mark = self.listener.mark()
        drv0 = os.times()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"{op.layer}.build" if op.layer == "plans"
                                  else f"pipelines.{op.name}"):
                handle = op.build()
            rec["build_s"] = time.perf_counter() - t0
            drv1 = os.times()
            cb = self.counters.read()
            t1 = time.perf_counter()
            with self.tracer.span("operators.exec"):
                rec["result"] = op.execute(handle)
            rec["exec_s"] = time.perf_counter() - t1
        except Exception as exc:  # a failed operation, counted as such
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
            traceback.print_exc(file=sys.stderr)
            rec.setdefault("build_s", time.perf_counter() - t0)
            rec.setdefault("exec_s", 0.0)
            drv1, cb = os.times(), self.counters.read()
        c2, cpu2 = self.counters.read(), self.proc.cpu()
        rec["wall_s"] = rec["build_s"] + rec["exec_s"]
        rec["driver_build_cpu_s"] = (drv1.user + drv1.system) - (drv0.user + drv0.system)
        rec["build"] = probes.delta(cb, c0)
        rec["all"] = probes.delta(c2, c0)
        rec["cpu"] = {k: cpu2[k] - cpu0[k] for k in cpu2}
        rec["steal_s"] = probes.steal_s() - steal0
        rec["batches"] = self.listener.since(mark)
        return rec

    def run_pass(self, ops, pass_id: int, traced: bool) -> dict:
        t = time.perf_counter()
        if traced:
            self.tracer.install()
        patch_s = time.perf_counter() - t
        try:
            recs = [self.run_op(op, pass_id) for op in ops]
        finally:
            t = time.perf_counter()
            self.tracer.uninstall()
            patch_s += time.perf_counter() - t
        return {"pass": pass_id, "traced": traced, "ops": recs, "patch_s": patch_s,
                "wall_s": sum(r["wall_s"] for r in recs)}


def pass_figures(ps: dict, spans, workload_name: str, cores: int, per_span_s: float) -> dict:
    """Every per-pass figure: end-to-end and per-layer."""
    recs = ps["ops"]
    queries = [r for r in recs if r["layer"] == "plans"]
    tot = {k: sum(r["all"][k] for r in recs) for k in recs[0]["all"]}
    build_jobs = sum(r["build"]["jobs"] for r in queries)
    cpu = {k: sum(r["cpu"][k] for r in recs) for k in recs[0]["cpu"]}
    batches = [b for r in recs for b in r["batches"]]
    f = {
        "wall_s": ps["wall_s"],
        "cpu_s": cpu["total"],
        "shuffle_mb": tot["shuffle_write_mb"],
        "sources.input_mb": tot["input_mb"],
        "plans.build_s": sum(r["build_s"] for r in queries),
        "plans.build_jobs": build_jobs,
        "plans.driver_cpu_s": sum(r["driver_build_cpu_s"] for r in queries),
        "operators.exec_s": sum(r["exec_s"] for r in recs),
        "operators.jobs": tot["jobs"] - build_jobs,
        "operators.tasks": tot["tasks"],
        "operators.task_s": tot["task_s"],
        "operators.gc_s": tot["gc_s"],
        "operators.jvm_cpu_s": cpu["jvm"],
        "operators.shuffle_read_mb": tot["shuffle_read_mb"],
        "operators.failed_tasks": tot["failed_tasks"],
        "operators.core_util": tot["task_s"] / (ps["wall_s"] * cores) if ps["wall_s"] else 0.0,
        "functions.pyworker_cpu_s": cpu["pyworker"],
        "host.steal_s": sum(r["steal_s"] for r in recs),
    }
    for r in recs:
        f[f"operators.exec_s.{r['op']}"] = r["exec_s"]
        if r["op"] in layers.BUILD_BREAKOUT:
            f[f"plans.build_s.{r['op']}"] = r["build_s"]
        if r["layer"] == "pipelines":
            f[f"pipelines.{r['op']}_s"] = r["wall_s"]
    for k, v in probes.streaming_summary(batches).items():
        f[f"streaming.{k}"] = v
    if ps["traced"]:
        prefix = f"{workload_name}/pass{ps['pass']}/"
        sel = [s for s in spans if s["trace"].startswith(prefix)]
        for name, key in (("sources.load", "sources.load_s"),
                          ("sources.write", "sources.write_s"),
                          ("sources.stage", "sources.stage_s")):
            f[key] = sum(s["end"] - s["start"] for s in sel if s["name"] == name)
        f["session.barrier_calls"] = sum(1 for s in sel if s["name"] == "session.barrier")
        f["trace.span_cost_s"] = len(sel) * per_span_s + ps["patch_s"]
        for layer, secs in self_times(spans, prefix).items():
            f[f"{layer}.self_s"] = secs
    return f


EXACT_FIGURES = ("shuffle_mb", "sources.input_mb", "operators.tasks",
                 "operators.jobs", "plans.build_jobs", "streaming.batches")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test input sizes")
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM (the finally below)
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, _: sys.exit(128 + signum))
    # stdout carries only the report; the JVM and every library write to
    # stderr (children inherit fd 1, so it is redirected at the fd level)
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    sys.path.insert(0, str(ROOT))
    try:
        import workloads
        from introduction_in_big_data_spark.session import default_parallelism, get_spark
        from introduction_in_big_data_spark.streaming import stream as st
    except ImportError as exc:
        print(f"perfbench: engine package not importable: {exc}", file=sys.stderr)
        return 2

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]

    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # keep every file the run writes inside the checkout: Python workers'
    # temp files, Spark's block manager and shuffle files
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the stream stage dir of stream_hourly_by_type, inside the checkout
    st.STAGE_ROOT = str(work / "stage")
    cores = default_parallelism()

    tracer = Tracer()
    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark(
            f"perfbench-{wl.name}",
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": str(work / "warehouse"),
                "spark.sql.streaming.checkpointLocation": str(work / "checkpoints"),
            },
        )
        session_start_s = time.perf_counter() - t
        session_up_s = probes.process_age_s()

        tables_dir = workloads.FIXTURES / (wl.tiny_tables if args.tiny else wl.tables)
        sizes = {p.name: p.stat().st_size for p in sorted(tables_dir.glob("*.parquet"))}
        gen_s, data_dir = [], work / "inputs"
        for i in range(SETUP_REPEATS if wl.generate else 0):
            data_dir = work / f"inputs{i}"
            t = time.perf_counter()
            sizes |= wl.generate(str(data_dir), args.seed,
                                 wl.tiny_sizes if args.tiny else wl.sizes)
            gen_s.append(time.perf_counter() - t)
        setup_s = session_up_s + _median(gen_s)

        ctx = workloads.Context(spark, str(tables_dir), str(data_dir), str(work / "out"))
        ops = workloads.ordered_ops(wl, ctx, args.seed)
        runner = Runner(spark, wl.name, tracer)

        cold = runner.run_pass(ops, 0, traced=False)
        t = time.perf_counter()
        errors = {}
        want = {}
        for op, r in zip(ops, cold["ops"]):
            try:
                err = r["error"] or op.check(r["result"])
            except Exception as exc:  # a check that cannot run fails the operation
                traceback.print_exc(file=sys.stderr)
                err = f"check raised {type(exc).__name__}: {exc}"[:500]
            if err:
                errors[f"pass0/{op.name}"] = err
            else:
                want[op.name] = fingerprint(r["result"])
        gate_s = time.perf_counter() - t

        # the first passes warm up (at least one with --trace 1); the
        # measured passes follow them, with --trace 1 in ABBA blocks
        warmup = max(wl.warmup, args.trace)
        warm = []
        t_warm = None
        while len(warm) < MAX_WARM:
            n = len(warm) - warmup  # measured passes so far
            if n == 0:
                t_warm = time.perf_counter()
            if n > 0:
                enough = (n % len(ABBA) == 0) if args.trace else n >= wl.min_warm
                if (enough and time.perf_counter() - t_warm >= args.seconds) or \
                        probes.process_age_s() > DEADLINE_S:
                    break
            traced = bool(args.trace) and n >= 0 and ABBA[n % len(ABBA)]
            ps = runner.run_pass(ops, len(warm) + 1, traced)
            ps["warmup"] = n < 0
            for r in ps["ops"]:
                if r["error"] or fingerprint(r["result"]) != want.get(r["op"]):
                    errors[f"pass{ps['pass']}/{r['op']}"] = r["error"] or "output differs"
                r["result"] = None
            warm.append(ps)

        peak_rss_mb = runner.proc.peak_rss_mb()
    finally:
        try:
            if spark is not None:
                _stop_jvm(spark)
        finally:
            # only once the JVM has ended: its threads write under `work`
            shutil.rmtree(work, ignore_errors=True)

    per_span_s = span_cost_s() if args.trace else 0.0
    figs = [pass_figures(ps, tracer.spans, wl.name, cores, per_span_s) for ps in warm]
    # the warm-up passes are left out of every median
    measured = [(f, ps) for f, ps in zip(figs, warm) if not ps["warmup"]]
    plain = [f for f, ps in measured if not ps["traced"]]
    traced = [f for f, ps in measured if ps["traced"]]

    def med(rows, key):
        return _median([r.get(key, 0.0) for r in rows])

    # exact counters must repeat across warm passes: report drift by name
    drift = {}
    for key in EXACT_FIGURES:
        vals = [round(f[key], 6) for f in figs]
        if len(set(vals)) > 1:
            drift[key] = vals

    attempted = len(ops) * (1 + len(warm))
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "cold_s": (cold["wall_s"], "s"),
        "wall_s": (med(plain, "wall_s"), "s"),
        "cpu_s": (med(plain, "cpu_s"), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "shuffle_mb": (med(plain, "shuffle_mb"), "MB"),
    }
    batch_ms = [b["trigger_ms"] for f, ps in measured if not ps["traced"]
                for o in ps["ops"] for b in o["batches"]]
    stream_latency = {
        "batch_p50_ms": _quantile(batch_ms, 0.5),
        "batch_p90_ms": _quantile(batch_ms, 0.9),
        "batch_samples": len(batch_ms),
    }

    per_layer = {}
    if args.trace:
        for m in layers.PER_LAYER:
            name = m["name"]
            if name == "session.start_s":
                v = session_start_s
            elif name == "trace.overhead_s":
                v = (statistics.fmean(f["wall_s"] for f in traced)
                     - statistics.fmean(f["wall_s"] for f in plain)) if traced and plain else 0.0
            elif name in ("streaming.batch_p50_ms", "streaming.batch_p90_ms"):
                ms = [b["trigger_ms"] for _, ps in measured if ps["traced"]
                      for o in ps["ops"] for b in o["batches"]]
                v = _quantile(ms, 0.5 if name.endswith("p50_ms") else 0.9)
            else:
                v = med(traced, name)
            per_layer[name] = (v, m["unit"])

    report = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "cores": cores, "input_bytes": sizes, "setup_gen_s": gen_s,
        "session_start_s": session_start_s, "gate_s": gate_s,
        "order": [o.name for o in ops],
        "cold_ops": {r["op"]: [r["build_s"], r["exec_s"]] for r in cold["ops"]},
        "warm_passes": len(warm), "warmup_passes": warmup, "traced_passes": len(traced),
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()},
        "stream_latency": stream_latency,
        "per_pass": figs,
        "drift": drift, "errors": errors,
    }
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    stem = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    (out_dir / f"{stem}.json").write_text(json.dumps(report, indent=1))
    if args.trace:
        tracer.dump(str(out_dir / f"{stem}-spans.jsonl"))
    if drift:
        print(f"perfbench: counters drifted across warm passes: {drift}", file=sys.stderr)
    for k, v in errors.items():
        print(f"perfbench: FAILED {k}: {v}", file=sys.stderr)

    chosen = per_layer if args.trace else end_to_end
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }
    summary = {k: v for k, v in report.items() if k != "per_pass"}
    out.write(json.dumps(summary) + "\n")
    out.write(json.dumps(result) + "\n")
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
