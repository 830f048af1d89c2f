#!/usr/bin/env python3
"""Self-test of the benchmark at tiny input sizes (sf0.001 tables and a
tiny seeded Book-Crossing set). Run from the repository root:

    python3 perfbench/selftest.py

It checks that
1. BENCHMARK.json and layers.py name the same metrics with the same units,
   and the fixture tables match fixtures/SHA256SUMS;
2. the correctness gate fails when it is given a deliberately wrong
   expected result (no Spark needed);
3. in a directory holding only BENCHMARK.json and perfbench/, run.py exits
   non-zero without printing a result;
4. for every workload, run.py prints every end-to-end and every per-layer
   metric with its unit, reports no failed operation, and its exact
   counters repeat across the two warm passes of a traced run.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gate  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORK = ROOT / ".perfbench_work" / "selftest"
FIXTURES = HERE / "fixtures"


def check_catalog(bench: dict) -> None:
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == layers.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [
        (m["name"], m["unit"]) for m in layers.PER_LAYER
    ]
    sums = (FIXTURES / "SHA256SUMS").read_text().splitlines()
    assert sums
    for line in sums:
        digest, name = line.split()
        data = (FIXTURES / name).read_bytes()
        assert hashlib.sha256(data).hexdigest() == digest, f"fixture {name} changed"


def check_gate_rejects_wrong_results() -> None:
    oracle = gate.Oracle(str(FIXTURES / "sf0.001"), ["events"])
    sql = "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type"
    o = oracle.con.sql(sql)
    cols, rows = list(o.columns), o.fetchall()
    assert oracle.check(sql, (cols, rows)) is None
    wrong = [(rows[0][0], rows[0][1] + 1)] + rows[1:]
    assert oracle.check(sql, (cols, wrong)) is not None, "a wrong count passed"
    assert oracle.check(sql, (cols, rows[1:])) is not None, "a missing row passed"
    assert oracle.check(None, (cols, [])) is not None, "an empty rows-only result passed"

    bx = WORK / "bx"
    gen.bookcrossing(str(bx), 5, 60, 40, 600, 2, 50)
    want = gate.expected_stream_counters(str(bx / "posts"))
    n_users = len(want["user_freq"])
    right = {
        "user_freq": dict(want["user_freq"]),
        "tag_freq": dict(want["tag_freq"]),
        "n_reports": want["n_files"],
        "final_top5": list(want["top5"]),
        "distinct_users": n_users,
        "approx_distinct_users": n_users,
        "cms": dict(want["user_freq"]),
    }
    assert gate.check_stream_counters(str(bx / "posts"), right) is None
    uid = next(iter(want["user_freq"]))
    for field, bad in (
        ("user_freq", {**right["user_freq"], uid: right["user_freq"][uid] + 1}),
        ("distinct_users", n_users + 1),
        ("approx_distinct_users", n_users * 2),
        ("cms", {**right["cms"], uid: right["cms"][uid] - 1}),
        ("final_top5", right["final_top5"][::-1]),
        ("n_reports", right["n_reports"] + 1),
    ):
        got = {**right, field: bad}
        assert gate.check_stream_counters(str(bx / "posts"), got) is not None, \
            f"a wrong {field} passed"

    cf = WORK / "cf"
    for name, csv in (("similarities", "user_a,user_b,sim\n1,2,0.5\n2,1,0.5\n"),
                      ("neighborhoods", "user_id,neighbor_id,sim,rn\n1,2,0.5,1\n")):
        (cf / name).mkdir(parents=True, exist_ok=True)
        (cf / name / "part-0.csv").write_text(csv)
    metrics = {"metrics": {"n_eval": 3, "mae": 0.5, "rmse": 0.7}}
    assert gate.check_collaborative_filtering(str(cf), metrics) is None
    (cf / "neighborhoods" / "part-1.csv").write_text("user_id,neighbor_id,sim,rn\n3,3,1.0,1\n")
    assert gate.check_collaborative_filtering(str(cf), metrics) is not None, \
        "a self-neighbour passed"


def check_fails_without_engine() -> None:
    bare = WORK / "bare"
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "llm-text-sf0.01",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0 and not proc.stdout.strip(), proc.stdout


def run_tiny(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_workload(workload: str) -> None:
    for trace, expected in ((0, [n for n, _ in layers.END_TO_END]),
                            (1, [m["name"] for m in layers.PER_LAYER])):
        report, result = run_tiny(workload, trace)
        assert result["correct"] and result["failed"] == 0, report["errors"]
        assert result["attempted"] >= 1
        assert sorted(result["metrics"]) == sorted(expected), \
            set(expected) ^ set(result["metrics"])
        for m in result["metrics"].values():
            assert isinstance(m["value"], (int, float)) and m["unit"]
        assert all(v["unit"] for v in report["end_to_end"].values())
        if trace:
            assert report["warm_passes"] >= 2 and not report["drift"], report["drift"]


def main() -> int:
    shutil.rmtree(WORK, ignore_errors=True)
    WORK.mkdir(parents=True)
    try:
        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        steps = [("catalog", lambda: check_catalog(bench)),
                 ("gate rejects wrong results", check_gate_rejects_wrong_results),
                 ("fails without the engine", check_fails_without_engine)]
        steps += [(f"workload {w['name']}", lambda w=w: check_workload(w["name"]))
                  for w in bench["workloads"]]
        for name, step in steps:
            step()
            print(f"ok  {name}", flush=True)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
