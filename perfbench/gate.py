"""Correctness gate: each operation's output is compared with an
independent recomputation, outside the timed passes.

- Registry queries with oracle SQL: DuckDB runs the oracle over the same
  fixture parquet files; the comparison is order-insensitive on
  sorted column names and %.9g-rendered floats.
- Rows-only registry queries: the result must have rows and columns.
- Book-Crossing pipelines: pandas recomputes the per-batch top-5 report
  and the exact frequency and distinct counts from the generated NDJSON
  posts; the sketches are held to their error bounds; the collaborative
  filtering CSVs are read back and checked for their invariants.

Every check returns an error string, or None when the output is right.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import pandas as pd

# approx_count_distinct(user_id, 0.02) in the stream counters: 0.02 is a
# relative standard deviation, so allow three of them
HLL_RSD = 0.02
HLL_SIGMAS = 3.0


def canon(cols, rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append("\x1f".join(
            "%.9g" % r[i] if isinstance(r[i], float) else str(r[i]) for i in order
        ))
    return sorted(out)


class Oracle:
    """DuckDB views over the fixture tables."""

    def __init__(self, data_dir: str, tables):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def check(self, sql: str | None, result) -> str | None:
        cols, rows = result
        if sql is None:  # the registry's rows-only check
            return None if cols and rows else f"rows-only: {len(rows)} rows"
        o = self.con.sql(sql)
        ocols, orows = list(o.columns), o.fetchall()
        if len(rows) != len(orows):
            return f"rows {len(rows)} != oracle {len(orows)}"
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        if canon(cols, rows) != canon(ocols, orows):
            return "values differ from oracle"
        return None


# ---- Book-Crossing pipelines --------------------------------------------


def check_collaborative_filtering(out_dir: str, got: dict, k: int = 2) -> str | None:
    """Structure of the written CSVs and the metrics row: symmetric
    similarities in [-1, 1], at most k neighbours per user, none self."""
    sims = pd.concat(map(pd.read_csv, glob.glob(os.path.join(out_dir, "similarities", "*.csv"))))
    nbrs = pd.concat(map(pd.read_csv, glob.glob(os.path.join(out_dir, "neighborhoods", "*.csv"))))
    if sims.empty or nbrs.empty:
        return "empty similarity or neighbourhood output"
    pairs = set(zip(sims["user_a"], sims["user_b"]))
    if pairs != {(b, a) for a, b in pairs}:
        return "similarities are not symmetric"
    if not sims["sim"].between(-1.0001, 1.0001).all():
        return "similarity outside [-1, 1]"
    if nbrs.groupby("user_id").size().max() > k:
        return f"more than {k} neighbours for a user"
    if (nbrs["user_id"] == nbrs["neighbor_id"]).any():
        return "a user is its own neighbour"
    m = got["metrics"]
    if not (m["n_eval"] > 0 and 0 <= m["mae"] <= m["rmse"]):
        return f"bad metrics {m}"
    return None


def expected_stream_counters(posts_dir: str) -> dict:
    users: dict[int, int] = {}
    tags: dict[str, int] = {}
    n_files = 0
    for path in sorted(glob.glob(os.path.join(posts_dir, "*.json"))):
        n_files += 1
        with open(path) as f:
            for line in f:
                p = json.loads(line)
                uid = p["user"]["id"]
                users[uid] = users.get(uid, 0) + 1
                for h in p["entities"]["hashtags"]:
                    tags[h["text"]] = tags.get(h["text"], 0) + 1
    top5 = sorted(tags.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    return {"user_freq": users, "tag_freq": tags, "top5": top5, "n_files": n_files}


def check_stream_counters(posts_dir: str, got: dict) -> str | None:
    want = expected_stream_counters(posts_dir)
    if got["user_freq"] != want["user_freq"]:
        return "user frequencies differ from the exact counts"
    if got["tag_freq"] != want["tag_freq"]:
        return "tag frequencies differ from the exact counts"
    if got["n_reports"] != want["n_files"]:
        return f"{got['n_reports']} per-batch reports for {want['n_files']} files"
    if got["final_top5"] != want["top5"]:
        return f"final top-5 {got['final_top5']} != {want['top5']}"
    exact = len(want["user_freq"])
    if got["distinct_users"] != exact:
        return f"distinct users {got['distinct_users']} != {exact}"
    if abs(got["approx_distinct_users"] - exact) > HLL_SIGMAS * HLL_RSD * exact:
        return f"HLL estimate {got['approx_distinct_users']} too far from {exact}"
    under = [u for u, c in want["user_freq"].items() if got["cms"].get(u, -1) < c]
    if under:
        return f"CMS under-counts {len(under)} users"
    return None


def fingerprint(result) -> str:
    """Order-insensitive digest of a result, to compare warm passes
    with the checked cold pass."""
    if isinstance(result, tuple):
        return "|".join(canon(*result))
    return json.dumps(result, sort_keys=True, default=str)
