"""The workloads: their inputs, their operations and each operation's
correctness check.

The registry queries read the fixture tables under ``fixtures/<scale>``
in place (read-only). The Book-Crossing inputs are generated from the
seed (``gen.py``).

An operation is one registry query or one pipeline stage. It runs in
two timed phases: ``build`` (the call into the engine that returns a
lazy result, including any eager jobs the builder runs) and
``execute`` (the action that brings the complete result to the
client, or writes it).
"""

from __future__ import annotations

import os
import random
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path
from typing import Any

import gen
from layers import LLM_TEXT
from gate import (
    Oracle,
    check_collaborative_filtering,
    check_stream_counters,
)

from introduction_in_big_data_spark import pipelines, plans
from introduction_in_big_data_spark.sources import readers, writers
from introduction_in_big_data_spark.sources.tables import TABLE_NAMES


@dataclass
class Op:
    name: str
    build: Callable[[], Any]
    execute: Callable[[Any], Any]
    check: Callable[[Any], str | None]
    layer: str = "plans"  # "plans" for registry queries, else "pipelines"


FIXTURES = Path(__file__).resolve().parent / "fixtures"


@dataclass
class Workload:
    name: str
    tables: str  # the fixture scale the registry queries read
    tiny_tables: str  # for the self-test
    sizes: dict
    tiny_sizes: dict  # for the self-test
    # (out_dir, seed, sizes) -> {input: bytes}; None when the workload
    # reads only the fixture tables
    generate: Callable[[str, int, dict], dict] | None
    make_ops: Callable[["Context"], list[Op]]
    # warm passes a run makes at least: the fewest whose median is steady
    # while the run stays within the benchmark's time budget
    min_warm: int
    # warm passes before those: checked, but left out of every median,
    # because the JVM's JIT compiler still burns CPU in them
    warmup: int = 0
    permute: bool = True  # the seed permutes the operation order


@dataclass
class Context:
    spark: Any
    tables_dir: str  # fixture tables, read-only
    data_dir: str  # inputs generated for this run
    out_dir: str
    oracle: Oracle | None = None


def _collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def query_ops(names: list[str]) -> Callable[[Context], list[Op]]:
    def make(ctx: Context) -> list[Op]:
        ctx.oracle = Oracle(ctx.tables_dir, TABLE_NAMES)
        ops = []
        for name in names:
            spec = plans.REGISTRY[name]
            ops.append(Op(
                name=name,
                build=lambda fn=spec.fn: fn(ctx.spark, ctx.tables_dir),
                execute=_collect,
                check=lambda res, sql=spec.oracle: ctx.oracle.check(sql, res),
            ))
        return ops

    return make


# ---- Book-Crossing + streams -------------------------------------------

BOOKS = "`ISBN` string, `Book-Title` string, `Book-Author` string, " \
        "`Year-Of-Publication` string, `Publisher` string"
USERS = "`User-ID` int, `Age` double"
RATINGS = "`User-ID` int, `ISBN` string, `Book-Rating` int"


def _schema(ddl: str):
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(ddl)


def _bx_frames(ctx: Context):
    bx = os.path.join(ctx.data_dir, "bx")
    return [
        readers.read_csv(ctx.spark, os.path.join(bx, f"{name}.csv"), _schema(ddl),
                         sep=";", encoding="ISO-8859-1")
        for name, ddl in (("books", BOOKS), ("users", USERS), ("ratings", RATINGS))
    ]


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def bookcrossing_ops(ctx: Context) -> list[Op]:
    bx = os.path.join(ctx.data_dir, "bx")
    posts = os.path.join(bx, "posts")
    cf_out = os.path.join(ctx.out_dir, "cf")
    ctx.oracle = Oracle(ctx.tables_dir, ["events"])
    hourly = plans.REGISTRY["stream_hourly_by_type"]

    def q2_exec(out):
        writers.write_csv(out["similarities"], os.path.join(cf_out, "similarities"))
        writers.write_csv(out["neighborhoods"], os.path.join(cf_out, "neighborhoods"))
        return {"metrics": out["metrics"].collect()[0].asDict()}

    def b_exec(out):
        user_freq = dict(_rows(out["user_freq"]))
        keys = ctx.spark.createDataFrame([(u,) for u in sorted(user_freq)], "user_id long")
        cms = out["cms_users"].estimate(ctx.spark, keys)
        return {
            "user_freq": user_freq,
            "tag_freq": dict(_rows(out["tag_freq"])),
            "n_reports": len(out["per_batch_top5"]),
            "final_top5": out["per_batch_top5"][-1][1],
            "distinct_users": out["distinct_users"].collect()[0][0],
            "approx_distinct_users": out["approx_distinct_users"].collect()[0][0],
            "cms": {r["user_id"]: r["cms_estimate"] for r in cms.collect()},
        }

    return [
        Op("part_a_q2", lambda: pipelines.run_collaborative_filtering(*_bx_frames(ctx), k=2),
           q2_exec, lambda res: check_collaborative_filtering(cf_out, res),
           layer="pipelines"),
        Op("part_b", lambda: pipelines.run_stream_counters(ctx.spark, posts), b_exec,
           lambda res: check_stream_counters(posts, res), layer="pipelines"),
        Op("stream_hourly_by_type", lambda: hourly.fn(ctx.spark, ctx.tables_dir), _collect,
           lambda res: ctx.oracle.check(hourly.oracle, res)),
    ]


# ---- the registry of workloads ------------------------------------------


def _bx(out: str, seed: int, sizes: dict) -> dict:
    return gen.bookcrossing(
        os.path.join(out, "bx"), seed, sizes["books"], sizes["users"],
        sizes["ratings"], sizes["post_files"], sizes["posts_per_file"],
    )


WORKLOADS = {
    w.name: w
    for w in (
        Workload("llm-text-sf0.01", "sf0.01", "sf0.001", {}, {}, None,
                 # a warm pass takes about 3.5 s, so the JIT compiler's CPU
                 # in the first one is a large share of cpu_s
                 query_ops(LLM_TEXT), min_warm=4, warmup=1),
        Workload("bookcrossing-stream", "sf0.01", "sf0.001",
                 {"books": 3000, "users": 2000, "ratings": 20000, "post_files": 1,
                  "posts_per_file": 1000},
                 {"books": 300, "users": 200, "ratings": 3000, "post_files": 2,
                  "posts_per_file": 100},
                 # one posts file, so that two warm passes fit the time budget
                 _bx, bookcrossing_ops, min_warm=2, permute=False),
    )
}


def ordered_ops(workload: Workload, ctx: Context, seed: int) -> list[Op]:
    ops = workload.make_ops(ctx)
    if workload.permute:
        random.Random(seed).shuffle(ops)
    return ops
