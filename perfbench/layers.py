"""Catalog of the benchmark: each workload's operations, and every
metric with its unit. BENCHMARK.json at the repository root lists the
same metrics; ``selftest.py`` checks that the two agree.

Layer names are the engine's module names: session, sources, plans,
operators, functions, pipelines, streaming; ``host`` is the machine.
"""

from __future__ import annotations

LLM_TEXT = [
    "text_token_stats", "text_char_lm_quality", "bpe_encode_stats",
    "multimodal_features", "doc_chunks",
]
PIPELINE_STAGES = ["part_a_q2", "part_b"]
BOOKCROSSING = PIPELINE_STAGES + ["stream_hourly_by_type"]

# per-query build phases broken out by name: the builders that run eager
# jobs (a dictionary barrier, BPE merge training, a stream drain)
BUILD_BREAKOUT = ["text_char_lm_quality", "bpe_encode_stats", "stream_hourly_by_type"]

END_TO_END = [
    ("setup_s", "s"), ("cold_s", "s"), ("wall_s", "s"), ("cpu_s", "s"),
    ("peak_rss_mb", "MB"), ("shuffle_mb", "MB"),
]

PER_LAYER = [
    {"name": n, "unit": u}
    for n, u in (
        [("session.start_s", "s"), ("session.barrier_calls", "count"),
         ("sources.load_s", "s"), ("sources.input_mb", "MB"),
         ("sources.write_s", "s"), ("sources.stage_s", "s"),
         ("plans.build_s", "s"), ("plans.build_jobs", "count"),
         ("plans.driver_cpu_s", "s")]
        + [(f"plans.build_s.{q}", "s") for q in BUILD_BREAKOUT]
        + [("operators.exec_s", "s")]
        + [(f"operators.exec_s.{q}", "s") for q in LLM_TEXT + BOOKCROSSING]
        + [("operators.jobs", "count"), ("operators.tasks", "count"),
           ("operators.task_s", "s"), ("operators.gc_s", "s"),
           ("operators.jvm_cpu_s", "s"), ("operators.shuffle_read_mb", "MB"),
           ("operators.failed_tasks", "count"), ("operators.core_util", "ratio"),
           ("functions.pyworker_cpu_s", "s")]
        + [(f"pipelines.{s}_s", "s") for s in PIPELINE_STAGES]
        + [("streaming.batches", "count"), ("streaming.input_rows", "count"),
           ("streaming.trigger_ms", "ms"), ("streaming.add_batch_ms", "ms"),
           ("streaming.planning_ms", "ms"), ("streaming.wal_commit_ms", "ms"),
           ("streaming.state_rows", "count"), ("streaming.state_mem_mb", "MB"),
           ("streaming.batch_p50_ms", "ms"), ("streaming.batch_p90_ms", "ms"),
           ("host.steal_s", "s")]
        + [(f"{layer}.self_s", "s") for layer in
           ("session", "sources", "plans", "operators", "pipelines", "streaming")]
        + [("trace.overhead_s", "s"), ("trace.span_cost_s", "s")]
    )
]
