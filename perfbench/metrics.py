"""The metric names the benchmark prints, with units. ``BENCHMARK.json``
lists the same names; the tests hold the two together."""

from __future__ import annotations

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("query_p50_ms", "ms", "lower"),
    ("query_p90_ms", "ms", "lower"),
    ("queries_per_s", "1/s", "higher"),
    ("job_s", "s", "lower"),
    ("commit_p50_ms", "ms", "lower"),
    ("commits_per_s", "1/s", "higher"),
    ("recovery_s", "s", "lower"),
    ("bytes_per_user_byte", "ratio", "lower"),
    ("peak_rss_mb", "MiB", "lower"),
]

ANALYTICS_JOBS = (
    "degrees",
    "connected_components",
    "pagerank",
    "label_propagation",
    "bfs",
)
PIPELINE_OPS = (
    "quality_filter_narrow",
    "exact_dedup",
    "minhash_lsh_pairs",
    "semantic_dedup",
    "embedding_near_dup_lsh",
    "cosine_topk",
    "hybrid_search",
)
# top-level span names: every measured operation runs under exactly one
LAYERS = ("compiler", "query_step", "engine", "store", "analytics", "pipeline")
CHECKPOINT_EVERY = 3

PER_LAYER = (
    [
        ("compiler.compile_ms", "ms"),
        ("query_step.call_ms", "ms"),
        ("engine.index_lookup_ms", "ms"),
        ("spark.exec_ms", "ms"),
        ("spark.plan_ms", "ms"),
        ("spark.jobs_per_query", "count"),
        ("spark.tasks_per_query", "count"),
    ]
    + [(f"analytics.{j}.{m}", u) for j in ANALYTICS_JOBS for m, u in (("call_s", "s"), ("sink_s", "s"), ("jobs", "count"))]
    + [(f"pipeline.{o}.{m}", u) for o in PIPELINE_OPS for m, u in (("call_s", "s"), ("sink_s", "s"), ("jobs", "count"))]
    + [
        ("mutations.stage_ms", "ms"),
        ("store.log_commit_ms", "ms"),
        ("store.checkpoint_commit_s", "s"),
        ("store.open_s", "s"),
        ("store.bytes_on_disk", "bytes"),
    ]
    + [(f"store.read_ms_depth{d}", "ms") for d in range(CHECKPOINT_EVERY)]
    + [
        ("spark.task_busy_s", "s"),
        ("spark.gc_s", "s"),
        ("spark.core_util", "ratio"),
        ("spark.shuffle_write_bytes", "bytes"),
        ("spark.shuffle_read_bytes", "bytes"),
        ("spark.spill_bytes", "bytes"),
        ("spark.failed_tasks", "count"),
        ("failed_frac", "ratio"),
    ]
    + [(f"layer.{name}_s", "s") for name in LAYERS]
    + [
        ("trace.wall_s", "s"),
        ("trace.unattributed_s", "s"),
        ("trace.overhead_s", "s"),
    ]
)
