"""What the benchmark runs and what it reports: workloads, their query
sets and input scale, and every metric name with its unit.

``BENCHMARK.json`` at the repository root lists the same names; the
benchmark's tests keep the two in step.
"""

from __future__ import annotations

# Corpus-preparation queries, run in this order: Python workers
# (mapInPandas media codecs and LSH), plan-keyed persist slots shared
# across queries (the MinHash signature and the dup-span gram stream), and
# an LSH path that collects while the query is built. The order is fixed:
# which query pays JIT warm-up, Python-worker start and a shared persist
# moved the per-query median by 60% across shuffled orders.
#
# Left out to keep a traced run (two passes) well inside its time limit
# when the machine is slow; together they took 18 s of a 40 s pass on 4
# cores: the recall evaluations (``dedup_*_recall_eval``), which score
# dedup quality rather than prepare the corpus, two more text statistics
# (``text_collocations``, ``text_ngram_novelty``) beside
# ``text_token_stats``, and ``mm_media_dispatch_profile``, a third media
# query beside ``mm_frame_sample`` and ``mm_gif_stats``.
LLM_QUERIES = (
    "dedup_minhash_lsh", "decontam_minhash",
    "text_dup_span_removal", "text_dup_span_coverage", "text_token_stats",
    "sim_cosine_topk", "sim_ann_lsh_bucket", "sim_ivf_topk",
    "mm_frame_sample", "mm_gif_stats",
)

# Approximate-NN queries scored against ``sim_cosine_topk`` for recall@5
# (outside the timed region, traced runs only).
ANN_QUERIES = ("sim_ann_lsh_bucket", "sim_ivf_topk", "sim_ivf_multiprobe")

# name -> (scale factor of the generated input, query set; None means the
# hourly mart loads)
WORKLOADS: dict[str, tuple[float, tuple[str, ...] | None]] = {
    "mart_hourly": (0.1, None),
    "llm_corpus": (0.01, LLM_QUERIES),
}

# Printed by untraced runs (``--trace 0``). CPU seconds of the whole
# process tree (driver, JVM, Python workers). On a shared 4-core machine
# the wall times of the same code drifted by up to 2x with the load of
# other tenants; two traced mart runs whose task run times differed by 51%
# differed by 12% in executor CPU time.
END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "job_cpu_s": "s",
    "op_cpu_s": "s",
}

# Printed by traced runs (``--trace 1``). Unless noted in the README, each
# is a mean per steady-state operation of the traced run.
PER_LAYER: dict[str, str] = {
    "job_wall_s": "s",
    "op_geomean_s": "s",
    "registry.build_s": "s",
    "registry.eager_jobs": "count",
    "diagnostics.plan_s": "s",
    "diagnostics.shuffle_exchanges": "count",
    "diagnostics.broadcast_exchanges": "count",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.cpu_util": "ratio",
    "exec.deserialize_s": "s",
    "exec.gc_s": "s",
    "exec.peak_task_mem_mb": "MB",
    "memory.peak_rss_mb": "MB",
    "shuffle.write_bytes": "B",
    "shuffle.read_bytes": "B",
    "shuffle.write_time_s": "s",
    "shuffle.fetch_wait_s": "s",
    "spill.bytes": "B",
    "sources.scan_bytes": "B",
    "sources.scan_records": "count",
    "sources.scan_time_s": "s",
    "python.run_s": "s",
    "python.start_s": "s",
    "python.bytes_sent": "B",
    "python.bytes_returned": "B",
    "caching.persisted_rdds": "count",
    "caching.mem_bytes": "B",
    "caching.unpersists": "count",
    "sinks.write_s": "s",
    "sinks.bytes_written": "B",
    "sinks.files_written": "count",
    "sinks.bytes_per_row": "B/row",
    "incremental.read_latest_s": "s",
    "similarity.ann_recall_at5": "ratio",
    "trace.job_wall_s": "s",
    "trace.layer_sum_s": "s",
    "trace.overhead_s": "s",
}
