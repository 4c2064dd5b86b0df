"""Workloads and metric names of the benchmark.

A workload is a fixed list of registry calls, each tagged with the
repo module (the layer) that implements it. Layer names follow the
package layout: ``sources`` and ``jobs`` are sub-packages of
``dfs_w_mapreduce_spark``, the rest are modules of its ``operators``
package.

Why these workloads:

- ``dfs_mapreduce`` is the reference's put -> compute -> get cycle:
  put and get through the ``refchunks`` Python DataSource, the
  reference WordCount job, a chained job that hands off through
  storage, and a Python (pandas) reduce over skewed keys. It is many
  short single-shuffle jobs, so fixed per-job and Python-worker
  overhead dominate; it writes as well as reads. It bypasses the pair
  joins and the iterative loops.
- ``llm_dedup`` is the LLM-corpus curation path: exact dedup, MinHash
  pairs plus the driver-side label propagation of ``dedup_clusters``
  (about 30 jobs a call), quality scoring, and the embedding-side LSH
  near-duplicate search. Its self-joins grow with shared content
  (at the generated size still a minority of each pass; see
  ``gen.py``) and its propagation loop is job-heavy. It bypasses the put/get path and
  the MapReduce tiers.

Each list is kept short on purpose. A run is one fresh JVM whose
first pass (JIT, codegen, Python-worker start-up) costs 15-25 s on a
4-core box, and the next two passes are run untimed while the JIT
settles (``worker.WARM_PASSES``); every call added lengthens every
run and that warm-up.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[tuple[str, str], ...]] = {
    "dfs_mapreduce": (
        ("sources", "sink_chunked_roundtrip"),
        ("sources", "source_chunked_scan"),
        ("jobs", "wordcount"),
        ("mapreduce", "mr_job_chain"),
        ("mapreduce", "mr_reduce_pandas"),
    ),
    "llm_dedup": (
        ("dedup", "dedup_exact"),
        ("dedup", "dedup_clusters"),
        ("text_analysis", "quality_gopher"),
        ("similarity", "knn_lsh_bucketed"),
    ),
}

# Every call of every workload, in a fixed order. A traced run runs
# all of them, so each per-layer metric is measured in every traced
# run whichever workload it was started for.
ALL_CALLS: tuple[tuple[str, str], ...] = tuple(
    call for calls in WORKLOADS.values() for call in calls
)
LAYERS: tuple[str, ...] = tuple(dict.fromkeys(layer for layer, _ in ALL_CALLS))

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "ok_share": "share",
}

CALL_METRIC_UNITS = {"wall_s": "s", "driver_s": "s", "jobs": "count", "executor_cpu_s": "s"}
LAYER_METRIC_UNITS = {
    "tasks": "count",
    "task_wait_s": "s",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "cached_mb": "MB",
}
SPARK_METRIC_UNITS = {"spark.gc_s": "s", "spark.failed_tasks": "count"}


def per_layer_units() -> dict[str, str]:
    """Name -> unit of every metric a traced run reports.

    Which end-to-end metric each should move, and where:

    - ``session.get_spark_s``: ``setup_s`` on both workloads.
    - ``dedup.*.jobs`` and ``dedup.*.driver_s``: ``pass_s`` and
      ``first_pass_s`` on ``llm_dedup``; nothing on ``dfs_mapreduce``.
    - ``similarity.*.executor_cpu_s``: ``cpu_s`` and ``pass_s`` on
      ``llm_dedup`` only.
    - ``jobs.*`` and ``mapreduce.*`` ``.driver_s``/``.jobs``: ``pass_s``
      and ``first_pass_s`` on ``dfs_mapreduce`` only.
    - ``dedup.cached_mb``, ``.spill_mb``, ``.shuffle_write_mb``:
      ``peak_rss_mb`` and ``cpu_s`` on ``llm_dedup``.
    - ``sources.task_wait_s``: ``pass_s`` on ``dfs_mapreduce``.
    - ``spark.gc_s``: ``pass_s`` and ``peak_rss_mb`` on both.
    - ``spark.failed_tasks``: ``ok_share``.
    """
    units = {"session.get_spark_s": "s"}
    for layer, query in ALL_CALLS:
        for metric, unit in CALL_METRIC_UNITS.items():
            units[f"{layer}.{query}.{metric}"] = unit
    for layer in LAYERS:
        for metric, unit in LAYER_METRIC_UNITS.items():
            units[f"{layer}.{metric}"] = unit
    units.update(SPARK_METRIC_UNITS)
    return units
