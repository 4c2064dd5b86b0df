"""One benchmark run in a fresh process; started by ``run.py``.

``argv[1]`` names a JSON config written by ``run.py``. The worker
starts the engine's SparkSession, imports the registry, then:

1. runs a first pass over its calls, each collected and reduced to a
   result digest for the oracle check (the cost a one-shot caller
   pays: JIT, codegen and Python-worker start-up included);
2. runs ``WARM_PASSES`` untimed passes, then timed passes, each
   call's frame written to the noop sink, until ``seconds`` have
   passed (at least ``MIN_PASSES``);
3. traced runs only: the first and warmed passes cover every
   workload's calls, and one traced pass over them follows, each call
   in its own job group, with Spark's status store read afterwards.

Spark's cache is cleared after every call, so no call reuses frames an
earlier call cached. Results go to the config's ``out`` path as JSON.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback
import uuid

from py4j.protocol import Py4JJavaError

from proctree import tree_cpu_s
from workloads import LAYER_METRIC_UNITS

# Passes after the first that are run but not timed. In a fresh JVM the
# JIT keeps compiling Spark's planner for a minute or more. Measured on
# a 4-core box at local[2], over the passes that followed the first:
# llm_dedup took 5.7 and 4.9 s, then 4.6-5.1 s (one 6.1); dfs_mapreduce
# 4.8 and 4.7 s, then 4.1 s falling to 3.4-3.8 s by the ninth. On
# llm_dedup the JIT compiler threads used 10.5 and 7.1 CPU-s, then 5
# falling to 2 a pass, while the rest of the tree held at 5.2-6.2 (one
# 6.9); hence ``cpu_s`` leaves them out. Two warm passes drop the
# steepest part of the curve within the time a run may take.
WARM_PASSES = 2
MIN_PASSES = 3


def run_pass(calls, after):
    """Run each ``(name, thunk)`` once, calling ``after(name)`` behind it.

    Returns the wall seconds of each call that returned, what each
    returned, and the names of the calls that raised. A raising call
    is reported, never dropped."""
    walls, results, failed = {}, {}, []
    for name, thunk in calls:
        t = time.perf_counter()
        try:
            results[name] = thunk()
        except Exception:
            traceback.print_exc()
            failed.append(name)
        else:
            walls[name] = time.perf_counter() - t
        finally:
            after(name)
    return walls, results, failed


def _collect(spark, fn, data_dir):
    def thunk():
        df = fn(spark, data_dir)
        return df.dtypes, df.collect()

    return thunk


def _clear(spark) -> None:
    """Drop what the last call left in Spark's storage: cached frames
    and persisted RDDs, such as a ``localCheckpoint``'s blocks."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def _noop(spark, fn, data_dir):
    def thunk():
        fn(spark, data_dir).write.format("noop").mode("overwrite").save()

    return thunk


class _Counters:
    """Per-call job and stage metrics, read from Spark's status store
    after a traced pass."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = sc._gateway
        self._no_tasks = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._gc_beans = gw.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1e3

    def cached_mb(self) -> float:
        return sum(r.memSize() for r in self._jsc.getRDDStorageInfo()) / 2**20

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[tuple[int, float | None, float | None, list[int]]]:
        """(job id, submitted, completed, stage ids) of a job group,
        times in epoch seconds."""
        out = []
        for jid in sorted(self._sc.statusTracker().getJobIdsForGroup(group)):
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            ids = job.stageIds()
            out.append((
                jid,
                sub.get().getTime() / 1e3 if sub.isDefined() else None,
                done.get().getTime() / 1e3 if done.isDefined() else None,
                [ids.apply(i) for i in range(ids.size())],
            ))
        return out

    def stage(self, sid: int) -> dict[str, float]:
        """Metrics of one stage, summed over its attempts."""
        m = dict.fromkeys(("tasks", "failed_tasks", "run_s", "cpu_s", "shuffle_write_mb", "spill_mb"), 0.0)
        try:
            attempts = self._store.stageData(sid, False, self._no_tasks, False, self._no_quantiles)
        except Py4JJavaError:  # a stage the store never saw (skipped before submission)
            return m
        for i in range(attempts.size()):
            s = attempts.apply(i)
            m["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            m["failed_tasks"] += s.numFailedTasks()
            m["run_s"] += s.executorRunTime() / 1e3
            m["cpu_s"] += s.executorCpuTime() / 1e9
            m["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            m["spill_mb"] += s.diskBytesSpilled() / 2**20
        return m


def _covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals if b > start and a < end)
    total, reach = 0.0, start
    for a, b in clipped:
        if b > reach:
            total += b - max(a, reach)
            reach = b
    return total


def traced_pass(spark, calls, data_dir, trace_id):
    """One traced pass over ``calls`` = [(layer, query, fn)].

    Returns (per-layer metrics, spans, wall per query, failed names).
    Spans: the pass, one per call, one per Spark job of the call."""
    counters = _Counters(spark)
    sc = spark.sparkContext
    spans, cached, bounds = [], {}, {}
    pass_start = time.time()
    gc0 = counters.gc_s()

    def after(query):
        cached[query] = counters.cached_mb()
        _clear(spark)

    thunks = []
    for _layer, query, fn in calls:
        def thunk(query=query, fn=fn):
            sc.setJobGroup(f"{trace_id}/{query}", query)
            start = time.time()
            try:
                _noop(spark, fn, data_dir)()
            finally:
                bounds[query] = (start, time.time())

        thunks.append((query, thunk))
    walls, _, failed = run_pass(thunks, after)
    sc.setLocalProperty("spark.jobGroup.id", None)
    gc_s = counters.gc_s() - gc0
    pass_end = time.time()
    counters.drain()

    pass_id = f"{trace_id}/pass"
    spans.append({"name": "pass", "id": pass_id, "parent": None, "trace": trace_id,
                  "start": pass_start, "end": pass_end})
    metrics: dict[str, float] = {}
    layer_totals: dict[str, dict[str, float]] = {}
    failed_tasks = 0.0
    for layer, query, _fn in calls:
        start, end = bounds[query]
        call_id = f"{trace_id}/{query}"
        name = f"{layer}.{query}"
        spans.append({"name": name, "id": call_id, "parent": pass_id, "trace": trace_id,
                      "start": start, "end": end})
        jobs = counters.jobs(call_id)
        intervals, stage_ids = [], []
        for jid, sub, done, sids in jobs:
            sub = start if sub is None else sub
            done = end if done is None else done
            intervals.append((sub, done))
            stage_ids.extend(sids)
            spans.append({"name": f"job {jid}", "id": f"{trace_id}/job{jid}", "parent": call_id,
                          "trace": trace_id, "start": sub, "end": done})
        stages = [counters.stage(s) for s in sorted(set(stage_ids))]
        total = layer_totals.setdefault(layer, dict.fromkeys(LAYER_METRIC_UNITS, 0.0))
        for s in stages:
            total["tasks"] += s["tasks"]
            total["task_wait_s"] += s["run_s"] - s["cpu_s"]
            total["shuffle_write_mb"] += s["shuffle_write_mb"]
            total["spill_mb"] += s["spill_mb"]
            failed_tasks += s["failed_tasks"]
        total["cached_mb"] += cached.get(query, 0.0)
        wall = end - start
        metrics[f"{name}.wall_s"] = wall
        metrics[f"{name}.driver_s"] = wall - _covered(start, end, intervals)
        metrics[f"{name}.jobs"] = len(jobs)
        metrics[f"{name}.executor_cpu_s"] = sum(s["cpu_s"] for s in stages)
    for layer, total in layer_totals.items():
        for key, value in total.items():
            metrics[f"{layer}.{key}"] = value
    metrics["spark.gc_s"] = gc_s
    metrics["spark.failed_tasks"] = failed_tasks
    return metrics, spans, walls, failed


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)
    to exit; closing its stdin is what ends PySpark's gateway JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _start():
    """Start the session and import the registry, as a caller does."""
    from dfs_w_mapreduce_spark.session import get_spark

    t = time.monotonic()
    spark = get_spark("perfbench")
    get_spark_s = time.monotonic() - t
    from dfs_w_mapreduce_spark.registry import collect

    return spark, collect(), get_spark_s, time.monotonic()


def main(config_path: str) -> int:
    with open(config_path) as f:
        cfg = json.load(f)
    spark, specs, get_spark_s, ready_at = _start()
    from verify import spark_digest  # after set-up: it imports numpy, pyarrow and duckdb

    data_dir = cfg["data_dir"]
    first = cfg["trace_calls"] if cfg["trace"] else cfg["calls"]
    clear = lambda _name: _clear(spark)  # noqa: E731
    out = {
        "ready_at": ready_at,
        "get_spark_s": get_spark_s,
        "spark_version": spark.version,
        "java_version": spark.sparkContext._jvm.System.getProperty("java.version"),
        "attempted": 0,
        "failed_calls": [],
    }

    def account(n_calls, failed):
        out["attempted"] += n_calls
        out["failed_calls"].extend(failed)

    walls, results, failed = run_pass(
        [(q, _collect(spark, specs[q].fn, data_dir)) for _, q in first], clear
    )
    account(len(first), failed)
    out["first_pass_s"] = sum(walls[q] for _, q in cfg["calls"] if q in walls)

    mismatched = [
        q for q, (dtypes, rows) in results.items() if spark_digest(dtypes, rows) != cfg["expected"][q]
    ]
    out["mismatched"] = mismatched
    out["failed_calls"].extend(mismatched)
    del results

    # Warmed passes: the workload's calls, or in a traced run every
    # workload's calls so the traced pass below only sees warmed calls.
    warm = [(q, specs[q].fn) for _, q in first]
    mine = {q for _, q in cfg["calls"]}
    sid = os.getsid(0)

    def warmed_pass():
        """(wall s of ``mine``, CPU s of the tree outside the JIT,
        CPU s of the JIT, wall s per call) of one pass over ``warm``."""
        cpu0, jit0 = tree_cpu_s(sid)
        walls, _, failed = run_pass([(q, _noop(spark, fn, data_dir)) for q, fn in warm], clear)
        cpu1, jit1 = tree_cpu_s(sid)
        account(len(warm), failed)
        jit = jit1 - jit0
        return sum(w for q, w in walls.items() if q in mine), cpu1 - cpu0 - jit, jit, walls

    out["warmup_times"], out["warmup_cpus"], out["warmup_jit_cpus"] = [], [], []
    for _ in range(WARM_PASSES):
        wall, cpu, jit, _ = warmed_pass()
        out["warmup_times"].append(wall)
        out["warmup_cpus"].append(cpu)
        out["warmup_jit_cpus"].append(jit)

    passes, cpus, jits, call_times = [], [], [], {q: [] for q in mine}
    min_passes = 1 if cfg["trace"] else MIN_PASSES
    deadline = time.monotonic() + cfg["seconds"]
    while len(passes) < min_passes or time.monotonic() < deadline:
        wall, cpu, jit, walls = warmed_pass()
        passes.append(wall)
        cpus.append(cpu)
        jits.append(jit)
        for q in mine & walls.keys():
            call_times[q].append(walls[q])
    out["cpu_s"] = statistics.median(cpus)
    out["pass_times"] = passes
    out["pass_cpus"] = cpus
    out["pass_jit_cpus"] = jits
    out["call_times"] = call_times
    out["pass_s"] = statistics.median(passes)

    if cfg["trace"]:
        calls = [(layer, q, specs[q].fn) for layer, q in cfg["trace_calls"]]
        trace_id = uuid.uuid4().hex[:12]
        metrics, spans, walls, failed = traced_pass(spark, calls, data_dir, trace_id)
        account(len(calls), failed)
        metrics["session.get_spark_s"] = get_spark_s
        out["per_layer"] = metrics
        traced = sum(walls.get(q, 0.0) for _, q in cfg["calls"])
        out["trace_overhead_s"] = traced - out["pass_s"]
        with open(cfg["trace_out"], "w") as f:
            json.dump({"trace_id": trace_id, "spans": spans,
                       "traced_pass_s": traced, "untraced_pass_s": out["pass_s"],
                       "overhead_s": out["trace_overhead_s"]}, f, indent=1)

    _stop(spark)
    with open(cfg["out"], "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
