"""Benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. From the seed it generates the
workload's input files (cached per seed under ``.perfbench_work/``),
computes the DuckDB oracle digests of its calls (cached likewise),
then runs the workload in one fresh worker process on ``local[2]``
(``worker.py``) and prints, as the last line of standard output,
``{"correct", "attempted", "failed", "metrics"}``. The line before
it is the full record: drift diagnostics, provenance and the raw
pass times. Records and traces are also kept under
``.perfbench_work/``.

End-to-end metrics (``--trace 0``):

- ``setup_s``: from worker spawn until the SparkSession is up and
  the registry imported.
- ``first_pass_s``: the first pass in the fresh worker, every call
  collected (what a one-shot caller pays).
- ``pass_s``: median wall time of the timed passes, each call's frame
  written to the noop sink. Two untimed passes come first, so the
  JIT has mostly settled (see ``worker.WARM_PASSES``).
- ``cpu_s``: median CPU seconds of the worker's whole process tree
  (JVM, Python driver, Python workers) per timed pass, less the time
  of the JVM's JIT compiler threads, which still compile in bursts
  long after the first pass; the record keeps the JIT part.
- ``peak_rss_mb``: peak summed RSS of that tree over the run.
- ``ok_share``: share of attempted calls that neither raised nor
  returned a result whose digest differs from the oracle's.

``--trace 1`` runs the first and warmed passes over every workload's
calls, so each per-layer metric is measured whichever workload is
named, then one traced pass over them, and reports the per-layer
metrics instead. Its spans and the tracing overhead (traced minus
untraced ``pass_s`` of the named workload) go to
``.perfbench_work/traces/``.

Load, heap and scratch space are pinned: 2 task threads
(``SPARK_GRAFT_CPUS``), one heap size (``SPARK_GRAFT_DRIVER_MEM``),
one BLAS thread per Python worker, and ``TMPDIR``/``SPARK_LOCAL_DIRS``
and the worker's working directory in a per-run directory removed on
exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(1, ROOT)

import gen  # noqa: E402
import proctree  # noqa: E402
from workloads import (  # noqa: E402
    ALL_CALLS,
    END_TO_END_UNITS,
    WORKLOADS,
    per_layer_units,
)

TASK_THREADS = 2
DRIVER_MEM = "1g"
WORKER_TIMEOUT_S = 150
RSS_POLL_S = 0.2


def _input_dir(seed: int) -> str:
    """Generated inputs for ``seed``, made once and reused. The
    directory name carries a digest of the generator, so a changed
    generator never reads stale files."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(WORK, "inputs", f"seed{seed}-{version}")
    if not os.path.isdir(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        staging = tempfile.mkdtemp(dir=os.path.dirname(path), prefix=".staging-")
        gen.generate(seed, staging)
        try:
            os.replace(staging, path)
        except OSError:  # another run made it first
            shutil.rmtree(staging)
    return path


def _oracles(queries: list[str]) -> dict[str, str]:
    from dfs_w_mapreduce_spark.registry import collect

    specs = collect()
    return {q: specs[q].oracle for q in queries}


def _worker_env(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(TASK_THREADS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TZ": "UTC",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    })
    return env


def _reap(sid: int) -> None:
    """Stop every process left in session ``sid`` and wait for it."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not proctree.alive(sid):
            return
        for pid in proctree.session_pids(sid):
            try:
                os.kill(int(pid), sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while proctree.alive(sid) and time.monotonic() < deadline:
            time.sleep(0.05)
    if proctree.alive(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def _spawn(config: str, run_dir: str, env: dict) -> tuple[int, float, float]:
    """Run ``worker.py`` on ``config`` as a session leader; returns
    (exit code, spawn time, peak tree RSS in MB). Every process of
    its session has ended when this returns."""
    log = open(os.path.join(run_dir, "worker.log"), "ab")
    peak = [0.0]
    done = threading.Event()
    t_spawn = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), config],
        cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, start_new_session=True,
    )

    def sample():
        while not done.is_set():
            peak[0] = max(peak[0], proctree.tree_rss_mb(proc.pid))
            done.wait(RSS_POLL_S)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        done.set()
        sampler.join()
        _reap(proc.pid)
        proc.wait()
        log.close()
    return (-1 if code is None else code), t_spawn, peak[0]


def _git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def run(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    """One benchmark run; returns (result line, full record)."""
    calls = [list(c) for c in WORKLOADS[workload]]
    trace_calls = [list(c) for c in ALL_CALLS]
    data_dir = _input_dir(seed)
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(dir=WORK, prefix="run-")
    try:
        from verify import oracle_digests

        queries = [q for _, q in (trace_calls if trace else calls)]
        expected = oracle_digests(data_dir, _oracles(queries), run_dir)
        env = _worker_env(run_dir)
        steal0, calib0 = proctree.steal_s(), proctree.calibration_s()
        config = os.path.join(run_dir, "config.json")
        out = os.path.join(run_dir, "result.json")
        trace_out = os.path.join(WORK, "traces", f"{workload}-seed{seed}-{int(time.time())}.json")
        os.makedirs(os.path.dirname(trace_out), exist_ok=True)
        cfg = {"calls": calls, "trace_calls": trace_calls, "data_dir": data_dir,
               "expected": expected, "seconds": seconds, "trace": trace,
               "out": out, "trace_out": trace_out}
        with open(config, "w") as f:
            json.dump(cfg, f)
        code, t_spawn, peak_rss = _spawn(config, run_dir, env)
        if code != 0 or not os.path.exists(out):
            with open(os.path.join(run_dir, "worker.log"), "rb") as f:
                sys.stderr.write(f.read()[-6000:].decode(errors="replace"))
            raise RuntimeError(f"worker exited with {code}")
        with open(out) as f:
            res = json.load(f)
        setup_s = res["ready_at"] - t_spawn
        calib1, steal1 = proctree.calibration_s(), proctree.steal_s()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = res["attempted"]
    failed = len(res["failed_calls"])
    if trace:
        units = per_layer_units()
        values = res["per_layer"]
    else:
        units = END_TO_END_UNITS
        values = {
            "setup_s": setup_s,
            "first_pass_s": res["first_pass_s"],
            "pass_s": res["pass_s"],
            "cpu_s": res["cpu_s"],
            "peak_rss_mb": peak_rss,
            "ok_share": (attempted - failed) / attempted,
        }
    line = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "task_threads": TASK_THREADS, "driver_mem": DRIVER_MEM, "nproc": os.cpu_count(),
        "spark_version": res["spark_version"], "java_version": res["java_version"],
        "git_commit": _git_commit(),
        "steal_s": steal1 - steal0, "calibration_s": [calib0, calib1],
        "warmup_times": res["warmup_times"], "warmup_cpus": res["warmup_cpus"],
        "warmup_jit_cpus": res["warmup_jit_cpus"],
        "pass_times": res["pass_times"], "pass_cpus": res["pass_cpus"],
        "pass_jit_cpus": res["pass_jit_cpus"], "call_times": res["call_times"],
        "failed_calls": res["failed_calls"], "mismatched": res["mismatched"],
        "trace_overhead_s": res.get("trace_overhead_s"),
        "trace_file": cfg["trace_out"] if trace else None,
        **line,
    }
    return line, record


def _on_term(signum, _frame):
    # Unwind through the finally blocks, which stop the worker's
    # processes and remove the run directory.
    raise SystemExit(128 + signum)


def main(argv: list[str]) -> int:
    signal.signal(signal.SIGTERM, _on_term)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    try:
        line, record = run(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception as e:  # the run produced no result: say why, print none
        print(f"perfbench: {type(e).__name__}: {e}", file=sys.stderr)
        return 1
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    with open(os.path.join(records, name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record, sort_keys=True))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
