#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

``--workload`` is ``ingest``, ``serve`` or ``all`` (each workload
in its own process, one after another). The last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. A human-readable summary goes to stderr.

Everything the run writes goes under ``.bench_work/`` in the current
directory, which is removed at the end. Spark runs in this process as
``local[nproc]`` with a driver heap sized below physical memory; on every
way out the run stops the JVM and waits until each process it started has
ended.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOAD_NAMES = ("ingest", "serve")


def _declared(trace: bool) -> dict[str, str]:
    """The metrics this run reports, by name with unit; a name or unit
    outside the result format's charset is refused before any work."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        stats.check_name(m["name"]): stats.check_unit(m["unit"])
        for m in spec["per_layer" if trace else "end_to_end"]
    }


def _driver_memory_gb() -> int:
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return max(1, min(4, int(phys // 4)))


def _alive(pid: int) -> bool:
    """Whether ``pid`` still runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until every pid has ended; returns those still running."""
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in pids if _alive(p)]
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.05)


def stop_spark() -> None:
    """Stop the session, then the JVM it launched, and wait until every
    process this run started (the JVM and its Python workers) has ended,
    killing any that outlive the grace period."""
    from pyspark import SparkContext

    import spans

    started = spans.process_tree(os.getpid())[1:]
    if SparkContext._active_spark_context is not None:
        with contextlib.suppress(Exception):
            SparkContext._active_spark_context.stop()
    gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the JVM's Python workers exit once the JVM has gone
    started = spans.process_tree(os.getpid())[1:] + started
    for pid in _wait_gone(started, 30):
        with contextlib.suppress(OSError):
            os.kill(pid, signal.SIGKILL)
    _wait_gone(started, 10)
    # reap any that were children of this process
    with contextlib.suppress(ChildProcessError):
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass


def run_one(args) -> dict:
    declared = _declared(bool(args.trace))
    root = os.getcwd()
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Python, the JVM and the Python workers all keep their scratch files
    # (the shipped package zip, py4j files, spill) inside the checkout.
    os.environ["TMPDIR"] = tmp
    sys.path[:0] = [root, HERE]

    import tempfile

    tempfile.tempdir = None

    from glasseenterprise_mcp_spark.session import get_spark

    import workloads

    nproc = len(os.sched_getaffinity(0))
    try:
        # the DuckDB oracle runs on a thread while the JVM starts
        oracle = workloads.Oracle(args.seed, work)
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{nproc}]",
            shuffle_partitions=nproc,
            extra_confs={
                "spark.driver.memory": f"{_driver_memory_gb()}g",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.local.dir": os.path.join(work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # statusTracker keeps this many finished jobs and stages; the
                # traced run counts every job of its op
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        print(f"session started in {session_s:.2f}s", file=sys.stderr)
        run = workloads.Run(spark, args.seed, args.seconds, bool(args.trace), work, nproc,
                            oracle, session_s)
        workloads.WORKLOADS[args.workload](run)
        if args.trace:
            run.metric("session.start_s", session_s, "s")
    finally:
        t0 = time.perf_counter()
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # kept while another run uses it
            os.rmdir(os.path.dirname(work))
        print(f"session stopped in {time.perf_counter() - t0:.2f}s", file=sys.stderr)

    metrics = {}
    for name, unit in declared.items():
        if name not in run.metrics:
            run.record(False, f"metric {name} was not measured")
            continue
        value, got_unit = run.metrics[name]
        if got_unit != unit:
            run.record(False, f"metric {name} measured in {got_unit}, declared {unit}")
        metrics[name] = {"value": value, "unit": unit}
    ratio = run.failed / max(run.attempted, 1)
    print(
        f"[{args.workload} seed={args.seed}] attempted={run.attempted} failed={run.failed} "
        f"ops_failed_ratio={ratio:g} "
        + " ".join(f"{k}={v['value']:.6g}{v['unit']}" for k, v in metrics.items()),
        file=sys.stderr,
    )
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }


def run_all(args) -> dict:
    """Each workload in a fresh process; metrics prefixed by workload."""
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in WORKLOAD_NAMES:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", wl,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            out["correct"] = False
            out["attempted"] += 1
            out["failed"] += 1
            continue
        res = json.loads(lines[-1])
        out["correct"] &= res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        out["metrics"].update({f"{wl}.{k}": v for k, v in res["metrics"].items()})
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(os.getcwd(), "glasseenterprise_mcp_spark")):
        print("run from the repository root: glasseenterprise_mcp_spark/ not found",
              file=sys.stderr)
        return 2
    result = run_all(args) if args.workload == "all" else run_one(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
