"""Crawl-engine benchmark.

    python3 perfbench/run.py --workload {bulk_drain,corpus_dedup} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Builds the workload's inputs from the seed,
warms the session up, then repeats set-up + operation + output check until
the operations have taken ``--seconds`` (at least one operation).  Prints one line per
metric, then as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  Exits non-zero
when an output check fails.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(4, os.cpu_count() or 1)
MIN_SETUPS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run's work directory inside the checkout, and let the Python workers
    import the package from the checkout."""
    for d in ("tmp", "spark"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    # keep the spark-submit launcher JVM from writing perf data to the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def make_spark(cores: int, work: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, shutdown_jvm: bool) -> None:
    """Stop the session; with ``shutdown_jvm`` also end the JVM and wait
    for it, so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if not shutdown_jvm or gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall back to a hard stop
            proc.kill()
            proc.wait(timeout=30)


def measure(wl, seconds: float, failures, issues: list, min_setups: int = MIN_SETUPS) -> dict:
    """Repeat set-up + operation + check until the operations have taken
    ``seconds`` in total (set-up and checks excluded; at least one
    operation), then pad the set-up samples to ``min_setups``.  Stops at
    the first failed operation: the run is rejected anyway."""
    setups, batches, items, busy, op_time = [], [], 0, 0.0, 0.0
    n_ops = 0
    while n_ops == 0 or op_time < seconds:
        n_ops += 1
        t0 = time.monotonic()
        state = wl.setup()
        setups.append(time.monotonic() - t0)
        t0 = time.monotonic()
        try:
            res = wl.op(state)
            op_time += time.monotonic() - t0
            t1 = time.monotonic()
            found = wl.check(state)
            print(f"# op {res.busy_s:.2f}s check {time.monotonic() - t1:.2f}s", file=sys.stderr)
        except Exception:  # noqa: BLE001 — a raising operation is a failed one
            found = ["operation raised:\n" + traceback.format_exc()]
        failures.record(not found)
        issues += found
        wl.discard(state)
        if found:
            break
        items += res.items
        busy += res.busy_s
        batches += res.batch_s
    while len(setups) < min_setups:
        t0 = time.monotonic()
        state = wl.setup()
        setups.append(time.monotonic() - t0)
        wl.discard(state)
    return {"setups": setups, "batches": batches, "items": items, "busy": busy, "ops": n_ops}


def end_to_end(m: dict) -> tuple[dict, str]:
    """The end-to-end metrics, and the note on the tail percentile."""
    from perfbench.stats import median, tail_percentile

    metrics = {
        "setup_s": (median(m["setups"]), "s"),
        "items_per_s": (m["items"] / m["busy"] if m["busy"] else 0.0, "1/s"),
        "batch_p50_s": (median(m["batches"]) if m["batches"] else 0.0, "s"),
    }
    tail = tail_percentile(m["batches"])
    note = f"p{tail[0]:.1f} = {tail[1]:.4f} s" if tail else "not reported: fewer than 11 samples"
    return metrics, f"batch_tail_s: {note} (n={len(m['batches'])} batches)"


def print_metrics(metrics: dict, note: str) -> None:
    for name, (value, unit) in metrics.items():
        print(f"{name:40s} {value:14.6f} {unit}")
    print(note)


def run(args) -> int:
    from perfbench.stats import FailureCount
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_environment(work)
    spark = None
    try:
        t0 = time.monotonic()
        spark = make_spark(CORES, work)
        session_s = time.monotonic() - t0
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        t0 = time.monotonic()
        wl.prepare()
        prepare_s = time.monotonic() - t0
        t0 = time.monotonic()
        wl.warmup()
        warmup_s = time.monotonic() - t0
        print(f"# session {session_s:.1f}s prepare {prepare_s:.1f}s warmup {warmup_s:.1f}s",
              file=sys.stderr)

        failures, issues = FailureCount(), []
        # a traced run needs only one untraced operation, to compare with
        # the traced one; its end-to-end numbers are not reported
        m = (
            measure(wl, 0, failures, issues, min_setups=1)
            if args.trace
            else measure(wl, args.seconds, failures, issues)
        )
        e2e, tail_note = end_to_end(m)
        print(f"# {args.workload} seed={args.seed} local[{CORES}] ops={m['ops']} "
              f"failed_frac={failures.failed_frac:.4f}")
        if args.trace:
            from perfbench.traced import traced_metrics

            metrics = traced_metrics(args, wl, spark, work, e2e, failures, issues,
                                     session_s=session_s, warmup_s=warmup_s)
            spark = None  # traced_metrics stops its own sessions
        else:
            metrics = e2e
        print_metrics(metrics, tail_note)
        for i in issues[:10]:
            print("CHECK FAILED:", i[:2000])
        result = {
            "correct": failures.failed == 0,
            "attempted": failures.attempted,
            "failed": failures.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result))
        return 0 if failures.failed == 0 else 1
    finally:
        if spark is not None:
            stop_spark(spark, shutdown_jvm=True)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    engine = [
        os.path.join(ROOT, "govuk_crawler_worker_spark", "__init__.py"),
        os.path.join(ROOT, "__spark_entry__.py"),
    ]
    missing = [p for p in engine if not os.path.exists(p)]
    if missing:
        print(f"crawl engine not found next to the benchmark: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
