"""Per-layer instrumentation for the traced run.

Wraps the package's public entry points from the outside (nothing in the
package is edited): spans around ``DrainLoop.seed/drain/run_batch``,
``TableFetcher.fetch``, ``Catalog.commit/expire_snapshots/compact``, call
counts on ``Catalog.latest/read/read_buckets``, a Spark job group per batch
for job/stage/task counts, a tap on the fetch output for rows by status
class, and a sampler for the resident memory of the whole process tree.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

from perfbench.trace import Tracer

STATUS_CLASSES = ("2xx", "3xx", "4xx", "5xx", "missing")


def job_group_stats(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages that ran, tasks completed) for one Spark job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is not None and s not in stages and si.numCompletedTasks > 0:
                stages.add(s)
                tasks += si.numCompletedTasks
    return len(jobs), len(stages), tasks


def tree_rss_mb() -> float:
    """Resident memory of a process and all its descendants (driver Python,
    the JVM and its Python workers), from /proc."""
    rss, children = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as fh:
                txt = fh.read()
        except OSError:
            continue
        fields = dict(
            line.split(":", 1) for line in txt.splitlines() if ":" in line
        )
        try:
            ppid = int(fields["PPid"].split()[0])
        except (KeyError, ValueError):
            continue
        rss[int(d)] = int(fields["VmRSS"].split()[0]) if "VmRSS" in fields else 0
        children.setdefault(ppid, []).append(int(d))
    total, stack = 0, [os.getpid()]
    while stack:
        p = stack.pop()
        total += rss.get(p, 0)
        stack.extend(children.get(p, []))
    return total / 1024.0


class RssSampler:
    """Peak of ``tree_rss_mb`` while the ``with`` block runs."""

    PERIOD_S = 0.25

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False


class DrainProbe:
    """Wrappers for the drain layers; ``install`` before the traced op and
    ``uninstall`` after it."""

    def __init__(self, tracer: Tracer, spark):
        self.tracer = tracer
        self.sc = spark.sparkContext
        self.batch_spark: list[tuple[int, int, int]] = []
        self.fetch_rows = dict.fromkeys(STATUS_CLASSES, 0)
        self._pending_fetch = []
        self._group_seq = 0

    def install(self) -> None:
        from govuk_crawler_worker_spark.plans.fetch import TableFetcher
        from govuk_crawler_worker_spark.plans.pipeline import DrainLoop
        from govuk_crawler_worker_spark.sources.catalog import Catalog

        t = self.tracer
        t.wrap(DrainLoop, "seed", "pipeline.seed")
        t.wrap(DrainLoop, "drain", "pipeline.drain")
        self._wrap_run_batch(DrainLoop)
        self._wrap_fetch(TableFetcher)
        t.wrap(Catalog, "commit", "catalog.commit")
        t.wrap(Catalog, "expire_snapshots", "catalog.expire_snapshots")
        t.wrap(Catalog, "compact", "catalog.compact")
        for name in ("latest", "read", "read_buckets"):
            t.wrap(Catalog, name, f"catalog.{name}", count_only=True)

    def uninstall(self) -> None:
        self.tracer.unwrap_all()

    def _wrap_run_batch(self, cls) -> None:
        probe = self
        original = cls.__dict__["run_batch"]

        def run_batch(loop, b, eligible_hint=None):
            probe._group_seq += 1
            group = f"perfbench-batch-{probe._group_seq}"
            probe.sc.setJobGroup(group, "perfbench traced batch")
            try:
                with probe.tracer.span("pipeline.run_batch"):
                    stats = original(loop, b, eligible_hint)
            finally:
                probe.sc.setJobGroup("perfbench-tap", "perfbench fetch tap")
            probe.batch_spark.append(job_group_stats(probe.sc, group))
            probe._count_fetch_rows()
            return stats

        self.tracer.patch(cls, "run_batch", run_batch)

    def _wrap_fetch(self, cls) -> None:
        probe = self
        original = cls.__dict__["fetch"]

        def fetch(fetcher, claimed, epoch=None):
            with probe.tracer.span("fetch.fetch"):
                out = original(fetcher, claimed, epoch)
            probe._pending_fetch.append(out)
            return out

        self.tracer.patch(cls, "fetch", fetch)

    def _count_fetch_rows(self) -> None:
        """Rows the fetch returned, by status class — counted after the
        batch has committed, in its own job group, so neither the batch's
        span nor its job counts include the tap."""
        from pyspark.sql import functions as F

        for df in self._pending_fetch:
            cls = (
                F.when(F.col("status").isNull(), F.lit("missing"))
                .otherwise(F.concat((F.col("status") / 100).cast("int").cast("string"), F.lit("xx")))
            )
            for r in df.groupBy(cls.alias("c")).count().collect():
                key = r["c"] if r["c"] in self.fetch_rows else "missing"
                self.fetch_rows[key] += int(r["count"])
        self._pending_fetch.clear()

    def batch_spark_medians(self) -> tuple[float, float, float]:
        if not self.batch_spark:
            return 0.0, 0.0, 0.0
        cols = list(zip(*self.batch_spark))
        return tuple(float(statistics.median(c)) for c in cols)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def time_extract_and_canonicalize(bodies, config) -> tuple[float, float]:
    """Single-process rates of ``extract_urls`` (links/s) and
    ``canonicalize`` (URLs/s) over the workload's own page bodies."""
    from govuk_crawler_worker_spark.functions.extract import extract_urls
    from govuk_crawler_worker_spark.functions.urlnorm import canonicalize

    roots = tuple(config.root_hosts_with_port)
    blacklist = tuple(config.blacklist_paths)
    links: list[str] = []
    t0 = time.perf_counter()
    for url, body in bodies:
        found, _err = extract_urls(body, url, roots, blacklist)
        links.extend(found)
    t_extract = time.perf_counter() - t0
    t0 = time.perf_counter()
    for u in links:
        canonicalize(u)
    t_canon = time.perf_counter() - t0
    if not links:
        return 0.0, 0.0
    return len(links) / t_extract, len(links) / t_canon
