"""The traced run: per-layer metrics.

Runs after one untraced operation in the same process.  One traced
set-up + operation + check with the layer wrappers installed gives the
spans and counts; the scaling pair repeats one untraced operation at
``local[1]``.  End-to-end metrics are never taken from a traced run; the
traced minus untraced numbers are reported as tracing overhead.
"""

from __future__ import annotations

import json
import os
import statistics

from perfbench import layers
from perfbench.stats import median, self_times
from perfbench.trace import Tracer
from perfbench.workloads import CORPUS_QUERIES, CorpusDedup

STAGES = ("crawl_url", "extract_urls", "publish_urls", "write_to_disk")
PIPELINE_COUNTS = ("claimed", "fetched", "published", "requeued", "dead")
CATALOG_CALLS = ("commit", "latest", "read", "read_buckets", "expire_snapshots", "compact")


def _med(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def _drain_layers(tracer: Tracer, probe, res, loop) -> dict:
    stats = res.stats if res is not None else []
    m: dict = {}
    for st in STAGES:
        m[f"pipeline.stage_{st}_s"] = (_med([s.stage_ms.get(st, 0.0) / 1000 for s in stats]), "s")
    m["pipeline.commit_residual_s"] = (
        _med([s.duration_s - sum(s.stage_ms.get(st, 0.0) for st in STAGES) / 1000 for s in stats]),
        "s",
    )
    batch_spans = [s for s in tracer.spans if s.name == "pipeline.run_batch"]
    selfs = self_times(tracer.spans)
    m["pipeline.run_batch_self_s"] = (_med([selfs[s.id] for s in batch_spans]), "s")
    m["pipeline.batches"] = (len(stats), "count")
    for c in PIPELINE_COUNTS:
        m[f"pipeline.{c}"] = (sum(getattr(s, c) for s in stats), "count")
    claimed = sum(s.claimed for s in stats)
    m["pipeline.claim_yield"] = (sum(s.fetched for s in stats) / claimed if claimed else 0.0, "ratio")
    commit_per_batch = [
        sum(c.end - c.start for c in tracer.spans if c.name == "catalog.commit" and c.parent == b.id)
        for b in batch_spans
    ]
    m["catalog.commit_s"] = (_med(commit_per_batch), "s")
    fetched = sum(s.fetched for s in stats)
    m["catalog.bytes_per_url"] = (
        layers.dir_bytes(loop.catalog.root) / fetched if fetched else 0.0,
        "B/url",
    )
    for k in layers.STATUS_CLASSES:
        m[f"fetch.rows_{k}"] = (probe.fetch_rows[k], "count")
    from govuk_crawler_worker_spark.plans import schemas as S

    m["seen.rows"] = (loop.catalog.read("seen", S.SEEN_SCHEMA).count(), "count")
    m["seen.bloom_engaged"] = (int("bloom" in loop.catalog.latest()["meta"]), "bool")
    jobs, stages, tasks = probe.batch_spark_medians()
    m["spark.jobs_per_batch"] = (jobs, "count")
    m["spark.stages_per_batch"] = (stages, "count")
    m["spark.tasks_per_batch"] = (tasks, "count")
    return m


def _corpus_layers(tracer: Tracer, wl: CorpusDedup) -> dict:
    m: dict = {}
    for q, span in CORPUS_QUERIES.items():
        m[f"{span}_s"] = (tracer.total_s(span), "s")
        m[f"{span}_rows"] = (len(wl.outputs.get(q, ((), []))[1]), "count")
    return m


def traced_metrics(args, wl, spark, work, e2e, failures, issues, session_s, warmup_s) -> dict:
    from perfbench.run import CORES, ROOT, make_spark, measure, stop_spark

    tracer = Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
    corpus = isinstance(wl, CorpusDedup)
    probe = layers.DrainProbe(tracer, spark)
    m: dict = {}
    with layers.RssSampler() as rss:
        probe.install()
        try:
            state = wl.setup()
            before = dict(tracer.counts)
            spark.sparkContext.setJobGroup("perfbench-pass", "perfbench traced operation")
            try:
                res = wl.op(state, tracer) if corpus else wl.op(state)
                found = wl.check(state)
            except Exception as e:  # noqa: BLE001 — a raising operation is a failed one
                res, found = None, [f"traced operation raised {type(e).__name__}: {e}"]
            failures.record(not found)
            issues += found
            for c in CATALOG_CALLS:
                n = tracer.counts[f"catalog.{c}_calls"] - before.get(f"catalog.{c}_calls", 0)
                m[f"catalog.{c}_calls"] = (n, "count")
        finally:
            probe.uninstall()
        if corpus:
            m.update(_corpus_layers(tracer, wl))
            jobs, stages, tasks = layers.job_group_stats(spark.sparkContext, "perfbench-pass")
            m["spark.jobs_per_batch"] = (jobs, "count")
            m["spark.stages_per_batch"] = (stages, "count")
            m["spark.tasks_per_batch"] = (tasks, "count")
        else:
            m.update(_drain_layers(tracer, probe, res, state))
        wl.discard(state)
        m["proc_tree_rss_peak_mb"] = (rss.peak_mb, "MB")

    if not corpus:
        links_per_s, urls_per_s = layers.time_extract_and_canonicalize(
            wl.page_bodies(), wl.config
        )
        m["extract.links_per_s"] = (links_per_s, "1/s")
        m["urlnorm.urls_per_s"] = (urls_per_s, "1/s")

    traced_p50 = median(res.batch_s) if res is not None and res.batch_s else 0.0
    traced_ips = res.items / res.busy_s if res is not None and res.busy_s else 0.0
    m["trace.overhead_batch_p50_s"] = (traced_p50 - e2e["batch_p50_s"][0], "s")
    m["trace.overhead_items_per_s"] = (traced_ips - e2e["items_per_s"][0], "1/s")
    m["spark.session_start_s"] = (session_s, "s")
    m["spark.warmup_s"] = (warmup_s, "s")

    # scaling pair: the same untraced operation at local[1], on the JVM the
    # local[N] run already warmed (a second warm-up does not fit in a run)
    stop_spark(spark, shutdown_jvm=False)
    spark1 = make_spark(1, work)
    try:
        wl.spark = spark1
        wl.prepare()
        m1 = measure(wl, 0, failures, issues, min_setups=1)
        ips1 = m1["items"] / m1["busy"] if m1["busy"] else 0.0
        m["scaling_eff_1_to_4"] = (
            e2e["items_per_s"][0] / (CORES * ips1) if ips1 else 0.0,
            "ratio",
        )
        m["spark.local1_op_s"] = (m1["busy"], "s")
    finally:
        stop_spark(spark1, shutdown_jvm=True)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    return with_unreached_layers(m)


def with_unreached_layers(m: dict) -> dict:
    """Every per-layer metric of BENCHMARK.json, in its order.  A layer the
    workload never reaches (the drain layers on ``corpus_dedup``, the query
    operators on ``bulk_drain``) reads 0: the prediction for changes in
    that layer."""
    from perfbench.run import ROOT

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = json.load(f)["per_layer"]
    return {p["name"]: m.get(p["name"], (0, p["unit"])) for p in per_layer}
