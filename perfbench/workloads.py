"""The benchmark workloads.

Each workload builds its inputs from the seed, writes them to parquet, and
only then hands them to the program.  All are closed-loop batch jobs: the
frontier (or the query suite) is the queue and nothing arrives from outside
while a run measures.

A workload exposes:

``prepare()``   build and write inputs (untimed)
``warmup()``    one unchecked operation on an input of the same shape
                (reported as ``spark.warmup_s``)
``setup()``     per-operation set-up, timed into ``setup_s``
``op(state)``   one operation, returning ``OpResult``
``check(state)``   output check, untimed; returns a list of mismatches
``discard(state)``   drop what ``setup`` created
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks


_ARROW_TYPES = {
    "StringType": pa.string(),
    "IntegerType": pa.int32(),
    "LongType": pa.int64(),
    "BinaryType": pa.binary(),
    "DoubleType": pa.float64(),
}


def write_parquet(pdf: pd.DataFrame, spark_schema, path: str) -> None:
    """Write a pandas frame as parquet typed by a Spark schema, without
    running a Spark job."""
    schema = pa.schema(
        [
            pa.field(f.name, _ARROW_TYPES[type(f.dataType).__name__], f.nullable)
            for f in spark_schema.fields
        ]
    )
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(
        pdf.reindex(columns=schema.names), schema=schema, preserve_index=False
    )
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


@dataclass
class OpResult:
    items: int  # URLs fetched and committed, or corpus rows through the suite
    busy_s: float  # wall time of the operation
    batch_s: list[float] = field(default_factory=list)  # per-batch latencies
    stats: list = field(default_factory=list)  # BatchStats of a drain


class BulkDrain:
    """Pre-seeded frontier of heavy pages (80 same-host anchors and 200
    filler words each) drained in one large claim, checked against the
    single-threaded simulator.  The frontier holds more than 2000 URLs, so
    the claim takes the large-wave path (rebalanced by ``url_hash``) rather
    than the small-wave one of a feedback crawl."""

    name = "bulk_drain"
    pages = 2500  # about 2750 HTML pages
    warmup_pages = 2000  # about 2200 HTML pages: the same large-claim plan

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self._n_catalogs = 0
        self._expected: dict | None = None

    # -- inputs ------------------------------------------------------------------

    def _world(self, seed: int, pages: int, heavy: bool):
        from govuk_crawler_worker_spark.sources.world import build_world

        world = build_world(
            n_pages=pages,
            images_per_page=0,
            seed=seed,
            branching=6,
            extra_links_per_page=80 if heavy else 0,
            body_pad_words=200 if heavy else 0,
        )
        html = world.content[world.content.body_html.notna()]
        seeds = pd.DataFrame({"url": html.url.to_numpy(), "priority": 0})
        # one claim takes the whole frontier
        config = dataclasses.replace(world.config, claim_limit=max(2 * len(html), 10_000))
        return world, seeds, config

    def _load(self, world, seeds, name: str):
        """Write the world's tables as parquet, then open them in Spark."""
        from govuk_crawler_worker_spark.plans import schemas as S

        tables = (
            ("payload", world.payload, S.PAYLOAD_SCHEMA),
            ("content", world.content, S.CONTENT_SCHEMA),
            ("seeds", seeds, S.SEEDS_SCHEMA),
        )
        frames = []
        for table, pdf, schema in tables:
            path = os.path.join(self.work, name, table)
            write_parquet(pdf, schema, path)
            frames.append(self.spark.read.schema(schema).parquet(path))
        return tuple(frames)

    def prepare(self) -> None:
        self.world, self.seeds, self.config = self._world(self.seed, self.pages, heavy=True)
        self.inputs = self._load(self.world, self.seeds, "world")

    # -- operations -----------------------------------------------------------------

    def _loop(self, inputs, config):
        """A new catalog, a ``DrainLoop`` over it, and the seeded frontier."""
        from govuk_crawler_worker_spark.plans.pipeline import DrainLoop
        from govuk_crawler_worker_spark.sources.catalog import Catalog

        self._n_catalogs += 1
        root = os.path.join(self.work, "catalogs", f"c{self._n_catalogs}")
        payload, content, seeds = inputs
        catalog = Catalog(self.spark, root)
        loop = DrainLoop(self.spark, catalog, config, content, payload)
        loop.seed(seeds)
        return loop

    def setup(self):
        return self._loop(self.inputs, self.config)

    def discard(self, loop) -> None:
        shutil.rmtree(loop.catalog.root, ignore_errors=True)

    def op(self, loop) -> OpResult:
        t0 = time.monotonic()
        stats = loop.drain(max_batches=1)
        busy = time.monotonic() - t0
        return OpResult(
            items=sum(s.fetched for s in stats),
            busy_s=busy,
            batch_s=[s.duration_s for s in stats],
            stats=stats,
        )

    def warmup(self) -> None:
        """One unchecked drain of a light world (no extra anchors or filler)
        whose frontier is still above 2000 URLs, so it runs the same
        large-claim plan: it starts the Python workers and compiles the
        drain's code paths at a fraction of an operation's cost.  The
        simulator's expected state is computed meanwhile on a second
        thread; both finish before any measurement starts."""
        sim = threading.Thread(target=self.expected)
        sim.start()
        try:
            world, seeds, config = self._world(self.seed + 1, self.warmup_pages, heavy=False)
            loop = self._loop(self._load(world, seeds, "warmup_world"), config)
            loop.drain(max_batches=1)
            self.discard(loop)
        finally:
            sim.join()
        if self._expected is None:
            raise RuntimeError("computing the simulator state failed")

    # -- checks ------------------------------------------------------------------------

    def expected(self) -> dict:
        """The simulator's state after one batch over the same seeds,
        computed once, during the warm-up."""
        from govuk_crawler_worker_spark.plans.sim import simulate

        if self._expected is None:
            sim = simulate(self.world.content, self.seeds, self.config, max_batches=1)
            self._expected = checks.sim_state(sim)
        return self._expected

    def check(self, loop) -> list[str]:
        return checks.diff_states(checks.engine_state(loop.catalog), self.expected())

    # -- per-layer data ------------------------------------------------------------

    def page_bodies(self, limit: int = 400):
        c = self.world.content
        html = c[c.body_html.notna()].head(limit)
        return list(zip(html.url, html.body_html))


# -- corpus ------------------------------------------------------------------------

# query name in __spark_entry__.queries() -> per-layer span name
CORPUS_QUERIES = {
    "dedup_minhash_lsh": "dedup.minhash_lsh",
    "dedup_jaccard_words": "dedup.jaccard_words",
    "dedup_simhash": "dedup.simhash",
    "dedup_clusters": "dedup.clusters",
    "embedding_near_dups": "dedup.embedding_near_dups",
    "cosine_topk": "similarity.cosine_topk",
    "ann_lsh_topk": "similarity.ann_lsh_topk",
    "ann_ivf_topk": "similarity.ann_ivf_topk",
    "text_quality": "text.quality",
    "token_counts": "text.token_counts",
    "language_id": "text.language_id",
    "doc_fingerprints": "text.doc_fingerprints",
}
# no external oracle can reproduce the seeded k-means quantizer; the score
# check pins each returned neighbour to its exact cosine instead.  Query ->
# (k, the vec_id modulus that selects its query vectors)
SCORE_CHECKED = {"ann_ivf_topk": (5, 100)}


class CorpusDedup:
    """The dedup, similarity/ANN and text query families over a seeded
    corpus.  Read-only: never touches the catalog or the drain layers."""

    name = "corpus_dedup"
    n_docs = 800
    n_vecs = 500

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def prepare(self) -> None:
        import __spark_entry__ as entry

        from perfbench.corpus import write_corpus

        self.entry = entry
        self.dir = os.path.join(self.work, "corpus")
        write_corpus(self.dir, self.seed, self.n_docs, self.n_vecs)
        self.queries = {q: entry.queries()[q] for q in CORPUS_QUERIES}
        emb = pd.read_parquet(os.path.join(self.dir, "embeddings.parquet"))
        self.vectors = dict(zip(emb.vec_id, emb.embedding))
        self.outputs: dict[str, tuple] = {}

    def _oracle_rows(self) -> None:
        oracles = self.entry.oracle_sql()
        self.expected = {
            q: checks.duckdb_expected(oracles[q], self.dir)
            for q in CORPUS_QUERIES
            if q not in SCORE_CHECKED
        }

    def warmup(self) -> None:
        """One unchecked pass over the corpus itself: it starts the Python
        workers and compiles the queries' code paths at the corpus's own
        sizes, so the measured passes run on a warm JVM (a pass over a
        smaller corpus leaves the next full-size pass a third slower).  The
        DuckDB oracle rows are computed meanwhile on a second thread (DuckDB
        releases the interpreter lock); both finish before any measurement
        starts."""
        oracle = threading.Thread(target=self._oracle_rows)
        oracle.start()
        try:
            self.entry.reset_memos()
            for q in CORPUS_QUERIES:
                self.run_query(q)
        finally:
            oracle.join()
        if not hasattr(self, "expected"):
            raise RuntimeError("computing the DuckDB oracle rows failed")

    def setup(self):
        """Drop the cross-query memos, so a pass pays for the full pipeline,
        and open the corpus tables with the suite's own reader (file listing
        and parquet footers), the per-pass work before the first query."""
        self.entry.reset_memos()
        for table in ("documents", "embeddings"):
            self.entry._t(self.spark, self.dir, table)
        return None

    def discard(self, state) -> None:
        pass

    def run_query(self, name: str):
        df = self.queries[name](self.spark, self.dir)
        rows = [tuple(r) for r in df.collect()]
        return df.columns, rows

    def op(self, state, tracer=None) -> OpResult:
        t0 = time.monotonic()
        for q, span in CORPUS_QUERIES.items():
            if tracer is None:
                self.outputs[q] = self.run_query(q)
            else:
                with tracer.span(span):
                    self.outputs[q] = self.run_query(q)
        busy = time.monotonic() - t0
        return OpResult(items=self.n_docs + self.n_vecs, busy_s=busy, batch_s=[busy])

    def check(self, state) -> list[str]:
        issues = []
        for q, (cols, rows) in self.outputs.items():
            if q in SCORE_CHECKED:
                k, every = SCORE_CHECKED[q]
                qids = {v for v in self.vectors if v % every == 0}
                issues += checks.check_topk_scores(q, cols, rows, self.vectors, qids, k)
            else:
                issues += checks.diff_query(q, cols, rows, self.expected[q])
        return issues


WORKLOADS = {w.name: w for w in (BulkDrain, CorpusDedup)}
