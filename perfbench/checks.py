"""Output checks.  Each returns a list of human-readable mismatches (empty
when the output is correct); they run outside the timed regions."""

from __future__ import annotations

import decimal
import math

import numpy as np

DRAIN_TABLES = ("fetched", "seen", "dead")


def engine_state(catalog) -> dict:
    """The crawl state a drain committed, in the simulator's terms."""
    from govuk_crawler_worker_spark.plans import schemas as S

    fetched = catalog.read("fetched", S.FETCHED_SCHEMA)
    dead = catalog.read("dead", S.DEAD_SCHEMA)
    seen = catalog.read("seen", S.SEEN_SCHEMA)
    return {
        "fetched": sorted(
            (r["batch_id"], r["url_canon"])
            for r in fetched.select("batch_id", "url_canon").collect()
        ),
        "seen": {
            r["url_canon"]: r["state"] for r in seen.select("url_canon", "state").collect()
        },
        "dead": sorted(
            (r["url_canon"], r["reason"], r["batch_id"])
            for r in dead.select("url_canon", "reason", "batch_id").collect()
        ),
    }


def sim_state(sim) -> dict:
    return {
        "fetched": sorted((f["batch_id"], f["url_canon"]) for f in sim.fetched),
        "seen": dict(sim.seen),
        "dead": sorted((d["url_canon"], d["reason"], d["batch_id"]) for d in sim.dead),
    }


def diff_states(engine: dict, expected: dict) -> list[str]:
    issues = []
    for k in DRAIN_TABLES:
        a, b = engine[k], expected[k]
        if a == b:
            continue
        if isinstance(a, dict):
            extra = sorted(set(a.items()) - set(b.items()))[:3]
            missing = sorted(set(b.items()) - set(a.items()))[:3]
        else:
            extra = sorted(set(a) - set(b))[:3]
            missing = sorted(set(b) - set(a))[:3]
        issues.append(
            f"{k}: engine {len(a)} rows vs simulator {len(b)}; "
            f"engine-only {extra} simulator-only {missing}"
        )
    return issues


# -- corpus queries ------------------------------------------------------------


# Queries round their float outputs (e.g. to 4 decimals) after summing in
# an engine-specific order, so the same value can round one unit apart in
# Spark and DuckDB; floats compare within this absolute tolerance.
FLOAT_TOL = 1.5e-4


def _is_float(v) -> bool:
    return isinstance(v, (float, decimal.Decimal))


def float_columns(cols, *row_sets) -> set[str]:
    """Columns holding a float (or decimal) value in any of the row sets."""
    return {
        c
        for rows in row_sets
        for r in rows
        for c, v in zip(cols, r)
        if _is_float(v)
    }


def norm_rows(cols, rows, floats: set[str]) -> list[tuple]:
    """Order-insensitive canonical form: columns by name; the non-float
    columns, as strings, are the sort key and the float columns are kept as
    numbers for a tolerant comparison."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    keys = [i for i in order if cols[i] not in floats]
    vals = [i for i in order if cols[i] in floats]
    out = [
        (
            tuple(str(r[i]) for i in keys),
            tuple(float("nan") if r[i] is None else float(r[i]) for i in vals),
        )
        for r in rows
    ]
    return sorted(out, key=lambda kv: (kv[0], tuple(round(f, 3) for f in kv[1])))


def rows_match(a: list, b: list) -> bool:
    if len(a) != len(b):
        return False
    for (ka, fa), (kb, fb) in zip(a, b):
        if ka != kb or len(fa) != len(fb):
            return False
        for x, y in zip(fa, fb):
            if not (x == y or (math.isnan(x) and math.isnan(y)) or abs(x - y) <= FLOAT_TOL):
                return False
    return True


def duckdb_expected(sql: str, corpus_dir: str) -> tuple[list[str], list[tuple]]:
    import duckdb

    # one thread: the oracle runs beside the Spark warm-up and should not
    # compete with it for cores
    con = duckdb.connect(config={"threads": 1})
    try:
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')"
            )
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def diff_query(name: str, cols, rows, expected) -> list[str]:
    ecols, erows = expected
    if sorted(cols) != sorted(ecols):
        return [f"{name}: columns {sorted(cols)} vs oracle {sorted(ecols)}"]
    # align the oracle's columns to Spark's order before normalising
    pos = [ecols.index(c) for c in cols]
    erows = [tuple(r[i] for i in pos) for r in erows]
    floats = float_columns(cols, rows, erows)
    got, want = norm_rows(cols, rows, floats), norm_rows(cols, erows, floats)
    if not rows_match(got, want):
        only = [r for r in got if r not in want][:2]
        return [f"{name}: {len(got)} rows vs oracle {len(want)}; spark-only {only}"]
    return []


def check_topk_scores(name: str, cols, rows, vectors: dict, qids: set, k: int) -> list[str]:
    """For a top-k query without an external oracle: exactly the query ids
    ``qids`` come back, each with ``k`` distinct neighbours other than
    itself, each with its exact cosine score."""
    idx = {c: i for i, c in enumerate(cols)}
    need = ("qid", "neighbor", "cosine")
    if any(c not in idx for c in need):
        return [f"{name}: expected columns {need}, got {cols}"]
    per_q: dict = {}
    for r in rows:
        q, n, s = r[idx["qid"]], r[idx["neighbor"]], r[idx["cosine"]]
        per_q.setdefault(q, set()).add(n)
        a, b = vectors[q], vectors[n]
        cos = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
        if q == n or abs(cos - s) > 1e-4:
            return [f"{name}: row {(q, n, s)} has cosine {cos:.6f}"]
    if set(per_q) != set(qids):
        missing = sorted(set(qids) - set(per_q))[:5]
        extra = sorted(set(per_q) - set(qids))[:5]
        return [f"{name}: query ids missing {missing} unexpected {extra}"]
    bad = {q: len(ns) for q, ns in per_q.items() if len(ns) != k}
    if bad:
        return [f"{name}: neighbour counts {bad} (want {k} per query)"]
    return []
