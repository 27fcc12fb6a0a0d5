"""Local replica of the driver's t2 correctness gate: every queries() entry
vs its oracle_sql() via DuckDB at sf0.001 (order-insensitive compare)."""

from __future__ import annotations

import glob
import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("PFS_SF", "/root/testdata/sf0.001")


_CON = duckdb.connect()
for _t in (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split():
    _CON.execute(
        f"CREATE VIEW {_t} AS SELECT * FROM read_parquet('{os.path.join(SF_DIR, _t)}.parquet')"
    )


def _duck(sql: str):
    return _CON.sql(sql)


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    return str(v)


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        tuple(_norm_cell(r[i]) for i in order) for r in rows
    )
    return out


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", [n for n in QUERIES if n in ORACLES])
def test_query_matches_oracle(spark, name):
    sdf = QUERIES[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    ddf = _duck(ORACLES[name])
    dcols = ddf.columns
    drows = ddf.fetchall()
    assert sorted(scols) == sorted(dcols), (scols, dcols)
    a, b = _norm(srows, scols), _norm(drows, dcols)
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    mismatches = [(x, y) for x, y in zip(a, b) if x != y][:5]
    assert a == b, f"{name}: first mismatches {mismatches}"


def test_oracle_keys_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES)


def test_q12_documents_doc_id_unique():
    """q12_idf counts df straight from the per-document explode, which is
    exact only while documents.doc_id is the table's unique row key: check
    that key at every scale factor present next to SF_DIR."""
    sf_dirs = sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*")))
    if not sf_dirs:
        pytest.skip("no sf* testdata directories")
    for sf_dir in sf_dirs:
        docs = os.path.join(sf_dir, "documents.parquet")
        n, n_ids = duckdb.sql(
            f"SELECT count(*), count(DISTINCT doc_id) FROM read_parquet('{docs}')"
        ).fetchone()
        assert n == n_ids, f"{docs}: {n} rows, {n_ids} distinct doc_id"


def test_q56_approx_quantiles_tolerance(spark):
    """The approx entries have no value oracle by design (driver records
    rows+schema); this pins percentile_approx against the exact percentile
    within the algorithm's rank-error bound (1/accuracy = 0.1%, loose 5%
    value tolerance on this distribution)."""
    from pyspark.sql import functions as F

    approx = {r["event_type"]: r for r in QUERIES["q56_approx_quantiles"](spark, SF_DIR).collect()}
    exact = {
        r["event_type"]: r
        for r in spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.95)").alias("p95"),
        )
        .collect()
    }
    assert set(approx) == set(exact) and approx
    for et, r in approx.items():
        for a_col, e_col in (("p50_approx", "p50"), ("p95_approx", "p95")):
            a, e = r[a_col], exact[et][e_col]
            assert abs(a - e) <= 0.05 * max(abs(e), 1.0), (et, a_col, a, e)


def test_q57_approx_distinct_tolerance(spark):
    """approx_count_distinct at rsd=0.02 vs exact countDistinct: HLL++'s
    error is probabilistic around rsd, so pin a generous 4-sigma bound."""
    from pyspark.sql import functions as F

    approx = {r["event_type"]: r["users_approx"] for r in QUERIES["q57_approx_distinct"](spark, SF_DIR).collect()}
    exact = {
        r["event_type"]: r["u"]
        for r in spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("u"))
        .collect()
    }
    assert set(approx) == set(exact) and approx
    for et, a in approx.items():
        e = exact[et]
        assert abs(a - e) <= max(0.08 * e, 4), (et, a, e)


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert {"subj", "pred", "obj", "score", "url"} <= set(df.columns)
