"""Local twin of the driver's DuckDB correctness gate.

For every oracle-matched query: run the Spark callable and the DuckDB
SQL on the same parquet tables, then compare row count, sorted column
names, and values (columns sorted by name, rows sorted by all columns;
floats compared to 1e-9 — stricter than the driver's value hash would
need, looser only where both sides already round in-query).

Runs at sf0.001 for speed; the driver runs sf0.01. A query that passes
here but could diverge at 10× rows would be a data-dependent rounding
bug — sums are rounded in-query on both sides to keep that risk down.
"""

from __future__ import annotations

import math

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE

# sf0.001 keeps the suite fast; LUZZU_ORACLE_SF=/root/testdata/sf0.01
# reproduces the driver's exact scale.
ORACLE_SF = os.environ.get("LUZZU_ORACLE_SF", SF_SMOKE)

_TABLES = ("region", "nation", "customer", "part", "orders",
           "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in _TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{ORACLE_SF}/{t}.parquet')")
    yield con
    con.close()


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(r[i] for i in order))
    def key(t):
        return tuple((x is None, str(x)) for x in t)
    return sorted(out, key=key), [cols[i] for i in order]


def _values_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return a == b


ORACLE_QUERIES = sorted(entrymod.oracle_sql())


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    sdf = q(spark, ORACLE_SF)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(entrymod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ: {spark_cols} vs {duck_cols}")
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}")

    s_rows, s_cols = _canon(spark_rows, spark_cols)
    d_rows, _ = _canon(duck_rows, duck_cols)
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        for c, (sv, dv) in enumerate(zip(sr, dr)):
            assert _values_equal(sv, dv), (
                f"{name}: row {i} col {s_cols[c]}: "
                f"spark={sv!r} duck={dv!r}")


def test_rows_only_queries_run(spark):
    """Queries without an oracle must still run and return a schema."""
    rows_only = [n for n in entrymod.queries()
                 if n not in entrymod.oracle_sql()]
    for name in rows_only:
        df = entrymod.queries()[name](spark, ORACLE_SF)
        assert df.columns, name
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    out = entrymod.entry(spark)
    rows = out.collect()
    assert len(rows) > 0
    assert "n_keep" in out.columns


def test_vertical_tab_doc_parity(spark, tmp_path):
    """review r05: Java \\s includes \\x0b, RE2's does not — the
    signature-replay oracles tokenize with the explicit class
    [ \\t\\n\\x0b\\f\\r]+ so a vertical-tab doc replays identically.
    Runs the minhash-pairs query both engines over a corpus where the
    ONLY near-dup pair is separated by \\x0b in one of the twins."""
    import pandas as pd

    base = " ".join(f"sig{i}" for i in range(40))
    twin = base.replace("sig5 sig6", "sig5\x0bsig6")
    texts = [base, twin,
             "completely different filler words " * 6,
             "another unrelated document body here " * 6]
    d = str(tmp_path / "sf_vtab")
    pdf = pd.DataFrame({
        "doc_id": range(len(texts)), "text": texts,
        "lang": ["en"] * len(texts), "source": ["s0"] * len(texts),
        "n_chars": [len(t) for t in texts]})
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(d, "documents.parquet"))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{d}/documents.parquet/*.parquet')")
    try:
        q = entrymod.queries()["dedup_minhash_pairs"]
        s_rows = sorted(tuple(r) for r in q(spark, d).collect())
        d_rows = sorted(tuple(r) for r in con.execute(
            entrymod.oracle_sql()["dedup_minhash_pairs"]).fetchall())
        assert len(s_rows) == len(d_rows) > 0
        for sr, dr in zip(s_rows, d_rows):
            for sv, dv in zip(sr, dr):
                assert _values_equal(sv, dv), (sr, dr)
    finally:
        con.close()
