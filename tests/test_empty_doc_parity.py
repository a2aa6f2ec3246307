"""Cross-engine parity on DEGENERATE documents (ADVICE r02).

The driver fixtures contain no zero-token documents, so the
divide-by-zero divergence class (Spark try_divide → NULL vs the
oracle's CASE … ELSE 0) was latent: the first empty/whitespace-only
doc would have broken hash parity on every score-derived query. This
suite builds a tiny documents.parquet WITH empty, whitespace-only,
one-token, and unicode rows and runs the score/ratio-based catalog
queries through BOTH engines — the same comparison the driver gate
does, on inputs the driver never ships.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

# every catalog query whose oracle divides by token counts or averages
# a per-doc ratio/flag — the divergence class ADVICE r02 named
SCORE_QUERIES = (
    "docs_quality_score",
    "mix_weights_by_source",
    "sample_quality_mix",
    "metrics_run_delta",
    "text_quality_flag_counts",
    "text_stopword_fraction",
    "text_token_stats",
    "text_line_stats",
    # r03 additions with token/length denominators
    "text_encoding_quality",
    "pack_token_sequences",
    "dsir_importance_weights",
    # r03-close additions: line scrub / span ops / samplers / SQL UDFs
    # over degenerate docs (zero-token, all-stopword, unicode)
    "text_c4_line_scrub",
    "dedup_dup_span_ranges",
    "dedup_dup_span_removal",
    "dedup_cluster_quality_survivors",
    "dsir_weighted_sample",
    "split_train_val_test",
    "skew_source_audit",
    "docs_sql_udf_keep_counts",
    "corpus_datasheet",
    "corpus_shuffle_order",
    "text_nfc_normalize",
    "text_stopword_presence",
    "text_dup_para_fraction",
    "metrics_daq_hierarchy",
    # r05 additions: per-profile firing rates (a profile key whose
    # docs are ALL zero-token must sum fired to 0, not NULL — review
    # r05), BPE packing, char-offset excision, bloom seen-set
    "docs_lang_profile_rates",
    "pack_bpe_sequences",
    "dedup_dup_span_excision",
    "dedup_bloom_seen_filter",
)

# NOTE: texts follow the declared token model (single-space separated,
# queries_text.py module docstring) — the point here is ZERO-TOKEN and
# degenerate-ratio rows, not tokenizer divergence (\t/\n separators
# tokenize differently under DuckDB's space-split vs Spark's \s+ and
# are out of the declared input contract).
_TEXTS = [
    "",                       # zero chars, zero tokens
    "   ",                    # whitespace only → zero tokens
    "  ",                     # two spaces → zero tokens
    "a",                      # one 1-char token
    "the and is of to it in", # all stopwords
    "🦀 汉字 élan",            # unicode tokens
    "the quick brown fox jumps over the lazy dog and runs on",
    "word " * 40,             # trailing space → empty split fragment
]


def _write_docs(spark, d: str, texts: list, langs: list[str]) -> str:
    pdf = pd.DataFrame({
        "doc_id": range(len(texts)),
        "text": texts,
        "lang": langs,
        "source": ["s0", "s1"] * (len(texts) // 2),
        "n_chars": [len(t or "") for t in texts],
    })
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite") \
        .parquet(os.path.join(d, "documents.parquet"))
    return d


def _duckdb_over(sf_dir: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')")
    return con


@pytest.fixture(scope="module")
def edge_sf_dir(spark, tmp_path_factory):
    return _write_docs(spark, str(tmp_path_factory.mktemp("edge_sf")),
                       _TEXTS,
                       ["en", "en", "de", "de", "en", "fr", "en", "en"])


@pytest.fixture(scope="module")
def edge_ddb(edge_sf_dir):
    con = _duckdb_over(edge_sf_dir)
    yield con
    con.close()


def _values_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return a == b


def _assert_parity(spark, sf_dir: str, con, name: str) -> None:
    sdf = entrymod.queries()[name](spark, sf_dir)
    res = con.execute(entrymod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    spark_rows = [tuple(r) for r in sdf.collect()]

    assert sorted(sdf.columns) == sorted(duck_cols), name
    assert len(spark_rows) == len(duck_rows), (
        name, len(spark_rows), len(duck_rows))

    def canon(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [tuple(r[i] for i in order) for r in rows]
        return sorted(out, key=lambda t: tuple(
            (x is None, str(x)) for x in t))

    for sr, dr in zip(canon(spark_rows, sdf.columns),
                      canon(duck_rows, duck_cols)):
        for sv, dv in zip(sr, dr):
            assert _values_equal(sv, dv), (name, sr, dr)


@pytest.mark.parametrize("name", SCORE_QUERIES)
def test_score_query_parity_on_degenerate_docs(spark, edge_sf_dir,
                                               edge_ddb, name):
    _assert_parity(spark, edge_sf_dir, edge_ddb, name)


def test_run_delta_parity_on_final_newline_and_null_text(spark,
                                                         tmp_path):
    """metrics_run_delta on the two rows outside _TEXTS' contract: a
    stopword right before a final newline ("the\n" is one non-space
    token, not a stopword, on both engines — Java's $ would match
    before the newline) and NULL text (zero tokens, so word_count
    fires on both engines)."""
    d = _write_docs(spark, str(tmp_path), ["foo the\n", None],
                    ["en", "en"])
    con = _duckdb_over(d)
    try:
        _assert_parity(spark, d, con, "metrics_run_delta")
    finally:
        con.close()
