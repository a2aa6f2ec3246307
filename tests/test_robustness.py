"""Adversarial/robustness probes: pathological inputs must flow through
the whole pipeline without raising (Spark 4 ANSI mode: /0, overflow)
and with verdicts identical between Spark and the pandas oracle."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from luzzu_spark import oracle_pandas
from luzzu_spark.pipeline import QualityPipeline, salted_repartition
from luzzu_spark.rules.scrub import scrub_py

NASTY_TEXTS = [
    None,
    "",
    "   ",
    "\n\n\n",
    "a",
    "🦀 🦀 🦀 emoji only 🦀 🦀",
    "ünïcödé tëxt with àccents et le chat est sur la table oui oui",
    "中文文本没有空格所以只有一个词",
    "tab\tseparated\ttokens\tand\r\nwindows newlines here today",
    "a" * 50_000,                       # one enormous token
    ("word " * 20_000).strip(),         # 20k tokens
    "the " * 200,                       # pure repetition
    "user@example.com 555-123-4567 10.0.0.1 123-45-6789 badword",
    "@@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( ))))",
    "\x00null\x00bytes\x00inside",
    "mixed 123 numbers 456 and http://urls.example.com/path?q=1",
    # 24 words separated by whitespace that str.split() honours but
    # Java's \s does not: NBSP, LINE SEPARATOR, NEL, IDEOGRAPHIC SPACE
    # and FILE SEPARATOR
    *(sep.join(("the quick brown fox jumps over the lazy dog and then "
                "it runs to the old farm where the cows eat green "
                "grass day").split())
      for sep in ("\xa0", "\u2028", "\x85", "\u3000", "\x1c")),
]


@pytest.fixture(scope="module")
def nasty_assessed(spark):
    df = spark.createDataFrame(
        pd.DataFrame({
            "url": [f"https://t.example.com/doc/{i}"
                    for i in range(len(NASTY_TEXTS))],
            "text": NASTY_TEXTS,
            "lang": ["en"] * len(NASTY_TEXTS),
            "doc_id": list(range(len(NASTY_TEXTS))),
            "source": ["t"] * len(NASTY_TEXTS),
        }))
    return QualityPipeline().assess(df)


def test_no_rows_lost_or_raised(spark, nasty_assessed):
    assert nasty_assessed.count() == len(NASTY_TEXTS)


def test_verdicts_match_oracle(spark, nasty_assessed):
    rows = {r.doc_id: r for r in nasty_assessed.collect()}
    for i, text in enumerate(NASTY_TEXTS):
        want = oracle_pandas.assess_row(text)
        got = rows[i]
        assert list(got.drop_reasons) == want["drop_reasons"], (
            i, text[:40], list(got.drop_reasons), want["drop_reasons"])
        assert got.keep == want["keep"], (i, text)


def test_whitespace_class_is_str_isspace(spark):
    """The rules' whitespace class holds exactly the characters for
    which str.isspace() holds, over every code point (surrogates
    aside: they do not encode)."""
    from luzzu_spark.rules.heuristics import WS_CLASS
    from luzzu_spark.rules.registry import sql_lit
    texts = ["".join(chr(c) for c in range(lo, hi)
                     if not 0xD800 <= c < 0xE000)
             for lo, hi in ((0, 0x10000), (0x10000, 0x110000))]
    got = [r[0] for r in spark.createDataFrame(
        [(t,) for t in texts], "t string").selectExpr(
        f"regexp_replace(t, {sql_lit(WS_CLASS)}, '')").collect()]
    assert got == ["".join(ch for ch in t if not ch.isspace())
                   for t in texts]


def test_scrub_matches_and_idempotent(spark, nasty_assessed):
    rows = {r.doc_id: r for r in nasty_assessed.collect()}
    for i, text in enumerate(NASTY_TEXTS):
        want = scrub_py(text or "")
        assert rows[i].text_scrubbed == want, (i, text)
        assert scrub_py(want) == want  # idempotence


def test_scores_never_nan_or_null_breaks_verdict(spark, nasty_assessed):
    """Every rule score must be present in rule_scores (possibly null
    for degenerate docs) and `keep` must always be a concrete bool."""
    for r in nasty_assessed.collect():
        assert r.keep in (True, False)
        assert set(r.rule_scores.keys()) == {
            "min_chars", "word_count", "mean_word_len", "max_word_len",
            "symbol_ratio", "stopword_frac", "dup_ngram_frac",
            "langid_conf", "perplexity"}


def test_salted_equals_unsalted(spark):
    """salt_buckets changes physical placement only — verdicts,
    scores, and scrubbed text must be identical."""
    from luzzu_spark.fixtures import as_webpages, load_table
    pages = as_webpages(load_table(
        spark, "/root/testdata/sf0.001", "documents"), inject_pii=True)
    plain = QualityPipeline().assess(pages)
    salted = QualityPipeline(salt_buckets=16).assess(pages)
    cols = ["url", "keep", "text_scrubbed"]
    assert plain.select(cols).exceptAll(salted.select(cols)).count() == 0
    assert salted.select(cols).exceptAll(plain.select(cols)).count() == 0


def test_salt_buckets_reaches_the_repartition(pages):
    """QualityPipeline(salt_buckets=N) salts over N buckets — the
    optimized plan repartitions on pmod(xxhash64(url), N), not on a
    fixed default."""
    import re

    plan = (QualityPipeline(salt_buckets=4).assess(pages)
            ._jdf.queryExecution().optimizedPlan().toString())
    assert re.search(r"pmod\(xxhash64\(url#\d+, 42\), 4\)", plan), plan


def test_fuzz_corpus_spark_equals_oracle(spark):
    """Seeded fuzz corpus (400 docs): random token soups mixing ascii,
    unicode, PII-shaped fragments, pathological whitespace and length
    extremes. The full Spark pipeline must agree with the pandas
    reference labeler EXACTLY — keep, drop_reasons order, and
    byte-identical scrubbed text — on every generated row.
    Deterministic: fixed seed, no hypothesis shrinking nondeterminism."""
    import random
    rng = random.Random(0)
    frags = [
        "the", "and", "is", "of", "to", "word", "données", "汉字",
        "🦀", "x" * 300, "user@ex.com", "555-123-4567", "10.0.0.1",
        "123-45-6789", "http://a.b/c?d=1", "@@@", "...", "\t", "\n",
        "Mixed", "CASE", "tokens", "1234567890", "élan",
    ]
    texts = []
    for i in range(400):
        n = rng.randint(0, 80)
        sep = rng.choice([" ", "  ", " \n ", "\t"])
        texts.append(sep.join(rng.choice(frags) for _ in range(n)))
    pdf = pd.DataFrame({
        "url": [f"https://f.example.com/doc/{i}"
                for i in range(len(texts))],
        "text": texts,
        "lang": ["en"] * len(texts),
        "doc_id": list(range(len(texts))),
        "source": ["f"] * len(texts),
    })
    got = (QualityPipeline().assess(spark.createDataFrame(pdf))
           .select("doc_id", "keep", "drop_reasons", "text_scrubbed")
           .toPandas().set_index("doc_id").sort_index())
    want = oracle_pandas.assess_frame(pdf).set_index("doc_id").sort_index()
    assert got["keep"].tolist() == want["keep"].tolist()
    assert [list(r) for r in got["drop_reasons"]] \
        == [list(r) for r in want["drop_reasons"]]
    assert got["text_scrubbed"].tolist() == want["text_scrubbed"].tolist()


def test_salting_spreads_mega_host(spark):
    """The skew property itself: a host owning 60% of the corpus must
    NOT land in one partition after salted repartitioning — its rows
    spread across ~salt_buckets partitions, so no task is a straggler.
    (The result-equality twin is test_salted_equals_unsalted; this
    pins the physical spreading that is the point of the salt.)"""
    n_mega, n_rest = 6000, 4000
    pdf = pd.DataFrame({
        "url": ([f"https://mega.example.com/doc/{i}"
                 for i in range(n_mega)]
                + [f"https://host{i % 97}.example.com/doc/{i}"
                   for i in range(n_rest)]),
        "text": ["some text"] * (n_mega + n_rest),
    })
    df = spark.createDataFrame(pdf)
    salted = salted_repartition(df, num_partitions=32, salt_buckets=16)
    sizes = (salted.where(F.col("url").contains("//mega."))
             .groupBy(F.spark_partition_id().alias("pid"))
             .count().collect())
    n_parts = len(sizes)
    biggest = max(r["count"] for r in sizes)
    assert n_parts >= 8, f"mega-host stuck in {n_parts} partitions"
    assert biggest < n_mega * 0.25, (
        f"one partition still holds {biggest}/{n_mega} of the mega-host")
