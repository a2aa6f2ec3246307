"""Scale-technique queries over the documents table: salting, cube
facets, host-partitioned ranking, percentiles and skew audits; plus
one mergeable HLL sketch over the `events` fixture.

The salted variants are oracle-checked against the PLAIN aggregation
SQL: two-phase salted aggregation must be result-identical to direct
groupBy — that equality IS the correctness property of the skew
technique (BASELINE.json:6 "salted repartitioning on url-host hash").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from luzzu_spark.fixtures import load_table, spread
from luzzu_spark.queries import register

SALT_BUCKETS = 8


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(load_table(spark, sf_dir, "documents"))


@register("agg_salted_by_source", oracle="""
SELECT source,
       CAST(COUNT(*) AS BIGINT)              AS n_docs,
       CAST(SUM(n_chars) AS BIGINT)          AS sum_chars,
       CAST(MAX(n_chars) AS BIGINT)          AS max_chars
FROM documents GROUP BY source ORDER BY source
""")
def agg_salted_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation: groupBy (source, salt) → partial
    aggregates → groupBy(source) final merge.

    At web scale a mega-host would hot-spot one reducer; the salt splits
    it across SALT_BUCKETS reducers and the second (tiny) aggregation
    merges the partials. Oracle = the UNsalted SQL — identical results
    prove the technique loses nothing."""
    d = _docs(spark, sf_dir)
    salt = F.pmod(F.xxhash64("doc_id"), F.lit(SALT_BUCKETS))
    partial = (d.groupBy("source", salt.alias("_salt"))
               .agg(F.count(F.lit(1)).alias("pn"),
                    F.sum("n_chars").alias("ps"),
                    F.max("n_chars").alias("pm")))
    return (partial.groupBy("source")
            .agg(F.sum("pn").cast("long").alias("n_docs"),
                 F.sum("ps").cast("long").alias("sum_chars"),
                 F.max("pm").cast("long").alias("max_chars"))
            .orderBy("source"))


@register("join_salted_docs_dims", oracle="""
WITH dims AS (
  SELECT source, AVG(n_chars) AS src_avg_chars
  FROM documents GROUP BY source)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(ROUND(AVG(src_avg_chars), 4) AS DOUBLE) AS avg_src_chars
FROM documents d JOIN dims USING (source)
GROUP BY lang ORDER BY lang
""")
def join_salted_docs_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join, oracle-checked against the PLAIN join SQL —
    salting must lose nothing (the same equality property
    agg_salted_by_source proves for salted aggregation). The skewed
    side is exploded over salt replicas of the (broadcastable) dim
    side — the classic salted-join for when AQE's skew split can't
    apply (e.g. pre-UDF repartition)."""
    d = _docs(spark, sf_dir)
    dims = (d.groupBy("source")
            .agg(F.avg("n_chars").alias("src_avg_chars")))
    salted_dims = dims.crossJoin(
        spark.range(SALT_BUCKETS).select(F.col("id").alias("_salt")))
    left = d.withColumn("_salt",
                        F.pmod(F.xxhash64("doc_id"), F.lit(SALT_BUCKETS)))
    return (left.join(F.broadcast(salted_dims), ["source", "_salt"])
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.round(F.avg("src_avg_chars"), 4).alias("avg_src_chars"))
            .orderBy("lang"))


@register("agg_cube_lang_source", oracle="""
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY CUBE (lang, source)
ORDER BY lang NULLS FIRST, source NULLS FIRST
""")
def agg_cube_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE facets (daQ Category×Dimension grid recast): all four
    grouping sets in one pass (Expand operator, single shuffle)."""
    d = _docs(spark, sf_dir)
    return (d.cube("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("sum_chars"))
            .orderBy(F.asc_nulls_first("lang"),
                     F.asc_nulls_first("source")))


@register("window_top2_docs_per_source", oracle="""
SELECT source, doc_id, n_chars, rnk FROM (
  SELECT source, doc_id, n_chars,
         CAST(ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rnk
  FROM documents)
WHERE rnk <= 2 ORDER BY source, rnk
""")
def window_top2_docs_per_source(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Per-host top-k retrieval (README.md:15 ranking recast on the
    corpus itself). Deterministic tie-break on doc_id."""
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id"))
    return (d.withColumn("rnk", F.row_number().over(w).cast("long"))
            .where(F.col("rnk") <= 2)
            .select("source", "doc_id", "n_chars", "rnk")
            .orderBy("source", "rnk"))


@register("set_union_lang_counts", oracle="""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM (
  SELECT lang FROM documents WHERE lang = 'en'
  UNION ALL
  SELECT lang FROM documents WHERE n_chars > 300)
GROUP BY lang ORDER BY lang
""")
def set_union_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName (SURVEY.md §2.7): shard-merge op. Overlap rows count
    twice (UNION ALL semantics — merging run outputs, not dedup)."""
    d = load_table(spark, sf_dir, "documents")
    en = d.where(F.col("lang") == "en").select("lang")
    big = d.where(F.col("n_chars") > 300).select("lang")
    return (en.unionByName(big).groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n")).orderBy("lang"))


@register("grouped_source_stats", oracle="""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(ROUND(AVG(n_chars), 6) AS DOUBLE) AS mean_chars,
       CAST(ROUND(STDDEV_SAMP(n_chars), 6) AS DOUBLE) AS sd_chars
FROM documents GROUP BY source ORDER BY source
""")
def grouped_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDF surface (SURVEY.md §2.9): per-source stats via
    applyInPandas — the escape hatch for per-group custom folds. The
    oracle is plain SQL, proving the grouped-map path computes exactly
    what the declarative agg would (pandas ddof=1 == STDDEV_SAMP).

    Scale: one shuffle on the group key; each group must fit one
    worker's memory — applyInPandas is reserved for per-host folds
    (bounded by per-host doc caps), never whole-corpus groups."""
    import pandas as pd

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "source": [pdf["source"].iloc[0]],
            "n_docs": [len(pdf)],
            "mean_chars": [round(float(pdf["n_chars"].mean()), 6)],
            "sd_chars": [round(float(pdf["n_chars"].std(ddof=1)), 6)],
        })

    d = load_table(spark, sf_dir, "documents")
    return (d.select("source", "n_chars")
            .groupBy("source")
            .applyInPandas(stats, "source string, n_docs bigint, "
                                  "mean_chars double, sd_chars double")
            .orderBy("source"))


@register("text_line_stats", oracle="""
SELECT lang,
       CAST(SUM(len(string_split(text, chr(10)))) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN len(list_filter(string_split(text, chr(10)),
              x -> trim(x) <> '' AND NOT regexp_matches(trim(x),
                   '[.!?"]$'))) = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_all_terminal
FROM documents GROUP BY lang ORDER BY lang
""")
def text_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 terminal-punctuation line rule (SURVEY.md §2.3): line counts +
    docs whose every non-blank line ends in terminal punctuation.
    Higher-order filter/forall over split lines."""
    d = _docs(spark, sf_dir)
    lines = F.split(F.col("text"), "\n")
    bad = F.filter(lines, lambda x: (F.trim(x) != "")
                   & ~F.trim(x).rlike('[.!?"]$'))
    return (d.select("lang", F.size(lines).alias("nl"),
                     (F.size(bad) == 0).cast("long").alias("all_term"))
            .groupBy("lang")
            .agg(F.sum("nl").cast("long").alias("n_lines"),
                 F.sum("all_term").cast("long")
                 .alias("n_docs_all_terminal"))
            .orderBy("lang"))


@register("docs_chars_histogram", oracle="""
SELECT LEAST(19, GREATEST(0,
         CAST(FLOOR(n_chars / 30.0) AS INTEGER))) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM documents GROUP BY 1 ORDER BY bucket
""")
def docs_chars_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width score histogram via floor arithmetic (the daQ
    score-histogram op, README.md:8 recast) — portable to any SQL
    engine, one narrow groupBy on a small int key."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.least(F.lit(19), F.greatest(F.lit(0), F.floor(
        F.col("n_chars") / 30.0).cast("int")))
    return (d.groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("bucket"))


@register("agg_pivot_source_lang", oracle="""
SELECT source,
       CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
       CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
       CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
       CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
FROM documents GROUP BY source ORDER BY source
""")
def agg_pivot_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): doc counts per source with one column per
    language. The value list is EXPLICIT — with implicit values Spark
    runs an extra distinct job over the pivot column and the output
    schema becomes data-dependent (both wrong at 100 TB; a fixed
    vocabulary keeps the plan one pass)."""
    langs = ["de", "en", "es", "fr", "zh"]
    p = (_docs(spark, sf_dir).groupBy("source")
         .pivot("lang", langs).count())
    return (p.select("source",
                     *[F.coalesce(F.col(c), F.lit(0)).cast("long")
                       .alias(c) for c in langs])
            .orderBy("source"))


@register("agg_percentile_chars", oracle="""
SELECT lang,
       CAST(ROUND(quantile_cont(n_chars, 0.5), 6) AS DOUBLE) AS p50_chars,
       CAST(ROUND(quantile_cont(n_chars, 0.9), 6) AS DOUBLE) AS p90_chars,
       CAST(ROUND(quantile_cont(n_chars, 0.99), 6) AS DOUBLE) AS p99_chars
FROM documents GROUP BY lang ORDER BY lang
""")
def agg_percentile_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles of doc length per
    language (score-distribution reporting). Exact percentile needs
    the full value multiset per group — fine for bounded-cardinality
    report groups like lang; the streaming/per-host path uses
    approx_percentile instead."""
    return (_docs(spark, sf_dir).groupBy("lang")
            .agg(F.round(F.percentile("n_chars", F.lit(0.5)), 6)
                 .alias("p50_chars"),
                 F.round(F.percentile("n_chars", F.lit(0.9)), 6)
                 .alias("p90_chars"),
                 F.round(F.percentile("n_chars", F.lit(0.99)), 6)
                 .alias("p99_chars"))
            .orderBy("lang"))


@register("window_distribution_stats", oracle="""
SELECT doc_id,
       CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
       CAST(ROUND(PERCENT_RANK() OVER w, 6) AS DOUBLE) AS pct_rank,
       CAST(LAST_VALUE(doc_id) OVER (PARTITION BY lang
            ORDER BY n_chars, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            AS BIGINT) AS longest_doc
FROM documents
WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
ORDER BY doc_id
""")
def window_distribution_stats(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Distribution analytics per language: ntile quartiles,
    percent_rank, and the longest doc per group (last_value over the
    full frame) — the remaining window-function family members. All
    three share the SAME partition/order keys on purpose, so the plan
    carries one Exchange and one Sort (a descending first_value twin
    would force a second sort of every row)."""
    from pyspark.sql import Window
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wf = w.rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing)
    return (_docs(spark, sf_dir)
            .select("doc_id",
                    F.ntile(4).over(w).alias("quartile"),
                    F.round(F.percent_rank().over(w), 6)
                    .alias("pct_rank"),
                    F.last("doc_id").over(wf).cast("long")
                    .alias("longest_doc"))
            .orderBy("doc_id"))


def _run_delta_oracle_sql() -> str:
    """Generated from the same RULESPEC constants and stopword list the
    Spark side reads — one source of truth, two engines."""
    from luzzu_spark.rules import spec as _s
    from luzzu_spark.rules.stopwords import STOPWORDS as _SW
    # NULL text is a zero-token doc (f_few fires), as on the Spark side
    toks = ("list_filter(string_split(trim(coalesce(text, '')), ' '), "
            "x -> x <> '')")
    sw = "[" + ", ".join(f"'{w}'" for w in sorted(_SW)) + "]"
    return f"""
WITH flags AS (
  SELECT doc_id % 2 AS run_id,
         CASE WHEN n_chars < {_s.MIN_DOC_CHARS} THEN 1 ELSE 0 END
           AS f_short,
         CASE WHEN len({toks}) < {_s.MIN_WORDS} THEN 1 ELSE 0 END
           AS f_few,
         CASE WHEN CAST(len(list_filter({toks},
              x -> list_contains({sw}, x))) AS DOUBLE)
              / NULLIF(len({toks}), 0) < {_s.MIN_STOPWORD_FRAC}
              THEN 1 ELSE 0 END AS f_stop
  FROM documents),
rates AS (
  SELECT run_id,
         CAST(ROUND(AVG(f_short), 6) AS DOUBLE) AS r_short,
         CAST(ROUND(AVG(f_few), 6) AS DOUBLE) AS r_few,
         CAST(ROUND(AVG(f_stop), 6) AS DOUBLE) AS r_stop
  FROM flags GROUP BY run_id)
SELECT rule,
       CAST(ROUND(rate_a, 6) AS DOUBLE) AS rate_a,
       CAST(ROUND(rate_b, 6) AS DOUBLE) AS rate_b,
       CAST(ROUND(rate_b - rate_a, 6) AS DOUBLE) AS delta
FROM (
  SELECT 'min_chars' AS rule, a.r_short AS rate_a, b.r_short AS rate_b
  FROM rates a, rates b WHERE a.run_id = 0 AND b.run_id = 1
  UNION ALL
  SELECT 'stopword_frac', a.r_stop, b.r_stop
  FROM rates a, rates b WHERE a.run_id = 0 AND b.run_id = 1
  UNION ALL
  SELECT 'word_count', a.r_few, b.r_few
  FROM rates a, rates b WHERE a.run_id = 0 AND b.run_id = 1)
ORDER BY rule
"""


@register("metrics_run_delta", oracle=_run_delta_oracle_sql())
def metrics_run_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-over-run quality drift (daQ temporal view): per-rule firing
    rates of two assessment runs compared side by side with the delta
    — the regression alarm a production filter watches between crawl
    snapshots. Here the even/odd doc_id halves stand in for two runs.

    Scale shape: one pass computes every rule flag, one tiny grouped
    aggregate per run, and the comparison is a self-join over
    #runs × #rules rows — corpus text is scanned exactly once. Rates
    are means of 0/1 flags (exact integer sums / n), so both engines
    agree bit-for-bit before rounding."""
    from luzzu_spark.rules import spec as _s
    from luzzu_spark.rules.stopwords import STOPWORDS as _SW
    # both counts in ONE codegen'd regex pass each (CLAUDE.md rule 1 —
    # review r05: the previous filter(toks, t -> array_contains(SW, t))
    # was an interpreted O(tokens × |SW|) scan per row). Space-only
    # delimiters keep the counts EXACTLY equal to the oracle's
    # single-space split + list_contains semantics: a stopword glued to
    # a newline/tab is one non-space token on both sides. \z, not $:
    # Java's $ also matches before a final line terminator, which would
    # count "the\n" at the end of a doc as a stopword.
    stop_re = r"(?:^| )(?:" + "|".join(sorted(_SW)) + r")(?= |\z)"
    # NULL text is a zero-token doc (f_few fires), as in the oracle
    text = F.trim(F.coalesce("text", F.lit("")))
    d = _docs(spark, sf_dir).select(
        "doc_id", "n_chars",
        F.regexp_count(text, F.lit("[^ ]+")).alias("n_toks"),
        F.regexp_count(text, F.lit(stop_re)).alias("stop_hits"))
    n_toks = F.col("n_toks")
    stop_frac = F.try_divide(F.col("stop_hits").cast("double"), n_toks)
    flags = d.select(
        (F.col("doc_id") % 2).alias("run_id"),
        (F.col("n_chars") < _s.MIN_DOC_CHARS).cast("int").alias("f_short"),
        (n_toks < _s.MIN_WORDS).cast("int").alias("f_few"),
        # empty-doc semantics pinned (ADVICE r02): try_divide by zero
        # tokens yields NULL, which F.avg would SKIP while the oracle's
        # CASE … ELSE 0 counts the doc in the denominator — coalesce to
        # 0 so a zero-token doc is "not firing" on both engines
        F.coalesce((stop_frac < _s.MIN_STOPWORD_FRAC).cast("int"),
                   F.lit(0)).alias("f_stop"))
    rates = flags.groupBy("run_id").agg(
        F.round(F.avg("f_short"), 6).alias("r_short"),
        F.round(F.avg("f_few"), 6).alias("r_few"),
        F.round(F.avg("f_stop"), 6).alias("r_stop"))
    a = rates.where(F.col("run_id") == 0).drop("run_id")
    b = rates.where(F.col("run_id") == 1).drop("run_id")
    rows = []
    for rule, col in (("min_chars", "r_short"),
                      ("stopword_frac", "r_stop"),
                      ("word_count", "r_few")):
        rows.append(a.select(
            F.lit(rule).alias("rule"),
            F.round(F.col(col), 6).alias("rate_a"))
            .crossJoin(b.select(F.round(F.col(col), 6).alias("rate_b"))))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return (out.withColumn("delta",
                           F.round(F.col("rate_b") - F.col("rate_a"), 6))
            .orderBy("rule"))


@register("skew_source_audit", oracle="""
WITH per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                    CAST(SUM(n_chars) AS BIGINT) AS total_chars
             FROM documents GROUP BY source)
SELECT source, n_docs, total_chars,
       CAST(ROW_NUMBER() OVER (ORDER BY n_docs DESC, source)
            AS BIGINT) AS rank,
       CAST(SUM(n_docs) OVER (ORDER BY n_docs DESC, source
                              ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_docs
FROM per ORDER BY rank
""")
def skew_source_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit — the diagnostic a data team runs BEFORE
    picking salt factors: per-source doc/char counts ranked by weight
    with a cumulative doc count, so the head keys' corpus share reads
    straight off the result (rank 1's cum_docs / total = the largest
    key's share). All BIGINT — hash-exact cross-engine.

    Scale: one hash-agg over the corpus; the ranking window is
    POST-aggregation (rows = #sources, CLAUDE.md rule 9 — an empty
    frame window never touches raw docs)."""
    per = (_docs(spark, sf_dir).groupBy("source")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("total_chars")))
    w = Window.orderBy(F.desc("n_docs"), F.asc("source"))
    return (per.select(
        "source", "n_docs", "total_chars",
        F.row_number().over(w).cast("long").alias("rank"),
        F.sum("n_docs").over(
            w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long").alias("cum_docs"))
        .orderBy("rank"))


@register("events_hll_distinct_users")  # rows-only: sketch estimates
def events_hll_distinct_users(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting (Spark 4 Datasketches HLL):
    per-event-type user sketches + their UNION rolled up to a global
    estimate — the 100 TB cardinality pattern, where partial sketches
    merge across partitions/days without ever reshuffling raw ids
    (exact COUNT(DISTINCT) shuffles every distinct value; sketches
    ship ~KB per group). Deterministic: HLL register updates are
    max-based, so the sketch is order- and duplication-independent —
    the same id set yields the same estimate on any partitioning
    (pinned by test). No oracle by contract (DuckDB's approx uses a
    different HLL); accuracy vs exact distinct is pinned at <5% and
    partition-invariance exactly, in tests/test_catalog.py — the
    query itself stays pure sketch (no exact count_distinct, which
    would reintroduce the per-value shuffle the sketch exists to
    avoid)."""
    e = load_table(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"))
    rolled = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("long").alias("est_total_users"))
    return (per.select("event_type",
                       F.hll_sketch_estimate("sk").cast("long")
                       .alias("est_users"))
            .crossJoin(F.broadcast(rolled))
            .orderBy("event_type"))
