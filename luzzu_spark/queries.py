"""Driver-contract query catalog (SURVEY.md §2 operator inventory).

Each entry: name → (spark_callable, duckdb_oracle_sql | None).
The callable takes (spark, sf_dir) and returns a DataFrame; the oracle
SQL runs in DuckDB over pre-registered views of the same parquet tables.
None ⇒ non-SQL-expressible (UDF/model ops) → driver does rows-only.

Cross-engine determinism rules used throughout (SURVEY.md §7 risks):
- every aggregate/computed column aliased identically on both sides;
- doubles rounded in-query (sums to 2 dp, ratios to 6 dp) so value
  hashes agree despite summation-order differences;
- counts/sums of ints CAST to BIGINT (DuckDB would widen to INT128);
- timestamps never returned raw — epoch seconds as BIGINT;
- window functions carry explicit deterministic tie-breaks.

Scale notes are attached per query; plans verified via
.explain("formatted") in tests/test_plans.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from luzzu_spark.fixtures import load_table

SparkQuery = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, SparkQuery] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: SparkQuery) -> SparkQuery:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn
    return deco


# ---------------------------------------------------------------------
# Driver verification window (VERDICT r02 item 1; rotation executed
# every round since; r05 adds the FRESHNESS RULE as governance --
# VERDICT r04 next #4).
#
# The driver hash-checks exactly the FIRST 50 entries of queries() in
# iteration order, so registration order IS the verification budget.
#
# Freshness rule (encoded in tests/test_catalog.py): every query whose
# implementation OR oracle changed since its LAST green driver row --
# the _CHANGED_SINCE_LAST_GREEN declaration below, maintained with the
# change that invalidates the row -- must re-enter the window, along
# with every oracle query that has never held a row; remaining slots
# refill with the OLDEST-green entries first. Displacement rule (r04):
# only queries that are driver-green AND unchanged since their row may
# rotate out.
#
# Round-5 window:
# (a) new this round, never driver-checked: per-language stopword
#     profiles, BPE-budget packing, char-offset span excision, the
#     Bloom-pruned cross-run seen-set, and the Bloom-pruned cross-run
#     PARAGRAPH scrub (late r05);
# (b) changed since their r04 green row: commit 8773dd6 (post-r04
#     driver run) retuned the default _shingle_segments tokenizer to
#     Java's \s set (ADVICE r04 high), which feeds every replayable
#     minhash/simhash/shingle-set kernel, and derived mix_epoch_plan's
#     capped-volume term from the cap constant;
# (c) refill, oldest-green first: ALL five r01-latest entries, all
#     nine r02-single-green entries, then 20 of the 31 r01+r02
#     twice-green rows (the 11 left out are twice-green members of
#     families re-verified heavily in r04/r05: lang/token/stopword
#     stats, quality-score, distinct-agg, exact-dedup survivors,
#     multimodal stats — displaced for dedup_bloom_seen_filter).
# ---------------------------------------------------------------------

# Queries whose implementation or oracle changed AFTER their latest
# green driver row (the freshness declaration the governance test
# enforces; clear entries when the next CORRECTNESS file lands green
# rows for them).
_CHANGED_SINCE_LAST_GREEN: tuple[str, ...] = (
    # 8773dd6: Java-\s tokenizer under every replayable kernel
    "dedup_minhash_pairs", "dedup_simhash_pairs", "dedup_simhash_near",
    "dedup_jaccard_verified", "dedup_ngram_jaccard_exact",
    "dedup_cluster_quality_survivors", "dedup_incremental_pairs",
    "dedup_near_survivors", "split_leakage_audit",
    # 8773dd6: capped-volume term now derived from the cap constant
    "mix_epoch_plan",
    # review r05: DuckDB-side '\s' is RE2 (5 chars, no \x0b) while the
    # Spark side is Java \s (6) — oracles moved to the explicit class
    # [ \t\n\x0b\f\r]+; every query whose oracle text changed re-enters
    "text_alpha_word_fraction", "text_dup_para_fraction",
    # late-r05 review: session gap moved to exact epoch MICROSECONDS on
    # both engines (truncating unix_timestamp vs fractional EPOCH made
    # threshold-straddling gaps sessionize differently — green by luck)
    "events_session_counts",
    # late-r05 review: the interpreted stopword HOF scan replaced by
    # one-pass regex counts (same single-space token semantics;
    # CLAUDE.md rule 1); since then \z for a final-newline stopword and
    # NULL text as zero tokens on both engines (oracle changed too)
    "metrics_run_delta",
    # the scrub chain lost its combined-probe guard: same bytes by
    # construction, different Spark-side expression
    "scrub_pii_identity",
    # the composite quality score is read from heuristics'
    # quality_score_sql (no interpreted lambdas), and its DuckDB twins
    # gained the word-count upper bound
    "docs_quality_score", "mix_weights_by_source", "sample_quality_mix",
    # one shared packer body (pack_offsets / pack_token_count)
    "pack_token_sequences", "pack_bpe_sequences",
)

_WINDOW: tuple[str, ...] = (
    # (a) new in r05 -- parity-proven locally at sf0.001 AND sf0.01
    "docs_lang_profile_rates",
    "pack_bpe_sequences",
    "dedup_dup_span_excision",
    "dedup_bloom_seen_filter",
    "dedup_bloom_paragraph_scrub",
    # (b) changed since their last green row (freshness rule)
    "dedup_minhash_pairs", "dedup_simhash_pairs", "dedup_simhash_near",
    "dedup_jaccard_verified", "dedup_ngram_jaccard_exact",
    "dedup_cluster_quality_survivors", "dedup_incremental_pairs",
    "dedup_near_survivors", "split_leakage_audit", "mix_epoch_plan",
    "text_alpha_word_fraction", "text_dup_para_fraction",
    "events_session_counts", "metrics_run_delta",
    "docs_quality_score", "pack_token_sequences",
    # (c) refill -- r01-latest (stalest green rows in the catalog)
    "agg_cube_lang_source", "window_top2_docs_per_source",
    "supplier_revenue_by_nation", "part_type_price_stats",
    "set_union_lang_counts",
    # (c) refill -- r02 single-green
    "docs_langid", "docs_perplexity_hist", "mix_weights_by_source",
    "q10_returned_item_customers", "q17_small_quantity_revenue",
    "q4_priority_late_orders", "sample_quality_mix",
    "sample_stable_hash", "text_bpe_token_counts",
    # (c) refill -- r01+r02 twice-green, 23 of 31
    "q1_pricing_summary", "q3_top_orders", "q5_region_revenue",
    "agg_rollup_acctbal", "join_broadcast_dims",
    "join_anti_customers_no_orders",
    "join_range_events_orders", "window_rank_customers",
    "sort_topk_parts",
    "set_except_sources",
    "dedup_first_doc_per_source",
    "events_tumbling_10min", "text_fingerprint",
    "scrub_pii_identity", "embed_cosine_topk",
    # multimodal_binary_stats rotated out for dedup_bloom_seen_filter;
    # events_date_stats + embed_norm_stats for the two \x0b-class
    # oracle re-verifies above; events_json_sum for the late-r05
    # dedup_bloom_paragraph_scrub; window_lag_deltas +
    # window_running_avg for the microsecond-exact
    # events_session_counts and regex-counted metrics_run_delta
    # re-verifies; join_semi_customers_with_orders +
    # set_intersect_sources for the docs_quality_score and
    # pack_token_sequences re-verifies (rule-derived quality score,
    # shared packer) — all eight r01+r02 twice-green and unchanged
    # since their rows (the displacement rule)
)

# Declared overflow (r03 mechanism): oracle-matched first-timers that
# do not fit the 50-slot window. EMPTY in round 5: the five new
# queries and the full changed-set all fit.
_WINDOW_OVERFLOW: tuple[str, ...] = ()


def queries() -> dict[str, SparkQuery]:
    ordered = {n: _QUERIES[n] for n in _WINDOW if n in _QUERIES}
    ordered.update((n, f) for n, f in _QUERIES.items() if n not in ordered)
    return ordered


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# =========================================================================
# §2.4 Aggregations — relational
# =========================================================================

@register("q1_pricing_summary", oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(l_quantity), 2) AS DOUBLE)      AS sum_qty,
       CAST(ROUND(SUM(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE)
                                                      AS sum_disc_price,
       CAST(ROUND(AVG(l_quantity), 6) AS DOUBLE)      AS avg_qty,
       CAST(ROUND(AVG(l_discount), 6) AS DOUBLE)      AS avg_disc,
       CAST(COUNT(*) AS BIGINT)                       AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the metric-fold showcase (partial agg → final).

    Scale: map-side partial aggregation on 4 tiny groups — shuffle is
    O(partitions × groups); no skew concern at any input size."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2)
                  .alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                  .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count(F.lit(1)).alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


@register("q3_top_orders", oracle="""
SELECT o.o_orderkey,
       CAST(ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)
            AS DOUBLE)                            AS revenue,
       CAST(FLOOR(EPOCH(o.o_orderdate)) AS BIGINT) AS orderdate_epoch
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderkey ASC
LIMIT 10
""")
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join + agg + top-k (TakeOrderedAndProject).

    Scale: customer is the small side → broadcast; lineitem⋈orders is
    the one real shuffle, on the join key both sides are clustered by."""
    c = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("o_orderkey", "o_orderdate")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                  .alias("revenue"))
            .select("o_orderkey", "revenue",
                    F.unix_timestamp("o_orderdate")
                     .alias("orderdate_epoch"))
            .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
            .limit(10))


@register("q5_region_revenue", oracle="""
SELECT n.n_name,
       CAST(ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2)
            AS DOUBLE) AS revenue
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name
""")
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: every dimension broadcast, single fact shuffle."""
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dim = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(dim), o.o_custkey == dim.c_custkey)
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                  .alias("revenue"))
            .orderBy(F.desc("revenue"), "n_name"))


@register("agg_rollup_acctbal", oracle="""
SELECT r.r_name, n.n_name,
       CAST(COUNT(c.c_custkey) AS BIGINT)        AS n_customers,
       CAST(ROUND(SUM(c.c_acctbal), 2) AS DOUBLE) AS sum_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
""")
def agg_rollup_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """daQ facet hierarchy recast: ROLLUP over region→nation grains."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    j = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
          .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (j.rollup("r_name", "n_name")
            .agg(F.count("c_custkey").alias("n_customers"),
                 F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"))
            .orderBy(F.asc_nulls_first("r_name"),
                     F.asc_nulls_first("n_name")))


@register("agg_distinct_stats", oracle="""
SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT)   AS n_customers,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
       CAST(COUNT(*) AS BIGINT)                    AS n_orders
FROM orders
""")
def agg_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distincts (oracle-checkable); the approx_count_distinct
    scale path is a separate rows-only query."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.count(F.lit(1)).alias("n_orders"))


# =========================================================================
# §2.5 Joins
# =========================================================================

@register("join_broadcast_dims", oracle="""
SELECT r.r_name, CAST(COUNT(*) AS BIGINT) AS n_nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name ORDER BY r.r_name
""")
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name").agg(F.count(F.lit(1)).alias("n_nations"))
            .orderBy("r_name"))


@register("join_semi_customers_with_orders", oracle="""
SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n_active
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_custkey IN (SELECT o_custkey FROM orders)
GROUP BY n.n_name ORDER BY n.n_name
""")
def join_semi_customers_with_orders(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Left-semi: the seen-set membership op (dedup against a seen
    corpus uses the same shape at web scale)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
            .groupBy("n_name").agg(F.count(F.lit(1)).alias("n_active"))
            .orderBy("n_name"))


@register("join_anti_customers_no_orders", oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_inactive
FROM customer c
WHERE c.c_custkey NOT IN (SELECT o_custkey FROM orders
                          WHERE o_custkey IS NOT NULL)
""")
def join_anti_customers_no_orders(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .agg(F.count(F.lit(1)).alias("n_inactive")))


@register("join_range_events_orders", oracle="""
SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM events e
JOIN events e2
  ON e2.user_id = e.user_id
 AND e2.ts > e.ts
 AND e2.ts <= e.ts + INTERVAL 5 MINUTE
WHERE e.event_type = 'signup'
GROUP BY e.event_type
""")
def join_range_events_orders(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Range (non-equi) join: events within 5 min after a signup by the
    same user. Scale: equi-key on user_id bounds the blowup; Catalyst
    plans SMJ on user_id with the range as a post-filter."""
    e = _t(spark, sf_dir, "events").where(
        F.col("event_type") == "signup")
    e2 = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("u2"), F.col("ts").alias("ts2"))
    return (e.join(e2, (e.user_id == e2.u2) & (e2.ts2 > e.ts)
                   & (e2.ts2 <= e.ts + F.expr("INTERVAL 5 MINUTES")))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_pairs")))


# =========================================================================
# §2.6 Window functions
# =========================================================================

@register("window_rank_customers", oracle="""
SELECT n_name, c_custkey, rnk FROM (
  SELECT n.n_name, c.c_custkey,
         CAST(ROW_NUMBER() OVER (PARTITION BY n.n_name
               ORDER BY c.c_acctbal DESC, c.c_custkey ASC) AS BIGINT)
           AS rnk
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
WHERE rnk <= 3
ORDER BY n_name, rnk
""")
def window_rank_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number — the ranked-corpus op
    (README.md:15 recast). Explicit custkey tie-break = deterministic."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey"))
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .withColumn("rnk", F.row_number().over(w).cast("long"))
            .where(F.col("rnk") <= 3)
            .select("n_name", "c_custkey", "rnk")
            .orderBy("n_name", "rnk"))


@register("window_running_avg", oracle="""
SELECT event_id,
       CAST(ROUND(AVG(value) OVER (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS DOUBLE)
         AS running_avg
FROM events
ORDER BY event_id
""")
def window_running_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id")
         .orderBy(F.asc("ts"), F.asc("event_id"))
         .rowsBetween(-3, Window.currentRow))
    return (e.select("event_id",
                     F.round(F.avg("value").over(w), 6)
                      .alias("running_avg"))
            .orderBy("event_id"))


@register("window_lag_deltas", oracle="""
SELECT event_id,
       CAST(FLOOR(EPOCH(ts)) -
            FLOOR(EPOCH(LAG(ts) OVER (PARTITION BY user_id
                  ORDER BY ts ASC, event_id ASC))) AS BIGINT)
         AS delta_sec
FROM events
ORDER BY event_id
""")
def window_lag_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.asc("ts"), F.asc("event_id"))
    return (e.select(
        "event_id",
        (F.unix_timestamp("ts")
         - F.unix_timestamp(F.lag("ts").over(w))).alias("delta_sec"))
        .orderBy("event_id"))


# =========================================================================
# §2.7 Sorts / limits / set ops / dedup
# =========================================================================

@register("sort_topk_parts", oracle="""
SELECT p_partkey, p_retailprice FROM part
ORDER BY p_retailprice DESC, p_partkey ASC LIMIT 15
""")
def sort_topk_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (p.select("p_partkey", "p_retailprice")
            .orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
            .limit(15))


@register("set_except_sources", oracle="""
SELECT source FROM (
  SELECT DISTINCT source FROM documents WHERE lang = 'en'
  EXCEPT
  SELECT DISTINCT source FROM documents WHERE lang = 'zh')
ORDER BY source
""")
def set_except_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    en = d.where(F.col("lang") == "en").select("source").distinct()
    zh = d.where(F.col("lang") == "zh").select("source").distinct()
    return en.exceptAll(zh).distinct().orderBy("source")


@register("set_intersect_sources", oracle="""
SELECT source FROM (
  SELECT DISTINCT source FROM documents WHERE lang = 'fr'
  INTERSECT
  SELECT DISTINCT source FROM documents WHERE lang = 'de')
ORDER BY source
""")
def set_intersect_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    fr = d.where(F.col("lang") == "fr").select("source").distinct()
    de = d.where(F.col("lang") == "de").select("source").distinct()
    return fr.intersect(de).orderBy("source")


@register("dedup_first_doc_per_source", oracle="""
SELECT source, doc_id, n_chars FROM (
  SELECT source, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id ASC)
           AS rn
  FROM documents)
WHERE rn = 1 ORDER BY source
""")
def dedup_first_doc_per_source(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Deterministic dedup: dropDuplicates is order-dependent under
    parallelism (SURVEY.md §7 trap 2); row_number over explicit order
    is the scale-safe idiom."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.asc("doc_id"))
    return (d.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("source", "doc_id", "n_chars")
            .orderBy("source"))


# =========================================================================
# §2.3 Scalar functions — events/JSON/time
# =========================================================================

@register("events_json_sum", oracle="""
SELECT event_type,
       CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
                     AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY event_type ORDER BY event_type
""")
def events_json_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON prop extraction (from_json on the Spark side — the real
    parser; the oracle uses a regex for engine-neutrality)."""
    e = _t(spark, sf_dir, "events")
    return (e.withColumn("k", F.from_json("props", "k INT")["k"])
            .groupBy("event_type")
            .agg(F.sum("k").cast("long").alias("sum_k"),
                 F.count(F.lit(1)).alias("n"))
            .orderBy("event_type"))


@register("events_tumbling_10min", oracle="""
SELECT CAST(FLOOR(FLOOR(EPOCH(ts)) / 600) * 600 AS BIGINT)
         AS window_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(ROUND(SUM(value), 2) AS DOUBLE) AS sum_value
FROM events GROUP BY 1 ORDER BY window_start
""")
def events_tumbling_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling window agg — batch twin of the streaming op
    (§2.8); window() start returned as epoch for portability."""
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.unix_timestamp("w.start").alias("window_start"),
                    "n_events", "sum_value")
            .orderBy("window_start"))


@register("events_date_stats", oracle="""
SELECT CAST(FLOOR(EPOCH(DATE_TRUNC('hour', ts))) AS BIGINT) AS hour_epoch,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(ROUND(AVG(value), 6) AS DOUBLE) AS avg_value
FROM events
GROUP BY 1, 2 ORDER BY hour_epoch, event_type
""")
def events_date_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (e.groupBy(
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
        "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg("value"), 6).alias("avg_value"))
        .orderBy("hour_epoch", "event_type"))


@register("q17_small_quantity_revenue", oracle="""
SELECT CAST(ROUND(SUM(l_extendedprice) / 7.0, 6) AS DOUBLE) AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
""")
def q17_small_quantity_revenue(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — correlated scalar subquery (per-part average
    quantity), expressed in SQL so Catalyst's decorrelation does the
    rewrite: the subquery becomes a per-partkey aggregate joined back,
    ONE extra shuffle keyed on l_partkey instead of a per-row probe.
    The brand filter broadcasts into both the outer join and the
    decorrelated aggregate (AQE), so the heavy lineitem scan prunes
    to the filtered parts on both sides."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("q17_lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("q17_part")
    return spark.sql("""
        SELECT CAST(ROUND(SUM(l_extendedprice) / 7.0, 6) AS DOUBLE)
                 AS avg_yearly,
               CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM q17_lineitem JOIN q17_part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
          AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                            FROM q17_lineitem l2
                            WHERE l2.l_partkey = p_partkey)
    """)


@register("q10_returned_item_customers", oracle="""
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
            AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey LIMIT 20
""")
def q10_returned_item_customers(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape — customers ranked by returned-item revenue:
    a 4-table join where the two dims broadcast, the fact-fact join
    shuffles on orderkey, and the top-20 runs as TakeOrderedAndProject
    (no global sort materialized). Revenue rounded to 4 dp: the product
    sum is order-dependent in the last float bits; 4 dp absorbs it."""
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    rev = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (l.join(o, l.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(F.round(rev, 4).alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("c_custkey"))
            .limit(20))


@register("q4_priority_late_orders", oracle="""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority ORDER BY o_orderpriority
""")
def q4_priority_late_orders(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — existential semi-join with a non-equi
    condition: orders having at least one lineitem shipped after the
    order date, counted per priority. The EXISTS compiles to a
    LeftSemi join on orderkey with the date predicate in the join
    condition — each order tests membership once, no row blowup."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    semi = o.join(l, (o.o_orderkey == l.l_orderkey)
                  & (l.l_shipdate > o.o_orderdate), "left_semi")
    return (semi.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .orderBy("o_orderpriority"))


@register("q6_forecast_revenue", oracle="""
SELECT CAST(ROUND(SUM(l_extendedprice * l_discount), 2) AS DOUBLE)
         AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.02 AND 0.06
  AND l_quantity < 20
""")
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — pure predicate + global aggregate, the query
    whose whole cost is the scan: all three filters push down to the
    parquet reader (PushedFilters) and the sum partial-aggregates
    map-side, so the shuffle is one row per task."""
    li = _t(spark, sf_dir, "lineitem")
    f = li.where((F.col("l_shipdate") >= "1996-01-01")
                 & (F.col("l_shipdate") < "1997-01-01")
                 & (F.col("l_discount").between(0.02, 0.06))
                 & (F.col("l_quantity") < 20))
    return f.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
         .alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"))


@register("q12_shipmode_priority", oracle="""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= o.o_orderdate
GROUP BY l_returnflag ORDER BY l_returnflag
""")
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — fact⋈fact equi-join with a residual date
    predicate and conditional (CASE) aggregation: priority classes
    pivot into columns inside ONE aggregation pass, no second scan or
    pivot job."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = o.join(l, (l.l_orderkey == o.o_orderkey)
               & (l.l_shipdate >= o.o_orderdate))
    return (j.groupBy("l_returnflag")
            .agg(F.sum(high.cast("long")).alias("high_line_count"),
                 F.sum((~high).cast("long")).alias("low_line_count"))
            .orderBy("l_returnflag"))


@register("q14_promo_revenue", oracle="""
SELECT CAST(ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                     THEN l_extendedprice * (1 - l_discount)
                     ELSE 0 END)
                  / SUM(l_extendedprice * (1 - l_discount)), 4)
            AS DOUBLE) AS promo_pct,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
""")
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — percentage-of-total via two conditional sums
    in one aggregation over a dim join (part broadcasts: it is the
    small side). One pass, one shuffle of partial sums."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    j = (l.where((F.col("l_shipdate") >= "1997-01-01")
                 & (F.col("l_shipdate") < "1998-01-01"))
         .join(F.broadcast(p), p.p_partkey == l.l_partkey))
    return j.agg(
        F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_pct"),
        F.count(F.lit(1)).alias("n_lines"))


@register("q18_large_volume_customers", oracle="""
SELECT c.c_name, o.o_orderkey,
       CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(SUM(l.l_quantity) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                       GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
GROUP BY c.c_name, o.o_orderkey, o.o_totalprice
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
""")
def q18_large_volume_customers(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — HAVING-filtered semi-join then top-N: orders
    whose total quantity exceeds a threshold, re-joined to customers
    and ranked by order value. The IN-subquery compiles to a LeftSemi
    against the aggregated orderkey set; the final top-10 is a
    TakeOrderedAndProject, not a global sort."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big = (l.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("sq"))
           .where(F.col("sq") > 150)
           .select("l_orderkey"))
    return (o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .join(l, l.l_orderkey == o.o_orderkey)
            .groupBy("c_name", "o_orderkey", "o_totalprice")
            .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(10))


@register("q19_disjunctive_predicates", oracle="""
SELECT CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE)
         AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 21)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 5 AND 30)
   OR (p.p_brand = 'Brand#5' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 10 AND 40)
""")
def q19_disjunctive_predicates(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape — a disjunction of multi-column predicate
    bundles over a join: Catalyst must extract the common equi-key
    (p_partkey = l_partkey) into a hash join and keep the OR-bundle
    as a residual filter — NOT fall back to a nested-loop product
    (pinned in tests/test_plans.py)."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    bundle = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 21))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(5, 30))
        | ((F.col("p_brand") == "Brand#5") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(10, 40)))
    j = l.join(F.broadcast(p),
               (p.p_partkey == l.l_partkey) & bundle)
    return j.agg(
        F.round(F.sum(F.col("l_extendedprice")
                      * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"))


@register("q13_order_count_distribution", oracle="""
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey,
         CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c LEFT OUTER JOIN orders o
    ON o.o_custkey = c.c_custkey
   AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey) per_cust
GROUP BY c_count ORDER BY custdist DESC, c_count DESC
""")
def q13_order_count_distribution(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — LEFT OUTER join with the dimension filter
    folded into the join condition (customers with zero surviving
    orders must still appear with c_count = 0), then a second
    aggregation over the first's output: the order-count histogram.

    Scale: the outer join shuffles both sides on custkey once; the
    second groupBy runs over #customers rows already reduced by the
    first agg, and its key space (#distinct counts) is tiny, so the
    second exchange is O(partitions x distinct_counts)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT")
    per_cust = (c.join(o, c.c_custkey == o.o_custkey, "left_outer")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.desc("custdist"), F.desc("c_count")))


@register("q22_global_avg_anti_join", oracle="""
WITH pos AS (
  SELECT AVG(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0.0)
SELECT CAST(c.c_nationkey % 5 AS BIGINT) AS cgroup,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(ROUND(SUM(c.c_acctbal), 2) AS DOUBLE) AS totacctbal
FROM customer c, pos
WHERE c.c_acctbal > pos.avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey)
GROUP BY 1 ORDER BY 1
""")
def q22_global_avg_anti_join(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — a scalar aggregate subquery gating the outer
    scan (customers above the positive-balance average) combined with
    a NOT EXISTS anti-join (customers who never ordered), grouped by
    a derived code (nationkey mod 5 stands in for the phone country
    code the trimmed fixture lacks).

    Scale: the scalar average is a 1-row aggregate broadcast into the
    filter (no second scan of the filtered side); the anti-join
    shuffles on custkey only. Both subqueries reuse Catalyst's
    ReusedExchange when the customer scan is shared."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = (c.where(F.col("c_acctbal") > 0.0)
               .agg(F.avg("c_acctbal").alias("avg_bal")))
    rich = (c.join(F.broadcast(avg_bal))
            .where(F.col("c_acctbal") > F.col("avg_bal")))
    never = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return (never.groupBy((F.col("c_nationkey") % 5).cast("long")
                          .alias("cgroup"))
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
            .orderBy("cgroup"))


@register("q15_top_supplier", oracle="""
WITH rev AS (
  SELECT l_suppkey,
         CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
              AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
ORDER BY s.s_suppkey
""")
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — an aggregate view (quarterly revenue per
    supplier) compared against its own MAX: the view is built once and
    the 1-row max re-joins it, returning every supplier tied at the
    top. Revenue is rounded to 2 dp in-query on BOTH engines before
    the equality compare, so the max-tie set is engine-stable.

    Scale: one shuffle to build rev (map-side partial sums); the max
    is a 1-row broadcast, and the supplier dim broadcasts — the fact
    table is scanned exactly once."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (li.where((F.col("l_shipdate") >= "1996-01-01")
                    & (F.col("l_shipdate") < "1996-04-01"))
           .groupBy("l_suppkey")
           .agg(F.round(F.sum(F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))), 2)
                .alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    top = (rev.join(F.broadcast(mx))
           .where(F.col("total_revenue") == F.col("max_revenue")))
    return (top.join(F.broadcast(s), top.l_suppkey == s.s_suppkey)
            .select("s_suppkey", "s_name", "total_revenue")
            .orderBy("s_suppkey"))


@register("q7_bi_nation_volume", oracle="""
SELECT supp_nation, cust_nation, l_year,
       CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
  JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
  WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
""")
def q7_bi_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — two roles of the SAME dimension (nation joins
    once through supplier, once through customer) with a symmetric
    disjunctive pair filter, grouped by ship year.

    Scale: both nation joins broadcast (25 rows); the nation-pair
    filter cannot push below the joins (it spans both sides) but the
    single-nation disjuncts could be pushed per side by a smarter
    planner — at 100 TB one would pre-filter s/c to the two nations
    before the fact joins, which is exactly what the broadcast hash
    join's build-side filter achieves here. lineitem->orders is the
    only big-big shuffle; it shuffles once on orderkey."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"),
                  F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"),
                  F.col("n_name").alias("cust_nation"))
    j = (li.join(o, li.l_orderkey == o.o_orderkey)
         .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
         .join(c, o.o_custkey == c.c_custkey)
         .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
         .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
         .where(((F.col("supp_nation") == "NATION_1")
                 & (F.col("cust_nation") == "NATION_2"))
                | ((F.col("supp_nation") == "NATION_2")
                   & (F.col("cust_nation") == "NATION_1"))))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (j.select("supp_nation", "cust_nation",
                     F.year("l_shipdate").cast("long").alias("l_year"),
                     vol.alias("volume"))
            .groupBy("supp_nation", "cust_nation", "l_year")
            .agg(F.round(F.sum("volume"), 2).alias("revenue"))
            .orderBy("supp_nation", "cust_nation", "l_year"))


@register("q8_national_market_share", oracle="""
WITH flat AS (
  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem l
  JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
  JOIN region r   ON r.r_regionkey = n1.n_regionkey
                 AND r.r_name = 'AMERICA'
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n2  ON n2.n_nationkey = s.s_nationkey)
SELECT o_year,
       CAST(ROUND(SUM(CASE WHEN supp_nation = 'NATION_1'
                      THEN volume ELSE 0 END), 2) AS DOUBLE)
         AS nation_volume,
       CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS total_volume,
       CAST(ROUND(ROUND(SUM(CASE WHEN supp_nation = 'NATION_1'
                        THEN volume ELSE 0 END), 2)
                  / ROUND(SUM(volume), 2), 6) AS DOUBLE) AS mkt_share
FROM flat GROUP BY o_year ORDER BY o_year
""")
def q8_national_market_share(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: NATION_1's slice of
    PROMO-part revenue sold into AMERICA, per order year. The share
    divides the two ROUNDED sums (rule-12: the raw double sums are
    traversal-order-dependent; rounding first pins both engines to
    the same quantized operands before the one float divide).

    Scale: part is the most selective dim — broadcast FIRST so the
    fact scan drops ~5/6 of lineitem before the only big-big shuffle
    (orderkey). customer joins shuffle-side (orders already carries
    custkey); nation/region/supplier broadcast. The conditional-sum
    form needs no second pass for the numerator."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    o = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    n1 = (n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
          .select(F.col("n_nationkey").alias("n1_key")))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"),
                  F.col("n_name").alias("supp_nation"))
    flat = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .join(cu, o.o_custkey == cu.c_custkey)
            .join(F.broadcast(n1), cu.c_nationkey == F.col("n1_key"))
            .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
            .select(F.year("o_orderdate").cast("long").alias("o_year"),
                    (F.col("l_extendedprice")
                     * (1 - F.col("l_discount"))).alias("volume"),
                    "supp_nation"))
    num = F.round(F.sum(F.when(F.col("supp_nation") == "NATION_1",
                               F.col("volume")).otherwise(0.0)), 2)
    den = F.round(F.sum("volume"), 2)
    return (flat.groupBy("o_year")
            .agg(num.alias("nation_volume"),
                 den.alias("total_volume"),
                 F.round(num / den, 6).alias("mkt_share"))
            .orderBy("o_year"))


@register("q21_waiting_suppliers", oracle="""
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
             AND n.n_name IN ('NATION_1', 'NATION_3')
JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
             AND o.o_orderstatus = 'F'
WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY s.s_name ORDER BY numwait DESC, s.s_name
""")
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — suppliers who alone held up multi-supplier
    orders: count late lineitems (shipped > 60 days after the order
    date — the fixture has no commit/receipt dates, so lateness is
    adapted to the columns it has) in finished multi-supplier orders
    where NO OTHER supplier was late.

    The correlated EXISTS / NOT EXISTS pair decorrelates into ONE
    per-order census: EXISTS(other supplier) == n_supps >= 2, and
    NOT EXISTS(other late supplier) == n_late_supps = 1 given the
    supplier itself is late (the sole late supplier must then be it).
    The oracle keeps the textbook correlated form, so the driver hash
    check proves the rewrite, not just the arithmetic.

    Scale: ONE pass — lineitem joins orders on orderkey (the only
    big-big exchange); the (orderkey, suppkey) fold and the per-order
    census window both require only orderkey clustering, which the
    join's hash(orderkey) partitioning already satisfies, so neither
    adds an exchange and lineitem is scanned exactly once (plan
    pinned). numwait = the supplier's late-line count in qualifying
    orders == the textbook count of qualifying l1 rows."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_3"))
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    late = F.col("l_shipdate") > F.date_add(
        F.col("o_orderdate").cast("date"), 60).cast("timestamp")
    lo = (li.join(o, li.l_orderkey == o.o_orderkey)
          .select("l_orderkey", "l_suppkey", late.alias("is_late")))
    per_supp = (lo.groupBy("l_orderkey", "l_suppkey")
                .agg(F.sum(F.col("is_late").cast("long"))
                     .alias("n_late_lines")))
    w = Window.partitionBy("l_orderkey")
    census = (per_supp
              .withColumn("n_supps", F.count(F.lit(1)).over(w))
              .withColumn("n_late_supps",
                          F.sum((F.col("n_late_lines") > 0)
                                .cast("long")).over(w)))
    blamed = census.where((F.col("n_late_lines") > 0)
                          & (F.col("n_supps") >= 2)
                          & (F.col("n_late_supps") == 1))
    sn = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
          .select("s_suppkey", "s_name"))
    return (blamed.join(F.broadcast(sn),
                        blamed.l_suppkey == sn.s_suppkey)
            .groupBy("s_name")
            .agg(F.sum("n_late_lines").alias("numwait"))
            .orderBy(F.desc("numwait"), F.asc("s_name")))


@register("q2_min_cost_supplier", oracle="""
WITH cost AS (
  SELECT l.l_partkey AS partkey, l.l_suppkey AS suppkey,
         MIN(CAST(FLOOR(l.l_extendedprice * 100 / l.l_quantity)
                  AS BIGINT)) AS cost_cents
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
  GROUP BY 1, 2)
SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_brand,
       c.cost_cents AS min_cost_cents
FROM cost c
JOIN part p ON p.p_partkey = c.partkey AND p.p_type = 'LARGE'
JOIN supplier s ON s.s_suppkey = c.suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE c.cost_cents = (SELECT MIN(c2.cost_cents) FROM cost c2
                      WHERE c2.partkey = c.partkey)
ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
""")
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — cheapest regional supplier per part, via a
    correlated-MIN subquery. The fixture has no partsupp table, so
    supply cost is adapted to the best unit price the supplier ever
    charged for the part (min l_extendedprice/l_quantity over its
    lineitems), FLOORED to exact integer cents before the min: the
    division of identical doubles is bit-identical on both engines and
    floor has no tie behavior, whereas ROUND diverges at exact .5
    boundaries (Spark rounds the shortest-decimal string HALF_UP,
    DuckDB rounds the binary value — e.g. 2929.395 → .40 vs .39, and
    unit prices land on such boundaries systematically). The min-tie
    set and equality compare are then BIGINT-exact; every tied
    cheapest supplier is returned, as in the textbook.

    Scale: the correlated MIN decorrelates into one (partkey) re-agg
    of the (partkey, suppkey) cost frame and a same-key join back —
    both reuse the hash(partkey)-compatible shuffle; part (filtered,
    ~1/6) / supplier / nation broadcast, so lineitem is scanned once
    and shuffled once on (partkey, suppkey)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "LARGE")
    eu_supp = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
               .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
               .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    cost = (li.join(F.broadcast(eu_supp.select("s_suppkey")),
                    li.l_suppkey == F.col("s_suppkey"))
            .groupBy(F.col("l_partkey").alias("partkey"),
                     F.col("l_suppkey").alias("suppkey"))
            .agg(F.min(F.floor(F.col("l_extendedprice") * 100
                               / F.col("l_quantity")).cast("long"))
                 .alias("cost_cents")))
    best = cost.groupBy("partkey").agg(F.min("cost_cents").alias("best"))
    return (cost.join(best, "partkey")
            .where(F.col("cost_cents") == F.col("best"))
            .join(F.broadcast(p), F.col("partkey") == p.p_partkey)
            .join(F.broadcast(eu_supp), F.col("suppkey") == F.col("s_suppkey"))
            .select("s_acctbal", "s_name", "n_name", "p_partkey",
                    "p_brand", F.col("cost_cents").alias("min_cost_cents"))
            .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey"))


@register("q9_product_profit", oracle="""
SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
       CAST(CAST(SUM(CAST(ROUND((l.l_extendedprice * (1 - l.l_discount)
                      - 0.1 * p.p_retailprice * l.l_quantity) * 10000)
                      AS BIGINT)) AS BIGINT) / 10000.0
            AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%widget%'
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY n.n_name, o_year
ORDER BY nation, o_year DESC
""")
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — product-line profit by supplier nation and
    order year, with a part-NAME substring filter. No partsupp in the
    fixture, so supply cost is adapted to 10% of the part's retail
    price per unit (profit = revenue - 0.1 * p_retailprice * qty);
    the join topology (part-name filter, supplier→nation roll-up,
    orders for the year) is the textbook's.

    Scale: the part filter is the selective one (~13% of parts) —
    broadcast FIRST so the fact scan shrinks before the only big-big
    shuffle (orderkey vs orders); supplier and nation broadcast. The
    profit expression folds into the scan projection."""
    li = _t(spark, sf_dir, "lineitem")
    p = (_t(spark, sf_dir, "part")
         .where(F.col("p_name").like("%widget%"))
         .select("p_partkey", "p_retailprice"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = _t(spark, sf_dir, "nation")
    # Rule-12 hardening: profit amounts are exact multiples of 1e-4, so
    # fold each row to EXACT integer ten-thousandths (the per-row double
    # math is bit-identical on both engines, and the values sit mid-ulp,
    # not at .5 ties, so the per-row round agrees), sum the BIGINTs
    # order-independently, and divide ONCE at the end with NO final
    # 2-dp round — group sums land exactly on .xx5 boundaries where
    # Spark's string-decimal HALF_UP and DuckDB's binary round diverge;
    # the raw long/10000.0 division is bit-identical instead.
    amount_e4 = F.round((F.col("l_extendedprice") * (1 - F.col("l_discount"))
                         - 0.1 * F.col("p_retailprice")
                         * F.col("l_quantity")) * 10000, 0).cast("long")
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .select(F.col("n_name").alias("nation"),
                    F.year("o_orderdate").cast("long").alias("o_year"),
                    amount_e4.alias("amount_e4"))
            .groupBy("nation", "o_year")
            .agg((F.sum("amount_e4") / 10000.0).alias("sum_profit"))
            .orderBy("nation", F.desc("o_year")))


@register("q11_important_parts", oracle="""
WITH val AS (
  SELECT l.l_partkey AS partkey,
         CAST(CAST(SUM(CAST(ROUND(l.l_extendedprice
                                  * (1 - l.l_discount) * 10000)
                            AS BIGINT)) AS BIGINT) / 10000.0
              AS DOUBLE) AS part_value
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
  GROUP BY 1)
SELECT partkey, part_value FROM val
WHERE part_value > 1.5 * (SELECT AVG(part_value) FROM val)
ORDER BY part_value DESC, partkey
""")
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — parts whose regional revenue concentration
    beats a global scalar threshold (HAVING sum > f(SELECT agg over
    the same view)). Adapted: value = discounted revenue from
    EUROPE-region suppliers; the textbook's fixed fraction is
    SF-dependent (0 rows at sf0.01), so the threshold is scale-free
    1.5× the mean per-part value. Per-part values fold to exact
    integer ten-thousandths before the order-independent BIGINT sum
    (rule 12 + the .xx5 ROUND-tie divergence q9 hit), so the values
    and the threshold boundary set are engine-stable.

    Scale: one (partkey) shuffle builds val; the scalar mean is a
    1-row aggregate computed post-agg via an empty-frame window —
    legal here per rule 9 because val has #parts rows, not corpus
    rows. The corpus never re-shuffles for the threshold."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
          .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
          .select("s_suppkey"))
    rev_e4 = F.round(F.col("l_extendedprice")
                     * (1 - F.col("l_discount")) * 10000, 0).cast("long")
    val = (li.join(F.broadcast(eu), li.l_suppkey == eu.s_suppkey)
           .groupBy(F.col("l_partkey").alias("partkey"))
           .agg((F.sum(rev_e4) / 10000.0).alias("part_value")))
    w = Window.partitionBy()
    return (val.withColumn("mean_value", F.avg("part_value").over(w))
            .where(F.col("part_value") > 1.5 * F.col("mean_value"))
            .select("partkey", "part_value")
            .orderBy(F.desc("part_value"), "partkey"))


@register("q16_supplier_diversity", oracle="""
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#5'
  AND p.p_type NOT LIKE 'PROMO%'
  AND p.p_size IN (1, 4, 7, 10, 15, 23, 36, 45)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                          WHERE s_acctbal < 3000)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
""")
def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — distinct-supplier counts per part attribute
    triple, with negated dim predicates (<>, NOT LIKE, IN-list) and a
    NOT IN supplier-exclusion subquery. The fixture has no s_comment,
    so the 'customer complaints' exclusion is adapted to low-balance
    suppliers (s_acctbal < 3000 — non-empty at every fixture SF).

    Scale: the part filter broadcasts; the exclusion list is a
    broadcast ANTI join (never a shuffle); COUNT(DISTINCT) re-shuffles
    the (brand,type,size,suppkey) quads once — fixed-width keys."""
    li = _t(spark, sf_dir, "lineitem")
    p = (_t(spark, sf_dir, "part")
         .where((F.col("p_brand") != "Brand#5")
                & ~F.col("p_type").like("PROMO%")
                & F.col("p_size").isin(1, 4, 7, 10, 15, 23, 36, 45)))
    bad = (_t(spark, sf_dir, "supplier")
           .where(F.col("s_acctbal") < 3000).select("s_suppkey"))
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey,
                  "left_anti")
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
            .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type",
                     "p_size"))


@register("q20_excess_shippers", oracle="""
WITH shipped AS (
  SELECT l.l_suppkey AS suppkey, l.l_partkey AS partkey,
         SUM(CASE WHEN l.l_shipdate >= TIMESTAMP '1996-01-01'
                   AND l.l_shipdate <  TIMESTAMP '1997-01-01'
                  THEN l.l_quantity ELSE 0 END) AS qty_1996,
         SUM(l.l_quantity) AS qty_total
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%bolt%'
  GROUP BY 1, 2)
SELECT s.s_name, s.s_acctbal
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
WHERE s.s_suppkey IN (SELECT suppkey FROM shipped
                      WHERE qty_1996 > 0.4 * qty_total)
ORDER BY s.s_name
""")
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — the nested semi-join chain: suppliers (in a
    region) qualified by an aggregate condition over their shipments
    of name-filtered parts. No partsupp availqty in the fixture, so
    'excess availability' is adapted to demand concentration: a
    (supplier, part) pair qualifies when its 1996 shipped quantity
    exceeds 40% of its all-time shipped quantity. Quantities are
    integral doubles, so the sums and the 0.4× compare are exact on
    both engines — no rounding needed.

    Scale: part-name filter broadcasts into the fact scan; the
    (suppkey, partkey) fold is the only shuffle; the qualifying
    suppkey list collapses to ≤ #suppliers rows and broadcasts into
    a LEFT SEMI against the supplier dim — the fact table never
    joins the dim directly."""
    li = _t(spark, sf_dir, "lineitem")
    p = (_t(spark, sf_dir, "part")
         .where(F.col("p_name").like("%bolt%")).select("p_partkey"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    in_96 = ((F.col("l_shipdate") >= "1996-01-01")
             & (F.col("l_shipdate") < "1997-01-01"))
    shipped = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
               .groupBy(F.col("l_suppkey").alias("suppkey"),
                        F.col("l_partkey").alias("partkey"))
               .agg(F.sum(F.when(in_96, F.col("l_quantity"))
                          .otherwise(0.0)).alias("qty_1996"),
                    F.sum("l_quantity").alias("qty_total")))
    qualifying = (shipped
                  .where(F.col("qty_1996") > 0.4 * F.col("qty_total"))
                  .select("suppkey").distinct())
    eu = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
          .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (eu.join(F.broadcast(qualifying),
                    eu.s_suppkey == qualifying.suppkey, "left_semi")
            .select("s_name", "s_acctbal")
            .orderBy("s_name"))
