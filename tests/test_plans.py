"""Physical-plan shape assertions (.explain contracts).

Correct results are necessary, not sufficient — at 100 TB the PLAN is
the product. These tests pin the plan properties the scale design
depends on: filter/column pushdown into the parquet scan, broadcast
joins for dims, ONE fused ArrowEvalPython stage, map-side partial
aggregation, and no shuffle for bucket-local reads.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from luzzu_spark.fixtures import as_webpages, load_table
from luzzu_spark.pipeline import QualityPipeline

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    d = load_table(spark, SF, "documents").where(F.col("lang") == "en") \
        .select("doc_id")
    plan = _plan(d)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan \
        or "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)" in plan, plan


def test_column_pruning_reaches_scan(spark):
    d = load_table(spark, SF, "lineitem") \
        .groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = _plan(d)
    # ReadSchema must carry ONLY the two referenced columns
    assert "ReadSchema: struct<l_quantity:double,l_returnflag:string>" \
        in plan.replace("\n", ""), plan


def test_dim_join_is_broadcast(spark):
    n = load_table(spark, SF, "nation")
    r = load_table(spark, SF, "region")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    plan = _plan(j)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pipeline_single_arrow_stage(spark):
    pages = as_webpages(load_table(spark, SF, "documents"))
    a = QualityPipeline().assess(pages)
    plan = _plan(a)
    assert plan.count("ArrowEvalPython") == 1, (
        "plugin-rule UDFs must fuse into ONE ArrowEvalPython stage "
        "(text crosses the JVM/Python boundary once)")
    assert "BatchEvalPython" not in plan, "no row-at-a-time Python"


def test_assess_plan_building_round_trips(spark, monkeypatch):
    """Building the assessment plan is driver work paid again for every
    batch: the registry compiles each layer to one selectExpr over the
    rules' SQL text, so assess() stays within a few hundred py4j round
    trips (Column-builder rules took about 2,000)."""
    import collections
    import gc
    import threading

    import py4j.java_gateway as jg

    pages = as_webpages(load_table(spark, SF, "documents"))
    QualityPipeline().assess(pages)  # lazy imports and UDF set-up
    me = threading.get_ident()
    calls = []
    send = jg.GatewayClient.send_command

    def counting(self, command, *a, **k):
        # only this thread's: other threads (callbacks of streams an
        # earlier test started, say) may talk to the JVM meanwhile
        if threading.get_ident() == me:
            calls.append(command.split("\n", 3)[:3])
        return send(self, command, *a, **k)

    # the cycle collector frees py4j proxies whenever it happens to
    # run, and each free is a round trip: keep it out of the window
    gc.collect()
    gc.disable()
    try:
        monkeypatch.setattr(jg.GatewayClient, "send_command", counting)
        QualityPipeline().assess(pages)
    finally:
        gc.enable()
        monkeypatch.undo()
    assert len(calls) <= 600, (len(calls), collections.Counter(
        "|".join(c) for c in calls).most_common(8))


def test_agg_is_partial_then_final(spark):
    li = load_table(spark, SF, "lineitem")
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = _plan(agg)
    assert "partial_sum" in plan, plan  # map-side combine before shuffle


def test_topk_uses_take_ordered(spark):
    p = load_table(spark, SF, "part")
    q = p.select("p_partkey", "p_retailprice") \
        .orderBy(F.desc("p_retailprice")).limit(5)
    assert "TakeOrderedAndProject" in _plan(q)


def test_semi_join_stays_semi(spark):
    c = load_table(spark, SF, "customer")
    o = load_table(spark, SF, "orders")
    j = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    assert "LeftSemi" in _plan(j)


def test_bucketed_sink_seen_join_no_corpus_shuffle(spark, tmp_path):
    """The REAL corpus sink (write_filtered bucket_table=...) feeds the
    cross-run seen-set anti-join with NO shuffle on the committed side.

    At 10^12 docs the committed corpus must never reshuffle; only the
    incoming batch pays one Exchange to align with the bucketing."""
    from luzzu_spark.dedup import seen_anti_join
    docs = load_table(spark, SF, "documents")
    pages = as_webpages(docs)
    pipe = QualityPipeline()
    pipe.write_filtered(pages, str(tmp_path / "corpus"),
                        bucket_table="seen_corpus_plan", n_buckets=8)
    try:
        seen = spark.table("seen_corpus_plan")
        batch = pages.select("url", "doc_id")
        # fixture tables are tiny, so AQE would pick broadcast (which
        # also disables bucket scans); force the sort-merge path the
        # bucketing exists for — at corpus scale neither side is
        # broadcastable
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _plan(seen_anti_join(batch, seen))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "Bucketed: true" in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, (
            "only the incoming batch may shuffle; the bucketed corpus "
            "side must be exchange-free:\n" + plan)
        # the corpus side reads the url key only — text never scans
        assert "ReadSchema: struct<url:string>" in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS seen_corpus_plan")


def test_scrub_filter_not_recomputed_in_scan(spark):
    """The dedup explode path must not duplicate the shingle expression
    into a pushed-down filter (the regression this repo hit: a
    size(shingles)>0 pre-filter re-evaluated tokenize→hash→shingle 3×
    below the projection)."""
    from luzzu_spark import dedup
    docs = load_table(spark, SF, "documents")
    sigs = dedup.minhash_signatures(docs)
    plan = _plan(sigs)
    # the tokenize expression (split) appears in projections only —
    # never inside a Filter condition
    for line in plan.splitlines():
        if line.strip().startswith("Condition") and "split(" in line:
            raise AssertionError(
                "shingle pipeline duplicated into a Filter:\n" + line)


def test_ngram_jaccard_no_cartesian(spark):
    """Exact-Jaccard pairs must block via the inverted shingle index —
    an equi-join on the shingle key, never an all-pairs product."""
    from luzzu_spark import queries_text  # noqa: F401 — registry import
    from luzzu_spark.queries import queries
    df = queries()["dedup_ngram_jaccard_exact"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_no_text_typed_shuffle_keys(spark):
    """VERDICT r02 items 2-3: the cross-doc span scrub and the
    benchmark-decontamination check must shuffle/join on FIXED-WIDTH
    md5 digests — raw span/gram/text columns may never be
    partitioning keys (at corpus scale that ships the whole text body
    through the wire as keys). Same regex the fleet-wide audit
    (scripts/plan_audit.py) applies to every catalog query."""
    import re

    import scripts.plan_audit as audit_mod
    from luzzu_spark import queries_text  # noqa: F401 — registry import
    from luzzu_spark.queries import queries

    for name in ("dedup_cross_doc_spans", "docs_benchmark_contamination"):
        plan = _plan(queries()[name](spark, SF))
        offenders = audit_mod._text_shuffle_keys(plan)
        assert not offenders, f"{name}: {offenders}"

    # the span-count pass actually keys on the md5 digest
    span_plan = _plan(queries()["dedup_cross_doc_spans"](spark, SF))
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)", span_plan)
    assert any("span_key#" in k for k in keys), span_plan


def test_q19_disjunction_stays_hash_join(spark):
    """The OR-bundle join (TPC-H Q19 shape) must extract the common
    equi-key into a hash join with the disjunction as residual — never
    degrade to a nested-loop/cartesian product."""
    from luzzu_spark.queries import queries
    plan = _plan(queries()["q19_disjunctive_predicates"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_blocklist_join_is_broadcast_anti(spark):
    """The domain blocklist must apply as a broadcast anti-join — the
    corpus side never shuffles for it."""
    from luzzu_spark import queries_web  # noqa: F401 — registry import
    from luzzu_spark.queries import queries
    plan = _plan(queries()["url_host_blocklist"](spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q17_subquery_is_decorrelated(spark):
    """The correlated scalar subquery must decorrelate into a
    per-partkey aggregate + join (one extra shuffle), not a per-row
    re-execution of the subquery."""
    from luzzu_spark.queries import queries
    df = queries()["q17_small_quantity_revenue"](spark, SF)
    opt = _optimized(df)
    plan = _plan(df)
    assert "scalar-subquery" not in opt.lower(), opt
    assert plan.count("Aggregate") >= 1 and "Join" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_incremental_minhash_committed_side_bucket_aligned(spark,
                                                           tmp_path):
    """Cross-run near-dup search: BOTH committed index scans (band
    table and signature table) must read bucket-aligned — the
    10^12-row index never reshuffles for a daily batch; only the
    batch side pays exchanges, and its signature exchange is shared
    (ReusedExchange) so the MinHash UDF runs once per batch. Asserted
    on the EXECUTED adaptive plan (exchange reuse only materializes at
    runtime)."""
    from luzzu_spark import dedup
    docs = load_table(spark, SF, "documents")
    sigs_t, bands_t = "plan_inc_sigs", "plan_inc_bands"
    try:
        dedup.commit_minhash_index(docs, sigs_t, bands_t,
                                   str(tmp_path / "inc_idx"),
                                   n_buckets=4)
        new = docs.withColumn("doc_id", F.col("doc_id") + 100000)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            df = dedup.incremental_minhash_pairs(spark, new, sigs_t,
                                                 bands_t, threshold=0.5)
            df.collect()  # AQE finalizes the plan at execution
            plan = df._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # the adaptive plan string repeats each stage's subtree, so
        # the two logical scans can print more than twice — every
        # occurrence must be bucket-aligned
        scans = [ln for ln in plan.splitlines()
                 if "FileScan parquet" in ln
                 and ("plan_inc_sigs" in ln or "plan_inc_bands" in ln)]
        assert len(scans) >= 2, plan
        assert any("plan_inc_sigs" in ln for ln in scans), plan
        assert any("plan_inc_bands" in ln for ln in scans), plan
        for ln in scans:
            assert "Bucketed: true" in ln, ln
        assert "ReusedExchange" in plan, plan
        assert "CartesianProduct" not in plan, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {sigs_t}")
        spark.sql(f"DROP TABLE IF EXISTS {bands_t}")


def test_minhash_pairs_read_signatures_from_checkpoint(spark):
    """The corpus funnel's near-dup input is exact_dedup over a
    persisted frame, where the optimizer shares no exchange between
    the signature frame's four reads (banding, both verify joins) —
    each read re-ran the MinHash UDF. The signatures are materialized
    once, so the pairs' executed plan carries no Arrow UDF at all."""
    from luzzu_spark import dedup
    kept = load_table(spark, SF, "documents").persist()
    try:
        pairs = dedup.minhash_dedup_pairs(dedup.exact_dedup(kept), 0.5)
        pairs.collect()  # AQE finalizes the plan at execution
        plan = _plan(pairs)
        assert "ArrowEvalPython" not in plan, (
            "signatures recomputed inside the pair plan:\n" + plan)
    finally:
        kept.unpersist()


def test_aqe_splits_planted_skew_join(spark):
    """The 10^12-doc design claims AQE absorbs residual host skew that
    salting doesn't pre-treat (BASELINE.md design-scale table). Proven
    on an executed plan: a 90%-hot-key join under corpus-shaped
    thresholds makes AQE split the skewed partition —
    SortMergeJoin(skew=true) — with results identical to the
    untreated join."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    big = (spark.range(100000)
           .withColumn("host",
                       F.when(F.col("id") % 10 < 9, F.lit(0))
                       .otherwise((F.col("id") % 1000).cast("long")))
           .withColumn("payload", F.concat_ws("", *[
               F.md5(F.col("id").cast("string"))] * 4)))
    dim = spark.range(1000).select(
        F.col("id").alias("host"),
        F.md5(F.col("id").cast("string")).alias("meta"))
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = big.join(dim, "host")
        n_skew = j.count()
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin(skew=true)" in plan, plan
        assert "skewed" in plan, plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert n_skew == big.join(dim, "host").count()


def test_corpus_sink_prunes_lang_partitions(spark, tmp_path):
    """The lang-partitioned corpus sink (write_filtered) must give a
    per-language reader scan-time pruning: the lang predicate lands in
    PartitionFilters, and input_file_name() on the executed scan shows
    ONLY the matching lang directory was read — at 100 TB a
    one-language job touches 1/N of the corpus bytes."""
    import re

    pages = as_webpages(load_table(spark, SF, "documents"))
    out = str(tmp_path / "corpus")
    QualityPipeline().write_filtered(pages, out)

    reader = spark.read.parquet(out).where(F.col("lang") == "en") \
        .select("doc_id", "lang")
    plan = _plan(reader)
    assert re.search(r"PartitionFilters: \[[^\]]*lang", plan), plan

    files = {r["f"] for r in
             reader.select(F.input_file_name().alias("f")).collect()}
    assert files and all("lang=en" in f for f in files), files



def test_no_unbounded_driver_materialization():
    """Source-level audit (VERDICT r03): every .collect()/.toPandas()
    in luzzu_spark/ must be allow-listed in plan_audit with the bound
    that justifies it (centroid samples, ≤256² Gram rows, nprobe ids).
    A new corpus-shaped driver materialization fails here before it
    ever reaches a cluster."""
    import scripts.plan_audit as pa
    hits = pa.driver_materialization_hits()
    assert hits == [], hits


def test_driver_materialization_allowlist_has_no_stale_entries():
    """Every allowance names a live call site: an entry whose line was
    deleted would silently pre-approve whatever later matches it."""
    import scripts.plan_audit as pa
    stale = pa.stale_allowlist_entries()
    assert stale == [], stale


def test_bloom_index_filter_plan_shapes(spark, tmp_path):
    """The persisted Bloom index's two layouts, plan-pinned:

    S=1 — ZERO exchanges, one ArrowEvalPython over the broadcast
    bitmap: the map-only claim (SHUFFLE.md measures it at 0 bytes).
    S>1 — exactly ONE Exchange (the batch aligning to shard files);
    the per-task shard load is a mapInPandas, not a join, so the
    committed index contributes no scan at all in either layout."""
    from luzzu_spark import dedup

    keys = spark.createDataFrame(
        [(f"http://a.example/{i}",) for i in range(300)], "url string")
    idx1 = str(tmp_path / "p1")
    idx8 = str(tmp_path / "p8")
    dedup.bloom_index_commit(keys, "url", idx1, shards=1)
    dedup.bloom_index_commit(keys, "url", idx8, shards=8)
    batch = spark.createDataFrame(
        [(f"http://b.example/{i}", i) for i in range(300)],
        "url string, doc_id long")

    p1 = _plan(dedup.bloom_index_filter(batch, idx1, "url"))
    assert "Exchange" not in p1, p1
    assert p1.count("ArrowEvalPython") == 1, p1

    p8 = _plan(dedup.bloom_index_filter(batch, idx8, "url"))
    assert p8.count("Exchange hashpartitioning") == 1, p8
    assert "MapInPandas" in p8, p8
    # no second scan: the index is files, not a joined relation
    assert p8.count("Scan") <= p1.count("Scan") + 1, p8


def _sql_plans_since(spark, mark: int) -> list[str]:
    """Physical plans of the SQL executions with id > ``mark``."""
    execs = spark._jsparkSession.sharedState().statusStore() \
        .executionsList()
    return [e.physicalPlanDescription()
            for e in (execs.apply(i) for i in range(execs.length()))
            if e.executionId() > mark]


def _last_sql_execution(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore() \
        .executionsList()
    return max((execs.apply(i).executionId()
                for i in range(execs.length())), default=-1)


def test_decontamination_flag_pass_has_no_hof(spark):
    """benchmark_decontaminate is one vectorized flag pass: no
    interpreted transform/sequence lambdas (CLAUDE.md rule 1), no
    explode and no join against the bench grams."""
    from luzzu_spark import dedup
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i, i + 20)))
         for i in range(50)], "doc_id long, text string")
    bench = spark.createDataFrame([("w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 "
                                    "w13 w14 w15",)], "text string")
    plan = _plan(dedup.benchmark_decontaminate(docs, bench))
    assert "lambdafunction" not in plan, plan
    for node in ("transform(", "sequence(", "Generate", "Join"):
        assert node not in plan, (node, plan)
    assert plan.count("ArrowEvalPython") == 1, plan


def test_near_dup_clusters_plans_one_map_in_arrow(spark):
    """The local union-find is ONE mapInArrow pass over the edge
    frame, whatever the partitioning."""
    from luzzu_spark import dedup
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 60)],
        "id_a long, id_b long").repartition(8)
    mark = _last_sql_execution(spark)
    dedup.near_dup_clusters(pairs).collect()
    arrow = [p for p in _sql_plans_since(spark, mark) if "MapInArrow" in p]
    assert len(arrow) == 1, arrow
    final = arrow[0].split("== Initial Plan ==")[0]
    assert final.count("+- MapInArrow") == 1, final


def test_spread_runs_no_job(spark):
    """spread() decides from the plan: neither an adaptive plan (whose
    RDD would run its shuffles) nor a scan or a filled cache starts a
    job."""
    from luzzu_spark import dedup
    from luzzu_spark.fixtures import spread
    store = spark.sparkContext._jsc.sc().statusStore()
    docs = load_table(spark, SF, "documents").persist()
    try:
        docs.count()
        frames = [load_table(spark, SF, "documents"), docs,
                  dedup.exact_dedup(docs)]
        before = store.jobsList(None).length()
        for df in frames:
            spread(df)
        assert store.jobsList(None).length() == before
    finally:
        docs.unpersist()


def test_spread_folds_tiny_partitions(spark):
    """A small frame cut into many partitions (a persisted shuffle
    output keeps all of them) folds to the target with a narrow
    coalesce; an under-parallel one is lifted to it."""
    from luzzu_spark.fixtures import spread
    target = spark.sparkContext.defaultParallelism
    many = spark.range(200).repartition(target * 8).persist()
    try:
        many.count()
        folded = spread(many)
        assert folded.rdd.getNumPartitions() == target
        above_cache = _plan(folded).split("InMemoryTableScan")[0]
        assert "Coalesce" in above_cache, above_cache
        assert "Exchange" not in above_cache, above_cache
    finally:
        many.unpersist()
    one = spark.range(200).coalesce(1)
    assert spread(one).rdd.getNumPartitions() == target
