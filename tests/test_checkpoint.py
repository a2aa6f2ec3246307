"""Resume contract (SURVEY.md §5 item 4): kill after partial commit,
re-run, assert no reprocessing and identical final state."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from luzzu_spark.checkpoint import BatchManifest, ResumableRun, plan_batches
from luzzu_spark.fixtures import as_webpages, load_table
from luzzu_spark.pipeline import QualityPipeline


@pytest.fixture(scope="module")
def multi_file_input(spark, tmp_path_factory):
    """4-file parquet copy of sf0.001 documents (fixture ships 1 file;
    resume batching needs several)."""
    path = str(tmp_path_factory.mktemp("ckpt") / "docs_in")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    docs.repartition(4).write.mode("overwrite").parquet(path)
    return path


def _run(batch_size=1):
    pipe = QualityPipeline()
    return ResumableRun(
        transform=lambda pages: pipe.filtered(
            as_webpages(pages, inject_pii=True)),
        batch_size=batch_size)


def test_batch_plan_deterministic(spark, multi_file_input):
    files = spark.read.parquet(multi_file_input).inputFiles()
    assert plan_batches(files, 1) == plan_batches(list(reversed(files)), 1)
    ids = [b for b, _ in plan_batches(files, 1)]
    assert len(ids) == len(set(ids)) == 4


def test_resume_skips_committed(spark, multi_file_input, tmp_path):
    out = str(tmp_path / "out")
    r = _run()
    first = r.run(spark, multi_file_input, out, max_batches=2)
    assert len(first["processed"]) == 2 and not first["complete"]

    second = r.run(spark, multi_file_input, out)
    assert sorted(second["skipped"]) == sorted(first["processed"])
    assert second["complete"]
    # every batch committed exactly once
    man = BatchManifest(os.path.join(out, "_manifest"))
    assert len(man.committed()) == 4

    third = r.run(spark, multi_file_input, out)
    assert third["processed"] == [] and third["complete"]


def test_resumed_equals_oneshot(spark, multi_file_input, tmp_path):
    resumed, oneshot = str(tmp_path / "resumed"), str(tmp_path / "oneshot")
    r = _run()
    r.run(spark, multi_file_input, resumed, max_batches=1)
    r.run(spark, multi_file_input, resumed)
    r2 = _run()
    assert r2.run(spark, multi_file_input, oneshot)["complete"]

    def digest(path):
        df = spark.read.parquet(ResumableRun.output_glob(path))
        return (df.select(F.md5(F.concat_ws("|", "url", "text")).alias("h"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.conv(F.substring("h", 1, 8), 16, 10)
                           .cast("long")).alias("s")).collect()[0])

    assert digest(resumed) == digest(oneshot)


def test_metrics_sidecar(spark, multi_file_input, tmp_path):
    from luzzu_spark.metrics import partition_lineage
    out = str(tmp_path / "with_metrics")
    pipe = QualityPipeline()
    r = ResumableRun(
        transform=lambda pages: pipe.filtered(
            as_webpages(pages, inject_pii=True)),
        metrics_fn=lambda pages: partition_lineage(
            pipe.assess(as_webpages(pages, inject_pii=True))),
        batch_size=2)
    summary = r.run(spark, multi_file_input, out)
    assert summary["complete"] and len(summary["processed"]) == 2
    m = spark.read.parquet(os.path.join(out, "metrics/batch=*"))
    total = m.agg(F.sum("n_docs")).collect()[0][0]
    assert total == 500  # every sf0.001 doc accounted for in lineage


def test_cross_run_seen_set_dedup(spark, tmp_path):
    """Batch twin of stream_dedup_urls (VERDICT r1 item 7): re-ingested
    urls across runs are dropped by anti-joining the bucketed committed
    corpus — without rescanning old text (plan contract pinned in
    tests/test_plans.py)."""
    from luzzu_spark.dedup import seen_anti_join
    from luzzu_spark.fixtures import as_webpages, load_table
    from luzzu_spark.pipeline import QualityPipeline

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    run1 = as_webpages(docs.where("doc_id < 30"))
    run2 = as_webpages(docs.where("doc_id >= 20 AND doc_id < 50"))
    pipe = QualityPipeline()
    pipe.write_filtered(run1, str(tmp_path / "corpus"),
                        bucket_table="seen_corpus_ckpt", n_buckets=4)
    try:
        seen = spark.table("seen_corpus_ckpt")
        committed_urls = {r.url for r in seen.select("url").collect()}
        fresh = seen_anti_join(run2, seen)
        fresh_urls = {r.url for r in fresh.select("url").collect()}
        run2_urls = {r.url for r in run2.select("url").collect()}
        assert fresh_urls == run2_urls - committed_urls
        # overlap region that run1 kept must be gone; new docs remain
        assert not (fresh_urls & committed_urls)
        assert {r.url for r in
                as_webpages(docs.where("doc_id >= 30 AND doc_id < 50"))
                .select("url").collect()} <= fresh_urls
    finally:
        spark.sql("DROP TABLE IF EXISTS seen_corpus_ckpt")


def test_run_filter_cli_seen_set_flow(spark, tmp_path, monkeypatch):
    """VERDICT r02 item 4: the production entry point itself wires the
    cross-run seen-set. Day 1 commits a bucketed corpus table
    (--commit-bucket-table); day 2's run (--seen-table) drops every
    re-crawled url BEFORE assessment, and the captured CLI-path plan
    reads the committed side bucket-aligned with zero shuffle (the
    tests/test_plans.py bucket contract, extended to the CLI)."""
    import argparse

    import scripts.run_filter as rf
    from luzzu_spark import dedup
    from luzzu_spark.fixtures import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    day1_in = str(tmp_path / "day1_in")
    day2_in = str(tmp_path / "day2_in")
    docs.where("doc_id < 30").repartition(2) \
        .write.mode("overwrite").parquet(day1_in)
    docs.where("doc_id >= 20 AND doc_id < 50").repartition(2) \
        .write.mode("overwrite").parquet(day2_in)

    def mkargs(**kw):
        base = dict(input=None, output=None, master=None, batch_size=2,
                    repeat=1, as_webpages=True, input_format=None,
                    input_schema=None, inject_pii=False, salt_buckets=0,
                    seen_table=None, commit_bucket_table=None,
                    bucket_path=None, n_buckets=4, json=False,
                    bench=False)
        base.update(kw)
        return argparse.Namespace(**base)

    try:
        r1 = rf.run_job(spark, mkargs(
            input=day1_in, output=str(tmp_path / "day1_out"),
            commit_bucket_table="cli_seen_corpus",
            bucket_path=str(tmp_path / "bucketed")))
        assert r1["complete"] and r1["bucket_table"] == "cli_seen_corpus"
        day1_urls = {r.url for r in spark.table("cli_seen_corpus")
                     .select("url").collect()}
        assert day1_urls

        # capture the frame run_job's anti-join returns; its plan is
        # built while broadcasts are still off
        anti_join, seen_frames = dedup.seen_anti_join, []

        def capture(batch, seen, *a, **kw):
            seen_frames.append(anti_join(batch, seen, *a, **kw))
            return seen_frames[-1]

        monkeypatch.setattr(dedup, "seen_anti_join", capture)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            r2 = rf.run_job(spark, mkargs(
                input=day2_in, output=str(tmp_path / "day2_out"),
                seen_table="cli_seen_corpus"))
            plan = (seen_frames[-1]._jdf.queryExecution()
                    .executedPlan().toString() if seen_frames else None)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert r2["complete"]

        out2 = spark.read.parquet(
            ResumableRun.output_glob(str(tmp_path / "day2_out")))
        day2_urls = {r.url for r in out2.select("url").collect()}
        # every re-crawled (already committed) url is gone...
        assert not (day2_urls & day1_urls)
        # ...and genuinely new documents made it through the filter
        assert any("/doc/3" in u or "/doc/4" in u for u in day2_urls)

        # CLI-path plan contract: committed side bucket-aligned, url
        # column only, the single Exchange belongs to the incoming batch
        assert plan is not None
        assert "Bucketed: true" in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan
        assert "ReadSchema: struct<url:string>" in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS cli_seen_corpus")


def test_batch_size_change_refused(spark, multi_file_input, tmp_path):
    out = str(tmp_path / "out")
    _run(batch_size=1).run(spark, multi_file_input, out, max_batches=2)
    with pytest.raises(ValueError, match="batch_size changed"):
        _run(batch_size=2).run(spark, multi_file_input, out)


def test_listing_growth_invalidates_stale_batches(spark, tmp_path):
    """Crawl-feed growth (ADVICE r1): new input files shift chunk
    boundaries; committed batches whose id left the plan must be
    garbage-collected so downstream readers never see duplicates."""
    import glob

    src = str(tmp_path / "grow_in")
    out = str(tmp_path / "grow_out")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    docs.where("doc_id < 40").repartition(2) \
        .write.mode("overwrite").parquet(src)

    r = _run(batch_size=2)  # 2 files per batch → 1 batch initially
    first = r.run(spark, src, out)
    assert first["complete"] and len(first["processed"]) == 1

    # the feed grows: two more files land (new names, same dir)
    docs.where("doc_id >= 40 AND doc_id < 80").repartition(2) \
        .write.mode("append").parquet(src)
    second = r.run(spark, src, out)
    assert second["complete"]
    # the shifted old batch was invalidated and reprocessed under the
    # new plan; every output dir belongs to a committed batch
    committed = BatchManifest(os.path.join(out, "_manifest")).committed()
    dirs = {os.path.basename(p).split("=", 1)[1]
            for p in glob.glob(ResumableRun.output_glob(out))
            if "metrics" not in p}
    assert dirs == set(committed)
    # and the final corpus equals a fresh one-shot run (no dup rows)
    oneshot = str(tmp_path / "grow_oneshot")
    _run(batch_size=2).run(spark, src, oneshot)
    cols = ["url", "doc_id", "lang", "text"]  # map col can't exceptAll
    a = spark.read.parquet(ResumableRun.output_glob(out)).select(cols)
    b = spark.read.parquet(ResumableRun.output_glob(oneshot)).select(cols)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_prepare_shared_by_both_sinks(spark, multi_file_input, tmp_path):
    """prepare=assess feeds transform AND metrics_fn from one persisted
    frame; outputs equal the independent two-pass formulation."""
    from luzzu_spark.metrics import partition_lineage

    out = str(tmp_path / "prep_out")
    pipe = QualityPipeline()

    def prepare(pages):
        return pipe.assess(as_webpages(pages, inject_pii=True))

    r = ResumableRun(transform=pipe.filtered_from_assessed,
                     metrics_fn=partition_lineage,
                     prepare=prepare, batch_size=2)
    summary = r.run(spark, multi_file_input, out)
    assert summary["complete"]
    got = spark.read.parquet(ResumableRun.output_glob(out))
    want = pipe.filtered(as_webpages(
        spark.read.parquet(multi_file_input), inject_pii=True))
    assert got.count() == want.count()
    assert {r.url for r in got.select("url").collect()} == \
           {r.url for r in want.select("url").collect()}
    assert spark.read.parquet(os.path.join(out, "metrics")).count() > 0


def test_resumable_run_over_jsonl(spark, tmp_path):
    """The any-serialization ingest drives the full resumable filter
    end-to-end (VERDICT r1 item 9): a JSON-lines corpus with a declared
    schema produces the same kept urls as the parquet path."""
    from luzzu_spark.sources import DOCUMENTS_SCHEMA

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src = str(tmp_path / "corpus_jsonl")
    docs.repartition(3).write.mode("overwrite").json(src)
    out = str(tmp_path / "jsonl_out")
    pipe = QualityPipeline()
    r = ResumableRun(
        transform=lambda pages: pipe.filtered(
            as_webpages(pages, inject_pii=True)),
        batch_size=1, fmt="json", schema=DOCUMENTS_SCHEMA)
    summary = r.run(spark, src, out)
    assert summary["complete"] and len(summary["processed"]) == 3
    got = spark.read.parquet(ResumableRun.output_glob(out))
    want = pipe.filtered(as_webpages(docs, inject_pii=True))
    assert {r.url for r in got.select("url").collect()} == \
           {r.url for r in want.select("url").collect()}


def test_run_filter_cli_neardup_index_flow(spark, tmp_path):
    """The production entry point wires cross-run NEAR-dup dedup with
    one self-maintaining flag: day 1 (--neardup-index) creates the
    bucketed MinHash index from its kept corpus; day 2's run drops a
    planted near-dup of committed content BEFORE assessment, keeps
    fresh docs, and appends its survivors into the index."""
    import argparse

    import scripts.run_filter as rf
    from luzzu_spark.fixtures import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    day1_in = str(tmp_path / "nd1_in")
    day2_in = str(tmp_path / "nd2_in")
    docs.where("doc_id < 30").repartition(2) \
        .write.mode("overwrite").parquet(day1_in)

    # day 2: 10 fresh docs + a near-dup of day-1 doc 0 (same text with
    # the first word changed; J >> 0.5 on 400+-char fixture docs)
    base0 = docs.where("doc_id = 0").collect()[0]
    twin_text = "changed " + base0["text"].split(" ", 1)[1]
    fresh = docs.where("doc_id >= 30 AND doc_id < 40")
    twin = spark.createDataFrame(
        [(900, twin_text, base0["lang"], base0["source"],
          len(twin_text))], docs.schema)
    fresh.unionByName(twin).repartition(2) \
        .write.mode("overwrite").parquet(day2_in)

    def mkargs(**kw):
        base = dict(input=None, output=None, master=None, batch_size=2,
                    repeat=1, as_webpages=True, input_format=None,
                    input_schema=None, inject_pii=False, salt_buckets=0,
                    seen_table=None, commit_bucket_table=None,
                    bucket_path=None, n_buckets=4, json=False,
                    bench=False, neardup_index="cli_nd_idx",
                    neardup_path=None, neardup_threshold=0.5)
        base.update(kw)
        return argparse.Namespace(**base)

    try:
        r1 = rf.run_job(spark, mkargs(
            input=day1_in, output=str(tmp_path / "nd1_out")))
        assert r1["complete"] and r1["neardup_mode"] == "create"
        n_day1 = spark.table("cli_nd_idx_sigs").count()
        assert n_day1 > 0

        r2 = rf.run_job(spark, mkargs(
            input=day2_in, output=str(tmp_path / "nd2_out"),
            neardup_compact=1))
        assert r2["complete"] and r2["neardup_mode"] == "append"
        # each CLI run commits under its OWN epoch (review r05: the
        # shared epoch=-1 append made --neardup-compact a guaranteed
        # no-op); with only one epoch older than the newest there is
        # nothing to merge yet
        assert r1["neardup_epoch"] == 0 and r2["neardup_epoch"] == 1
        assert r2["neardup_compaction"]["sigs"]["merged_epochs"] == []
        assert r2["neardup_compaction"]["sigs"]["n_partitions"] == 2

        out2 = spark.read.parquet(
            ResumableRun.output_glob(str(tmp_path / "nd2_out")))
        ids2 = {r.doc_id for r in out2.select("doc_id").collect()}
        assert 900 not in ids2, "near-dup of committed content kept"
        assert ids2 & set(range(30, 40)), "fresh docs all dropped"
        # survivors appended for day 3
        assert spark.table("cli_nd_idx_sigs").count() \
            == n_day1 + len(ids2)

        # day 3: a third epoch makes compaction actually merge — the
        # two older epochs collapse into one baseline partition and
        # the day-3 epoch survives (steady state ≤ keep_epochs + 1)
        day3_in = str(tmp_path / "day3_in")
        docs.where("doc_id >= 40 AND doc_id < 50").repartition(2) \
            .write.mode("overwrite").parquet(day3_in)
        r3 = rf.run_job(spark, mkargs(
            input=day3_in, output=str(tmp_path / "nd3_out"),
            neardup_compact=1))
        assert r3["complete"] and r3["neardup_epoch"] == 2
        assert r3["neardup_compaction"]["sigs"]["merged_epochs"] \
            == [0, 1]
        assert r3["neardup_compaction"]["sigs"]["n_partitions"] == 2
        n_total = spark.table("cli_nd_idx_sigs").count()

        # day 4 against the compacted index: a twin of day-3 content
        # still drops (the merge lost nothing)
        base40 = docs.where("doc_id = 40").collect()[0]
        twin3 = "changed " + base40["text"].split(" ", 1)[1]
        day4_in = str(tmp_path / "day4_in")
        spark.createDataFrame(
            [(901, twin3, base40["lang"], base40["source"],
              len(twin3))], docs.schema).repartition(1) \
            .write.mode("overwrite").parquet(day4_in)
        r4 = rf.run_job(spark, mkargs(
            input=day4_in, output=str(tmp_path / "nd4_out")))
        assert r4["complete"] and r4["neardup_epoch"] == 3
        out4 = spark.read.parquet(
            ResumableRun.output_glob(str(tmp_path / "nd4_out")))
        assert out4.count() == 0, "post-compaction twin not dropped"
        assert spark.table("cli_nd_idx_sigs").count() == n_total
    finally:
        spark.sql("DROP TABLE IF EXISTS cli_nd_idx_sigs")
        spark.sql("DROP TABLE IF EXISTS cli_nd_idx_bands")


def test_run_filter_cli_seen_bloom_flow(spark, tmp_path):
    """--seen-bloom (r05): the Bloom-pruned cross-run path from the
    production entry point returns EXACTLY the exact-path keep set --
    committed urls all dropped, novel docs all through."""
    import argparse

    import scripts.run_filter as rf
    from luzzu_spark.fixtures import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    day1_in = str(tmp_path / "day1_in")
    day2_in = str(tmp_path / "day2_in")
    docs.where("doc_id < 30").repartition(2) \
        .write.mode("overwrite").parquet(day1_in)
    docs.where("doc_id >= 20 AND doc_id < 50").repartition(2) \
        .write.mode("overwrite").parquet(day2_in)

    def mkargs(**kw):
        base = dict(input=None, output=None, master=None, batch_size=2,
                    repeat=1, as_webpages=True, input_format=None,
                    input_schema=None, inject_pii=False, salt_buckets=0,
                    seen_table=None, commit_bucket_table=None,
                    bucket_path=None, n_buckets=4, json=False,
                    bench=False)
        base.update(kw)
        return argparse.Namespace(**base)

    try:
        rf.run_job(spark, mkargs(
            input=day1_in, output=str(tmp_path / "day1_out"),
            commit_bucket_table="cli_bloom_corpus",
            bucket_path=str(tmp_path / "bucketed")))
        day1_urls = {r.url for r in spark.table("cli_bloom_corpus")
                     .select("url").collect()}

        r2 = rf.run_job(spark, mkargs(
            input=day2_in, output=str(tmp_path / "day2_bloom"),
            seen_table="cli_bloom_corpus", seen_bloom=True))
        assert r2["complete"]
        out_bloom = {r.url for r in spark.read.parquet(
            ResumableRun.output_glob(str(tmp_path / "day2_bloom")))
            .select("url").collect()}

        r3 = rf.run_job(spark, mkargs(
            input=day2_in, output=str(tmp_path / "day2_exact"),
            seen_table="cli_bloom_corpus"))
        assert r3["complete"]
        out_exact = {r.url for r in spark.read.parquet(
            ResumableRun.output_glob(str(tmp_path / "day2_exact")))
            .select("url").collect()}

        assert out_bloom == out_exact
        assert not (out_bloom & day1_urls)
        assert out_bloom  # novel docs made it through
    finally:
        spark.sql("DROP TABLE IF EXISTS cli_bloom_corpus")


def test_run_filter_cli_bloom_index_flow(spark, tmp_path):
    """--seen-bloom-path (r05): the persisted-bitmap approximate mode
    from the production entry point. Day 1 creates the index from its
    kept urls; day 2 drops every re-crawled url pre-assessment with
    ZERO committed-table reads, keeps the genuinely new docs, and
    ORs its own keeps back into the index."""
    import argparse

    import scripts.run_filter as rf
    from luzzu_spark.fixtures import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    day1_in = str(tmp_path / "d1")
    day2_in = str(tmp_path / "d2")
    docs.where("doc_id < 30").repartition(2) \
        .write.mode("overwrite").parquet(day1_in)
    docs.where("doc_id >= 20 AND doc_id < 50").repartition(2) \
        .write.mode("overwrite").parquet(day2_in)
    idx = str(tmp_path / "bloom_idx")

    def mkargs(**kw):
        base = dict(input=None, output=None, master=None, batch_size=2,
                    repeat=1, as_webpages=True, input_format=None,
                    input_schema=None, inject_pii=False, salt_buckets=0,
                    seen_table=None, commit_bucket_table=None,
                    bucket_path=None, n_buckets=4, json=False,
                    bench=False, seen_bloom_path=idx,
                    bloom_expected=1000)
        base.update(kw)
        return argparse.Namespace(**base)

    r1 = rf.run_job(spark, mkargs(
        input=day1_in, output=str(tmp_path / "out1")))
    assert r1["complete"]
    n1 = r1["bloom_index"]["committed_items"]
    assert n1 > 0
    day1_urls = {r.url for r in spark.read.parquet(
        ResumableRun.output_glob(str(tmp_path / "out1")))
        .select("url").collect()}

    r2 = rf.run_job(spark, mkargs(
        input=day2_in, output=str(tmp_path / "out2")))
    assert r2["complete"]
    out2 = {r.url for r in spark.read.parquet(
        ResumableRun.output_glob(str(tmp_path / "out2")))
        .select("url").collect()}
    assert not (out2 & day1_urls), "re-crawled url leaked past the index"
    assert out2, "every novel doc over-dropped"
    assert r2["bloom_index"]["committed_items"] == n1 + len(out2)


def test_run_filter_cli_paragraph_bloom_flow(spark, tmp_path):
    """--paragraph-bloom-path (late r05): cross-run PARAGRAPH dedup
    from the production entry point. Day 1 commits its kept docs'
    paragraph digests; a day-2 page quoting one day-1 paragraph loses
    exactly that block (text rebuilt) while its novel prose survives
    the full assessment; a page that is ONLY committed paragraphs
    rebuilds to '' and the length rules drop it."""
    import argparse

    import scripts.run_filter as rf
    from luzzu_spark.fixtures import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    day1_in = str(tmp_path / "d1")
    docs.where("doc_id < 30").repartition(2) \
        .write.mode("overwrite").parquet(day1_in)
    idx = str(tmp_path / "para_idx")

    def mkargs(**kw):
        base = dict(input=None, output=None, master=None, batch_size=2,
                    repeat=1, as_webpages=True, input_format=None,
                    input_schema=None, inject_pii=False, salt_buckets=0,
                    seen_table=None, commit_bucket_table=None,
                    bucket_path=None, n_buckets=4, json=False,
                    bench=False, paragraph_bloom_path=idx,
                    bloom_expected=5000)
        base.update(kw)
        return argparse.Namespace(**base)

    r1 = rf.run_job(spark, mkargs(
        input=day1_in, output=str(tmp_path / "out1")))
    assert r1["complete"]
    n1 = r1["paragraph_bloom_index"]["committed_items"]
    assert n1 > 0
    kept1 = spark.read.parquet(
        ResumableRun.output_glob(str(tmp_path / "out1")))
    committed_para = (kept1.orderBy("doc_id").limit(1)
                      .select(F.split("text", "\n\n")[0].alias("p"))
                      .collect()[0]["p"])
    assert committed_para
    # day 2: one novel doc (never-seen fixture text the filter is
    # known to keep), one page quoting a committed paragraph above
    # that same novel prose, and one page that is ONLY the committed
    # paragraph
    novel_text = (QualityPipeline()
                  .filtered(as_webpages(docs.where("doc_id >= 50")))
                  .orderBy("doc_id").limit(1)
                  .select("text").collect()[0]["text"])
    day2 = spark.createDataFrame(
        [(1001, "s1", "en", novel_text),
         (1002, "s1", "en", committed_para + "\n\n" + novel_text),
         (1003, "s1", "en", committed_para)],
        "doc_id long, source string, lang string, text string")
    day2_in = str(tmp_path / "d2")
    day2.write.mode("overwrite").parquet(day2_in)

    r2 = rf.run_job(spark, mkargs(
        input=day2_in, output=str(tmp_path / "out2")))
    assert r2["complete"]
    out2 = {r["doc_id"]: r["text"] for r in spark.read.parquet(
        ResumableRun.output_glob(str(tmp_path / "out2")))
        .select("doc_id", "text").collect()}
    assert 1003 not in out2, "all-committed page must rebuild to '' " \
        "and drop in the length rules"
    assert 1002 in out2, "novel prose over-dropped with its quote"
    assert committed_para not in out2[1002], \
        "committed paragraph leaked into day-2 output"
    assert out2[1002] == out2[1001], \
        "after excision the quoting page must assess identically to " \
        "the purely-novel page"
    # day-2 keeps commit back in (counter grows by their paragraphs)
    assert r2["paragraph_bloom_index"]["committed_items"] > n1


def test_run_filter_cli_committed_state_preflight(spark, tmp_path):
    """--repeat N>1 with a committed-state flag must fail BEFORE the
    run (pre-flight), not after paying for N full passes: one corpus,
    one committed state."""
    import argparse

    import pytest

    import scripts.run_filter as rf

    def mkargs(**kw):
        base = dict(input=str(tmp_path / "none"), output=str(tmp_path),
                    master=None, batch_size=2, repeat=3,
                    as_webpages=True, input_format=None,
                    input_schema=None, inject_pii=False, salt_buckets=0,
                    seen_table=None, commit_bucket_table=None,
                    bucket_path=None, n_buckets=4, json=False,
                    bench=False)
        base.update(kw)
        return argparse.Namespace(**base)

    with pytest.raises(ValueError, match="--seen-bloom-path"):
        rf.run_job(spark, mkargs(
            seen_bloom_path=str(tmp_path / "idx")))
    with pytest.raises(ValueError, match="--commit-bucket-table"):
        rf.run_job(spark, mkargs(commit_bucket_table="t"))
    # the input dir was never touched — the raise really was pre-flight
    assert not (tmp_path / "none").exists()


def test_run_filter_cli_neardup_index_preflight(spark, docs, tmp_path):
    """--neardup-index is committed state too: with --repeat 2 the
    run must raise before it writes anything, not after two full
    passes into the output directory."""
    import argparse

    import pytest

    import scripts.run_filter as rf

    inp = str(tmp_path / "in")
    docs.where("doc_id < 10").write.mode("overwrite").parquet(inp)
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="--neardup-index"):
        rf.run_job(spark, argparse.Namespace(
            input=inp, output=str(out), master=None, batch_size=2,
            repeat=2, as_webpages=True, input_format=None,
            input_schema=None, inject_pii=False, salt_buckets=0,
            seen_table=None, commit_bucket_table=None, bucket_path=None,
            n_buckets=4, json=False, bench=False,
            neardup_index="nd_preflight"))
    assert not out.exists()


@pytest.mark.parametrize("entry", ["run_job", "build"])
def test_as_webpages_refuses_real_urls(spark, docs, tmp_path, entry):
    """--as-webpages on page-shaped input (it already has a url column)
    raises before anything is written: the fixture decorator would
    overwrite the real crawl urls with example.com synthetics."""
    import argparse

    import scripts.build_corpus as bc
    import scripts.run_filter as rf

    inp = str(tmp_path / "pages_in")
    as_webpages(docs.where("doc_id < 10")).write.parquet(inp)
    out = tmp_path / "out"
    run = rf.run_job if entry == "run_job" else bc.build
    with pytest.raises(ValueError, match="url column"):
        run(spark, argparse.Namespace(input=inp, output=str(out),
                                      as_webpages=True))
    assert not out.exists()


def test_run_filter_cli_bloom_sharded_flow(spark, tmp_path):
    """--seen-bloom-path --bloom-shards 4: the GB-scale index layout
    from the production entry point — day 2 still drops every
    re-crawled url, with the shard count read back from the index
    meta (the CLI flag only matters at create)."""
    import argparse
    import os

    import scripts.run_filter as rf
    from luzzu_spark.fixtures import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    day1_in = str(tmp_path / "d1")
    day2_in = str(tmp_path / "d2")
    docs.where("doc_id < 30").repartition(2) \
        .write.mode("overwrite").parquet(day1_in)
    docs.where("doc_id >= 20 AND doc_id < 50").repartition(2) \
        .write.mode("overwrite").parquet(day2_in)
    idx = str(tmp_path / "sharded_bloom_idx")

    def mkargs(**kw):
        base = dict(input=None, output=None, master=None, batch_size=2,
                    repeat=1, as_webpages=True, input_format=None,
                    input_schema=None, inject_pii=False, salt_buckets=0,
                    seen_table=None, commit_bucket_table=None,
                    bucket_path=None, n_buckets=4, json=False,
                    bench=False, seen_bloom_path=idx,
                    bloom_expected=1000, bloom_shards=4)
        base.update(kw)
        return argparse.Namespace(**base)

    r1 = rf.run_job(spark, mkargs(
        input=day1_in, output=str(tmp_path / "out1")))
    assert r1["bloom_index"]["shards"] == 4
    assert sorted(f for f in os.listdir(idx) if f.endswith(".bin")) \
        == [f"shard_0000{s}.bin" for s in range(4)]
    day1_urls = {r.url for r in spark.read.parquet(
        ResumableRun.output_glob(str(tmp_path / "out1")))
        .select("url").collect()}

    # day 2: flag says 1, but the meta's 4 governs (immutable)
    r2 = rf.run_job(spark, mkargs(
        input=day2_in, output=str(tmp_path / "out2"), bloom_shards=1))
    assert r2["bloom_index"]["shards"] == 4
    out2 = {r.url for r in spark.read.parquet(
        ResumableRun.output_glob(str(tmp_path / "out2")))
        .select("url").collect()}
    assert not (out2 & day1_urls), "re-crawled url leaked past shards"
    assert out2, "every novel doc over-dropped"
