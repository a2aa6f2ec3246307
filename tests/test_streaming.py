"""Structured Streaming variant: the stream results must equal their
batch twins (same expressions, same fixtures)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from luzzu_spark import streaming
from luzzu_spark.fixtures import as_webpages, load_table
from luzzu_spark.pipeline import QualityPipeline

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def page_dir(spark, tmp_path_factory):
    """Multi-file page-table dir → several micro-batches."""
    path = str(tmp_path_factory.mktemp("stream") / "pages")
    docs = load_table(spark, SF, "documents")
    as_webpages(docs, inject_pii=True).repartition(4) \
        .write.mode("overwrite").parquet(path)
    return path


def _drain(q):
    q.awaitTermination(300)


def test_stream_assess_matches_batch(spark, page_dir):
    batch_pages = spark.read.parquet(page_dir)
    schema = batch_pages.schema
    stream = streaming.read_page_stream(spark, page_dir, schema,
                                        max_files_per_trigger=2)
    assessed = streaming.assess_stream(stream) \
        .select("url", "keep", "text_scrubbed")
    _drain(streaming.run_to_memory(assessed, "stream_assessed"))
    got = spark.table("stream_assessed")

    want = QualityPipeline().assess(batch_pages) \
        .select("url", "keep", "text_scrubbed")
    assert got.count() == want.count() == 500
    # exact per-row equality, both directions
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_windowed_counts(spark, page_dir):
    batch_pages = spark.read.parquet(page_dir)
    schema = batch_pages.schema
    stream = streaming.read_page_stream(spark, page_dir, schema)
    counts = streaming.windowed_verdict_counts(
        streaming.assess_stream(stream))
    # complete mode: append+watermark would hold back windows inside
    # the final watermark horizon at end-of-input (availableNow drains)
    _drain(streaming.run_to_memory(counts, "stream_counts",
                                   output_mode="complete"))
    got = spark.table("stream_counts")
    # batch twin over the same windows
    assessed = QualityPipeline().assess(batch_pages)
    want = (assessed.groupBy(F.window("warc_ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("keep").cast("long")).alias("n_keep"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "n_docs", "n_keep"))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert got.agg(F.sum("n_docs")).collect()[0][0] == 500


def test_stream_dedup_bounded(spark, page_dir, tmp_path):
    """Duplicate urls across micro-batches are dropped (first wins)."""
    dup_dir = str(tmp_path / "dup_pages")
    pages = spark.read.parquet(page_dir)
    pages.write.mode("overwrite").parquet(dup_dir)
    pages.write.mode("append").parquet(dup_dir)  # every url twice
    schema = pages.schema
    stream = streaming.read_page_stream(spark, dup_dir, schema,
                                        max_files_per_trigger=2)
    deduped = streaming.stream_dedup_urls(stream).select("url")
    _drain(streaming.run_to_memory(deduped, "stream_dedup"))
    got = spark.table("stream_dedup")
    assert got.count() == 500
    assert got.distinct().count() == 500


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path_factory):
    """Streaming resumability (the streaming twin of ResumableRun):
    drain part of the input with a checkpointed file sink, stop, land
    more files, restart with the SAME checkpoint — the second run must
    process only the new files, and the sink must hold every row
    exactly once."""
    base = tmp_path_factory.mktemp("restart")
    src, sink, ckpt = (str(base / d) for d in ("src", "sink", "ckpt"))

    docs = load_table(spark, SF, "documents")
    pages = as_webpages(docs)
    first = pages.where(F.col("doc_id") % 2 == 0)
    second = pages.where(F.col("doc_id") % 2 == 1)
    first.repartition(2).write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema

    def drain_once():
        stream = streaming.read_page_stream(spark, src, schema,
                                            max_files_per_trigger=1)
        assessed = streaming.assess_stream(stream) \
            .select("url", "keep", "text_scrubbed")
        q = (assessed.writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)

    drain_once()
    n1 = spark.read.parquet(sink).count()
    assert n1 == first.count()

    # land the second half, restart from the same checkpoint
    second.repartition(2).write.mode("append").parquet(src)
    drain_once()
    out = spark.read.parquet(sink)
    assert out.count() == pages.count()          # no loss
    assert out.select("url").distinct().count() == pages.count()  # no dupes


def test_stream_filtered_sink_matches_batch(spark, page_dir,
                                            tmp_path_factory):
    """foreachBatch filtered-corpus sink: the streamed corpus must
    equal the batch pipeline's filtered output row-for-row."""
    base = tmp_path_factory.mktemp("fsink")
    sink, ckpt = str(base / "corpus"), str(base / "ckpt")
    batch_pages = spark.read.parquet(page_dir)
    stream = streaming.read_page_stream(spark, page_dir,
                                        batch_pages.schema,
                                        max_files_per_trigger=2)
    _drain(streaming.write_stream_filtered(stream, sink, ckpt))

    got = spark.read.parquet(sink)
    want = QualityPipeline().filtered(batch_pages)
    cols = ["url", "text", "lang"]
    assert got.count() == want.count()
    assert got.select(cols).exceptAll(want.select(cols)).count() == 0
    assert want.select(cols).exceptAll(got.select(cols)).count() == 0


def test_epoch_replay_is_idempotent(spark, page_dir, tmp_path_factory):
    """ADVICE r02: foreachBatch is at-least-once — a replayed
    micro-batch (failure between parquet write and checkpoint commit)
    must NOT duplicate corpus rows. The sink writes per-epoch with
    dynamic partition overwrite, so replaying an epoch rewrites its
    directory byte-for-byte; a distinct epoch still appends."""
    out = str(tmp_path_factory.mktemp("replay") / "corpus")
    pages = spark.read.parquet(page_dir)
    kept = QualityPipeline().filtered(pages)

    streaming.write_epoch_idempotent(kept.where("doc_id % 2 = 0"), out, 0)
    n0 = spark.read.parquet(out).count()
    # replay epoch 0 (identical content) — count must not change
    streaming.write_epoch_idempotent(kept.where("doc_id % 2 = 0"), out, 0)
    assert spark.read.parquet(out).count() == n0
    # a NEW epoch appends without touching epoch 0
    streaming.write_epoch_idempotent(kept.where("doc_id % 2 = 1"), out, 1)
    after = spark.read.parquet(out)
    assert after.where("epoch = 0").count() == n0
    assert after.count() > n0
    assert after.select("url").distinct().count() == after.count()


def test_stream_neardup_index_across_epochs(spark, tmp_path_factory):
    """Streaming near-dup twin of the CLI --neardup-index flow: epoch 1
    seeds the index with its kept docs; epoch 2 drops a planted
    near-dup of epoch-1 content before the pipeline and keeps fresh
    docs; the index ends holding both epochs' survivors."""
    import time as _time

    base = tmp_path_factory.mktemp("ndstream")
    page_dir = str(base / "pages")
    docs = load_table(spark, SF, "documents")

    epoch1_docs = docs.where("doc_id < 10")
    pages1 = as_webpages(epoch1_docs)
    kept1 = QualityPipeline().filtered(pages1)
    seed = sorted(r["doc_id"] for r in kept1.select("doc_id").collect())
    assert seed, "need at least one kept doc to seed the index"
    base_row = epoch1_docs.where(f"doc_id = {seed[0]}").collect()[0]

    pages1.coalesce(1).write.mode("append").parquet(page_dir)
    _time.sleep(1.2)  # file-source processes oldest mtime first

    twin_text = "changed " + base_row["text"].split(" ", 1)[1]
    twin = spark.createDataFrame(
        [(900, twin_text, base_row["lang"], base_row["source"],
          len(twin_text))], docs.schema)
    epoch2_docs = docs.where("doc_id >= 10 AND doc_id < 15") \
        .unionByName(twin)
    as_webpages(epoch2_docs).coalesce(1).write.mode("append") \
        .parquet(page_dir)

    sink = str(base / "corpus")
    ckpt = str(base / "ckpt")
    try:
        stream = streaming.read_page_stream(
            spark, page_dir, as_webpages(docs).schema,
            max_files_per_trigger=1)
        _drain(streaming.write_stream_filtered_neardup(
            stream, sink, ckpt, "nd_stream_idx", str(base / "idx")))

        out_ids = {r["doc_id"] for r in spark.read.parquet(sink)
                   .select("doc_id").collect()}
        assert 900 not in out_ids, "cross-epoch near-dup kept"
        assert set(seed) <= out_ids, "epoch-1 kept docs missing"
        fresh_kept = out_ids & set(range(10, 15))
        assert fresh_kept, "every fresh epoch-2 doc vanished"
        # index holds both epochs' survivors
        idx_ids = {r["doc_id"] for r in spark.table("nd_stream_idx_sigs")
                   .select("doc_id").collect()}
        assert idx_ids == out_ids, (idx_ids, out_ids)

        # REPLAY both epochs (fresh checkpoint ⇒ same epoch ids 0/1,
        # same input, index already committed): foreachBatch is
        # at-least-once, so a replayed epoch must (a) not self-match
        # against its own committed signatures and vanish, (b) not
        # grow the index — dynamic partition overwrite on epoch=<id>
        # (VERDICT r03 item 5), (c) leave the corpus rows unchanged.
        n_sig = spark.table("nd_stream_idx_sigs").count()
        n_band = spark.table("nd_stream_idx_bands").count()
        stream2 = streaming.read_page_stream(
            spark, page_dir, as_webpages(docs).schema,
            max_files_per_trigger=1)
        _drain(streaming.write_stream_filtered_neardup(
            stream2, sink, str(base / "ckpt_replay"),
            "nd_stream_idx", str(base / "idx")))
        # the replay REPLACED partition files; this (external) session
        # must drop its cached listing like any reader after an
        # overwrite — the streaming query's own session is refreshed
        # inside commit_minhash_index
        spark.catalog.refreshTable("nd_stream_idx_sigs")
        spark.catalog.refreshTable("nd_stream_idx_bands")
        assert spark.table("nd_stream_idx_sigs").count() == n_sig
        assert spark.table("nd_stream_idx_bands").count() == n_band
        out2 = {r["doc_id"] for r in spark.read.parquet(sink)
                .select("doc_id").collect()}
        assert out2 == out_ids, (out2, out_ids)
    finally:
        spark.sql("DROP TABLE IF EXISTS nd_stream_idx_sigs")
        spark.sql("DROP TABLE IF EXISTS nd_stream_idx_bands")


def test_stream_filtered_bloom_cross_epoch_and_replay(spark, tmp_path):
    """write_stream_filtered_bloom: the persisted-Bloom streaming
    dedup. Epoch 2 re-sends an epoch-1 kept doc — its url must drop
    (committed keys ALWAYS drop) while fresh docs survive; replaying
    both epochs against the already-committed bitmap must leave the
    corpus rows AND every bitmap byte unchanged (the marker protocol:
    a replayed epoch never re-filters itself into oblivion)."""
    import os
    import time as _time

    from luzzu_spark.fixtures import as_webpages, load_table

    base = tmp_path / "bloom_stream"
    page_dir = str(base / "pages")
    docs = load_table(spark, SF, "documents")

    epoch1_docs = docs.where("doc_id < 10")
    pages1 = as_webpages(epoch1_docs)
    kept1_ids = sorted(
        r["doc_id"] for r in QualityPipeline()
        .filtered(pages1).select("doc_id").collect())
    assert kept1_ids, "need kept epoch-1 docs to seed the bitmap"
    pages1.coalesce(1).write.mode("append").parquet(page_dir)
    _time.sleep(1.2)  # file source orders by mtime

    resent = epoch1_docs.where(f"doc_id = {kept1_ids[0]}")
    epoch2_docs = docs.where("doc_id >= 10 AND doc_id < 15") \
        .unionByName(resent)
    as_webpages(epoch2_docs).coalesce(1).write.mode("append") \
        .parquet(page_dir)

    sink = str(base / "corpus")
    idx = str(base / "bloom_idx")

    def run(ckpt):
        stream = streaming.read_page_stream(
            spark, page_dir, as_webpages(docs).schema,
            max_files_per_trigger=1)
        _drain(streaming.write_stream_filtered_bloom(
            stream, sink, str(base / ckpt), idx,
            expected_items=1000))

    run("ckpt")
    out = spark.read.parquet(sink)
    by_epoch = {(r["doc_id"], r["epoch"]) for r in
                out.select("doc_id", "epoch").collect()}
    assert (kept1_ids[0], 0) in by_epoch, "epoch-1 kept doc missing"
    assert (kept1_ids[0], 1) not in by_epoch, \
        "re-sent url leaked past the bitmap"
    fresh = {d for d, e in by_epoch if e == 1}
    assert fresh and fresh <= set(range(10, 15)), by_epoch

    bins = sorted(f for f in os.listdir(idx) if f.endswith(".bin"))
    before = {f: open(os.path.join(idx, f), "rb").read() for f in bins}
    meta_before = open(os.path.join(idx, "meta.json")).read()

    # replay both epochs: fresh checkpoint ⇒ same epoch ids, same
    # input, bitmap already committed (markers present)
    run("ckpt_replay")
    out2 = {(r["doc_id"], r["epoch"]) for r in spark.read.parquet(sink)
            .select("doc_id", "epoch").collect()}
    assert out2 == by_epoch, (out2, by_epoch)
    for f in bins:
        assert open(os.path.join(idx, f), "rb").read() == before[f]
    assert open(os.path.join(idx, "meta.json")).read() == meta_before


def test_stream_bloom_in_batch_duplicates_collapse(spark, tmp_path):
    """A recrawl can deliver the same url twice in the files of ONE
    micro-batch — the bitmap only knows PRIOR epochs, so without
    in-batch dedup both copies would be written permanently by a
    dedup sink (review r05). Exactly one row per key must survive."""
    from luzzu_spark.fixtures import as_webpages, load_table

    base = tmp_path / "bloom_inbatch"
    page_dir = str(base / "pages")
    docs = load_table(spark, SF, "documents").where("doc_id < 8")
    pages = as_webpages(docs)
    kept_ids = sorted(
        r["doc_id"] for r in QualityPipeline()
        .filtered(pages).select("doc_id").collect())
    assert kept_ids, "need kept docs"
    # one file = one micro-batch holding every doc TWICE
    pages.unionByName(pages).coalesce(1).write.parquet(page_dir)

    stream = streaming.read_page_stream(spark, page_dir, pages.schema)
    _drain(streaming.write_stream_filtered_bloom(
        stream, str(base / "corpus"), str(base / "ckpt"),
        str(base / "idx"), expected_items=1000))
    out = (spark.read.parquet(str(base / "corpus"))
           .groupBy("doc_id").count().collect())
    assert {r["doc_id"] for r in out} == set(kept_ids)
    assert all(r["count"] == 1 for r in out), out


def test_stream_bloom_epoch_reuse_different_input_raises(spark,
                                                         tmp_path):
    """Epoch ids are only unique within ONE checkpoint lineage: a
    fresh checkpoint over a CHANGED page directory replays epoch 0
    with different documents. The marker alone would skip their
    filter, assessment and write — silent data loss — so the marker
    records the batch fingerprint and a mismatch must RAISE
    (review r05)."""
    from luzzu_spark.fixtures import as_webpages, load_table

    base = tmp_path / "bloom_reuse"
    page_dir = str(base / "pages")
    docs = load_table(spark, SF, "documents")
    pages1 = as_webpages(docs.where("doc_id < 6"))
    pages1.coalesce(1).write.parquet(page_dir)

    def run(ckpt):
        stream = streaming.read_page_stream(spark, page_dir,
                                            pages1.schema)
        _drain(streaming.write_stream_filtered_bloom(
            stream, str(base / "corpus"), str(base / ckpt),
            str(base / "idx"), expected_items=1000))

    run("ckpt")
    # new lineage, different content under the SAME epoch id
    import shutil
    shutil.rmtree(page_dir)
    as_webpages(docs.where("doc_id >= 6 AND doc_id < 12")) \
        .coalesce(1).write.parquet(page_dir)
    with pytest.raises(Exception, match="reused over DIFFERENT input"):
        run("ckpt2")
