"""Serialization-agnostic ingest: the same corpus via parquet / JSON /
CSV must produce identical rows, and the pipeline must run unchanged
on any of them (Luzzu's any-serialization ingest, README.md:14)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from luzzu_spark.fixtures import load_table
from luzzu_spark.sources import read_corpus, sniff_format

SF = "/root/testdata/sf0.001"
COLS = ["doc_id", "text", "lang", "source", "n_chars"]


@pytest.fixture(scope="module")
def corpus_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("sources")
    docs = load_table(spark, SF, "documents").select(*COLS)
    paths = {}
    for fmt in ("parquet", "orc", "json", "csv"):
        p = str(root / fmt)
        w = docs.coalesce(2).write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", "true")
        getattr(w, fmt)(p)
        paths[fmt] = p
    return paths


def test_sniff_format(corpus_dirs):
    for fmt, path in corpus_dirs.items():
        assert sniff_format(path) == fmt
    assert sniff_format("iceberg://cat.db.docs") == "iceberg"
    assert sniff_format("/x/y/data.jsonl") == "json"


def test_all_formats_identical(spark, corpus_dirs):
    schema = ("doc_id bigint, text string, lang string, source string, "
              "n_chars bigint")
    base = read_corpus(spark, corpus_dirs["parquet"]).select(*COLS)
    # orc is self-describing (no declared schema needed, like parquet)
    for fmt, kw in (("orc", {}), ("json", {"schema": schema}),
                    ("csv", {"schema": schema})):
        other = read_corpus(spark, corpus_dirs[fmt], **kw).select(*COLS)
        assert other.count() == base.count() == 500
        assert base.exceptAll(other).count() == 0, fmt
        assert other.exceptAll(base).count() == 0, fmt


def test_pipeline_runs_on_json_source(spark, corpus_dirs):
    from luzzu_spark.fixtures import as_webpages
    from luzzu_spark.pipeline import QualityPipeline
    schema = ("doc_id bigint, text string, lang string, source string, "
              "n_chars bigint")
    docs = read_corpus(spark, corpus_dirs["json"], schema=schema)
    assessed = QualityPipeline().assess(as_webpages(docs))
    n_keep = assessed.agg(
        F.sum(F.col("keep").cast("long"))).collect()[0][0]
    assert 0 < n_keep < 500


def test_schema_required_for_text_formats(spark, corpus_dirs):
    with pytest.raises(ValueError, match="declared schema"):
        read_corpus(spark, corpus_dirs["json"])


def test_iceberg_branch_raises_clearly(spark):
    with pytest.raises(NotImplementedError, match="iceberg-spark-runtime"):
        read_corpus(spark, "iceberg://cat.db.docs")


def test_sniff_remote_dir_requires_explicit_format():
    """hdfs/s3 dirs can't be os.listdir'd — sniffing must refuse
    instead of silently defaulting to parquet (ADVICE r1)."""
    import pytest
    from luzzu_spark.sources import read_corpus, sniff_format
    with pytest.raises(ValueError, match="remote"):
        sniff_format("s3a://bucket/corpus-dir")
    with pytest.raises(ValueError, match="remote"):
        read_corpus(None, "hdfs://nn/corpus-dir")
    # extension still wins for remote FILES
    assert sniff_format("s3a://bucket/part-0.jsonl") == "json"


def test_read_corpus_file_list(spark, tmp_path):
    from luzzu_spark.sources import read_corpus
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = str(tmp_path / "multi")
    docs.repartition(3).write.mode("overwrite").parquet(p)
    files = spark.read.parquet(p).inputFiles()
    part = read_corpus(spark, files[:2])
    assert 0 < part.count() < docs.count()


def test_write_filtered_jsonl_roundtrip(spark, pages, tmp_path):
    """JSONL corpus sink: kept rows round-trip through JSON-lines with
    identical url/text/lang content (binary columns dropped — they
    don't survive JSON), readable back through read_corpus with a
    declared schema."""
    from luzzu_spark.pipeline import QualityPipeline
    from luzzu_spark.sources import read_corpus

    out = str(tmp_path / "corpus_jsonl")
    pipe = QualityPipeline()
    pipe.write_filtered(pages, out, fmt="json")

    want = pipe.filtered(pages).select("url", "text", "lang")
    schema = ("url string, warc_ts timestamp, lang string, "
              "lang_pred string, doc_id long, source string, "
              "text string, rule_scores map<string,double>, "
              "content_hash long")
    import glob
    files = sorted(glob.glob(out + "/lang=*/*.json"))
    assert files, "jsonl sink wrote no files"
    got = read_corpus(spark, files, fmt="json", schema=schema) \
        .select("url", "text")
    w = want.select("url", "text")
    assert got.count() == want.count()
    assert got.exceptAll(w).count() == 0 and w.exceptAll(got).count() == 0


def test_read_corpus_malformed_json_rows(spark, tmp_path):
    """Crawl-feed garbage handling: malformed JSON lines are dropped by
    default, or quarantined with their raw bytes under keep_corrupt —
    never a crash, never silent nulls."""
    import gzip
    p = tmp_path / "feed.json"
    lines = ['{"doc_id": 1, "text": "good row one", "lang": "en"}',
             '{broken json!!',
             '{"doc_id": 2, "text": "good row two", "lang": "en"}',
             'total garbage',
             '{"doc_id": 3, "text": "good row three", "lang": "fr"}']
    p.write_text("\n".join(lines) + "\n")
    schema = "doc_id long, text string, lang string"

    from luzzu_spark.sources import read_corpus
    clean = read_corpus(spark, str(p), schema=schema, fmt="json")
    assert sorted(r.doc_id for r in clean.collect()) == [1, 2, 3]

    kept = read_corpus(spark, str(p), schema=schema, fmt="json",
                       keep_corrupt=True)
    rows = kept.collect()
    assert len(rows) == 5
    bad = [r for r in rows if r._corrupt_record is not None]
    assert sorted(r._corrupt_record for r in bad) \
        == ["total garbage", "{broken json!!"]

    # gz round-trip: Hadoop codec decodes transparently
    gz = tmp_path / "feed2.json.gz"
    with gzip.open(gz, "wt") as f:
        f.write("\n".join(lines) + "\n")
    gz_clean = read_corpus(spark, str(gz), schema=schema, fmt="json")
    assert sorted(r.doc_id for r in gz_clean.collect()) == [1, 2, 3]


def _iceberg_on_classpath(spark) -> bool:
    """True when the iceberg-spark-runtime jar is loadable in this
    JVM — the production deployment has it via --packages; this
    sandbox does not (sources.read_source documents the gate)."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def test_iceberg_native_roundtrip_when_jar_present(spark, tmp_path):
    """Jar-gated Iceberg integration (VERDICT r03 item 8): SKIPS in
    this sandbox (no iceberg-spark-runtime on the classpath), runs the
    real contract wherever the deployment ships the jar:
      spark.conf: spark.sql.catalog.lz=org.apache.iceberg.spark
        .SparkCatalog, spark.sql.catalog.lz.type=hadoop,
        spark.sql.catalog.lz.warehouse=<dir>
      write:  df.writeTo('lz.db.docs').using('iceberg')
        .createOrReplace(); df.writeTo('lz.db.docs').append()
      incremental read (the checkpoint.py contract, natively):
        spark.read.format('iceberg')
          .option('start-snapshot-id', <id>).load('lz.db.docs')
    This documents the exact activation path and keeps the assertion
    logic versioned; the parquet snapshot-watermark emulation in
    checkpoint.py carries the semantics in-sandbox."""
    import pytest

    if not _iceberg_on_classpath(spark):
        pytest.skip("iceberg-spark-runtime jar not on classpath "
                    "(sources.py gate raises NotImplementedError; "
                    "deploy with --packages org.apache.iceberg:"
                    "iceberg-spark-runtime-4.0_2.13:<latest>)")

    warehouse = str(tmp_path / "iceberg_wh")
    spark.conf.set("spark.sql.catalog.lz",
                   "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.lz.type", "hadoop")
    spark.conf.set("spark.sql.catalog.lz.warehouse", warehouse)

    base = spark.range(10).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text")
    base.writeTo("lz.db.docs").using("iceberg").createOrReplace()
    snap1 = spark.sql(
        "SELECT snapshot_id FROM lz.db.docs.snapshots "
        "ORDER BY committed_at DESC LIMIT 1").collect()[0][0]

    extra = spark.range(10, 15).selectExpr(
        "id AS doc_id", "CAST(id AS STRING) AS text")
    extra.writeTo("lz.db.docs").append()

    assert spark.table("lz.db.docs").count() == 15
    incremental = (spark.read.format("iceberg")
                   .option("start-snapshot-id", snap1)
                   .load("lz.db.docs"))
    assert {r["doc_id"] for r in incremental.collect()} \
        == {10, 11, 12, 13, 14}


# ---------------------------------------------------------------------------
# WET/WARC ingest (Common-Crawl web-text format)
# ---------------------------------------------------------------------------

_WET = (
    "WARC/1.0\r\n"
    "WARC-Type: warcinfo\r\n"
    "WARC-Date: 2026-01-02T03:04:05Z\r\n"
    "WARC-Record-ID: <urn:uuid:info-1>\r\n"
    "Content-Length: 10\r\n"
    "\r\n"
    "robots: x\r\n"
    "\r\n"
    "WARC/1.0\r\n"
    "WARC-Type: conversion\r\n"
    "WARC-Target-URI: http://example.com/a\r\n"
    "WARC-Date: 2026-01-02T03:04:06Z\r\n"
    "WARC-Record-ID: <urn:uuid:rec-a>\r\n"
    "Content-Length: 23\r\n"
    "\r\n"
    "Hello web.\nSecond line.\r\n"
    "\r\n"
    "WARC/1.0\r\n"
    "WARC-Type: conversion\r\n"
    "WARC-Target-URI: https://sub.example.org/b?q=1\r\n"
    "WARC-Date: 2026-01-02T03:04:07Z\r\n"
    "WARC-Record-ID: <urn:uuid:rec-b>\r\n"
    "Content-Length: 17\r\n"
    "\r\n"
    "café naïve 中文\r\n"
    "\r\n"
)


@pytest.fixture(scope="module")
def wet_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("wet") / "part-000.wet"
    p.write_bytes(_WET.encode("utf-8"))
    return str(p)


def test_read_wet_parses_records(spark, wet_path):
    from luzzu_spark.sources import read_wet
    rows = {r["url"]: r for r in read_wet(spark, wet_path).collect()}
    # warcinfo record excluded by the type filter
    assert set(rows) == {"http://example.com/a",
                         "https://sub.example.org/b?q=1"}
    a = rows["http://example.com/a"]
    assert a["text"] == "Hello web.\nSecond line."
    assert a["source"] == "example.com"
    assert a["warc_ts"] is not None and a["warc_ts"].second == 6
    assert a["lang"] is None  # the langid rule predicts it downstream
    b = rows["https://sub.example.org/b?q=1"]
    assert b["text"] == "café naïve 中文"
    assert b["source"] == "sub.example.org"
    assert b["n_chars"] == len(b["text"])
    # doc_ids deterministic and distinct
    ids = [r["doc_id"] for r in rows.values()]
    assert len(set(ids)) == 2


def test_read_wet_keeps_payload_trailing_blank_line(spark, tmp_path):
    """ADVICE r04: only the TWO framing CRLFs are stripped — a
    conversion payload that legitimately ends with its own \\r\\n
    (trailing blank line) keeps that content, so text/n_chars/doc_id
    agree with a Content-Length-faithful reader."""
    from luzzu_spark.sources import read_wet
    payload = "Body line.\r\n"  # 12 bytes, ends with its own CRLF
    rec = ("WARC/1.0\r\n"
           "WARC-Type: conversion\r\n"
           "WARC-Target-URI: http://t.example/x\r\n"
           "WARC-Date: 2026-01-02T03:04:08Z\r\n"
           "WARC-Record-ID: <urn:uuid:rec-t>\r\n"
           f"Content-Length: {len(payload.encode())}\r\n"
           "\r\n"
           f"{payload}"
           "\r\n\r\n")
    p = tmp_path / "trail.wet"
    p.write_bytes(rec.encode("utf-8"))
    row = read_wet(spark, str(p)).collect()[0]
    assert row["text"] == "Body line.\r\n"
    assert row["n_chars"] == len(payload)


def test_read_wet_rejects_warc_11(spark, tmp_path):
    """A WARC/1.1 file never matches the WARC/1.0 record delimiter and
    would silently parse to ZERO docs — the reader must raise on the
    version line instead (ADVICE r04). Gzip members are sniffed too."""
    import gzip

    from luzzu_spark.sources import read_wet
    body = _WET.replace("WARC/1.0", "WARC/1.1").encode("utf-8")
    p = tmp_path / "part-000.wet"
    p.write_bytes(body)
    with pytest.raises(ValueError, match="WARC/1.0"):
        read_wet(spark, str(p))
    gz = tmp_path / "part-001.wet.gz"
    gz.write_bytes(gzip.compress(body))
    with pytest.raises(ValueError, match="WARC/1.0"):
        read_wet(spark, str(gz))
    # directory form: first readable file decides
    with pytest.raises(ValueError, match="WARC/1.0"):
        read_wet(spark, str(tmp_path))
    # a non-WARC auxiliary file sorting FIRST (_SUCCESS, checksums)
    # must not swallow the sniff for the real crawl files behind it
    # (review r05: the early return skipped them silently)
    d2 = tmp_path / "crawl"
    d2.mkdir()
    (d2 / "_SUCCESS").write_bytes(b"")
    (d2 / "part-000.wet").write_bytes(body)
    with pytest.raises(ValueError, match="WARC/1.0"):
        read_wet(spark, str(d2))


def test_read_wet_gzip_transparent(spark, wet_path, tmp_path):
    import gzip
    from luzzu_spark.sources import read_wet
    gz = tmp_path / "part-000.wet.gz"
    gz.write_bytes(gzip.compress(open(wet_path, "rb").read()))
    plain = read_wet(spark, wet_path).orderBy("url")
    zipped = read_wet(spark, str(gz)).orderBy("url")
    assert [r.asDict() for r in plain.collect()] \
        == [r.asDict() for r in zipped.collect()]


def test_pipeline_runs_on_wet_source(spark, wet_path):
    """read_wet output is the page shape — assess it DIRECTLY (no
    as_webpages: WET records carry real urls/timestamps, and the
    full-range xxhash64 doc_ids must flow through verdict + sinks
    without any narrow cast)."""
    from luzzu_spark.pipeline import QualityPipeline
    from luzzu_spark.sources import read_wet
    assessed = QualityPipeline().assess(read_wet(spark, wet_path))
    out = assessed.select("url", "keep", "drop_reasons").collect()
    assert len(out) == 2  # every conversion record assessed end-to-end
    assert all(r["url"].startswith("http") for r in out)


def test_sniff_wet_and_compressed_extensions(wet_path, tmp_path):
    assert sniff_format("/crawl/part-000.wet") == "wet"
    assert sniff_format("/crawl/part-000.wet.gz") == "wet"
    assert sniff_format("/crawl/rec.warc.gz") == "warc"
    assert sniff_format("s3a://cc/part-0.json.gz") == "json"
    # directory of .wet(.gz) files sniffs by majority extension —
    # the .gz suffix must not blind the listing (run_filter smoke:
    # a /crawl dir of part-*.wet.gz read as parquet fails on footers)
    import gzip
    import shutil
    d = tmp_path / "wetdir"
    d.mkdir()
    shutil.copy(wet_path, d / "part-000.wet")
    (d / "part-001.wet.gz").write_bytes(
        gzip.compress(open(wet_path, "rb").read()))
    assert sniff_format(str(d)) == "wet"


def test_read_corpus_routes_wet(spark, wet_path):
    docs = read_corpus(spark, wet_path)
    assert docs.count() == 2
    assert {"doc_id", "url", "warc_ts", "lang", "source", "text",
            "n_chars"} <= set(docs.columns)


def test_read_wet_stream_incremental(spark, wet_path, tmp_path):
    """Streaming WET ingest: files landing in a drop directory are
    processed exactly once (file-source checkpoint), and the union of
    micro-batches equals the batch reader over the same files."""
    import shutil
    from luzzu_spark.sources import read_wet, read_wet_stream
    drop = tmp_path / "drop"
    drop.mkdir()
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    shutil.copy(wet_path, drop / "f1.wet")

    def run_once():
        q = (read_wet_stream(spark, str(drop)).writeStream
             .format("parquet").option("path", out)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(out).count() == 2

    # a second crawl file lands; the same checkpoint reads ONLY it.
    # BINARY read/write: text mode strips the \r of \r\n (universal
    # newlines) and the record delimiter silently never matches.
    blob = (open(wet_path, "rb").read()
            .replace(b"example.com/a", b"example.com/c")
            .replace(b"sub.example.org/b?q=1", b"sub.example.org/d"))
    (drop / "f2.wet").write_bytes(blob)
    run_once()
    got = spark.read.parquet(out).select("url", "text")
    assert got.count() == 4
    batch = read_wet(spark, [str(drop / "f1.wet"),
                             str(drop / "f2.wet")]).select("url", "text")
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_wet_stream_full_filter_composition(spark, tmp_path):
    """The incremental crawl-filter end to end: WET files land in a
    drop directory -> read_wet_stream micro-batches -> FULL quality
    pipeline -> epoch-idempotent corpus sink. Kept set must equal the
    batch pipeline over the same files."""
    import gzip
    from luzzu_spark.pipeline import QualityPipeline
    from luzzu_spark.sources import read_wet, read_wet_stream
    from luzzu_spark.streaming import write_stream_filtered

    drop = tmp_path / "crawl"
    drop.mkdir()
    # deterministic WET content synthesized from the fixture docs
    docs = load_table(spark, SF, "documents") \
        .select("doc_id", "source", "text").orderBy("doc_id").collect()

    def rec(r):
        return ("WARC/1.0\r\n"
                "WARC-Type: conversion\r\n"
                f"WARC-Target-URI: https://{r['source']}.example.com/doc/"
                f"{r['doc_id']}\r\n"
                f"WARC-Date: 2026-01-01T00:00:{r['doc_id'] % 60:02d}Z\r\n"
                f"WARC-Record-ID: <urn:uuid:rec-{r['doc_id']}>\r\n\r\n"
                + (r["text"] or "") + "\r\n\r\n")

    half = len(docs) // 2
    for i, chunk in enumerate((docs[:half], docs[half:])):
        blob = "".join(rec(r) for r in chunk).encode("utf-8")
        (drop / f"part-{i:03d}.wet.gz").write_bytes(gzip.compress(blob))

    out = str(tmp_path / "corpus")
    ck = str(tmp_path / "ck")
    q = write_stream_filtered(read_wet_stream(spark, str(drop)), out, ck)
    q.awaitTermination(300)

    got = spark.read.parquet(out).select("url", "text")
    want = QualityPipeline().filtered(
        read_wet(spark, str(drop))).select("url", "text")
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_read_wet_tolerates_malformed_records(spark, tmp_path):
    """One corrupt record must not abort a crawl ingest (review r04):
    a garbage/missing WARC-Date yields a NULL warc_ts under ANSI
    (try_to_timestamp), an empty Target-URI drops the record, and an
    empty header value must not capture the NEXT header line as its
    value (the \\s*-crosses-CRLF regex bug)."""
    from luzzu_spark.sources import read_wet
    wet = (
        # good record, garbage date -> kept, NULL ts
        "WARC/1.0\r\nWARC-Type: conversion\r\n"
        "WARC-Target-URI: http://ok.example/a\r\n"
        "WARC-Date: not-a-date\r\n"
        "WARC-Record-ID: <urn:uuid:1>\r\n\r\nbody a\r\n\r\n"
        # no date header at all -> kept, NULL ts
        "WARC/1.0\r\nWARC-Type: conversion\r\n"
        "WARC-Target-URI: http://ok.example/b\r\n"
        "WARC-Record-ID: <urn:uuid:2>\r\n\r\nbody b\r\n\r\n"
        # EMPTY Target-URI (value on next line would be captured by a
        # \\s* regex) -> dropped as malformed
        "WARC/1.0\r\nWARC-Type: conversion\r\n"
        "WARC-Target-URI:\r\n"
        "WARC-Date: 2026-01-01T00:00:00Z\r\n"
        "WARC-Record-ID: <urn:uuid:3>\r\n\r\nbody c\r\n\r\n")
    p = tmp_path / "bad.wet"
    p.write_bytes(wet.encode("utf-8"))
    rows = {r["url"]: r for r in read_wet(spark, str(p)).collect()}
    assert set(rows) == {"http://ok.example/a", "http://ok.example/b"}
    assert rows["http://ok.example/a"]["warc_ts"] is None
    assert rows["http://ok.example/b"]["warc_ts"] is None
    assert rows["http://ok.example/a"]["text"] == "body a"
