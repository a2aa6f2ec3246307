#!/usr/bin/env python
"""spark-submit entry point for the quality-filter run (BASELINE.json:14).

    spark-submit --py-files dist/luzzu_spark.zip scripts/run_filter.py \
        --input /data/webpages --output /data/filtered \
        [--master local[32]] [--batch-size 8] [--repeat 1] [--json]

Input: parquet of Common-Crawl-style pages (url, warc_ts, html, text,
lang) — or a `documents` fixture table, which is lifted to that shape
deterministically (--as-webpages). Output: scrubbed, filtered corpus
under batch=<id>/ dirs plus a committed-batch manifest (resumable — a
rerun with the same output dir continues after the last commit) and
per-partition lineage metrics.

--repeat N times the run N times into separate output dirs and reports
the LAST run's throughput: run 1 pays JVM JIT + Python-worker spin-up;
steady state is what extrapolates to a long-lived cluster job.

Cross-run seen-set dedup (the day-2-drops-day-1's-re-crawls flow):
day 1 adds `--commit-bucket-table seen_corpus` (kept corpus lands as a
url-bucketed catalog table); day 2 adds `--seen-table seen_corpus` and
every already-committed url is anti-joined away BEFORE assessment,
reading the committed side bucket-aligned with zero shuffle.

Cross-run NEAR-dup dedup: pass the same `--neardup-index idx` every
day. Day 1 creates the bucketed MinHash index tables (idx_sigs /
idx_bands) from its kept corpus; later days drop documents
near-duplicating committed content before assessment (the committed
index never shuffles) and append their survivors' signatures.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--master", default=None,
                   help="override; else inherit spark-submit's --master, "
                   "or local[<cpus>] when run with python")
    p.add_argument("--batch-size", type=int, default=8,
                   help="input files per committed batch")
    p.add_argument("--repeat", type=int, default=1)
    p.add_argument("--as-webpages", action="store_true",
                   help="lift a documents-schema input to the page shape")
    p.add_argument("--input-format", default=None,
                   choices=["parquet", "orc", "json", "csv", "wet",
                            "warc"],
                   help="corpus serialization (default: sniff from the "
                        "path; remote dirs must pass this explicitly)")
    p.add_argument("--drop-noindex", action="store_true",
                   help="drop pages whose markup opts out of indexing "
                        "(meta robots noindex in <head> / X-Robots-Tag "
                        "header) — needs the robots_noindex column the "
                        "raw-WARC reader computes; the drop is a "
                        "pipeline rule, so it is funnel-counted in "
                        "drop_reasons / firing rates / daQ metrics")
    p.add_argument("--input-schema", default=None,
                   help="DDL schema for json/csv inputs (default: the "
                        "documents corpus shape)")
    p.add_argument("--inject-pii", action="store_true")
    p.add_argument("--salt-buckets", type=int, default=0,
                   help=">0 enables salted host repartitioning over "
                        "this many salt buckets")
    p.add_argument("--seen-table", default=None,
                   help="bucketed corpus table from a previous run "
                        "(--commit-bucket-table); incoming pages whose "
                        "url is already committed are dropped BEFORE "
                        "assessment via a bucket-aligned anti-join — "
                        "the committed side never shuffles")
    p.add_argument("--seen-bloom", action="store_true",
                   help="with --seen-table: prune the batch through a "
                        "Bloom filter built from the committed urls "
                        "first (dedup.seen_bloom_anti_join) — "
                        "guaranteed-novel urls bypass the anti-join "
                        "map-only; result identical to the exact path. "
                        "Use when the batch is mostly new or the seen "
                        "table is not bucket-aligned to the batch")
    p.add_argument("--seen-bloom-path", default=None, metavar="DIR",
                   help="persisted Bloom index (Dolma-style "
                        "APPROXIMATE cross-run dedup, no committed "
                        "table read at all): incoming urls the index "
                        "might contain are dropped pre-assessment "
                        "(committed urls always drop; ~fpp of novel "
                        "urls over-drop, never a leaked duplicate); "
                        "after the run, the kept urls are OR-ed into "
                        "the index. Created on the first run — size "
                        "it for the corpus lifetime with "
                        "--bloom-expected")
    p.add_argument("--paragraph-bloom-path", default=None,
                   metavar="DIR",
                   help="persisted Bloom index of committed PARAGRAPH "
                        "digests (Dolma's published granularity): "
                        "paragraphs any earlier run kept are excised "
                        "from this batch's docs (text rebuilt) before "
                        "assessment, so a re-crawled boilerplate block "
                        "disappears while the page's novel prose "
                        "survives; after the run the kept docs' "
                        "paragraphs are OR-ed back in. Approximate: "
                        "committed paragraphs always excise; ~fpp of "
                        "novel ones over-excise. Size with "
                        "--bloom-expected (distinct-paragraph "
                        "lifetime, several × the doc count)")
    p.add_argument("--bloom-expected", type=int, default=None,
                   help="design capacity (total keys over the index "
                        "lifetime) for the --seen-bloom-path / "
                        "--paragraph-bloom-path create; "
                        "default: the first run's kept count")
    p.add_argument("--bloom-shards", type=int, default=1,
                   help="shard count for the --seen-bloom-path create "
                        "(immutable afterwards; later runs read it "
                        "from the index meta). Use >1 past GB-scale "
                        "bitmaps: each filter task then loads ONE "
                        "shard instead of broadcasting the whole "
                        "bitmap — size so a shard is ~256MB-1GB")
    p.add_argument("--commit-bucket-table", default=None,
                   help="after the run, consolidate the kept corpus "
                        "into a url-bucketed catalog table under "
                        "--bucket-path (the layout --seen-table reads "
                        "shuffle-free on the NEXT run)")
    p.add_argument("--bucket-path", default=None,
                   help="storage path for --commit-bucket-table "
                        "(default <output>/corpus_bucketed)")
    p.add_argument("--n-buckets", type=int, default=16)
    p.add_argument("--neardup-index", default=None,
                   help="table-name prefix of the cross-run MinHash "
                        "index (<prefix>_sigs / <prefix>_bands). "
                        "Self-maintaining: when the tables exist, "
                        "incoming docs near-duplicating committed "
                        "content are dropped BEFORE assessment "
                        "(bucket-aligned, the committed index never "
                        "shuffles) and in-batch near-dup clusters "
                        "prune to their head; after the run, the kept "
                        "docs' signatures append into the index "
                        "(created on the first run)")
    p.add_argument("--neardup-path", default=None,
                   help="storage path prefix for --neardup-index "
                        "(default <output>/neardup_index)")
    p.add_argument("--neardup-threshold", type=float, default=0.5)
    p.add_argument("--neardup-compact", type=int, default=None,
                   metavar="KEEP_EPOCHS",
                   help="after committing this run's signatures, "
                        "compact the --neardup-index tables: merge "
                        "every epoch partition older than the newest "
                        "KEEP_EPOCHS into one baseline partition and "
                        "drop the emptied ones (bounds the index's "
                        "partition growth under daily runs; filter "
                        "results are identical pre/post compaction)")
    p.add_argument("--neardup-expire-before", type=int, default=None,
                   metavar="EPOCH",
                   help="retention/TTL for --neardup-index: before "
                        "compacting, DROP every epoch partition with "
                        "id < EPOCH (metadata + files, no rewrite) so "
                        "content committed before the cutoff stops "
                        "suppressing new near-duplicates — the "
                        "compliance-deletion / freshness half of the "
                        "index lifecycle; runs before the merge "
                        "because compaction collapses commit ages")
    p.add_argument("--lang-profiles", default=None, metavar="LANGS",
                   help="comma-separated language profiles (e.g. "
                        "'en,fr,es,de'): the stopword_frac rule scores "
                        "each doc against its PREDICTED language's "
                        "stopword list + threshold "
                        "(rules/stopwords.RULE_PROFILES; EN fallback "
                        "for unlisted languages). Default: EN-only, "
                        "the frozen RULESPEC behavior")
    p.add_argument("--line-scrub", action="store_true",
                   help="run the C4 line-level scrub (terminal "
                        "punctuation / >=3 words / no javascript) "
                        "BEFORE assessment. Prose without sentence "
                        "punctuation (e.g. the synthetic fixtures) "
                        "scrubs to empty and then drops at min-chars")
    p.add_argument("--sql-rule", nargs=3, action="append",
                   metavar=("NAME", "SCORE_SQL", "FIRE_SQL"),
                   default=None,
                   help="declare an EXTRA quality rule in SQL alone "
                        "(LQML recast, repeatable): score expression "
                        "over text/n_tokens/n_chars, then a boolean "
                        "template over {score}, e.g. --sql-rule "
                        "digit_heavy 'coalesce(try_divide(regexp_count"
                        "(text, \'[0-9]\'), n_chars), 0.0)' "
                        "'{score} > 0.3'")
    p.add_argument("--json", action="store_true",
                   help="print one machine-readable JSON line at the end")
    p.add_argument("--bench", action="store_true",
                   help="throughput mode: noop sink, no manifest/metrics; "
                        "repeat N times, report the MIN (steady state)")
    return p


def run_job(spark: SparkSession, args: argparse.Namespace) -> dict:
    """The whole filter run against an existing session — the unit the
    CLI wraps and tests drive directly (same code path minus the
    spark-submit process spawn). ``args`` may be partial: every option
    it lacks takes the parser's default."""
    from pyspark.sql import functions as F

    from luzzu_spark.checkpoint import ResumableRun
    from luzzu_spark.dedup import seen_anti_join
    from luzzu_spark.fixtures import as_webpages
    from luzzu_spark.pipeline import QualityPipeline
    from luzzu_spark.sources import DOCUMENTS_SCHEMA, read_corpus, \
        sniff_format

    args = build_parser().parse_args(
        ["--input", args.input, "--output", args.output],
        namespace=argparse.Namespace(**vars(args)))
    if args.repeat != 1:
        # pre-flight: the committed-state flags are one-corpus-one-state
        # by contract — fail BEFORE the run, not after paying for it
        for flag, name in ((args.commit_bucket_table,
                            "--commit-bucket-table"),
                           (args.seen_bloom_path, "--seen-bloom-path"),
                           (args.paragraph_bloom_path,
                            "--paragraph-bloom-path"),
                           (args.neardup_index, "--neardup-index")):
            if flag:
                raise ValueError(f"{name} requires --repeat 1 "
                                 "(one corpus, one committed state)")
    extra_rules = []
    if args.sql_rule:
        from luzzu_spark.rules.registry import sql_rule
        extra_rules += [sql_rule(n, sc, fw) for n, sc, fw in args.sql_rule]
    if args.drop_noindex:
        from luzzu_spark.rules.registry import robots_noindex_rule
        extra_rules.append(robots_noindex_rule())
    if args.lang_profiles:
        from luzzu_spark.rules.registry import multilingual_registry
        registry = multilingual_registry(tuple(
            s.strip() for s in args.lang_profiles.split(",") if s.strip()))
    else:
        from luzzu_spark.rules.registry import default_registry
        registry = default_registry()
    for r in extra_rules:
        registry.register(r)
    pipe = QualityPipeline(
        registry=registry,
        line_scrub=args.line_scrub,
        salt_buckets=args.salt_buckets)
    fmt = args.input_format or sniff_format(args.input)
    schema = (args.input_schema or DOCUMENTS_SCHEMA) \
        if fmt in ("json", "csv") else None

    seen = spark.table(args.seen_table) if args.seen_table else None

    nd_prefix = args.neardup_index
    nd_sigs = nd_bands = None
    nd_exists = False
    if nd_prefix:
        nd_sigs = f"{nd_prefix}_sigs"
        nd_bands = f"{nd_prefix}_bands"
        nd_exists = (spark.catalog.tableExists(nd_sigs)
                     and spark.catalog.tableExists(nd_bands))

    # prepare runs the expensive plugin-UDF assessment ONCE per batch
    # (ResumableRun persists it); both sinks derive from that frame —
    # the round-1 version re-assessed in metrics_fn (ADVICE r1)
    def prepare(pages):
        if args.as_webpages or "url" not in pages.columns:
            pages = as_webpages(pages, inject_pii=args.inject_pii)
        bloom_path = args.seen_bloom_path
        if bloom_path and os.path.exists(
                os.path.join(bloom_path, "meta.json")):
            # approximate cross-run dedup: one map-only Arrow stage,
            # zero committed-side I/O (committed urls always drop;
            # ~fpp of novel urls over-drop — documented trade)
            from luzzu_spark.dedup import bloom_index_filter
            pages = bloom_index_filter(pages, bloom_path, "url")
        if seen is not None:
            # cross-run dedup: drop re-crawled urls BEFORE the UDF
            # stage pays for them; the committed (bucketed) side reads
            # shuffle-free — only this batch pays one Exchange. With
            # --seen-bloom, guaranteed-novel urls skip even that
            # Exchange (map-only Bloom prune; identical result)
            if args.seen_bloom:
                from luzzu_spark.dedup import seen_bloom_anti_join
                pages = seen_bloom_anti_join(pages, seen)
            else:
                pages = seen_anti_join(pages, seen)
        if nd_exists:
            # cross-run NEAR-dup dedup: docs near-duplicating the
            # committed MinHash index drop before the UDF stage, and
            # in-batch clusters prune to their head; both committed
            # index scans read bucket-aligned (tests/test_plans.py)
            from luzzu_spark.dedup import incremental_near_dup_filter
            pages = incremental_near_dup_filter(
                spark, pages, nd_sigs, nd_bands,
                threshold=args.neardup_threshold)
        para_bloom = args.paragraph_bloom_path
        if para_bloom and os.path.exists(
                os.path.join(para_bloom, "meta.json")):
            # cross-run PARAGRAPH scrub: committed paragraphs excise
            # and the text rebuilds BEFORE assessment, so the quality
            # rules score the deduplicated text (a fully-excised doc
            # rebuilds to '' and the length rules drop it). Runs after
            # the doc-level dedups — a doc those drop pays nothing
            from luzzu_spark.dedup import bloom_paragraph_filter
            pages = bloom_paragraph_filter(pages, para_bloom)
        return pipe.assess(pages)

    def transform(assessed):
        return pipe.filtered_from_assessed(assessed)

    def metrics(assessed):
        from luzzu_spark.metrics import partition_lineage
        return partition_lineage(assessed)

    corpus = read_corpus(spark, args.input, schema=schema, fmt=fmt)
    if args.as_webpages:
        as_webpages(corpus)   # raises on real crawl urls before any write
    n_noindex = None
    if args.drop_noindex:
        if "robots_noindex" not in corpus.columns:
            raise ValueError(
                "--drop-noindex needs a robots_noindex column — only "
                "the raw-WARC reader computes it (input format "
                f"{fmt!r} does not); ingest the crawl with "
                "--input-format warc or precompute the column")
        # funnel number for the run report, folded into the SAME
        # ingest pass as the input count (review r05: a separate
        # where().count() re-parsed the whole crawl); the actual drop
        # happens in the registered rule (counted per-batch in
        # drop_reasons too)
        row = corpus.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("robots_noindex").cast("long")).alias("nx")
        ).collect()[0]
        n_docs, n_noindex = row["n"], int(row["nx"] or 0)
    else:
        n_docs = corpus.count()
    result: dict = {}
    if args.bench:
        assessed = prepare(corpus)
        times = []
        for i in range(max(args.repeat, 2)):
            t0 = time.perf_counter()
            assessed.write.mode("overwrite").format("noop").save()
            times.append(time.perf_counter() - t0)
            print(f"# bench run {i}: {times[-1]:.2f}s", file=sys.stderr)
        sec = min(times[1:])      # run 0 is JIT/worker warm-up
        return {"sec": round(sec, 3), "n_docs": n_docs,
                "docs_per_sec": round(n_docs / sec, 1),
                "trials": [round(t, 2) for t in times],
                "master": spark.conf.get("spark.master")}
    for i in range(args.repeat):
        out = args.output if args.repeat == 1 else f"{args.output}/run{i}"
        run = ResumableRun(transform=transform, metrics_fn=metrics,
                           prepare=prepare, batch_size=args.batch_size,
                           fmt=fmt, schema=schema)
        t0 = time.perf_counter()
        summary = run.run(spark, args.input, out)
        sec = time.perf_counter() - t0
        result = {"run": i, "sec": round(sec, 3), "n_docs": n_docs,
                  "docs_per_sec": round(n_docs / sec, 1),
                  "batches": summary["planned"],
                  "complete": summary["complete"],
                  "master": spark.conf.get("spark.master")}
        if n_noindex is not None:
            result["noindex_flagged"] = n_noindex
        print(f"# run {i}: {result['docs_per_sec']} docs/sec "
              f"({sec:.1f}s, {summary['planned']} batches)",
              file=sys.stderr)
    if args.commit_bucket_table:
        # consolidate every committed batch into the url-bucketed
        # catalog table the NEXT run's --seen-table anti-join reads
        # shuffle-free (same layout as write_filtered(bucket_table=…):
        # bucketBy+sortBy url, content_hash for content-level dedup)
        bucket_path = args.bucket_path or os.path.join(
            args.output, "corpus_bucketed")
        kept = spark.read.parquet(ResumableRun.output_glob(args.output))
        (kept.withColumn("content_hash", F.xxhash64("text"))
         .write.mode("overwrite").option("path", bucket_path)
         .bucketBy(args.n_buckets, "url").sortBy("url")
         .saveAsTable(args.commit_bucket_table))
        result["bucket_table"] = args.commit_bucket_table
    if nd_prefix:
        from luzzu_spark.dedup import commit_minhash_index, next_epoch_id
        nd_path = args.neardup_path or os.path.join(
            args.output, "neardup_index")
        kept = spark.read.parquet(ResumableRun.output_glob(args.output))
        # every CLI run commits under its OWN epoch id (next integer
        # after the committed ones AND the recorded high-water mark —
        # partitions alone restart at 0 after an expire-all, which
        # would let a monotone retention cutoff expire fresh commits)
        # — without per-run ids, every daily append lands in the
        # shared epoch=-1 partition and --neardup-compact has nothing
        # to merge (review r05); a rerun of a failed commit picks the
        # same next id, keeping the append at-least-once like before
        epoch_id = next_epoch_id(spark, nd_sigs) if nd_exists else 0
        commit_minhash_index(kept, nd_sigs, nd_bands, nd_path,
                             n_buckets=args.n_buckets,
                             mode="append" if nd_exists else "overwrite",
                             epoch_id=epoch_id)
        result["neardup_index"] = nd_prefix
        result["neardup_mode"] = "append" if nd_exists else "create"
        result["neardup_epoch"] = epoch_id
        keep = args.neardup_compact
        expire = args.neardup_expire_before
        if keep is not None or expire is not None:
            from luzzu_spark.dedup import compact_minhash_index
            if expire is not None and expire > epoch_id:
                # a cutoff past this run's own commit would drop the
                # signatures we JUST wrote in the same invocation —
                # always an operator mistake, never a retention policy
                raise ValueError(
                    f"--neardup-expire-before {expire} would expire "
                    f"this run's own commit (epoch {epoch_id}); use a "
                    f"cutoff <= {epoch_id}")
            # expiry without --neardup-compact: keep every remaining
            # epoch uncompacted (2**31 exceeds any epoch count)
            result["neardup_compaction"] = compact_minhash_index(
                spark, nd_sigs, nd_bands,
                keep_epochs=keep if keep is not None else 2**31,
                expire_before=expire)
    if args.seen_bloom_path:
        from luzzu_spark.dedup import bloom_index_commit
        kept = spark.read.parquet(ResumableRun.output_glob(args.output))
        result["bloom_index"] = bloom_index_commit(
            kept, "url", args.seen_bloom_path,
            expected_items=args.bloom_expected, shards=args.bloom_shards)
    if args.paragraph_bloom_path:
        from luzzu_spark.dedup import bloom_paragraph_commit
        kept = spark.read.parquet(ResumableRun.output_glob(args.output))
        result["paragraph_bloom_index"] = bloom_paragraph_commit(
            kept, args.paragraph_bloom_path,
            expected_items=args.bloom_expected, shards=args.bloom_shards)
    return result


def main() -> None:
    args = build_parser().parse_args()
    from luzzu_spark.session import get_spark
    spark = get_spark("luzzu_spark_filter", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    result = run_job(spark, args)
    if args.json:
        print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
