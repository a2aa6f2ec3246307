#!/usr/bin/env python
"""One-command training-corpus builder — the end-to-end composition of
the library's stages into the pipeline an LLM data team actually runs:

    spark-submit --py-files dist/luzzu_spark.zip scripts/build_corpus.py \
        --input /data/webpages --output /data/corpus \
        [--bench-input /data/eval_docs] [--sample-rate 0.5] \
        [--neardup-threshold 0.5] [--pack-budget 2048] [--format json]

Stages (each one a library primitive, all deterministic — two runs on
the same input produce byte-identical corpora):

1. quality filter  — QualityPipeline (langid/perplexity/heuristics/
                     scrub); drops low-quality docs, scrubs PII.
2. exact dedup     — first-wins on content hash (dedup.exact_dedup).
3. near-dup dedup  — MinHash+LSH candidates → exact connected
                     components (a numpy union-find per edge partition;
                     Spark rounds only over roots partitions share);
                     survivor = lowest id (default) or the longest
                     member (--survivor-policy quality).
3a. semantic dedup — optional (--dedup-semantic <embeddings.parquet>):
                     SemDeDup-style cosine-near-duplicate clusters over
                     document embeddings keep only the longest member
                     (dedup.semantic_dedup_survivors) — catches
                     paraphrases/re-renders MinHash misses.
3b. paragraph scrub — optional (--dedup-paragraphs): excise paragraphs
                     appearing in >=2 distinct docs, keep the
                     globally-first instance (RefinedWeb/MassiveText;
                     dedup.remove_cross_doc_paragraphs).
3c. span removal   — optional (--dedup-spans): excise cross-document
                     duplicated token ranges (Lee et al.
                     exact-substring removal, dedup.remove_dup_spans).
4. decontaminate   — drop docs sharing any 13-gram with the benchmark
                     set, if given: one vectorized flag pass against
                     the broadcast bench gram hashes
                     (dedup.benchmark_decontaminate).
5. hash-sample     — reshard-invariant content-hash sampling at
                     --sample-rate (the exact dyadic md5 uniform; same
                     doc → same split on any cluster, forever).
6. pack            — contiguous token-budget packing: every doc gets a
                     seq_id = <source>#<bin> so a training loader can
                     group documents into fixed-budget sequences.
7. sink            — parquet (default) or JSON-lines.

Prints one JSON line with per-stage row counts (the corpus-hygiene
funnel) — the numbers a data team reports next to every corpus drop.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--master", default=None,
                   help="override; else inherit spark-submit's --master, "
                   "or local[<cpus>] when run with python")
    p.add_argument("--as-webpages", action="store_true")
    p.add_argument("--inject-pii", action="store_true")
    p.add_argument("--bench-input", default=None,
                   help="parquet of benchmark/eval docs (needs a text "
                        "column); training docs sharing any 13-gram "
                        "are dropped")
    p.add_argument("--neardup-threshold", type=float, default=0.5)
    p.add_argument("--line-scrub", action="store_true",
                   help="run the C4 line-level scrub before assessment "
                        "(QualityPipeline(line_scrub=True)). C4's rule "
                        "keeps ONLY terminal-punctuated lines of >=3 "
                        "words - prose without sentence punctuation "
                        "(e.g. the synthetic fixtures) scrubs to empty "
                        "and then drops at the min-chars rule")
    p.add_argument("--dedup-spans", action="store_true",
                   help="excise cross-document duplicated token "
                        "ranges (Lee et al. exact-substring removal) "
                        "after near-dup dedup; docs that LOSE a range "
                        "are rebuilt as a single-space token rejoin "
                        "(their original whitespace/newlines are not "
                        "reconstructable around the cut) — untouched "
                        "docs keep their text verbatim; "
                        "fully-duplicated docs empty out and fall to "
                        "the min-chars rule on the next run")
    p.add_argument("--span-mode", choices=["token", "char"],
                   default="token",
                   help="--dedup-spans rebuild semantics: 'token' — "
                        "docs losing a range come back as the "
                        "single-space token rejoin; 'char' — the "
                        "duplicated range is excised as a CHARACTER "
                        "range, so newlines/tabs/paragraph breaks "
                        "outside the cut survive byte-for-byte on "
                        "touched docs (both flanking whitespace runs "
                        "are kept)")
    p.add_argument("--dedup-paragraphs", action="store_true",
                   help="excise paragraphs appearing in >=2 distinct "
                        "documents, keeping the globally-first "
                        "instance (RefinedWeb/MassiveText scrub, "
                        "dedup.remove_cross_doc_paragraphs); docs "
                        "losing nothing rebuild byte-identically")
    p.add_argument("--drop-noindex", action="store_true",
                   help="drop pages whose markup opts out of indexing "
                        "(meta robots noindex / X-Robots-Tag header); "
                        "needs the robots_noindex column the raw-WARC "
                        "reader computes — the drop is a quality rule, "
                        "funnel-counted under noindex_flagged")
    p.add_argument("--dedup-semantic", default=None,
                   help="parquet of document embeddings (vec_id = "
                        "doc_id, embedding array<float>); docs whose "
                        "embeddings are cosine-near-duplicates at "
                        "--semantic-threshold cluster and keep only "
                        "the longest text per cluster (SemDeDup — "
                        "catches paraphrases/re-renders that share "
                        "few shingles); docs without an embedding "
                        "row pass through")
    p.add_argument("--semantic-threshold", type=float, default=0.95)
    p.add_argument("--survivor-policy", choices=["first", "quality"],
                   default="first",
                   help="near-dup survivor: 'first' keeps the lowest "
                        "doc_id per cluster; 'quality' keeps the "
                        "longest scrubbed text (ties -> lowest id)")
    p.add_argument("--sample-rate", type=float, default=1.0,
                   help="content-hash sampling fraction in [0,1]")
    p.add_argument("--pack-budget", type=int, default=2048,
                   help="tokens per training sequence (0 disables "
                        "seq_id assignment)")
    p.add_argument("--pack-tokenizer", choices=["whitespace", "bpe"],
                   default="whitespace",
                   help="token-count the packer budgets against: "
                        "'whitespace' words, or 'bpe' — the BPE "
                        "pre-tokenizer count (the budget real "
                        "training uses; whitespace undercounts "
                        "punctuation-heavy web text 20-40%%)")
    p.add_argument("--format", default="parquet",
                   choices=["parquet", "json"])
    p.add_argument("--json", action="store_true")
    return p


def assign_seq_ids(docs: DataFrame, budget: int,
                   id_col: str = "doc_id",
                   tokenizer: str = "whitespace") -> DataFrame:
    """seq_id = <source>#<bin> via contiguous token-budget packing in
    deterministic doc_id order per source (the pack_token_sequences /
    pack_bpe_sequences semantics, materialized per doc); the narrow
    seq_id frame joins back on the well-distributed id.
    tokenizer: 'whitespace' words or 'bpe' (the pre-tokenizer count
    real training budgets against)."""
    from luzzu_spark.queries_web import pack_offsets, pack_token_count
    seq = (pack_offsets(docs, pack_token_count(tokenizer), id_col)
           .select(id_col, "n_toks",
                   F.concat_ws("#", "source",
                               F.expr(f"cum_before DIV {budget}"))
                   .alias("seq_id")))
    return docs.join(seq, id_col)


def build(spark: SparkSession, args: argparse.Namespace) -> dict:
    # a partial ``args`` is fine: every option it lacks takes the
    # parser's default
    args = build_parser().parse_args(
        ["--input", args.input, "--output", args.output],
        namespace=argparse.Namespace(**vars(args)))
    from luzzu_spark import dedup
    from luzzu_spark.fixtures import as_webpages
    from luzzu_spark.pipeline import QualityPipeline
    from luzzu_spark.sources import (DOCUMENTS_SCHEMA, read_corpus,
                                     sniff_format)

    funnel: dict = {}
    fmt = sniff_format(args.input)
    # json/csv need a declared schema (review r05: read_corpus raises
    # without one — same fallback run_filter.py uses)
    schema = DOCUMENTS_SCHEMA if fmt in ("json", "csv") else None
    pages = read_corpus(spark, args.input, fmt=fmt, schema=schema)
    if args.as_webpages or "url" not in pages.columns:
        pages = as_webpages(pages, inject_pii=args.inject_pii)

    pipe_kwargs: dict = {"line_scrub": args.line_scrub}
    if args.drop_noindex:
        if "robots_noindex" not in pages.columns:
            raise ValueError(
                "--drop-noindex needs a robots_noindex column — only "
                "the raw-WARC reader computes it; ingest a .warc crawl "
                "or precompute the column")
        from luzzu_spark.rules.registry import (extended_registry,
                                                robots_noindex_rule)
        pipe_kwargs["registry"] = extended_registry(robots_noindex_rule())
        # one ingest pass for both funnel numbers (review r05)
        row = pages.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("robots_noindex").cast("long")).alias("nx")
        ).collect()[0]
        funnel["input"] = row["n"]
        funnel["noindex_flagged"] = int(row["nx"] or 0)
    else:
        funnel["input"] = pages.count()

    # persist discipline: every funnel count below is an action, and
    # without pinning each one re-runs the full upstream DAG — the
    # Arrow-UDF assessment (the single most expensive stage) would
    # execute once PER COUNT. Pin the assessment output; the exact-dedup
    # output (else its semi-join is planned again by the signature pass
    # and the near-dup anti-join); the post-near-dup frame (the
    # expensive join stage); and the decontaminated frame (else its
    # flag pass reruns for the sampling count, the pack window and the
    # final pin). A pinned frame is counted before its next reader, so
    # fixtures.spread reads its partition count from the filled cache.
    # Unpersist everything before returning.
    pinned: list = []

    def pin(df):
        df.persist()
        pinned.append(df)
        return df

    kept = pin(QualityPipeline(**pipe_kwargs).filtered(pages))
    funnel["quality_kept"] = kept.count()

    kept = pin(dedup.exact_dedup(kept))
    funnel["after_exact_dedup"] = kept.count()

    if args.survivor_policy == "quality":
        pairs = dedup.minhash_dedup_pairs(kept, args.neardup_threshold)
        kept = dedup.cluster_survivors_by_quality(
            kept.withColumn("_q", F.length("text")), pairs,
            "_q").drop("_q")
    else:
        kept = dedup.near_dup_survivors(kept, args.neardup_threshold)
    kept = pin(kept)
    funnel["after_near_dedup"] = kept.count()

    if args.dedup_semantic:
        emb = spark.read.parquet(args.dedup_semantic)
        kept = dedup.semantic_dedup_survivors(
            kept.withColumn("_q", F.length("text")), emb,
            threshold=args.semantic_threshold,
            score_col="_q").drop("_q")
        funnel["after_semantic_dedup"] = kept.count()

    if args.dedup_paragraphs:
        kept = dedup.remove_cross_doc_paragraphs(kept)
        # paragraph excision rewrites text, not rows — report the
        # surviving text volume so the funnel shows what it removed
        funnel["chars_after_para_dedup"] = kept.agg(
            F.sum(F.length("text")).cast("long")).collect()[0][0]

    if args.dedup_spans:
        kept = dedup.remove_dup_spans(
            kept, char_offsets=args.span_mode == "char")
        funnel["after_span_removal"] = kept.count()

    if args.bench_input:
        bench = spark.read.parquet(args.bench_input)
        kept = pin(dedup.benchmark_decontaminate(kept, bench))
        funnel["after_decontamination"] = kept.count()

    if args.sample_rate < 1.0:
        from luzzu_spark.queries_text import stable_uniform_expr
        kept = kept.where(stable_uniform_expr() < F.lit(args.sample_rate))
        funnel["after_sampling"] = kept.count()

    if args.pack_budget > 0:
        kept = assign_seq_ids(kept, args.pack_budget,
                              tokenizer=args.pack_tokenizer)
    # pin the final frame: n_sequences, the datasheet agg, the sink
    # write and the written count all act on it
    if pinned[-1] is not kept:
        kept = pin(kept)
    if args.pack_budget > 0:
        funnel["n_sequences"] = kept.select("seq_id").distinct().count()

    # dataset-card row (corpus_datasheet semantics) for the release
    from luzzu_spark.rules.heuristics import tokens_expr
    card = kept.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens_expr("text")).cast("long"))
        .alias("total_tokens"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources")).first()
    funnel["datasheet"] = {k: (int(v) if v is not None else 0)
                           for k, v in card.asDict().items()}

    writer = kept.write.mode("overwrite")
    if args.format == "json":
        binary_cols = [f.name for f in kept.schema.fields
                       if f.dataType.simpleString() == "binary"]
        writer = kept.drop(*binary_cols).write.mode("overwrite")
    writer.format(args.format).save(args.output)
    if args.format == "parquet":
        # self-describing: the read-back verifies the sink
        funnel["written"] = spark.read.parquet(args.output).count()
    else:
        # json re-read needs schema inference, which RAISES on an
        # empty-but-successful output (review r05) — count the pinned
        # frame that was written instead
        funnel["written"] = kept.count()
    for df in pinned:
        df.unpersist()
    return funnel


def main() -> None:
    args = build_parser().parse_args()
    from luzzu_spark.session import get_spark
    spark = get_spark("luzzu_spark_build_corpus", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    funnel = build(spark, args)
    if args.json:
        print(json.dumps(funnel))
    else:
        for k, v in funnel.items():
            print(f"# {k}: {v}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
