"""The flagship quality-filter pipeline — Luzzu's assessment run, recast.

Luzzu lifecycle (reconstructed, SURVEY.md §3.1): stream quads → fan out
to registered metric folds → emit daQ metadata + QPRO problems + ranking.
New lifecycle (one lazy DataFrame, Catalyst optimizes end-to-end):

  scan → project(rule deps ∪ lineage) → token columns
       → declarative scores (whole-stage codegen)
       → plugin scores (ONE fused Arrow-batched bundle UDF)
       → verdict (drop_reasons / rule_scores / keep)
       → scrub chain (regexp_replace, codegen)
       → forks: filtered corpus, metrics aggregates, problem report

Scale design (10^12 docs): the pre-UDF projection keeps Arrow traffic
to the text column + keys; `salted_repartition` spreads skewed url-hosts
before the UDF stage; outputs partition by lang and bucket by
xxhash64(url). No collect() anywhere — every artifact is a DataFrame.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from luzzu_spark.rules.heuristics import with_token_columns
from luzzu_spark.rules.registry import (RuleRegistry, default_registry,
                                        with_sql_columns)
from luzzu_spark.rules.scrub import with_scrub

LINEAGE_COLS = ("url", "lang", "doc_id", "source", "warc_ts")


def host_expr(url_col: str = "url") -> F.Column:
    return F.parse_url(F.col(url_col), F.lit("HOST"))


def with_plugin_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach all three plugin-rule scores (langid, perplexity, 13-gram
    repetition) via ONE bundle UDF call.

    Chaining the per-rule helpers (with_langid → with_perplexity → …)
    puts a struct-extraction projection between the UDFs, which blocks
    ExtractPythonUDFs from merging them — the plan then carries THREE
    ArrowEvalPython nodes, serializing the text column across the
    JVM↔Python boundary three times per batch. The bundle goes further
    than three fused-but-separate UDFs: one Arrow transfer of text AND
    one shared tokenization feeding langid + repetition inside Python
    (rules/plugins.py). Values are identical to the standalone UDFs."""
    from luzzu_spark.rules.plugins import plugin_bundle_udf
    df = df.withColumn("_pb", plugin_bundle_udf(F.col(text_col)))
    return with_sql_columns(df, {
        "lang_pred": "_pb.lang_pred",
        "score_langid_conf": "_pb.lang_conf",
        "score_perplexity": "_pb.ppl",
        "score_dup_ngram_frac": "_pb.dup13"}).drop("_pb")


def salted_repartition(df: DataFrame, num_partitions: int | None = None,
                       salt_buckets: int = 16,
                       url_col: str = "url") -> DataFrame:
    """Spread skewed hosts: partition by (xxhash64(host), salt).

    At web scale a handful of hosts dominate (BASELINE.json:6); hashing
    host alone would send a mega-host to one task. The salt splits each
    host across `salt_buckets` partitions while keeping co-locality good
    enough for per-host stats (which re-aggregate anyway).
    """
    salt = F.pmod(F.xxhash64(url_col), F.lit(salt_buckets))
    keys = [F.xxhash64(host_expr(url_col)), salt]
    return (df.repartition(num_partitions, *keys) if num_partitions
            else df.repartition(*keys))


@dataclass
class QualityPipeline:
    """Build once, apply to any web-page DataFrame."""

    registry: RuleRegistry = field(default_factory=default_registry)
    # OPT-IN C4 line-level scrub BEFORE assessment (Raffel et al.
    # order: line filtering, then doc-level rules). Off by default —
    # the frozen RULESPEC byte-identity contract assumes raw text.
    line_scrub: bool = False
    # > 0: salted host repartitioning over this many salt buckets (for
    # skewed prod inputs); 0 lifts under-parallel inputs to core count
    salt_buckets: int = 0

    def assess(self, pages: DataFrame) -> DataFrame:
        """Full per-row assessment: scores, verdict, scrubbed text."""
        from luzzu_spark.fixtures import spread
        deps = self.registry.deps()
        keep_cols = [c for c in pages.columns
                     if c in deps or c in LINEAGE_COLS]
        df = pages.select(*keep_cols)
        if self.salt_buckets > 0 and "url" in df.columns:
            df = salted_repartition(df, salt_buckets=self.salt_buckets)
        else:
            df = spread(df)
        if self.line_scrub:
            from luzzu_spark.rules.scrub import c4_line_scrub_expr
            df = df.withColumn("text", c4_line_scrub_expr("text"))
        df = with_token_columns(df)
        df = self.registry.with_scores(df)
        df = with_plugin_scores(df)  # ONE fused ArrowEvalPython stage
        df = self.registry.with_late_scores(df)  # may read lang_pred
        df = with_scrub(self.registry.with_verdict(df))
        # drop the token array (wide); keep the scalar stats
        # (n_chars/n_tokens) — cheap lineage
        return df.drop("tokens")

    def filtered(self, pages: DataFrame) -> DataFrame:
        """The kept, scrubbed corpus (the training-data output)."""
        return self.filtered_from_assessed(self.assess(pages))

    def filtered_from_assessed(self, assessed: DataFrame) -> DataFrame:
        """Project the kept corpus out of an already-assessed frame —
        callers holding a persisted assessment (ResumableRun's prepare
        stage, write_reports) derive the filtered output AND the
        metric sinks from one UDF pass instead of re-scoring."""
        out = assessed.filter(F.col("keep"))
        cols = [c for c in ("url", "warc_ts", "lang", "lang_pred",
                            "doc_id", "source") if c in out.columns]
        return out.select(*cols, F.col("text_scrubbed").alias("text"),
                          "rule_scores")

    def problem_report(self, assessed: DataFrame) -> DataFrame:
        """QPRO recast (/root/reference/README.md:9): one row per
        (document, fired rule) with the rule's score."""
        key = "url" if "url" in assessed.columns else "doc_id"
        return (assessed
                .filter(F.size("drop_reasons") > 0)
                .select(key, F.explode("drop_reasons").alias("rule"),
                        "rule_scores")
                .withColumn("score", F.col("rule_scores")[F.col("rule")])
                .drop("rule_scores"))

    def write_filtered(self, pages: DataFrame, path: str,
                       lang_partitioned: bool = True,
                       bucket_table: str | None = None,
                       n_buckets: int = 16, fmt: str = "parquet") -> None:
        """Corpus sink: partition by lang (partition pruning for
        downstream per-language training reads); parquet here, Iceberg
        `writeTo(...).append()` in catalog deployments.

        bucket_table: when set, the corpus is ALSO bucketed+sorted by
        url (SURVEY.md §2.1) and registered as a catalog table at
        `path` — the layout the cross-run seen-set dedup depends on: a
        later batch's anti-join against the committed corpus reads the
        bucketed side shuffle-free (only the new batch shuffles; the
        10^12-row corpus never moves — see seen_anti_join and
        tests/test_plans.py). A content_hash column rides along so the
        same layout serves content-level dedup.

        fmt: 'parquet' (default) or 'json' (JSON-lines — the interchange
        format most training stacks ingest; binary columns like html
        are dropped first, they don't round-trip through JSON). The
        bucketed-table mode is parquet-only (bucketBy is a table
        layout)."""
        out = self.filtered(pages).withColumn(
            "content_hash", F.xxhash64("text"))
        if fmt not in ("parquet", "json"):
            raise ValueError(f"unsupported corpus sink format: {fmt!r}")
        if fmt == "json":
            binary_cols = [f.name for f in out.schema.fields
                           if f.dataType.simpleString() == "binary"
                           and f.name != "content_hash"]
            out = out.drop(*binary_cols)
        writer = out.write.mode("overwrite")
        if lang_partitioned and "lang" in out.columns:
            writer = writer.partitionBy("lang")
        if bucket_table is not None:
            if fmt != "parquet":
                raise ValueError("bucket_table mode is parquet-only")
            (writer.option("path", path)
             .bucketBy(n_buckets, "url").sortBy("url")
             .saveAsTable(bucket_table))
        else:
            writer.format(fmt).save(path)

    def write_reports(self, assessed: DataFrame, path: str,
                      run_id: str) -> None:
        """Quality-metadata sinks — the daQ graph + QPRO report persisted
        queryably (/root/reference/README.md:8-9 recast): under `path`,
        partitioned by run_id so successive assessment runs append
        side-by-side and prune on read:

          observations/  per-metric daQ observations (category →
                         dimension → metric → value stats)
          lineage/       per-partition keep/drop counts + id ranges
          problems/      per-(doc, fired rule) problem rows

        One persisted assessment feeds all three (never recompute the
        UDF stage per sink). The persist PROJECTS to the metric
        columns first — none of the three sinks reads text, so the
        cache holds (keys, verdict, scores) at ~100 bytes/doc instead
        of the corpus body. Measured at fixture scale the two forms
        tie (job overhead dominates 100k short docs); the projection
        is about cache FOOTPRINT at web scale, where materializing
        the text column per report run would evict real work."""
        from luzzu_spark.metrics import observations, partition_lineage
        slim_cols = [c for c in ("url", "doc_id", "source", "lang",
                                 "keep", "drop_reasons", "rule_scores")
                     if c in assessed.columns]
        slim = assessed.select(*slim_cols).persist()
        try:
            for name, df in (
                    ("observations", observations(slim)),
                    ("lineage", partition_lineage(slim)),
                    ("problems", self.problem_report(slim))):
                # dynamic overwrite of this run_id's partition only: a
                # retried report run (crash between the three sinks)
                # REWRITES its own rows instead of appending duplicate
                # metric rows that double-count every downstream
                # aggregate (review r05; same replay discipline as
                # write_epoch_idempotent)
                (df.withColumn("run_id", F.lit(run_id))
                   .write.mode("overwrite")
                   .option("partitionOverwriteMode", "dynamic")
                   .partitionBy("run_id")
                   .parquet(f"{path}/{name}"))
        finally:
            slim.unpersist()
