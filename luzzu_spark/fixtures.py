"""Fixture table loaders + the north-rule web-page input table.

The pipeline's declared input shape (BASELINE.json:15) is
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.
The driver fixtures ship a ``documents`` table instead
(doc_id, text, lang, source, n_chars — FIXTURES.md); ``as_webpages``
derives the declared shape deterministically (pure functions of doc_id,
seed-free), so tests/benches at any SF synthesize the same corpus.

At production scale the same schema arrives as an Iceberg table; the
loaders here prefer ``spark.read.format(fmt)`` so an Iceberg catalog path
drops in without code changes (SURVEY.md §2.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def spread(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Ensure at least core-count partitions before compute-heavy stages.

    A single small parquet file (one row group) scans as ONE partition,
    which serializes every downstream per-row stage onto one core — at
    fixture scale that turned the whole document pipeline single-threaded.
    At production scale the input arrives as thousands of splits, the
    partition count already exceeds parallelism, and this is a no-op (no
    shuffle added). Only under-parallel inputs pay the one round-robin
    shuffle, whose cost is proportional to the (small) input.

    Streaming frames pass through unchanged: repartition-by-number is
    not valid pre-aggregation in a stream, and micro-batch file splits
    already set parallelism (each foreachBatch micro-batch is a static
    frame and is spread like any other batch)."""
    if df.isStreaming:
        return df
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet at fixture scale; an
    ``iceberg://db.table``-style path would switch to a catalog read."""
    if name not in TABLES:
        raise KeyError(f"unknown fixture table: {name}")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# North-rule input synthesis (FIXTURES.md "North-rule input table")
# ---------------------------------------------------------------------------

def as_webpages(docs: DataFrame, inject_pii: bool = False) -> DataFrame:
    """documents → Common-Crawl-style page table, deterministically.

    url     = https://{source}.example.com/doc/{doc_id}
    warc_ts = 2024-01-01T00:00:00Z + doc_id minutes
    html    = utf8('<html><body>' || text || '</body></html>')
    text, lang pass through.  Keeps ``doc_id``/``source`` as lineage
    convenience columns (droppable; not part of the declared five).

    With ``inject_pii`` a deterministic subset of rows (doc_id % k) gets
    seeded emails/phones/IPs/SSNs appended — the scrub-pass test corpus.

    Raises ValueError when ``docs`` already has a ``url`` column: this
    synthesizes url/warc_ts/html from doc_id and drops every other
    column, so applying it to real crawl pages would silently overwrite
    their urls with example.com synthetics and lose robots_noindex.
    """
    if "url" in docs.columns:
        raise ValueError(
            "as_webpages on an input that already has a url column: it "
            "synthesizes fixture pages and would overwrite the real "
            "crawl columns — drop --as-webpages")
    text = F.col("text")
    if inject_pii:
        text = F.concat(text, pii_suffix_expr())
    return docs.select(
        F.concat(F.lit("https://"), F.col("source"),
                 F.lit(".example.com/doc/"), F.col("doc_id").cast("string")
                 ).alias("url"),
        # pmod bounds the interval arg to INT range: identical for every
        # fixture/replicated id (all < 2^31) and overflow-safe under
        # ANSI if someone feeds full-range hash ids (which they should
        # not — real corpora carry real timestamps; see sources.read_wet)
        (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
         + F.make_dt_interval(mins=F.pmod(F.col("doc_id"),
                                          F.lit(2147483647)).cast("int"))
         ).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body>"), text,
                          F.lit("</body></html>")), "UTF-8").alias("html"),
        text.alias("text"),
        F.col("lang"),
        F.col("doc_id"),
        F.col("source"),
    )


def pii_suffix_expr():
    """Deterministic PII suffix as a function of doc_id (no randomness).

    doc_id % 7 == 0 → email;  % 7 == 1 → phone;  % 7 == 2 → IPv4;
    % 7 == 3 → SSN;  else empty.  Mirrored exactly by the pandas oracle
    (oracle_pandas.pii_suffix).
    """
    d = F.col("doc_id")
    m = d % 7
    return (
        F.when(m == 0, F.concat(F.lit(" contact user"), d.cast("string"),
                                F.lit("@example.com for details")))
        .when(m == 1, F.concat(F.lit(" call 555-"),
                               F.lpad((d % 10000).cast("string"), 4, "0"),
                               F.lit(" x"), (d % 100).cast("string")))
        .when(m == 2, F.concat(F.lit(" served from 10."),
                               (d % 256).cast("string"), F.lit(".0."),
                               ((d * 7) % 256).cast("string")))
        .when(m == 3, F.concat(F.lit(" ssn 123-45-"),
                               F.lpad((d % 10000).cast("string"), 4, "0")))
        .otherwise(F.lit(""))
    )
