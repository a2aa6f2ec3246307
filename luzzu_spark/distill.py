"""Quality-classifier distillation: compress an expensive rule stack
into a cheap linear scorer, trained INSIDE the engine.

The production pattern (public: DCLM, FineWeb-Edu): run the full
expensive filter on a slice, use its verdicts as teacher labels, fit a
fast student model on cheap features, then score the whole corpus with
the student at a fraction of the cost. Here the student is ridge
regression on hashed bag-of-words counts, and — the Spark-first part —
training is expressed as exact integer aggregations the optimizer
fully distributes:

* **Features**: each token hashes to one of 256 buckets
  (`substr(md5(token), 1, 2)` — a string key both engines share);
  per-doc feature vector = exact bucket counts, built by
  explode → hash-agg (map-side partials; token text never shuffles
  past them).
* **Gram accumulation is a self-join, not a collect.** XᵀX(i,j) =
  Σ_docs cnt_i·cnt_j — the per-doc sparse count frame self-joined on
  doc_id and hash-aggregated on (bh_i, bh_j). Per-task partial
  aggregation collapses the nnz² blowup into ≤ 256² running sums
  before anything shuffles, so the exchange carries at most 65k rows
  regardless of corpus size — the treeAggregate shape, in pure
  Catalyst, with exact BIGINT entries (oracle-checkable:
  `distill_gram_stats`).
* **The solve is the only driver step.** (XᵀX + λI) w = Xᵀy over
  collected aggregates: ≤ 65k + 256 rows (~2 MB, bounded by the
  feature width, not the corpus), then one deterministic
  numpy `solve`.
* **Scoring is a broadcast join.** The 256-row weight table joins the
  per-doc sparse counts; score = Σ cnt·w per doc — no UDF at all in
  the scoring path.

Determinism: features, aggregation, and the pinned-λ solve are all
fixed functions of the input; numpy's LAPACK solve is bit-stable for a
given matrix, and the agreement contract (tests/test_distill.py) is
pinned on thresholded predictions, not raw floats.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_BUCKETS = 256
RIDGE_LAMBDA = 1.0

# teacher: a deliberately SQL-expressible slice of the rule stack
# (length + stop-word-fraction), so the whole distillation loop — not
# just the student — can be replayed cross-engine when needed
_STOPWORDS = ("the", "and", "is", "of", "to", "in", "a", "it",
              "that", "for")


def teacher_label_expr(toks: F.Column) -> F.Column:
    """1 if the doc passes (n_tokens >= 30 AND stopword_frac >= 0.05),
    else 0 — integer cross-multiplied, zero-token safe (0 tokens →
    fails the length arm, never divides)."""
    n = F.size(toks)
    stop = F.size(F.filter(toks, lambda w: w.isin(*_STOPWORDS)))
    return ((n >= 30) & (stop * 20 >= n)).cast("long")


def doc_features(docs: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(doc_id, label, bh, cnt): per-doc sparse hashed-bag-of-words.

    The label rides along from the same tokenization (one pass). The
    HOFs here run once per doc in a projection — the accepted
    oracle-parity trade (cf. text_top_ngram_coverage), never inside a
    join or filter."""
    from luzzu_spark.rules.heuristics import tokens_expr
    t = docs.select(F.col(id_col).alias("doc_id"),
                    tokens_expr(text_col).alias("toks"))
    t = t.select("doc_id", teacher_label_expr(F.col("toks")).alias("y"),
                 F.explode("toks").alias("w"))
    return (t.select("doc_id", "y",
                     F.substring(F.md5("w"), 1, 2).alias("bh"))
            .groupBy("doc_id", "y", "bh")
            .agg(F.count(F.lit(1)).alias("cnt")))


def gram_frame(feats: DataFrame) -> DataFrame:
    """Exact XᵀX as a DataFrame: (bh_i, bh_j, g) BIGINT sums.

    Self-join per doc_id; partial aggregation bounds the shuffle at
    256² rows independent of corpus size."""
    a = feats.select("doc_id", F.col("bh").alias("bh_i"),
                     F.col("cnt").alias("ci"))
    b = feats.select("doc_id", F.col("bh").alias("bh_j"),
                     F.col("cnt").alias("cj"))
    return (a.join(b, "doc_id")
            .groupBy("bh_i", "bh_j")
            .agg(F.sum(F.col("ci") * F.col("cj")).alias("g")))


def xty_frame(feats: DataFrame) -> DataFrame:
    """Exact Xᵀy: (bh, v) BIGINT sums."""
    return (feats.groupBy("bh")
            .agg(F.sum(F.col("cnt") * F.col("y")).alias("v")))


def _bucket_index(bh: str) -> int:
    return int(bh, 16)


def train_student(feats: DataFrame,
                  lam: float = RIDGE_LAMBDA) -> np.ndarray:
    """Collect the bounded aggregates, solve ridge on the driver.

    Driver payload: ≤ 256² Gram rows + 256 XtY rows (~2 MB) — the
    corpus itself never leaves the executors."""
    A = np.zeros((N_BUCKETS, N_BUCKETS))
    for r in gram_frame(feats).collect():
        A[_bucket_index(r["bh_i"]), _bucket_index(r["bh_j"])] = r["g"]
    b = np.zeros(N_BUCKETS)
    for r in xty_frame(feats).collect():
        b[_bucket_index(r["bh"])] = r["v"]
    return np.linalg.solve(A + lam * np.eye(N_BUCKETS), b)


def student_scores(feats: DataFrame, w: np.ndarray,
                   spark=None) -> DataFrame:
    """(doc_id, y, score, y_hat): student predictions via a broadcast
    weight-table join — the whole scoring path is Catalyst exprs."""
    from pyspark.sql import SparkSession
    spark = spark or SparkSession.getActiveSession()
    wt = spark.createDataFrame(
        [(format(i, "02x"), float(w[i])) for i in range(N_BUCKETS)],
        "bh string, w double")
    return (feats.join(F.broadcast(wt), "bh")
            .groupBy("doc_id", "y")
            .agg(F.sum(F.col("cnt") * F.col("w")).alias("score"))
            .withColumn("y_hat",
                        (F.col("score") > 0.5).cast("long")))


def distill(docs: DataFrame, lam: float = RIDGE_LAMBDA) -> DataFrame:
    """Full loop: featurize → distributed Gram/XtY → driver ridge
    solve → broadcast scoring. Returns per-doc
    (doc_id, y, score, y_hat).

    The feature frame is persisted for the TRAINING consumers only
    (both sides of the Gram self-join + XtY — three forks whose
    collects materialize the cache; without it the corpus
    tokenize/explode/agg re-executes per consumer, measured
    14.2 s → 2.3 s warm at sf0.1) and unpersisted as soon as the
    driver solve is done (ADVICE r03: the cache must not stay pinned
    for the rest of the session). The returned scoring frame rebuilds
    its features lazily in ONE streaming pass — no cache needed for a
    single consumer, and at 100 TB the scoring pass should not expect
    the corpus to fit in executor storage anyway."""
    feats = doc_features(docs).persist()
    w = train_student(feats, lam)   # collects ⇒ cache fully consumed
    feats.unpersist()
    scored = student_scores(doc_features(docs), w)
    # zero-token docs have no feature rows (explode emits nothing), so
    # they vanish from the scored frame — re-attach them with the
    # values the math gives a zero-feature doc anyway (teacher label 0,
    # score 0.0, ŷ 0), keeping the documented per-doc contract
    # row-complete (review r05)
    return (docs.select("doc_id")
            .join(scored, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("y", F.lit(0)).cast("long").alias("y"),
                    F.coalesce("score", F.lit(0.0)).alias("score"),
                    F.coalesce("y_hat", F.lit(0)).cast("long")
                     .alias("y_hat")))
