"""Embedding similarity: brute-force cosine top-k and LSH-blocked
near-duplicate pairs.

Top-k: broadcast the (small) query set, score candidates with a
vectorized Arrow pandas UDF (one numpy batch product per Arrow batch),
rank per query with a window. Near-dup pairs: random-hyperplane LSH
buckets block the self-join, so only same-bucket pairs are scored
(same blocking idea as dedup.lsh_candidate_pairs).

Round-1 scored candidates with Catalyst higher-order array functions
(aggregate/zip_with folds); those are CodegenFallback — interpreted,
boxed, per element (CLAUDE.md rule 1) — so the cosine now runs as a
Series→Series pandas UDF: the two vectors cross the JVM↔Python boundary
once per candidate pair and the whole Arrow batch scores in two numpy
elementwise passes. Plane projections for bucketing are one (n,d)@(d,p)
matmul per batch against a deterministic splitmix64-derived plane
matrix (no stored model, identical on every executor).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType

# Fixed hyperplane count for LSH bucketing (no RNG at run time).
LSH_PLANES = 8


def _splitmix64_vec(x: np.ndarray) -> np.ndarray:
    x = (x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15))
    z = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


# per-worker plane-matrix cache: lazy module global (models/constants
# initialize once per Python worker, CLAUDE.md rule 2)
_PLANE_CACHE: dict[tuple[int, int], np.ndarray] = {}


def _plane_matrix(dim: int, planes: int) -> np.ndarray:
    """(dim, planes) weights in [-1, 1): splitmix64(j*planes + p)
    scaled — deterministic, derivable anywhere, no stored model."""
    key = (dim, planes)
    m = _PLANE_CACHE.get(key)
    if m is None:
        idx = np.arange(dim * planes, dtype=np.uint64)
        with np.errstate(over="ignore"):
            h = _splitmix64_vec(idx)
        m = ((h % np.uint64(2000)).astype(np.float64) - 1000.0) / 1000.0
        m = m.reshape(dim, planes)
        _PLANE_CACHE[key] = m
    return m


def _mat(series: pd.Series) -> np.ndarray:
    """Stack an Arrow batch of embedding arrays into a float matrix.
    NULL rows become zero vectors (review r05): upstream web corpora
    legitimately carry null array columns, and np.array on a
    None-containing list raises an opaque worker-side ValueError that
    kills the whole stage — a zero vector instead flows through as
    cosine 0.0 ("similar to nothing"), the same contract as zero-norm
    embeddings. Genuinely ragged non-null arrays still raise."""
    vals = series.tolist()
    if any(v is None for v in vals):
        dim = next((len(v) for v in vals if v is not None), 1)
        vals = [v if v is not None else [0.0] * dim for v in vals]
    return np.array(vals, dtype=np.float64)


@pandas_udf(DoubleType())
def _cosine_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    if len(a) == 0:
        return pd.Series([], dtype=np.float64)
    A, B = _mat(a), _mat(b)
    num = (A * B).sum(axis=1)
    den = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
    # zero-norm (or null→zero) rows score 0.0, NOT NaN: Spark's total
    # ordering puts NaN ABOVE every number, so a NaN sim would both
    # pass `sim >= threshold` and rank FIRST under desc(sim) — a zero
    # vector would become everyone's top near-duplicate (review r05)
    out = np.divide(num, den, out=np.zeros(len(a)), where=den > 0)
    return pd.Series(out)


@pandas_udf(LongType())
def _bucket_udf(v: pd.Series) -> pd.Series:
    if len(v) == 0:
        return pd.Series([], dtype=np.int64)
    V = _mat(v)
    W = _plane_matrix(V.shape[1], LSH_PLANES)
    bits = (V @ W > 0).astype(np.int64) << np.arange(LSH_PLANES)
    return pd.Series(bits.sum(axis=1))


# deterministic in fact; flag blocks predicate-pushdown duplication of
# the UDF (CLAUDE.md rule 7)
_bucket_udf = _bucket_udf.asNondeterministic()


# scoring UDF is filtered on (sim >= t, rnk <= k): keep it out of
# pushed predicates
_cosine_udf = _cosine_udf.asNondeterministic()


def cosine_expr(a, b) -> F.Column:
    """Vectorized cosine(a, b) — Arrow pandas UDF (numpy per batch)."""
    return _cosine_udf(a, b)


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Top-k cosine neighbors for each query vector.

    queries: (query_id, embedding). Scale: broadcast queries (the small
    side), one pass over the corpus, per-query top-k via window — the
    shuffle carries (query_id, vec_id, sim) triples only."""
    q = F.broadcast(queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec")))
    scored = (embeddings.alias("e").crossJoin(q)
              .where(F.col("query_id") != F.col(id_col))
              .select("query_id", F.col(id_col).alias("neighbor_id"),
                      cosine_expr(F.col("qvec"),
                                  F.col(vec_col)).alias("sim")))
    # deterministic rank: ties → lowest neighbor id
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rnk", F.row_number().over(w).cast("long"))
            .where(F.col("rnk") <= k)
            .orderBy("query_id", "rnk"))


def hyperplane_bucket(vec_col: str = "embedding") -> F.Column:
    """Sign-of-projection LSH bucket id from LSH_PLANES pseudo-random
    hyperplanes (one numpy matmul per Arrow batch)."""
    return _bucket_udf(F.col(vec_col))


def cosine_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.95,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim ≥ t).

    Scale path: LSH-bucket self-join as the blocking stage (near-dup
    vectors land in the same hyperplane-sign bucket with high
    probability), exact cosine (vectorized UDF) as the verify stage —
    the same block-then-verify shape as MinHash→Jaccard in dedup.py.
    The self-join is per bucket (corpus/2^planes rows), never corpus²;
    the explicit repartition on the bucket key shares ONE exchange
    across both self-join sides, so the bucket UDF runs once.
    Recall < 1 by design (sign-LSH misses some near-pairs across a
    plane).
    Unsorted — deterministic sort lives in the catalog wrapper."""
    b = (embeddings.withColumn("bucket", hyperplane_bucket(vec_col))
         .repartition(F.col("bucket")))
    left = b.select(F.col(id_col).alias("id_a"),
                    F.col(vec_col).alias("vec_a"), "bucket")
    right = b.select(F.col(id_col).alias("id_b"),
                     F.col(vec_col).alias("vec_b"), "bucket")
    return (left.join(right, "bucket")
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("sim", cosine_expr(F.col("vec_a"),
                                           F.col("vec_b")))
            .where(F.col("sim") >= threshold)
            .select("id_a", "id_b", F.round("sim", 6).alias("sim")))
