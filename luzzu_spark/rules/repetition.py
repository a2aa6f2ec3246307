"""Within-doc 13-gram repetition score — vectorized Arrow plugin rule.

The rule's VALUE is defined on gram strings (oracle_pandas.assess_row:
``grams = [" ".join(toks[i:i+13])]``; dup_frac = 1 - distinct/total).
This implementation computes the identical fraction via 64-bit rolling
hashes, fully numpy-vectorized across the Arrow batch — no Python loop
over tokens, no per-row JVM lambda:

  tokens of every doc in the batch are flattened into ONE array →
  pd.factorize (one C pass) → splitmix64-mixed codes → all 13-gram
  window hashes via one sliding_window_view × power-vector dot (uint64
  wrap-around arithmetic = mod 2^64) → per-doc duplicate counts via one
  lexsort + neighbor compare. Windows crossing document boundaries are
  masked out with the doc-index array.

Equality with the string-gram spec holds because tokens are whitespace-
split (never contain spaces → joining is injective) and the mixed-code
polynomial hash is collision-free for practical purposes (structured
small-integer token codes are first diffused through splitmix64, so the
linear combination over B^j behaves like a random 64-bit hash;
~40 grams/doc → collision odds ~1e-16 per doc).

Why this is a pandas UDF and not a Catalyst expression: Spark's
higher-order array functions (transform/aggregate) are CodegenFallback —
they evaluate interpreted, per element, with boxing. The expression
form of this rule was the single most expensive stage of the pipeline
(7 s of a 13 s run at 500k docs); the Arrow form costs ~0.1 s/core per
100k docs and shares the (already paid) Python-worker stage with the
langid/perplexity plugin rules.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from luzzu_spark.rules import spec

_MULT = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = (x + np.uint64(0x9E3779B97F4A7C15))
    z = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def dup_frac_batch(texts: pd.Series, n: int = spec.NGRAM_N,
                   token_lists: pd.Series | None = None) -> pd.Series:
    """Duplicate-13-gram fraction per doc, one vectorized pass."""
    if token_lists is None:
        token_lists = texts.fillna("").str.split()
    lens = token_lists.str.len().to_numpy(dtype=np.int64)
    n_docs = len(texts)
    out = np.zeros(n_docs, dtype=np.float64)
    m_per_doc = np.maximum(lens - n + 1, 0)
    if m_per_doc.sum() == 0:
        return pd.Series(out, index=texts.index)

    flat = np.concatenate(
        [np.asarray(t, dtype=object) for t in token_lists.tolist() if t])
    codes = pd.factorize(flat)[0].astype(np.uint64)
    with np.errstate(over="ignore"):
        codes = _splitmix64(codes)
        pows = np.cumprod(np.full(n, _MULT, dtype=np.uint64),
                          dtype=np.uint64)
        win = np.lib.stride_tricks.sliding_window_view(codes, n)
        h = (win * pows).sum(axis=1, dtype=np.uint64)
    doc_idx = np.repeat(np.arange(n_docs), lens)
    valid = doc_idx[: h.size] == doc_idx[n - 1:]
    hv, dv = h[valid], doc_idx[: h.size][valid]

    order = np.lexsort((hv, dv))
    hs, ds = hv[order], dv[order]
    dup = np.zeros(hs.size, dtype=np.int64)
    if hs.size > 1:
        dup[1:] = ((ds[1:] == ds[:-1]) & (hs[1:] == hs[:-1]))
    dup_per_doc = np.zeros(n_docs, dtype=np.int64)
    np.add.at(dup_per_doc, ds, dup)
    np.divide(dup_per_doc, m_per_doc, out=out, where=m_per_doc > 0)
    return pd.Series(out, index=texts.index)


@pandas_udf(DoubleType())
def dup13_udf(texts: pd.Series) -> pd.Series:
    # Series→Series so it fuses with langid/perplexity into one
    # ArrowEvalPython node (iterator UDFs cannot fuse).
    return dup_frac_batch(texts)


def with_dup13(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("score_dup_ngram_frac",
                         dup13_udf(F.col(text_col)))
