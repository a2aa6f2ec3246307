"""PII/toxicity scrub pass — ordered compiled-regex chain.

Luzzu's quality-problem reports point at offending triples
(/root/reference/README.md:9); the web-text recast *repairs* offending
spans in place and logs what fired (BASELINE.json:6,14). Determinism
contract (BASELINE.json:15 — byte-identical scrubbed text per url):

- the chain order below is FROZEN (email → phone → ipv4 → ssn → tox);
- patterns are locale-independent (explicit character classes only);
- replacement tokens contain no characters any later pattern matches,
  so the chain is confluent and idempotent (scrub∘scrub == scrub);
- the same (pattern, replacement) pairs drive the Spark regexp_replace
  chain, the pandas oracle, and the DuckDB oracle SQL — patterns stay in
  the RE2 ∩ java.util.regex common subset (no backrefs, no lookaround).

Spark-side this is one nested regexp_replace SQL expression
(:func:`scrub_sql`): JVM whole-stage codegen, zero Python per row.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from luzzu_spark.rules.registry import sql_lit, with_sql_columns

# (name, pattern, replacement) — FROZEN ORDER.
SCRUB_CHAIN: tuple[tuple[str, str, str], ...] = (
    ("email",
     r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("phone",
     r"(\+?[0-9]{1,3}[-. ])?(\([0-9]{3}\)[-. ]?|[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}|[0-9]{3}-[0-9]{4}",
     "<PHONE>"),
    ("ipv4",
     r"((25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])",
     "<IP>"),
    ("ssn",
     r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
     "<SSN>"),
)

# Toxicity lexicon — sorted, compiled into ONE alternation with word
# boundaries. Placeholder lexicon (real deployments broadcast a larger
# list); frozen for byte-identity.
TOXICITY_LEXICON: tuple[str, ...] = tuple(sorted((
    "badword", "slur1", "slur2", "toxicterm",
)))
TOXICITY_PATTERN = r"\b(" + "|".join(TOXICITY_LEXICON) + r")\b"
TOXICITY_REPLACEMENT = "<TOX>"

ALL_STEPS: tuple[tuple[str, str, str], ...] = SCRUB_CHAIN + (
    ("toxicity", TOXICITY_PATTERN, TOXICITY_REPLACEMENT),
)


# one alternation of every step's pattern: it matches exactly the rows
# the chain rewrites (perfbench reports that share as scrub.hit_frac)
COMBINED_PROBE = "|".join(f"(?:{pat})" for _name, pat, _ in ALL_STEPS)


def scrub_sql(text: str = "text") -> str:
    """The full scrub chain over the column ``text`` as one nested SQL
    expression, folded from :data:`ALL_STEPS` in the frozen order.

    No guard pass: each replace is the identity where its pattern does
    not match, and a guard that scans every byte costs more than the
    chain it would skip."""
    sql = f"coalesce({text}, '')"   # null doc scrubs to "" (matches oracle)
    for _name, pat, repl in ALL_STEPS:
        sql = f"regexp_replace({sql}, {sql_lit(pat)}, {sql_lit(repl)})"
    return sql


def scrub_expr(text: str = "text") -> Column:
    return F.expr(scrub_sql(text))


def with_scrub(df: DataFrame) -> DataFrame:
    """Attach ``text_scrubbed``: the scrub chain over ``text``."""
    return with_sql_columns(df, {"text_scrubbed": scrub_sql("text")})


# -- plain-Python twin (used by the pandas oracle and property tests) -----
_COMPILED = [(name, re.compile(pat), repl) for name, pat, repl in ALL_STEPS]


def scrub_py(text: str) -> str:
    for _name, rx, repl in _COMPILED:
        text = rx.sub(repl, text)
    return text


def c4_line_scrub_expr(text_col: str = "text"):
    """C4's line-level scrub (Raffel et al. 2020 §2.2) as one
    expression: keep only lines ending in terminal punctuation, with
    ≥3 words, not containing 'javascript' (case-insensitive); survivors
    re-join with newlines. The per-document semantics are hash-checked
    cross-engine by the text_c4_line_scrub catalog query; here the same
    expression serves as an OPT-IN pre-assessment stage
    (QualityPipeline(line_scrub=True)) — off by default, so the frozen
    RULESPEC byte-identity contract is untouched."""
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    kept = F.filter(lines, lambda x: (
        F.trim(x).rlike('[.!?"]$')
        & (F.size(F.filter(F.split(F.trim(x), " "),
                           lambda w: w != "")) >= 3)
        & ~F.lower(x).contains("javascript")))
    return F.array_join(kept, "\n")
