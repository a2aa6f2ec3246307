"""Luzzu's declarative metric registry exposed to PURE SQL users.

Luzzu's LQML lets a user declare quality metrics without writing engine
code (/root/reference/README.md:11-13). The DataFrame-side recast is
rules/registry.py; this module is the same registry surface for teams
that only speak SQL: `register_sql_rules(spark)` installs Spark 4 SQL
scalar UDFs (CREATE FUNCTION ... RETURNS ... RETURN <expr>), so

    SELECT url, luzzu_heuristic_keep(text) FROM corpus

is the whole integration. Every body is derived from the heuristic
rules' own SQL text (rules/heuristics.py), and ``luzzu_quality_score``
from ``heuristics.quality_score_sql``, the composite score the catalog
queries also read: the helper columns a rule reads
(tokens/n_tokens/n_chars) are replaced by their definitions over
``text``, so no formula or threshold is written here. SQL UDFs inline
into the calling plan (no Python worker, no serialization boundary;
tests pin them row-identical to the rule scores).
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from luzzu_spark.rules.heuristics import (heuristic_rules,
                                          quality_score_sql, token_cols_sql)

_HELPER_COL = re.compile(r"\b(tokens|n_tokens|n_chars)\b")


def _over_text(sql: str) -> str:
    """Rule SQL rewritten over the ``text`` argument alone."""
    cols = token_cols_sql()
    return _HELPER_COL.sub(lambda m: _over_text(cols[m[1]]), sql)


def rule_function_sql() -> dict[str, str]:
    """name -> CREATE OR REPLACE TEMPORARY FUNCTION statement: the two
    token helpers, one per ratio/length rule score, the composite
    quality score and the keep verdict."""
    rules = {r.name: r for r in heuristic_rules()}

    def score(name: str) -> str:
        return _over_text(rules[name].score_sql)

    def fires(name: str) -> str:
        return _over_text(rules[name].inline_fire_sql)

    defs = {
        "luzzu_n_tokens":
            f"RETURNS BIGINT RETURN CAST({_over_text('n_tokens')} AS BIGINT)",
        "luzzu_n_chars":
            f"RETURNS BIGINT RETURN CAST({_over_text('n_chars')} AS BIGINT)",
        "luzzu_mean_word_len":
            f"RETURNS DOUBLE RETURN {score('mean_word_len')}",
        "luzzu_max_word_len":
            f"RETURNS BIGINT RETURN CAST({score('max_word_len')} AS BIGINT)",
        "luzzu_symbol_ratio":
            f"RETURNS DOUBLE RETURN {score('symbol_ratio')}",
        "luzzu_stopword_frac":
            f"RETURNS DOUBLE RETURN {score('stopword_frac')}",
        "luzzu_quality_score":
            f"RETURNS DOUBLE RETURN {_over_text(quality_score_sql())}",
        "luzzu_heuristic_keep":
            "RETURNS BOOLEAN RETURN NOT ("
            + " OR ".join(fires(n) for n in rules) + ")",
    }
    return {name: (f"CREATE OR REPLACE TEMPORARY FUNCTION "
                   f"{name}(text STRING) {body}")
            for name, body in defs.items()}


def register_sql_rules(spark: SparkSession) -> list[str]:
    """Install the rule functions into the session catalog; returns the
    registered names."""
    names = []
    for name, stmt in rule_function_sql().items():
        spark.sql(stmt)
        names.append(name)
    return names
