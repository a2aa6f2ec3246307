"""Quality-rule layer: Luzzu's pluggable metric registry, recast.

Reference mapping (/root/reference/README.md:13 — "declarative quality
metric specification language" + imperative plugin metrics):

- declarative metric  → :mod:`luzzu_spark.rules.registry` Rule declared
  as Spark SQL text (``sql_rule``: score expression + fire predicate),
  compiled to Catalyst (no Python at run time);
- imperative plugin   → vectorized pandas/Arrow UDF rules
  (:mod:`luzzu_spark.rules.langid`, :mod:`luzzu_spark.rules.perplexity`);
- metric thresholds   → :mod:`luzzu_spark.rules.spec` frozen constants —
  the documented reference rule-set both the Spark pipeline and the
  pandas oracle implement (SURVEY.md §0 item 3).
"""

from luzzu_spark.rules.registry import Rule, RuleRegistry, default_registry

__all__ = ["Rule", "RuleRegistry", "default_registry"]
