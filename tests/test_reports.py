"""Quality-metadata sinks (daQ/QPRO recast): write_reports contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from luzzu_spark.fixtures import as_webpages, load_table
from luzzu_spark.metrics import (facet_rollup, observations,
                                 partition_lineage, rank_sources)
from luzzu_spark.pipeline import QualityPipeline
from luzzu_spark.rules import spec

SF = "/root/testdata/sf0.001"


def test_write_reports_roundtrip(spark, tmp_path):
    path = str(tmp_path / "reports")
    pipe = QualityPipeline()
    pages = as_webpages(load_table(spark, SF, "documents"),
                        inject_pii=True)
    assessed = pipe.assess(pages)
    pipe.write_reports(assessed, path, run_id="run1")
    pipe.write_reports(assessed, path, run_id="run2")

    obs = spark.read.parquet(f"{path}/observations")
    assert set(r.run_id for r in obs.select("run_id")
               .distinct().collect()) == {"run1", "run2"}
    # one observation row per rule per run
    per_run = obs.groupBy("run_id").count().collect()
    assert all(r["count"] == len(spec.RULE_ORDER) for r in per_run)

    lin = spark.read.parquet(f"{path}/lineage") \
        .where(F.col("run_id") == "run1")
    assert lin.agg(F.sum("n_docs")).collect()[0][0] == 500

    prob = spark.read.parquet(f"{path}/problems") \
        .where(F.col("run_id") == "run1")
    # every problem row names a registered rule
    rules = {r.rule for r in prob.select("rule").distinct().collect()}
    assert rules <= set(spec.RULE_ORDER)
    # dropped docs == docs with ≥1 problem row
    n_dropped = assessed.where(~F.col("keep")).count()
    assert prob.select("url").distinct().count() == n_dropped


def test_write_reports_retry_idempotent(spark, tmp_path):
    """A retried report run under the SAME run_id (crash between the
    three sinks → natural resume) must rewrite its own partition, not
    append duplicate metric rows that double-count every downstream
    aggregate (review r05)."""
    path = str(tmp_path / "reports_retry")
    pipe = QualityPipeline()
    pages = as_webpages(load_table(spark, SF, "documents"))
    assessed = pipe.assess(pages)
    pipe.write_reports(assessed, path, run_id="runX")
    counts1 = {n: spark.read.parquet(f"{path}/{n}").count()
               for n in ("observations", "lineage", "problems")}
    pipe.write_reports(assessed, path, run_id="runX")   # the retry
    counts2 = {n: spark.read.parquet(f"{path}/{n}").count()
               for n in ("observations", "lineage", "problems")}
    assert counts2 == counts1, (counts1, counts2)


def test_score_histogram_degenerate_range_raises(spark, assessed):
    from luzzu_spark.metrics import score_histogram
    import pytest
    with pytest.raises(ValueError, match="hi > lo"):
        score_histogram(assessed, "langid_conf", 0.0, 0.0)


def test_observation_facets_complete(spark, assessed):
    obs = observations(assessed)
    rows = {r.metric: r for r in obs.collect()}
    assert set(rows) == set(spec.RULE_ORDER)
    assert all(r.n_obs == 500 for r in rows.values())
    assert all(r.category in ("intrinsic", "contextual")
               for r in rows.values())


def test_facet_rollup_grains(spark, assessed):
    roll = facet_rollup(assessed).collect()
    # grand total + per-category + per-dimension + per-metric grains
    grand = [r for r in roll if r.category is None]
    assert len(grand) == 1
    assert grand[0].n_obs == 500 * len(spec.RULE_ORDER)


def test_rank_sources_deterministic(spark, assessed):
    r1 = rank_sources(assessed).collect()
    r2 = rank_sources(assessed).collect()
    assert r1 == r2
    ranks = [r.rank for r in r1]
    assert ranks[0] == 1 and ranks == sorted(ranks)
