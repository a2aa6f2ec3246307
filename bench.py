#!/usr/bin/env python
"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, ...extras}

The headline number is the full quality-filter pipeline (langid +
perplexity pandas UDFs + heuristic rules + scrub) over the north-rule
web-page table synthesized from the `documents` fixture, replicated
deterministically REPLICATE× so throughput is measured on a corpus
big enough to amortize job overhead (docs/sec reported as an extra).

Every query is forced end-to-end with the `noop` sink — full
materialization on executors, zero driver collect — so timings reflect
the whole plan (scan → shuffle → UDF → write), not a pruned count().

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default: the CPUs this process may run on),
SPARK_GRAFT_BENCH_REPLICATE (default 20).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from luzzu_spark.fixtures import as_webpages, load_table  # noqa: E402
from luzzu_spark.session import default_cpus, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICATE = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE", "20"))
# max/min of the three warm pipeline trials above which a run is flagged
# arrow_suspect. Calibrated on a 4-CPU, 15 GB box with `python bench.py`
# (defaults: sf0.1, replicate 20): five runs read 1.02, 1.18, 1.19, 1.27
# and 1.39 (pipeline leg 6.5-9.2 s); BASELINE.md's degraded session read 2.6
# (warm trials 1.95-5.09 s). The flag trips between the two.
ARROW_SUSPECT_SPREAD = 2.0


def replicated_pages(spark: SparkSession, sf_dir: str,
                     factor: int) -> DataFrame:
    """Deterministic corpus scale-up: cross the fixture docs with a
    replica index, remapping doc_id so every row stays unique (and the
    PII-injection pattern keeps varying). No randomness — same corpus
    every run at a given (sf_dir, factor)."""
    from luzzu_spark.fixtures import spread
    # spread BEFORE replicating: the fixture parquet is one split, and
    # an after-the-fact repartition puts the whole ×factor expansion +
    # PII concat upstream of the shuffle on ~1 task (measured: 500k-doc
    # pipeline dropped to ~20k docs/s from the serial feed). Spreading
    # the 5k base rows first keeps the expansion parallel end-to-end.
    docs = spread(load_table(spark, sf_dir, "documents"))
    if factor > 1:
        n = docs.count()
        reps = spark.range(factor).select(
            F.col("id").alias("rep"))
        docs = (docs.crossJoin(F.broadcast(reps))
                .withColumn("doc_id",
                            (F.col("doc_id") + F.col("rep") * n)
                            .cast("long"))
                .drop("rep"))
    return as_webpages(docs, inject_pii=True)


def run_noop(df: DataFrame) -> float:
    t0 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def bench_pipeline(spark: SparkSession,
                   sf_dir: str) -> tuple[list[float], int]:
    """Steady-state pipeline throughput: run the identical job once
    untimed, then time three more. The first run pays JVM JIT +
    Arrow/Python worker spin-up (measured 55 s cold vs 5 s warm on the
    same input); the steady-state number is the one that extrapolates
    to a long-running cluster job. Returns (warm_trials, n_docs): the
    headline takes the min, the first trial is reported alongside so
    round-over-round deltas can't be attributed to the r02 trial-count
    change (VERDICT r02 item 9), and max/min is the host-health
    spread."""
    from luzzu_spark.pipeline import QualityPipeline
    pages = replicated_pages(spark, sf_dir, REPLICATE)
    n_docs = pages.count()  # cached metadata read; excluded from timing
    assessed = QualityPipeline().assess(pages)
    run_noop(assessed)      # warm-up
    # min of three timed runs: host noise swings identical jobs 2-3×,
    # and the headline docs/sec number derives from this leg
    trials = [run_noop(assessed) for _ in range(3)]
    return trials, n_docs


def bench_metrics(spark: SparkSession, sf_dir: str) -> float:
    """Assessment + the daQ-recast metric aggregates in one job
    (untimed warm-up + min of two trials — host noise, BASELINE.md
    methodology). The warm-up mirrors bench_pipeline's: the report
    plans' first execution pays codegen + Arrow worker spin-up that a
    long-running job amortizes (measured: 5-6 s cold vs 1.4-2.0 s
    steady on identical input), and without it the min-of-two was
    really min(cold, half-warm)."""
    from luzzu_spark.metrics import (facet_rollup, partition_lineage,
                                     rank_sources)
    from luzzu_spark.pipeline import QualityPipeline
    pages = as_webpages(load_table(spark, sf_dir, "documents"),
                        inject_pii=True)
    assessed = QualityPipeline().assess(pages)

    def trial() -> float:
        t0 = time.perf_counter()
        # one assessment pass feeds all three report sinks (the daQ
        # forks share the cached frame — never recompute the UDF
        # stage). Projected to metric columns BEFORE persist: the
        # sinks never read text, so the cache holds ~100 B/doc of
        # verdict/score data instead of the corpus body (fixture-scale
        # timing ties; the projection bounds cache footprint at scale).
        cached = assessed.select("doc_id", "source", "keep",
                                 "drop_reasons", "rule_scores").persist()
        try:
            partition_lineage(cached).write.mode("overwrite") \
                .format("noop").save()
            facet_rollup(cached).write.mode("overwrite") \
                .format("noop").save()
            rank_sources(cached).write.mode("overwrite") \
                .format("noop").save()
        finally:
            cached.unpersist()
        return time.perf_counter() - t0

    trial()  # warm-up (untimed)
    return min(trial(), trial())


def _synth_crawl(spark: SparkSession, sf_dir: str,
                 n_files: int = 8) -> tuple[str, str, int]:
    """Deterministic synthetic crawl for the ingest legs: the fixture
    docs serialized as n_files UNCOMPRESSED .wet files (conversion
    records) and .warc files (response records wrapping the text in
    minimal HTML), CRLF-framed per spec. Uncompressed files stay
    splittable, and the file count provides the parallelism real CC
    jobs get from their ~64k-file crawls. Built driver-side once
    (untimed; ~15 MB per format at sf0.1)."""
    import tempfile
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text").collect()
    base = tempfile.mkdtemp(prefix="luzzu_bench_crawl_")
    wet_dir = os.path.join(base, "wet")
    warc_dir = os.path.join(base, "warc")
    os.makedirs(wet_dir)
    os.makedirs(warc_dir)
    for f in range(n_files):
        wet_parts, warc_parts = [], []
        for r in docs:
            rid = f * 1_000_000 + r["doc_id"]
            url = f"http://bench{rid % 997}.example.com/doc/{rid}"
            body = r["text"] or ""
            head = ("WARC/1.0\r\n{typ}\r\n"
                    f"WARC-Target-URI: {url}\r\n"
                    "WARC-Date: 2026-01-02T03:04:05Z\r\n"
                    "WARC-Record-ID: <urn:uuid:{kind}-"
                    f"{rid}>\r\n\r\n")
            wet_parts.append(
                head.format(typ="WARC-Type: conversion", kind="wet")
                + body + "\r\n\r\n")
            warc_parts.append(
                head.format(typ="WARC-Type: response", kind="warc")
                + "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                + "<html><head><title>t</title></head><body><p>"
                + body + "</p></body></html>\r\n\r\n")
        with open(f"{wet_dir}/crawl-{f:03d}.wet", "wb") as fh:
            fh.write("".join(wet_parts).encode("utf-8"))
        with open(f"{warc_dir}/crawl-{f:03d}.warc", "wb") as fh:
            fh.write("".join(warc_parts).encode("utf-8"))
    return wet_dir, warc_dir, len(docs) * n_files


def bench_ingest(spark: SparkSession, sf_dir: str) -> dict:
    """The r05 flagship-capability legs (VERDICT r04 next #5): docs/s
    through the two crawl-native ingest paths feeding the FULL
    assessment — read_wet → pipeline (header parse + payload slice,
    pure Catalyst) and read_warc_html → pipeline (HTTP split + HTML→
    text extraction on top). Same discipline as the headline legs:
    warm-up, then min of two interleaved trials."""
    import shutil

    from luzzu_spark.pipeline import QualityPipeline
    from luzzu_spark.sources import read_warc_html, read_wet
    wet_dir, warc_dir, n = _synth_crawl(spark, sf_dir)
    try:
        pipe = QualityPipeline()
        frames = {
            "wet_ingest": pipe.assess(read_wet(spark, wet_dir)),
            "warc_extract": pipe.assess(read_warc_html(spark, warc_dir)),
        }
        for df in frames.values():
            run_noop(df)  # warm-up (cold text scan + Arrow spin-up)
        trials: dict[str, list[float]] = {k: [] for k in frames}
        for _ in range(2):
            for k, df in frames.items():
                trials[k].append(run_noop(df))
        out = {k: round(min(ts), 3) for k, ts in trials.items()}
        return {
            "timings": out,
            "ingest_docs": n,
            "wet_docs_per_sec": round(n / out["wet_ingest"], 1),
            "warc_docs_per_sec": round(n / out["warc_extract"], 1),
        }
    finally:
        # also on failure — a crashed trial must not strand ~30 MB of
        # synthetic crawl per bench attempt in /tmp (review r05)
        shutil.rmtree(os.path.dirname(wet_dir.rstrip("/")),
                      ignore_errors=True)


def _md5_rate(seconds: float = 0.25) -> float:
    """Single-process md5 throughput (Mhash/s) — pure CPU, cache
    resident, no Spark: a fixed-work yardstick for the box itself."""
    import hashlib
    payload = b"x" * 64
    n = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        h = hashlib.md5()
        for _ in range(5000):
            h.update(payload)
        n += 5000
    return n / (time.perf_counter() - t0) / 1e6


# host_control thresholds, calibrated on this 4-CPU box (CHANGES.md
# lists the samples). Full-width efficiency read 0.77-0.95 on an idle
# host, 0.64-0.76 with one busy process beside the control and
# 0.52-0.62 with two. Serial rates moved with the host between sessions
# (5.0-7.8 Mhash/s in earlier ones, 8.8-13.5 in the calibrating one),
# so the serial floor only catches a host slower than any seen.
MD5_SERIAL_FLOOR = 4.0
MD5_EFFICIENCY_MIN = 0.75


def _md5_worker(_: int) -> float:
    return _md5_rate(0.5)


def host_control(cpus: int) -> dict:
    """Box-ceiling control (VERDICT r03 item 2): measure the machine's
    own md5 throughput serially and at full width BEFORE the Spark
    timings, and embed both in the bench JSON, so a contended host is
    visible inside the artifact. The serial rate is the best of six
    0.25 s samples, and efficiency is the full-width total over
    ``cpus`` times the best single-process rate seen, a parallel
    worker's included: a serial sample that caught a slow moment made
    the old ratio read up to 1.19. The flag fires when the serial rate
    is below the floor or the full-width efficiency is low;
    ``host_suspect_why`` says which."""
    import multiprocessing as mp
    serial = max(_md5_rate() for _ in range(6))
    with mp.Pool(cpus) as pool:
        rates = pool.map(_md5_worker, range(cpus))
    total = sum(rates)
    eff = total / (max(serial, *rates) * cpus)
    why = [f"{name} {v:.3g} < {floor}" for name, v, floor in (
        ("md5 serial Mhash/s", serial, MD5_SERIAL_FLOOR),
        ("full-width efficiency", eff, MD5_EFFICIENCY_MIN)) if v < floor]
    return {
        "md5_serial_mhash_s": round(serial, 3),
        "md5_parallel_total_mhash_s": round(total, 3),
        "parallel_efficiency_vs_serial_x_cpus": round(eff, 3),
        "host_suspect": bool(why),
        "host_suspect_why": "; ".join(why),
    }


def _latest_scaling_run(cpus: int) -> dict:
    """Surface the executor-scaling measurements from SCALING.json (the
    machine-readable history scripts/executor_scaling_bench.py appends
    to). Reading at print time keeps bench output from restating
    measurements it didn't make.

    The evidence is the latest valid run on a box with ``cpus`` CPUs.
    Runs without a ``cpus`` key come from the 32-core box of the early
    rounds and are summarised apart, as history. A run is invalid when
    it says so (``valid: false``) or, for early entries whose prose is
    the only marker, when its note calls it degraded-host or anomalous.
    The single-run ratio swings with solo-leg trial luck on a
    virtualized host (0.734 and 1.065 on one idle box with identical
    aggregates), so the median over valid runs is the stable summary.
    Both key spellings of the harness are accepted, so a verbatim
    append of its JSON line cannot crash the artifact print."""
    def eff(r):
        return r["efficiency"] if "efficiency" in r \
            else r["scaling_efficiency"]

    def summary(rs):
        return {"valid_runs": len(rs), "median_efficiency_valid_runs":
                round(statistics.median(map(eff, rs)), 3) if rs else None}

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "SCALING.json")
    try:
        with open(path) as f:
            runs = json.load(f)["runs"]
        valid = [r for r in runs
                 if r.get("valid", True)
                 and "degraded-host" not in r.get("note", "")
                 and "anomalous" not in r.get("note", "")]
        here = [r for r in valid if r.get("cpus", 32) == cpus]
        out = {"measured_by": "scripts/executor_scaling_bench.py "
                              f"(latest valid {cpus}-CPU entry of "
                              "SCALING.json runs)",
               "cpus": cpus, "target": 0.8, **summary(here),
               "invalid_runs_excluded": len(runs) - len(valid),
               "history_32_core_box": {
                   "note": "history, not a baseline for this box",
                   **summary([r for r in valid if "cpus" not in r])}}
        if here:
            last = here[-1]
            out.update(
                executor_cores=last["executor_cores"],
                throughput_1_executor=last["throughput_1_executor"],
                throughput_4_executors=last[
                    "throughput_4_executors_aggregate"],
                efficiency_n_to_4n=eff(last))
        return out
    except (OSError, KeyError, IndexError, ValueError):
        return {"measured_by": "scripts/executor_scaling_bench.py",
                "note": "no SCALING.json history found or readable"}


def main() -> None:
    cpus = default_cpus()
    # box-ceiling control FIRST (before the JVM exists): pure-CPU md5
    # serial + full-width — recorded in the output JSON so a contended
    # host is visible in the artifact itself (VERDICT r03 item 2)
    control = host_control(cpus)
    spark = get_spark("luzzu_spark_bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    from luzzu_spark import queries as _q
    from luzzu_spark import (queries_ml, queries_scale,  # noqa: F401
                             queries_text, queries_web)  # noqa: F401

    catalog = _q.queries()
    textops = ["dedup_exact_text", "dedup_minhash_pairs",
               "embed_cosine_topk", "docs_quality_score"]

    timings: dict[str, float] = {}

    # bench_pipeline's untimed first run warms the JVM + Arrow path
    pipe_trials, n_docs = bench_pipeline(spark, SF_DIR)
    sec, sec_single = min(pipe_trials), pipe_trials[0]
    timings["pipeline_full_filter"] = round(sec, 3)
    docs_per_sec = round(n_docs / sec, 1)

    timings["metrics_reports"] = round(bench_metrics(spark, SF_DIR), 3)

    # min of two INTERLEAVED rounds: the host shows 2-3× run-to-run
    # variance that drifts over seconds, so consecutive per-query
    # trials share the same noise phase — alternating the whole suite
    # decorrelates it (CLAUDE.md rule 5: pair/alternate levels). Round
    # one doubles as the per-query warm-up for shuffle/broadcast reuse.
    dfs = {name: catalog[name](spark, SF_DIR) for name in textops}
    trials: dict[str, list[float]] = {n: [] for n in dfs}
    for _ in range(2):
        for name, df in dfs.items():
            trials[name].append(run_noop(df))
    for name, ts in trials.items():
        timings[name] = round(min(ts), 3)

    # newer operators and the crawl ingest legs, timed the same way but
    # kept OUT of the headline total: the 6-leg headline set is the
    # baseline-comparable contract (BENCH_local4.json); these rows give
    # per-operator visibility without moving it
    extended = [n for n in ["text_c4_line_scrub", "dedup_dup_span_removal",
                            "dedup_cluster_quality_survivors",
                            "text_nfc_normalize", "dsir_weighted_sample",
                            "text_html_extract",
                            "dedup_cross_doc_paragraphs",
                            "split_leakage_audit",
                            "dedup_bloom_paragraph_scrub"]
                if n in catalog]
    # build INSIDE the timed region: iterative queries (connected
    # components) execute their rounds during construction, so a
    # build-once/noop-twice split would undercount them
    ext_trials: dict[str, list[float]] = {n: [] for n in extended}
    for _ in range(2):
        for name in extended:
            t0 = time.perf_counter()
            run_noop(catalog[name](spark, SF_DIR))
            ext_trials[name].append(time.perf_counter() - t0)

    # crawl-native ingest paths (WET parse / raw-WARC HTML extraction)
    # feeding the full assessment, with the same min-of-interleaved
    # discipline
    ingest = bench_ingest(spark, SF_DIR)
    timings_extended = {**{n: round(min(ts), 3)
                           for n, ts in ext_trials.items()},
                        **ingest["timings"]}

    total = round(sum(timings.values()), 3)
    # Second degraded-host signal (r05 close observation): a contended
    # neighbor can inflate the Arrow/Python-worker-heavy pipeline leg
    # while the md5 control still reads healthy. A degraded session
    # swings identical warm trials (BASELINE.md's oscillated
    # 1.95-5.09 s); see ARROW_SUSPECT_SPREAD for the calibration.
    spread = round(max(pipe_trials) / min(pipe_trials), 3)
    control["pipeline_trial_spread"] = spread
    control["arrow_suspect"] = spread > ARROW_SUSPECT_SPREAD
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    print(json.dumps({
        "metric": "total headline-query wall time (full quality-filter "
                  "pipeline + daQ metrics + exact/MinHash dedup, cosine "
                  "top-k and quality-score queries)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_extended": timings_extended,
        "ingest_docs": ingest["ingest_docs"],
        "wet_docs_per_sec": ingest["wet_docs_per_sec"],
        "warc_docs_per_sec": ingest["warc_docs_per_sec"],
        "sf": sf_val,
        "docs_filtered": n_docs,
        "docs_per_sec": docs_per_sec,
        # apples-to-apples with r01's single-trial methodology
        # (VERDICT r02 item 9): the same pipeline job's FIRST warm
        # trial, before min-of-3 damping
        "pipeline_single_trial_sec": round(sec_single, 3),
        "docs_per_sec_single_trial": round(n_docs / sec_single, 1),
        "replicate_factor": REPLICATE,
        "cpus": cpus,
        # pure-CPU md5 ceiling measured immediately before the Spark
        # session started — if host_suspect is true, treat the wall
        # times above as host-inflated (the r03 anomaly's signature)
        "host_control": control,
        # the north rule's two-cluster-size criterion is measured by a
        # separate exclusive-box harness (separate pinned executor
        # JVMs); the LATEST recorded run is read from SCALING.json at
        # print time (never restated from constants — ADVICE r02)
        "scaling_evidence": _latest_scaling_run(cpus),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
