"""The benchmark's workloads: the timed job, its output checks and the
traced per-layer breakdown, each built from the program's public calls.

A workload is constructed once per run against a live SparkSession and
the generator's output directory. ``job(i)`` is the timed unit (one
whole public call); ``check_job`` is a cheap per-job output check;
``check_outputs`` is the deep check (pandas oracle, invariants) run
once, untimed, on job 0's output; ``trace`` returns the per-layer
metrics.
"""

from __future__ import annotations

import argparse
import os
import statistics
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from luzzu_spark import oracle_pandas
from luzzu_spark.fixtures import as_webpages, spread
from luzzu_spark.pipeline import (LINEAGE_COLS, QualityPipeline,
                                  with_plugin_scores)
from luzzu_spark.rules.heuristics import with_token_columns
from luzzu_spark.rules.scrub import COMBINED_PROBE, with_scrub

# layers of QualityPipeline.assess, in plan order
PIPELINE_LAYERS = ("sources", "heuristics.tokens", "registry.scores",
                   "plugins.bundle", "registry.verdict", "scrub")


class CheckFailed(Exception):
    pass


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def noop(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


def dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / 2**20


def layer_prefixes(pipe: QualityPipeline, pages: DataFrame):
    """Cumulative prefixes of ``pipe.assess(pages)``, one per layer.
    Materializing each and differencing gives each layer's self time
    (Spark is lazy, so a layer cannot be timed on its own)."""
    deps = pipe.registry.deps()
    df = spread(pages.select(*[c for c in pages.columns
                               if c in deps or c in LINEAGE_COLS]))
    out = [df]
    df = with_token_columns(df)
    out.append(df)
    df = pipe.registry.with_scores(df)
    out.append(df)
    df = with_plugin_scores(df)
    out.append(df)
    df = pipe.registry.with_verdict(pipe.registry.with_late_scores(df))
    out.append(df)
    out.append(with_scrub(df).drop("tokens"))
    require(out[-1].columns == pipe.assess(pages).columns,
            "layer prefixes no longer compose QualityPipeline.assess")
    return list(zip(PIPELINE_LAYERS, out))


def trace_pipeline(tracer, pipe: QualityPipeline, pages: DataFrame,
                   totals: dict) -> float:
    """Add each pipeline layer's self time (difference of consecutive
    prefix materializations) into ``totals``; return the whole
    assessment's time."""
    prev = 0.0
    for name, df in layer_prefixes(pipe, pages):
        with tracer.span(f"prefix.{name}") as s:
            noop(df)
        cum = s["end"] - s["start"]
        totals[f"{name}.self_s"] = (totals.get(f"{name}.self_s", 0.0)
                                    + cum - prev)
        prev = cum
    return prev


def scrub_hit_frac(pages: DataFrame) -> float:
    """Share of pages whose text the scrub's combined probe matches,
    i.e. the rows that run the whole five-pass replace chain."""
    return pages.agg(F.avg(F.coalesce("text", F.lit("")).rlike(
        COMBINED_PROBE).cast("double"))).collect()[0][0]


def plugin_us(texts: list[str], reps: int = 5) -> dict:
    """Single-process µs/doc of each part of the plugin bundle UDF
    (rules/plugins.py) on the workload's own texts."""
    import pandas as pd

    from luzzu_spark.rules.langid import _score_batch
    from luzzu_spark.rules.perplexity import ppl_batch
    from luzzu_spark.rules.repetition import dup_frac_batch
    s = pd.Series(texts)
    toks = s.fillna("").str.split()
    parts = {"split": lambda: s.fillna("").str.split(),
             "langid": lambda: _score_batch(s, toks),
             "ppl": lambda: ppl_batch(s),
             "dup13": lambda: dup_frac_batch(s, token_lists=toks)}
    for f in parts.values():
        f()  # lazy model set-up stays out of the timing
    out = {}
    for name, f in parts.items():
        times = []
        for _ in range(reps):
            t = time.perf_counter()
            f()
            times.append(time.perf_counter() - t)
        out[f"plugins.{name}_us"] = (statistics.median(times)
                                     / len(texts) * 1e6)
    return out


def check_oracle(rows: dict, expected: dict, dropped: set = frozenset()
                 ) -> None:
    """rows: url → (keep, drop_reasons or None, text) from the program;
    expected: url → input text. Every url must match the pandas oracle;
    urls in ``dropped`` must be dropped whatever the oracle says."""
    for url, text in expected.items():
        want = oracle_pandas.assess_row(text)
        keep = want["keep"] and url not in dropped
        got = rows.get(url)
        if got is None:
            require(not keep, f"{url}: kept by the oracle but missing")
            continue
        got_keep, got_reasons, got_text = got
        require(got_keep == keep, f"{url}: keep {got_keep} != {keep}")
        if got_reasons is not None:
            require(list(got_reasons) == want["drop_reasons"],
                    f"{url}: drop_reasons {got_reasons} != "
                    f"{want['drop_reasons']}")
        if keep or got_reasons is not None:
            require(got_text == want["text_scrubbed"],
                    f"{url}: scrubbed text differs from the oracle")


class CrawlWarcLong:
    """run_filter.run_job over raw WARC crawl files (--input-format
    warc --drop-noindex --batch-size 4) into a fresh output dir."""

    name = "crawl_warc_long"
    BATCH_SIZE = 4

    def __init__(self, spark, data: str, out: str, expect: dict):
        self.spark, self.out, self.expect = spark, out, expect
        self.input = os.path.join(data, "input")
        self.n_docs = expect["props"]["docs"]
        self.n_files = len(os.listdir(self.input))
        self.kept_rows = None

    def args(self, output: str) -> argparse.Namespace:
        return argparse.Namespace(
            input=self.input, output=output, master=None,
            batch_size=self.BATCH_SIZE, repeat=1, as_webpages=False,
            input_format="warc", drop_noindex=True, input_schema=None,
            inject_pii=False, salt_buckets=0, seen_table=None,
            commit_bucket_table=None, bench=False, json=False)

    def job(self, i: int):
        import run_filter
        out = os.path.join(self.out, f"job{i}")
        # run_job skips batches already committed in its output dir, so
        # a reused dir would time nothing
        require(not os.path.exists(out), f"output dir {out} is not fresh")
        return run_filter.run_job(self.spark, self.args(out))

    def _corpus(self, i: int) -> DataFrame:
        from luzzu_spark.checkpoint import ResumableRun
        return self.spark.read.parquet(ResumableRun.output_glob(
            os.path.join(self.out, f"job{i}")))

    def check_job(self, i: int, r: dict) -> None:
        n_batches = -(-self.n_files // self.BATCH_SIZE)
        require(r["complete"] and r["batches"] == n_batches,
                f"run_job did not commit all {n_batches} batches: {r}")
        require(r["n_docs"] == self.n_docs, f"read {r['n_docs']} pages")
        require(r["noindex_flagged"] == len(self.expect["noindex"]),
                f"noindex flagged {r['noindex_flagged']}")
        rows = self._corpus(i).count()
        if self.kept_rows is None:
            self.kept_rows = rows
        require(rows == self.kept_rows,
                f"job {i} kept {rows} docs, job 0 kept {self.kept_rows}")

    def check_outputs(self) -> str:
        sample = self.expect["sample"]
        got = (self._corpus(0).where(F.col("url").isin(list(sample)))
               .select("url", "text").collect())
        check_oracle({r.url: (True, None, r.text) for r in got}, sample,
                     dropped=set(self.expect["noindex"]))
        lineage = self.spark.read.parquet(
            os.path.join(self.out, "job0", "metrics")).agg(
                F.sum("n_docs"), F.sum("n_keep")).collect()[0]
        require(lineage[0] == self.n_docs and lineage[1] == self.kept_rows,
                f"lineage metrics count {lineage[0]}/{lineage[1]} docs/kept")
        digest = self._corpus(0).select(F.sum(F.xxhash64(
            "url", "text") % 1000000007)).collect()[0][0]
        return f"{self.kept_rows}:{digest}"

    def trace(self, tracer) -> tuple[dict, list[str]]:
        """run_job's work, replayed layer by layer in its order: the
        input-count pass, the batch plan, then per batch the read, the
        assessment's plan (built on the driver), the pipeline prefixes,
        the corpus write (which, as in run_job, computes and caches the
        assessment: its self time is the write minus the assessment's
        prefix time), the lineage write from the cache, and the manifest
        commit."""
        from luzzu_spark.checkpoint import BatchManifest, plan_batches
        from luzzu_spark.metrics import partition_lineage
        from luzzu_spark.rules.registry import (extended_registry,
                                                robots_noindex_rule)
        from luzzu_spark.sources import read_corpus
        spark, out = self.spark, os.path.join(self.out, "trace")
        m: dict = {"sources.self_s": 0.0, "pipeline.plan_s": 0.0,
                   "pipeline.corpus_write_s": 0.0}
        with tracer.span("run_filter.count_pass") as count_span:
            # run_job's own ingest pass: input and noindex counts
            corpus = read_corpus(spark, self.input, fmt="warc")
            n = corpus.agg(F.count(F.lit(1)), F.sum(F.col(
                "robots_noindex").cast("long"))).collect()[0][0]
        with tracer.span("checkpoint.plan") as plan_span:
            manifest = BatchManifest(os.path.join(out, "_manifest"))
            manifest.read_plan()
            files = read_corpus(spark, self.input, fmt="warc").inputFiles()
            batches = plan_batches(files, self.BATCH_SIZE)
            manifest.write_plan({"batch_size": self.BATCH_SIZE,
                                 "n_files": len(files)})
            manifest.committed()
        pipe = None
        for bid, chunk in batches:
            with tracer.span("sources.read") as s:
                pages = read_corpus(spark, list(chunk), fmt="warc")
            m["sources.self_s"] += s["end"] - s["start"]
            with tracer.span("pipeline.plan") as s:
                pipe = pipe or QualityPipeline(
                    registry=extended_registry(robots_noindex_rule()))
                assessed = pipe.assess(pages)
            m["pipeline.plan_s"] += s["end"] - s["start"]
            assess_s = trace_pipeline(tracer, pipe, pages, m)
            # persisted only now: a cached plan would also serve the
            # prefixes that equal it and hide the assessment's cost
            assessed.persist()
            try:
                path = os.path.join(out, f"batch={bid}")
                with tracer.span("pipeline.corpus_write") as s:
                    pipe.filtered_from_assessed(assessed).write \
                        .mode("overwrite").parquet(path)
                m["pipeline.corpus_write_s"] += (s["end"] - s["start"]
                                                 - assess_s)
                m_path = os.path.join(out, f"metrics/batch={bid}")
                with tracer.span("metrics.lineage_write"):
                    partition_lineage(assessed).write.mode("overwrite") \
                        .parquet(m_path)
            finally:
                assessed.unpersist()
            with tracer.span("checkpoint.commit"):
                manifest.commit(bid, {"files": list(chunk),
                                      "output": path, "metrics": m_path})
        m.update({
            "run_filter.count_pass_s":
                count_span["end"] - count_span["start"],
            "checkpoint.plan_s": plan_span["end"] - plan_span["start"],
            "sources.rows_out": n,
            "scrub.hit_frac": scrub_hit_frac(corpus),
            "metrics.lineage_write_s":
                tracer.self_s("metrics.lineage_write"),
            "pipeline.mb_written": sum(
                dir_mb(os.path.join(out, f"batch={b}"))
                for b, _ in batches),
            "checkpoint.batches": len(manifest.committed()),
            "checkpoint.commit_s": tracer.self_s("checkpoint.commit"),
        })
        m.update(plugin_us(list(self.expect["sample"].values())))
        return m, ["run_filter.count_pass_s", "checkpoint.plan_s",
                   "pipeline.plan_s"] + [
            f"{n}.self_s" for n in PIPELINE_LAYERS] + [
            "pipeline.corpus_write_s", "metrics.lineage_write_s",
            "checkpoint.commit_s"]


# build_corpus.build's funnel counts, in the order build() takes them,
# and the layer each count closes
FUNNEL_STAGES = (("input", "sources"),
                 ("quality_kept", "build_corpus.filter"),
                 ("after_exact_dedup", "dedup.exact"),
                 ("after_near_dedup", "dedup.near"),
                 ("after_decontamination", "dedup.decontam"),
                 ("after_sampling", "build_corpus.sample"),
                 ("n_sequences", "build_corpus.pack"),
                 ("written", "build_corpus.sink"))


class CorpusFunnel:
    """build_corpus.build: filter → exact dedup → near-dup →
    decontaminate → sample 0.9 → pack 2048 → parquet sink."""

    name = "corpus_funnel"

    def __init__(self, spark, data: str, out: str, expect: dict):
        self.spark, self.out, self.expect = spark, out, expect
        self.input = os.path.join(data, "input")
        self.bench = os.path.join(data, "bench")
        self.n_docs = expect["props"]["docs"]
        self.funnel = None

    def args(self, output: str) -> argparse.Namespace:
        return argparse.Namespace(
            input=self.input, output=output, master=None,
            as_webpages=True, inject_pii=False, bench_input=self.bench,
            neardup_threshold=0.5, survivor_policy="first",
            sample_rate=0.9, pack_budget=2048, format="parquet",
            json=False)

    def job(self, i: int):
        import build_corpus
        return build_corpus.build(
            self.spark, self.args(os.path.join(self.out, f"job{i}")))

    def check_job(self, i: int, funnel: dict) -> None:
        require(funnel["input"] == self.n_docs,
                f"funnel read {funnel['input']} docs")
        require(funnel["written"] == funnel["after_sampling"],
                "written count differs from the sampled count")
        if self.funnel is None:
            self.funnel = funnel
        require(funnel == self.funnel,
                f"job {i} funnel {funnel} != job 0 {self.funnel}")

    def check_outputs(self) -> str:
        from gen import grams13
        written = pq.read_table(os.path.join(self.out, "job0"),
                                columns=["doc_id", "text"]).to_pylist()
        texts = [r["text"] for r in written]
        require(len(set(texts)) == len(texts), "written docs share text")
        bench = pq.read_table(self.bench, columns=["text"]).column(
            "text").to_pylist()
        bench_grams = set().union(*(grams13(b.split()) for b in bench))
        require(not any(grams13(t.split()) & bench_grams for t in texts),
                "a written doc shares a 13-gram with the bench set")
        inputs = {r["doc_id"]: r["text"] for r in pq.read_table(
            self.input, columns=["doc_id", "text"]).to_pylist()}
        for r in written[:300]:
            want = oracle_pandas.assess_row(inputs[r["doc_id"]])
            require(want["keep"], f"doc {r['doc_id']}: oracle drops it")
            require(r["text"] == want["text_scrubbed"],
                    f"doc {r['doc_id']}: scrubbed text differs")
        return repr(sorted(self.funnel.items()))

    def trace(self, tracer) -> tuple[dict, list[str]]:
        """Time build() between its own funnel counts: each count closes
        one stage, so the span between two counts is that stage's self
        time. The quality filter is split further by pipeline prefixes
        on the same pages, and the near-dup candidates are counted on
        the frame build() handed to near_dup_survivors."""
        import build_corpus

        from luzzu_spark import dedup
        marks: list[tuple[float, int]] = []
        captured: dict = {}
        frame = type(self.spark.range(1))  # the concrete DataFrame class
        count, survivors = frame.count, dedup.near_dup_survivors

        def counted(df):
            v = count(df)
            marks.append((time.perf_counter(), v))
            return v

        def capture(docs, threshold=0.5, *a, **kw):
            captured.update(docs=docs, threshold=threshold)
            return survivors(docs, threshold, *a, **kw)

        frame.count, dedup.near_dup_survivors = counted, capture
        try:
            t0 = time.perf_counter()
            funnel = build_corpus.build(self.spark, self.args(
                os.path.join(self.out, "trace")))
            t1 = time.perf_counter()
        finally:
            frame.count, dedup.near_dup_survivors = count, survivors
        keys = [k for k, _ in FUNNEL_STAGES]
        require([v for _, v in marks] == [funnel[k] for k in keys],
                f"build() counts {[v for _, v in marks]} no longer match "
                f"FUNNEL_STAGES {[funnel[k] for k in keys]}")
        m: dict = {}
        tracer.add("build_corpus.build", t0, t1)
        root, prev = len(tracer.spans) - 1, t0
        for (key, layer), (t, _) in zip(FUNNEL_STAGES, marks):
            end = t1 if key == "written" else t
            tracer.add(layer, prev, end, parent=root)
            m[f"{layer}.self_s"] = end - prev
            prev = end
        for key, layer in FUNNEL_STAGES[2:5]:
            m[f"{layer}.rows_out"] = funnel[key]
        m["sources.rows_out"] = funnel["input"]

        pages = as_webpages(self.spark.read.parquet(self.input))
        with tracer.span("pipeline.plan") as s:
            QualityPipeline().assess(pages)
        m["pipeline.plan_s"] = s["end"] - s["start"]
        filt: dict = {}
        trace_pipeline(tracer, QualityPipeline(), pages, filt)
        for k, v in filt.items():
            if k != "sources.self_s":
                m[k] = v
        m["scrub.hit_frac"] = scrub_hit_frac(pages)

        docs = captured["docs"].persist()
        try:
            cands = dedup.lsh_candidate_pairs(
                dedup.minhash_signatures(docs)).persist()
            n_cand = cands.count()
            n_ok = cands.where(
                F.col("est_jaccard") >= captured["threshold"]).count()
            cands.unpersist()
        finally:
            docs.unpersist()
        m["dedup.near.candidates"] = n_cand
        m["dedup.near.useful_frac"] = n_ok / n_cand if n_cand else 0.0
        texts = pq.read_table(self.input, columns=["text"]).column(
            "text").to_pylist()
        m.update(plugin_us(texts[:1000]))
        return m, [f"{layer}.self_s" for _, layer in FUNNEL_STAGES]


WORKLOADS = {w.name: w for w in (CrawlWarcLong, CorpusFunnel)}
