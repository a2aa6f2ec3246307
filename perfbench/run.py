"""Benchmark entry point for the quality filter.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run is one fresh process: it waits
for any earlier run's JVM and Python workers to exit, measures set-up
(process start until the SparkSession is ready) several times, has
perfbench/gen.py build the seeded inputs, runs one cold job and then
warm jobs for S seconds of job time (closed loop, one client), checks
every job's output, and prints one JSON line as the last line of
stdout. With --trace 1 it instead runs one cold and one untraced warm
job, the traced per-layer breakdown and one more untraced job, and
prints the per-layer metrics. Metric names and units come from BENCHMARK.json.

Everything the run writes goes under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# environment mark inherited by the JVM and its Python workers, so a
# later run can find (and wait for) processes an earlier run left
ENV_MARK = "PERFBENCH_CHECKOUT"
SETUP_SAMPLES = 2
MAX_WARM_JOBS = 50

sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]

from harness import (RssSampler, SparkCounters, Tracer,  # noqa: E402
                     descendants, kill_and_wait, marked_processes,
                     process_age_s, wait_gone)


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--setup-probe", metavar="WORK_DIR",
                   help=argparse.SUPPRESS)
    return p.parse_args()


def prepare_env(work: str) -> None:
    """Point every temp and output location into the checkout, and make
    the checkout importable by the Python workers."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ[ENV_MARK] = ROOT
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # in local mode this variable, when set, wins over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM: no hsperfdata file in the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def start_session(work: str, cores: int):
    from luzzu_spark.session import get_spark
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}"
            " -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, shut the gateway JVM down, and wait until the JVM and
    every Python worker it started have exited."""
    from pyspark import SparkContext
    kids = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    kill_and_wait(wait_gone(kids, 30))


def timed_setup(work: str, age_at_main: float):
    """Start the session; set-up time is the process's age when main()
    began (interpreter start-up) plus the session start."""
    t = time.perf_counter()
    spark = start_session(work, len(os.sched_getaffinity(0)))
    return spark, age_at_main + time.perf_counter() - t


def setup_probe(work: str, age_at_main: float) -> None:
    """Child mode: time one set-up, report it, stop."""
    spark, setup_s = timed_setup(work, age_at_main)
    stop_session(spark)
    print(json.dumps({"setup_s": setup_s}))


def setup_samples(work: str, n: int) -> list[float]:
    out = []
    for _ in range(n):
        r = subprocess.run([sys.executable, __file__, "--setup-probe",
                            work], capture_output=True, text=True,
                           timeout=170, check=True)
        out.append(json.loads(r.stdout.strip().splitlines()[-1])
                   ["setup_s"])
    return out


class Runner:
    """Times jobs of one workload and keeps the attempt/failure count."""

    def __init__(self, workload):
        self.w = workload
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def job(self, i: int) -> float | None:
        """Run and check job i; its wall time, or None if it failed."""
        from workloads import CheckFailed
        self.attempted += 1
        t = time.perf_counter()
        try:
            result = self.w.job(i)
            wall = time.perf_counter() - t
            self.w.check_job(i, result)
            return wall
        except CheckFailed as e:
            self.errors.append(f"job {i}: {e}")
        except Exception:
            self.errors.append(f"job {i} raised:\n{traceback.format_exc()}")
        self.failed += 1
        return None

    def deep_check(self, seed: int) -> None:
        """The oracle/invariant check of job 0's output, plus the
        output digest, which must repeat across runs of one seed."""
        from workloads import CheckFailed
        try:
            digest = self.w.check_outputs()
        except CheckFailed as e:
            self.errors.append(f"output check: {e}")
        except Exception:
            self.errors.append(f"output check raised:\n"
                               f"{traceback.format_exc()}")
        else:
            path = os.path.join(WORK_ROOT, "digests.json")
            seen = {}
            if os.path.exists(path):
                with open(path) as f:
                    seen = json.load(f)
            key = f"{self.w.name}:{seed}"
            if seen.setdefault(key, digest) != digest:
                self.errors.append(f"output digest {digest} differs from "
                                   f"an earlier run's {seen[key]}")
            with open(path, "w") as f:
                json.dump(seen, f)
            return
        # job 0's output is the reference every other job was held to
        self.failed = self.attempted


def timed_run(runner: Runner, seconds: float) -> dict:
    with RssSampler() as rss:
        cold = runner.job(0)
        peaks = [rss.take_peak()]
        warm: list[float] = []
        i = 1
        while ((sum(warm) < seconds or not warm) and i <= MAX_WARM_JOBS
               and runner.failed < 3):
            wall = runner.job(i)
            peaks.append(rss.take_peak())
            if wall is not None:
                warm.append(wall)
            i += 1
    return {"cold": cold, "warm": warm, "rss_peaks": peaks}


def traced_run(runner: Runner, spark, cores: int, run_id: str) -> dict:
    """Cold job, one untraced warm job, the traced pass, then a second
    untraced job, over which Spark's counters are read. The layer sum
    is compared with the median of the two untraced warm jobs, which
    bracket the traced pass."""
    cold = runner.job(0)
    warm = [runner.job(1)]
    tracer = Tracer(runner.w.name, run_id)
    layers, top = runner.w.trace(tracer)
    os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
    tracer.write(os.path.join(WORK_ROOT, "traces",
                              f"{runner.w.name}-{run_id}.jsonl"))
    counters = SparkCounters(spark)
    mark = counters.snapshot()
    wall = runner.job(2)
    warm.append(wall)
    m = counters.since(mark, wall or float("nan"), cores)
    m.update(layers)
    warm_s = statistics.median(warm) if all(warm) else float("nan")
    m["trace.job_wall_s"] = warm_s
    m["trace.layer_sum_s"] = sum(layers[k] for k in top)
    m["session.cold_extra_s"] = cold - warm_s if cold else float("nan")
    return m


def finite(v) -> float:
    """A metric as printed: layers a workload does not run, and times of
    failed jobs (the run is then reported incorrect), read 0."""
    return v if v is not None and math.isfinite(v) else 0.0


def host_control(cores: int) -> dict:
    import bench
    return bench.host_control(cores)


def main() -> int:
    age_at_main = process_age_s()
    a = parse_args()
    if a.setup_probe:
        setup_probe(a.setup_probe, age_at_main)
        return 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names or a.seed is None:
        print(f"--workload must be one of {names}; --seed is required",
              file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "luzzu_spark")):
        print("perfbench: the program (luzzu_spark/) is not in this "
              "checkout; run from the repository root", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    run_id = f"{a.seed}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(WORK_ROOT, f"run-{run_id}")
    prepare_env(work)
    left = marked_processes(ENV_MARK, ROOT)
    kill_and_wait(wait_gone(left, 60))
    setups = [] if a.trace else setup_samples(work, SETUP_SAMPLES - 1)
    spark, setup_s = timed_setup(work, age_at_main)
    setups.append(setup_s)
    try:
        data = os.path.join(work, "data")
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                        "--workload", a.workload, "--seed", str(a.seed),
                        "--out", data], check=True, stdout=subprocess.PIPE)
        with open(os.path.join(data, "expect.json")) as f:
            expect = json.load(f)
        from workloads import WORKLOADS
        workload = WORKLOADS[a.workload](spark, data,
                                         os.path.join(work, "out"), expect)
        runner = Runner(workload)
        if a.trace:
            measured = traced_run(runner, spark, cores, run_id)
            measured["session.start_s"] = statistics.median(setups)
        else:
            r = timed_run(runner, a.seconds)
        runner.deep_check(a.seed)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        wanted = spec["per_layer"]
    else:
        wanted = spec["end_to_end"]
        warm = r["warm"] or [float("nan")]
        measured = {
            "docs_per_s": workload.n_docs / statistics.median(warm),
            "first_job_s": r["cold"] if r["cold"] else float("nan"),
            "setup_s": statistics.median(setups),
        }
    info = {"workload": a.workload, "seed": a.seed, "cores": cores,
            "input": expect["props"], "setup_samples_s": setups,
            "failed_frac": runner.failed / runner.attempted,
            "host_control": host_control(cores)}
    if not a.trace:
        info.update(warm_jobs_s=r["warm"], warm_samples=len(r["warm"]),
                    peak_rss_mb=max(p["total_mb"] for p in r["rss_peaks"]),
                    rss_peaks=r["rss_peaks"])
    for e in runner.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    print("# " + json.dumps(info))
    correct = not runner.errors
    print(json.dumps({
        "correct": correct, "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {m["name"]: {"value": finite(measured.get(m["name"])),
                                "unit": m["unit"]} for m in wanted}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
