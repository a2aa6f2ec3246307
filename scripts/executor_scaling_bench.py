#!/usr/bin/env python
"""N vs 4N *executor* scaling — the faithful sandbox substitution.

The north rule's criterion is throughput scaling ≥0.8 from N to 4N
EXECUTORS. A real cluster adds executors as separate fixed-size JVMs;
it does NOT grow one JVM 4×. `local[8]` vs `local[32]` (one JVM)
under-reports that: a single 32-thread JVM inflates per-task CPU ~2×
(shared heap, allocation contention, GC) — measured via the stage
metrics API — which no multi-executor cluster experiences.

This harness simulates executors faithfully:

  N=1:  one spark-submit local[c] JVM pinned to the first c allowed
        CPUs, where c = (CPUs in the process's affinity mask) // 4
  4N:   four spark-submit local[c] JVMs, pinned to the four disjoint
        c-CPU slices of the mask, running CONCURRENTLY, each over the
        full input

Each JVM reports its own steady-state throughput (bench mode: warm-up
run discarded, min of the remaining repeats). Aggregate 4N throughput =
sum over the four concurrent JVMs; efficiency = agg / (4 × single).
CPU pinning makes each "executor" an honest c-core machine slice —
Python UDF workers inherit the affinity mask.

Prints one JSON line. Run exclusively (nothing else on the box).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def make_pyfiles_zip(dest: str) -> str:
    """Package luzzu_spark/ for --py-files (the deployment artifact)."""
    zpath = os.path.join(dest, "luzzu_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(REPO, "luzzu_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    return zpath


def write_input(sf_dir: str, replicate: int, dest: str, n_files: int) -> int:
    """Materialize the replicated document corpus as an n_files parquet
    dir (deterministic; same corpus bench.py uses)."""
    from luzzu_spark.session import get_spark
    import bench
    spark = get_spark("scaling_input")
    spark.sparkContext.setLogLevel("ERROR")
    docs = bench.replicated_pages(spark, sf_dir, replicate) \
        .drop("html")  # pages shape minus the heavy binary copy
    docs.repartition(n_files).write.mode("overwrite").parquet(dest)
    n = spark.read.parquet(dest).count()
    spark.stop()
    return n


def executor_slices() -> list[list[int]]:
    """Four disjoint, equal CPU slices of the process's affinity mask."""
    cpus = sorted(os.sched_getaffinity(0))
    per = len(cpus) // 4
    if per < 1:
        raise SystemExit(f"need at least 4 allowed CPUs, have {len(cpus)}")
    return [cpus[i * per:(i + 1) * per] for i in range(4)]


def submit(cores: list[int], zip_path: str, input_dir: str,
           out: str, repeat: int) -> subprocess.Popen:
    cmd = [
        "taskset", "-c", ",".join(map(str, cores)),
        "spark-submit", "--master", f"local[{len(cores)}]",
        "--driver-memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "--py-files", zip_path,
        os.path.join(REPO, "scripts", "run_filter.py"),
        "--input", input_dir, "--output", out,
        "--bench", "--repeat", str(repeat), "--json",
    ]
    env = dict(os.environ, PYTHONPATH=REPO)
    # keep stderr: a failed run must say WHY (review r05 — DEVNULL
    # left RuntimeError('no JSON') with zero diagnostics)
    return subprocess.Popen(cmd, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True, env=env)


def result_of(proc: subprocess.Popen) -> dict:
    try:
        out, err = proc.communicate(timeout=1800)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise
    lines = [ln for ln in out.strip().splitlines() if ln.startswith("{")]
    if not lines:
        tail = "\n".join((err or "").strip().splitlines()[-8:])
        raise RuntimeError(f"no JSON from executor run; stderr tail:\n"
                           f"{tail}")
    return json.loads(lines[-1])


def _drain(procs: list[subprocess.Popen]) -> list[dict]:
    """Collect all concurrent executor results; on the FIRST failure
    kill every still-running sibling before raising — orphaned
    spark-submit trees would keep burning the 'otherwise-idle box'
    while the shared work dir is deleted out from under them
    (review r05)."""
    results = []
    for p in procs:
        try:
            results.append(result_of(p))
        except Exception:
            for q in procs:
                if q.poll() is None:
                    q.kill()
                    q.communicate()
            raise
    return results


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--replicate", type=int, default=100)
    ap.add_argument("--n-files", type=int, default=64)
    ap.add_argument("--repeat", type=int, default=4)
    ap.add_argument("--alternate", type=int, default=2,
                    help="interleaved solo/quad leg PAIRS (CLAUDE.md "
                         "perf rule 5: the host is noisy, so pair and "
                         "alternate levels; best-per-level is taken "
                         "across rounds — review r05: a single solo "
                         "leg put all host drift into the efficiency "
                         "denominator, ±30%% on an idle box)")
    args = ap.parse_args()
    slices = executor_slices()

    work = tempfile.mkdtemp(prefix="luzzu_execscale_")
    try:
        zip_path = make_pyfiles_zip(work)
        input_dir = os.path.join(work, "input")
        n_docs = write_input(args.sf_dir, args.replicate, input_dir,
                             args.n_files)

        solo_tps: list[float] = []
        quad_aggs: list[float] = []
        quad_each: list[list[float]] = []
        for rnd in range(max(1, args.alternate)):
            # N = 1 executor
            p = submit(slices[0], zip_path, input_dir,
                       os.path.join(work, f"single{rnd}"), args.repeat)
            single = _drain([p])[0]
            solo_tps.append(single["docs_per_sec"])
            print(f"# round {rnd} 1 executor ({len(slices[0])} cores): "
                  f"{single['docs_per_sec']} docs/sec "
                  f"(trials {single['trials']})", file=sys.stderr)

            # 4N = 4 concurrent executors on disjoint CPU ranges
            procs = [submit(cores, zip_path, input_dir,
                            os.path.join(work, f"quad{rnd}_{i}"),
                            args.repeat)
                     for i, cores in enumerate(slices)]
            quad = _drain(procs)
            tps = [r["docs_per_sec"] for r in quad]
            quad_each.append(tps)
            quad_aggs.append(sum(tps))
            for i, r in enumerate(quad):
                print(f"# round {rnd} executor {i}: "
                      f"{r['docs_per_sec']} docs/sec "
                      f"(trials {r['trials']})", file=sys.stderr)

        # best-per-level across interleaved rounds (the min-wall-time
        # discipline): host drift must hit both levels, not just the
        # solo denominator
        tp1 = max(solo_tps)
        best = max(range(len(quad_aggs)), key=lambda i: quad_aggs[i])
        agg = quad_aggs[best]
        eff = agg / (4 * tp1)
        print(json.dumps({
            "n_docs": n_docs,
            "executor_cores": len(slices[0]),
            "alternate_rounds": max(1, args.alternate),
            "throughput_1_executor": tp1,
            "throughput_1_executor_rounds": solo_tps,
            "throughput_4_executors_each": quad_each[best],
            "throughput_4_executors_aggregate": round(agg, 1),
            "throughput_4_executors_rounds":
                [round(a, 1) for a in quad_aggs],
            # history-schema keys (SCALING.json / bench.py consumers)
            # ALONGSIDE the verbose names, so a verbatim append works
            "speedup": round(agg / tp1, 3),
            "speedup_n_to_4n": round(agg / tp1, 3),
            "efficiency": round(eff, 3),
            "scaling_efficiency": round(eff, 3),
            "target": 0.8,
            "pass": eff >= 0.8,
            "launch": "taskset + spark-submit --py-files "
                      "(disjoint-CPU executor JVMs)",
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
