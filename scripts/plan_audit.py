#!/usr/bin/env python
"""Physical-plan audit over the whole query catalog → PLANS.md.

For every catalog query, count the plan nodes that matter at 100 TB
(shuffles, join strategies, Python stages, scan pushdown) and flag the
anti-patterns (cartesian products, row-at-a-time Python). The table is
committed as PLANS.md so plan regressions show up in diffs; the hard
assertions live in tests/test_plans.py — this is the fleet-wide view.

Run: python scripts/plan_audit.py [sf_dir] (default sf0.001).
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from luzzu_spark.session import get_spark  # noqa: E402


# Unbounded text columns that must never be shuffle/partitioning keys
# (VERDICT r02: span-text shuffle keys were the one scale-killer left).
# Fixed-width digests (span_key, gram md5s, md5(text), content_hash)
# are fine — hence the check applies to TOP-LEVEL keys only, so
# `hashpartitioning(md5(text#4)#9, 32)` passes while
# `hashpartitioning(text#4, 32)` is flagged.
_TEXT_KEY = re.compile(
    r"^(text|span|gram|html|toks|tokens|raw|cleaned|spans)#\d+$")


# ---------------------------------------------------------------------
# Driver-materialization audit (VERDICT r03 item 3): every .collect()
# / .toPandas() in the library must be provably BOUNDED — constant or
# capped cardinality, never corpus-shaped. New call sites fail the
# audit (and tests/test_plans.py) until allow-listed here with the
# bound that justifies them.
# ---------------------------------------------------------------------
_DRIVER_MAT_ALLOWED = {
    # (file, line-substring): why it is bounded
    ("luzzu_spark/dedup.py",
     'spark.sql(f"SHOW PARTITIONS {table}").collect())'):
        "catalog metadata — one row per index epoch (compaction keeps "
        "≤ keep_epochs+1), never data rows",
    ("luzzu_spark/dedup.py",
     ".where(\"col_name = 'Location'\").collect())"):
        "DESCRIBE FORMATTED metadata — ≤ a few dozen catalog rows, "
        "never data rows",
    ("luzzu_spark/dedup.py", "for row in merged.toLocalIterator()"):
        "Bloom bitmaps: ≤shards rows of one shard bitmap (m/8 bytes, "
        "sized by fpp/expected_items) each, consumed ONE at a time — "
        "driver peak is a single shard regardless of index size",
    ("luzzu_spark/dedup.py",
     'spark.sql(f"SHOW TBLPROPERTIES {table}").collect()}'):
        "catalog metadata — a handful of property rows per index "
        "table, never data rows",
    ("luzzu_spark/streaming.py",
     'F.lit(2**31 - 1))).alias("d")).collect()[0]'):
        "exactly one aggregate row (count + folded key digest) per "
        "micro-batch — the epoch-marker fingerprint",
}


def driver_materialization_hits(repo: str = REPO) -> list[str]:
    """Unallowed .collect()/.toPandas()/.toLocalIterator() call sites
    in library code."""
    hits = []
    lib = os.path.join(repo, "luzzu_spark")
    for root, _dirs, files in os.walk(lib):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, repo)
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    if ".collect()" not in line and \
                            ".toPandas()" not in line and \
                            ".toLocalIterator()" not in line:
                        continue
                    if any(rel == af and sub in line
                           for (af, sub) in _DRIVER_MAT_ALLOWED):
                        continue
                    hits.append(f"{rel}:{i}: {line.strip()[:80]}")
    return hits


def stale_allowlist_entries(repo: str = REPO) -> list[str]:
    """_DRIVER_MAT_ALLOWED entries that match no line of their file —
    an allowance left behind by a deleted call site."""
    stale = []
    for rel, sub in sorted(_DRIVER_MAT_ALLOWED):
        try:
            with open(os.path.join(repo, rel)) as f:
                live = any(sub in line for line in f)
        except FileNotFoundError:
            live = False
        if not live:
            stale.append(f"{rel}: {sub}")
    return stale


def _split_top_level(s: str) -> list[str]:
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return parts


def _text_shuffle_keys(plan: str) -> list[str]:
    """Exchange partitioning clauses keyed directly on raw text cols."""
    out = []
    for m in re.finditer(
            r"Exchange (?:hash|range)partitioning\((.*)", plan):
        # the clause ends at the matching close-paren; keys are the
        # comma-separated operands before the partition count
        body, depth = [], 1
        for ch in m.group(1):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            body.append(ch)
        keys = _split_top_level("".join(body))
        for key in keys[:-1]:  # last operand is the partition count
            # strip ordering decoration (range partitioning)
            name = key.split(" ")[0]
            if _TEXT_KEY.match(name):
                out.append(name)
    return out


def audit(sf_dir: str = "/root/testdata/sf0.001") -> str:
    import __spark_entry__ as entry
    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    flagged = []
    for name, fn in sorted(entry.queries().items()):
        try:
            df = fn(spark, sf_dir)
            p = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # pragma: no cover - audit robustness
            rows.append((name, "ERROR: " + str(ex)[:60]))
            flagged.append(name)
            continue
        counts = {
            "xchg": len(re.findall(r"Exchange (?:hash|range)partitioning",
                                   p)),
            "bhj": p.count("BroadcastHashJoin"),
            "smj": p.count("SortMergeJoin"),
            "arrow": p.count("ArrowEvalPython"),
            "sort": len(re.findall(r"\bSort \[", p)),
        }
        bad = []
        if "CartesianProduct" in p:
            bad.append("CARTESIAN")
        if "BatchEvalPython" in p:
            bad.append("ROW-PYTHON")
        if _text_shuffle_keys(p):
            bad.append("TEXT-KEY")
        if bad:
            flagged.append(name)
        rows.append((name, counts, ", ".join(bad) or "—"))
    spark.stop()

    lines = [
        "# PLANS — physical-plan audit of the query catalog",
        "",
        f"Generated by `python scripts/plan_audit.py` at `{sf_dir}`.",
        "Columns: shuffle exchanges / broadcast joins / sort-merge joins"
        " / Arrow Python stages / sorts. Flags: CARTESIAN product,"
        " row-at-a-time Python, or a raw-text column used as a shuffle"
        " key (all banned; the hard assertions are in"
        " tests/test_plans.py).",
        "",
        "| query | xchg | bhj | smj | arrow | sort | flags |",
        "| --- | --- | --- | --- | --- | --- | --- |",
    ]
    for row in rows:
        if len(row) == 2:
            lines.append(f"| {row[0]} | | | | | | {row[1]} |")
        else:
            name, c, bad = row
            lines.append(
                f"| {name} | {c['xchg']} | {c['bhj']} | {c['smj']} "
                f"| {c['arrow']} | {c['sort']} | {bad} |")
    mat = driver_materialization_hits()
    stale = stale_allowlist_entries()
    lines += ["",
              f"Flagged queries: {flagged or 'none'}.",
              "",
              "Driver-materialization audit (unallowed .collect()/"
              ".toPandas() in luzzu_spark/): "
              + (("FLAGGED: " + "; ".join(mat)) if mat else "none — "
                 "every call site is allow-listed with its bound "
                 "(scripts/plan_audit.py:_DRIVER_MAT_ALLOWED).")
              + (" STALE allowlist entries: " + "; ".join(stale)
                 if stale else "")]
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    text = audit(sf)
    out = os.path.join(REPO, "PLANS.md")
    with open(out, "w") as f:
        f.write(text)
    print(text.splitlines()[-1])
    print(f"wrote {out}")
