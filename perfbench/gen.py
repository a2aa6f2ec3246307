"""Seeded input generator for the filter benchmark.

    python3 perfbench/gen.py --workload NAME --seed N --out DIR

Writes one workload's input files under DIR, plus ``expect.json``:
the measured input properties (``props``) and the per-url expectations
the output checks read. The same (workload, seed) always yields the
same bytes. The program under test receives only the files under
``DIR/input`` (and ``DIR/bench`` for the funnel's eval set).

Text is drawn the way the fixture ``documents`` table is: words
picked uniformly from its vocabulary, 10-100 words per text
(~300 chars). The generator carries that vocabulary itself, so it reads
no data outside its output directory.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

# the fixture PII suffix and the scrub chain's plain-Python twin, from
# the pandas oracle: a text hits the scrub probe exactly when the chain
# changes it
from luzzu_spark.oracle_pandas import pii_suffix  # noqa: E402
from luzzu_spark.rules.scrub import scrub_py  # noqa: E402

# the fixture documents table's vocabulary (uniform draw) and lang mix
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data",
         "fast", "filter", "group", "hash", "join", "key", "line",
         "merge", "order", "part", "query", "row", "scan", "slow",
         "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window")
LANGS = ("en", "en", "en", "fr", "es", "de", "zh")
N_SOURCES = 20
N_FILES = 8


def fixture_words(rng: random.Random, lo: int = 10,
                  hi: int = 100) -> list[str]:
    return [rng.choice(VOCAB) for _ in range(rng.randint(lo, hi))]


def hit_frac(texts) -> float:
    """Share of texts the scrub chain changes."""
    hits = [scrub_py(t) != t for t in texts]
    return sum(hits) / len(hits)


def _write_docs(rows: list[dict], out_dir: str) -> None:
    """documents-schema parquet, split into N_FILES files."""
    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
    per = -(-len(rows) // N_FILES)
    for f in range(N_FILES):
        part = rows[f * per:(f + 1) * per]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, os.path.join(out_dir,
                                           f"part-{f:02d}.parquet"))


def _doc(doc_id: int, text: str, rng: random.Random) -> dict:
    return {"doc_id": doc_id, "text": text, "lang": rng.choice(LANGS),
            "source": f"src{doc_id % N_SOURCES}", "n_chars": len(text)}


_NAV = "<nav><a href=\"/\">home</a> <a href=\"/about\">about</a></nav>"
_SCRIPT = ("<script>var cfg = {\"track\": true, \"id\": 42};"
           " function go() { return cfg.id; }</script>")
_PII_SNIPPETS = ("write to {u}@mail.example.org today",
                 "phone 555-{d4} anytime", "host 192.168.{b}.{c} down",
                 "id 321-54-{d4} on file")


def gen_crawl_warc_long(rng: random.Random, out: str, n_pages: int,
                        n_sample: int) -> dict:
    """Raw WARC response records; each page ~3 KB of text in 10 <p>
    blocks behind <script>/<nav> boilerplate. PII on ~2% of pages, one
    paragraph repeated three times on ~20%, meta-robots noindex on ~1%.
    The expected extracted text is the title, the nav words and the
    paragraphs, blank-line separated (rules/html.py's block breaks)."""
    os.makedirs(os.path.join(out, "input"), exist_ok=True)
    files = [[] for _ in range(N_FILES)]
    expected, noindex, n_rep, chars = {}, [], 0, 0
    for i in range(n_pages):
        host = f"site{rng.randrange(200)}.example.org"
        url = f"https://{host}/page/{i}"
        paras = [" ".join(fixture_words(rng, 30, 80)) for _ in range(10)]
        if rng.random() < 0.20:
            n_rep += 1
            j = rng.randrange(7)
            paras[j + 1] = paras[j + 2] = paras[j]
        if rng.random() < 0.02:
            snip = rng.choice(_PII_SNIPPETS).format(
                u=f"user{i}", d4=f"{rng.randrange(10000):04d}",
                b=rng.randrange(256), c=rng.randrange(256))
            paras[rng.randrange(10)] += " " + snip
        title = " ".join(fixture_words(rng, 3, 6))
        meta = ""
        if rng.random() < 0.01:
            noindex.append(url)
            meta = '<meta name="robots" content="noindex, nofollow">'
        html = (f"<html><head><title>{title}</title>{meta}</head>"
                f"<body>{_NAV}{_SCRIPT}\n"
                + "\n".join(f"<p>{p}</p>" for p in paras)
                + "</body></html>")
        text = f"{title} home about\n\n" + "\n\n".join(paras)
        expected[url] = text
        chars += len(text)
        http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; "
                "charset=UTF-8\r\n\r\n" + html)
        rec = ("WARC/1.0\r\nWARC-Type: response\r\n"
               f"WARC-Target-URI: {url}\r\n"
               f"WARC-Date: 2024-03-{1 + i % 28:02d}T"
               f"{i % 24:02d}:{i % 60:02d}:00Z\r\n"
               f"WARC-Record-ID: <urn:uuid:bench-{i}>\r\n"
               "Content-Type: application/http; msgtype=response\r\n"
               f"Content-Length: {len(http.encode())}\r\n\r\n"
               + http + "\r\n\r\n")
        files[i % N_FILES].append(rec)
    for f, recs in enumerate(files):
        with open(os.path.join(out, "input", f"crawl-{f:02d}.warc"),
                  "wb") as fh:
            fh.write("".join(recs).encode())
    sample = rng.sample(sorted(expected), n_sample)
    sample_set = set(sample) | set(noindex)
    return {
        "props": {
            "docs": n_pages,
            "mean_chars": chars / n_pages,
            "scrub.hit_frac": hit_frac(expected.values()),
            "repeated_passage_frac": n_rep / n_pages,
            "noindex_frac": len(noindex) / n_pages,
        },
        "noindex": noindex,
        "sample": {u: expected[u] for u in sorted(sample_set)},
    }


def grams13(toks: list[str], n: int = 13) -> set[tuple]:
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def gen_corpus_funnel(rng: random.Random, out: str, n_docs: int,
                      n_bench: int) -> dict:
    """Composite docs of three fixture texts, 4/7 of them with the
    fixture PII suffix. ~5% exact copies and ~15% near-copies (three
    token substitutions) of an earlier doc; a bench set whose first
    docs each embed a 20-token window of one original doc, so ~2% of
    docs share a 13-gram with it."""
    base = rng.randrange(1, 1_000_000)
    toks: list[list[str]] = []
    kind: list[str] = []
    originals: list[list[str]] = []  # their words before any PII
    for i in range(n_docs):
        r = rng.random()
        if i >= 10 and r < 0.05:
            toks.append(list(toks[rng.randrange(i)]))
            kind.append("exact")
        elif i >= 10 and r < 0.20:
            t = list(toks[rng.randrange(i)])
            for p in rng.sample(range(len(t)), 3):
                t[p] = rng.choice([w for w in VOCAB if w != t[p]])
            toks.append(t)
            kind.append("near")
        else:
            words = [w for _ in range(3) for w in fixture_words(rng)]
            originals.append(words)
            # the fixture PII suffix, written into the text so copies
            # keep it: 4/7 of originals run the whole scrub chain
            toks.append(words + pii_suffix(base + i).split())
            kind.append("orig")
    rows = [_doc(base + i, " ".join(t), rng) for i, t in enumerate(toks)]
    _write_docs(rows, os.path.join(out, "input"))

    n_contam = min(n_bench, round(0.02 * n_docs))
    bench = []
    for words in rng.sample(originals, n_contam):
        s = rng.randrange(len(words) - 20)
        bench.append(fixture_words(rng, 5, 20) + words[s:s + 20]
                     + fixture_words(rng, 5, 20))
    while len(bench) < n_bench:
        bench.append(fixture_words(rng, 30, 100))
    os.makedirs(os.path.join(out, "bench"), exist_ok=True)
    pq.write_table(pa.table({"doc_id": list(range(n_bench)),
                             "text": [" ".join(b) for b in bench]}),
                   os.path.join(out, "bench", "bench.parquet"))
    bench_grams = set().union(*(grams13(b) for b in bench))
    contaminated = sum(bool(grams13(t) & bench_grams) for t in toks)
    return {
        "props": {
            "docs": n_docs,
            "mean_chars": sum(r["n_chars"] for r in rows) / n_docs,
            "scrub.hit_frac": hit_frac(r["text"] for r in rows),
            "exact_dup_frac": kind.count("exact") / n_docs,
            "near_dup_frac": kind.count("near") / n_docs,
            "contamination_frac": contaminated / n_docs,
            "bench_docs": n_bench,
        },
    }


# (generator, size keyword arguments) per workload
WORKLOADS = {
    "crawl_warc_long": (gen_crawl_warc_long,
                        {"n_pages": 2_400, "n_sample": 150}),
    "corpus_funnel": (gen_corpus_funnel,
                      {"n_docs": 2_000, "n_bench": 200}),
}


def generate(workload: str, seed: int, out: str) -> dict:
    fn, sizes = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    expect = fn(rng, out, **sizes)
    expect["props"]["input_bytes"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(out) for f in fs)
    with open(os.path.join(out, "expect.json"), "w") as fh:
        json.dump(expect, fh)
    return expect


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out)["props"]))


if __name__ == "__main__":
    main()
