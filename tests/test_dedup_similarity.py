"""Dedup + similarity operator tests against brute-force ground truth."""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from luzzu_spark import dedup, similarity


@pytest.fixture(scope="module")
def ground_truth_pairs(docs_pdf):
    """Brute-force 5-shingle Jaccard over all doc pairs (pandas)."""
    sets = {}
    for doc_id, text in zip(docs_pdf["doc_id"], docs_pdf["text"]):
        toks = text.strip().split()
        sets[doc_id] = {" ".join(toks[i:i + dedup.SHINGLE_N])
                        for i in range(len(toks) - dedup.SHINGLE_N + 1)}
    out = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        if inter:
            out[(a, b)] = inter / len(sa | sb)
    return out


def test_minhash_recall_and_precision(spark, docs, ground_truth_pairs):
    got = {(r["id_a"], r["id_b"])
           for r in dedup.minhash_dedup_pairs(docs, 0.5).collect()}
    true_dups = {p for p, j in ground_truth_pairs.items() if j >= 0.8}
    missed = true_dups - got
    assert not missed, f"minhash missed true near-dups: {missed}"
    # no wild false positives: every reported pair has real overlap
    for p in got:
        assert ground_truth_pairs.get(p, 0.0) >= 0.3, p


def test_jaccard_verify_matches_ground_truth(spark, docs,
                                             ground_truth_pairs):
    cands = dedup.minhash_dedup_pairs(docs, 0.3).select("id_a", "id_b")
    ver = dedup.ngram_jaccard_pairs(docs, cands).collect()
    for r in ver:
        want = ground_truth_pairs.get((r["id_a"], r["id_b"]), 0.0)
        assert abs(r["jaccard"] - want) < 1e-9


def test_exact_dedup_idempotent(spark, docs):
    once = dedup.exact_dedup(docs)
    assert once.count() == dedup.exact_dedup(once).count()


def test_simhash_pairs_are_near_dups(spark, docs, ground_truth_pairs):
    pairs = dedup.simhash_bucket_pairs(docs).collect()
    for r in pairs:
        assert ground_truth_pairs.get((r["id_a"], r["id_b"]), 0) >= 0.5


def test_brute_force_topk_matches_numpy(spark, docs_pdf):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pdf = emb.toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)

    q = emb.where(F.col("vec_id") < 3)
    got = similarity.brute_force_topk(emb, q, k=5).collect()
    for qid in range(3):
        qi = np.where(ids == qid)[0][0]
        sims = mat @ mat[qi] / (norms * norms[qi])
        sims[qi] = -np.inf
        order = np.lexsort((ids, -sims))
        want = [int(ids[i]) for i in order[:5]]
        mine = [r["neighbor_id"] for r in got if r["query_id"] == qid]
        assert mine == want, (qid, mine, want)


def test_zero_and_null_embeddings_never_near_dup(spark):
    """Spark's NaN total ordering puts NaN ABOVE every number, so a
    NaN cosine would both pass `sim >= threshold` and rank FIRST under
    desc(sim) — a zero-norm (or NULL) embedding must instead score 0.0
    everywhere: never a near-dup pair, never a top-ranked neighbor
    (review r05)."""
    from luzzu_spark import similarity
    from luzzu_spark.similarity import cosine_near_dup_pairs

    dim = 8
    rows = [(1, [1.0] + [0.0] * (dim - 1)),
            (2, [1.0] + [0.0] * (dim - 1)),   # true twin of 1
            (3, [0.0] * dim),                 # zero-norm
            (4, None)]                        # null embedding
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<double>")
    pairs = {(r.id_a, r.id_b)
             for r in cosine_near_dup_pairs(emb, threshold=0.9).collect()}
    assert pairs == {(1, 2)}, pairs
    # brute-force top-k: the zero/null rows rank LAST, not first
    q = spark.createDataFrame([(100, [1.0] + [0.0] * (dim - 1))],
                              "vec_id long, embedding array<double>")
    top = similarity.brute_force_topk(emb, q, k=1).collect()
    assert top[0].neighbor_id in (1, 2), top
    assert top[0].sim == 1.0


def test_cosine_near_dup_pairs_planted(spark):
    """The fixture's vectors are near-orthogonal (max pairwise sim
    ≈ 0.48), so near-dups are PLANTED: 20 vectors get a slightly
    perturbed twin (sim ≈ 0.9999). Contract: precision 1.0 (every
    emitted pair truly ≥ threshold, brute-force-verified) and the
    sign-LSH blocking recovers most planted twins (recall < 1 by
    design — a twin straddling a hyperplane lands in another bucket).
    Fully deterministic: fixed perturbation, no RNG."""
    import numpy as np
    from luzzu_spark.fixtures import load_table
    from luzzu_spark.similarity import cosine_near_dup_pairs

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.toPandas()
    planted = base.head(20).copy()
    planted["vec_id"] = planted["vec_id"] + 100000
    planted["embedding"] = planted["embedding"].map(
        lambda v: [float(v[0]) * 1.001 + 1e-4]
        + [float(x) for x in v[1:]])
    both = spark.createDataFrame(
        __import__("pandas").concat([base, planted]),
        schema=emb.schema)

    got = cosine_near_dup_pairs(both, threshold=0.99).collect()

    vecs = {int(r.vec_id): np.asarray(list(r.embedding), dtype=np.float64)
            for r in both.collect()}

    def cos(a, b):
        return float(np.dot(a, b)
                     / (np.linalg.norm(a) * np.linalg.norm(b)))

    for r in got:  # precision: every emitted pair is a true near-dup
        assert r.id_a < r.id_b
        true_sim = cos(vecs[r.id_a], vecs[r.id_b])
        assert true_sim >= 0.99 - 1e-9, (r.id_a, r.id_b, true_sim)
        assert abs(true_sim - r.sim) < 1e-4

    found = {(r.id_a, r.id_b) for r in got}
    planted_pairs = {(int(i), int(i) + 100000)
                     for i in base.head(20)["vec_id"]}
    recall = len(found & planted_pairs) / len(planted_pairs)
    assert recall >= 0.5, (recall, sorted(planted_pairs - found))


def test_near_dup_survivors(spark):
    """Planted exact-duplicate texts must be pruned to one survivor
    (the lowest doc_id); unique docs all survive."""
    from luzzu_spark.fixtures import load_table
    base = load_table(spark, "/root/testdata/sf0.001", "documents")
    twins = (base.limit(10)
             .withColumn("doc_id", F.col("doc_id") + 100000))
    docs = base.unionByName(twins)
    survivors = dedup.near_dup_survivors(docs, threshold=0.9)
    ids = {r.doc_id for r in survivors.select("doc_id").collect()}
    twin_ids = {r.doc_id for r in twins.select("doc_id").collect()}
    assert not (ids & twin_ids), "all higher-id exact twins must drop"
    # originals of the twins survive
    orig_ids = {i - 100000 for i in twin_ids}
    assert orig_ids <= ids


def test_simhash_near_pairs_complete_vs_brute_force(spark, docs):
    """Banded blocking must find EVERY pair within max_hamming
    (pigeonhole completeness) — checked against a brute-force numpy
    Hamming scan over all signature pairs."""
    import numpy as np
    sigs = dedup.simhash_signatures(docs).collect()
    ids = np.array([r.doc_id for r in sigs])
    vals = np.array([r.simhash for r in sigs], dtype=np.uint64)
    xor = vals[:, None] ^ vals[None, :]
    # vectorized popcount via uint8 view + unpackbits-free table
    dist = np.zeros(xor.shape, dtype=np.int64)
    v = xor.copy()
    while v.any():
        dist += (v & np.uint64(1)).astype(np.int64)
        v >>= np.uint64(1)
    iu = np.triu_indices(len(ids), 1)
    want = set()
    for i, j in zip(*iu):
        if dist[i, j] <= 3:
            a, b = int(ids[i]), int(ids[j])
            want.add((min(a, b), max(a, b)))
    got = {(r.id_a, r.id_b)
           for r in dedup.simhash_near_pairs(docs, max_hamming=3).collect()}
    assert got == want, (sorted(want - got)[:5], sorted(got - want)[:5])


def test_simhash_near_pairs_guard(spark, docs):
    import pytest as _pytest
    with _pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_pairs(docs, max_hamming=10)


def test_near_dup_clusters_exact_components(spark):
    """Min-label propagation must produce exact connected components:
    a 4-chain, a triangle, and an isolated pair, all in one frame."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),        # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12),  # triangle
         (20, 21)],                     # pair
        "id_a long, id_b long")
    got = {(r.doc_id, r.cluster)
           for r in dedup.near_dup_clusters(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10), (12, 10),
                   (20, 20), (21, 20)}


def test_near_dup_survivors_chain_keeps_one(spark):
    """VERDICT r1 item 6: a planted chain a~b~c where (a,c) is NOT a
    candidate pair must keep exactly one survivor (the lowest id).

    a = X, b = X+Y, c = Y over disjoint 400-token blocks: J(a,b) =
    J(b,c) ≈ 0.5, J(a,c) = 0 — (a,c) shares no shingle and can never
    be an LSH candidate, but transitive clustering still prunes the
    chain to its head. 16 bands of 2 rows so J≈0.5 pairs collide with
    near-certainty (1-(1-0.25)^16 ≈ 0.99)."""
    def block(tag):
        return [f"{tag}{i}" for i in range(400)]

    X, Y = block("x"), block("y")
    rows = [(1, " ".join(X)), (2, " ".join(X + Y)),
            (3, " ".join(Y)),
            (50, " ".join(block("q")))]  # unrelated doc survives
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = dedup.minhash_dedup_pairs(docs, threshold=0.35, bands=16)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got and (2, 3) in got, got
    assert (1, 3) not in got, "disjoint docs must not be candidates"

    ids = {r.doc_id
           for r in dedup.near_dup_survivors(docs, 0.35,
                                             bands=16).collect()}
    assert ids == {1, 50}, ids


def test_near_dup_clusters_random_graph_vs_union_find(spark):
    """Min-label propagation vs a pure-python union-find reference on a
    seeded random graph (200 edges / 80 nodes — many components, odd
    shapes, long chains). Exactness must hold on arbitrary topology,
    not just the hand-built chain/triangle cases."""
    import random
    rng = random.Random(7)
    edges = sorted({tuple(sorted(rng.sample(range(80), 2)))
                    for _ in range(200)})

    parent = list(range(80))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {n for e in edges for n in e}
    want = {n: find(n) for n in sorted(touched)}

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.doc_id: r.cluster
           for r in dedup.near_dup_clusters(pairs).collect()}
    assert got == want


def test_incremental_minhash_two_run_flow(spark, tmp_path):
    """Cross-run NEAR-dup dedup: day 2's batch is checked against day
    1's committed MinHash index without recomputing day 1 — planted
    near-dups of committed docs drop, in-batch near-dup clusters prune
    to their head, fresh docs survive, and the survivors append into
    the index for day 3."""
    def block(tag, n=400):
        return [f"{tag}{i}" for i in range(n)]

    X, Y, Q, Z = (block(t) for t in "xyqz")

    def perturb(toks):
        out = list(toks)
        out[0], out[-1] = "changed0", "changed1"
        return out

    day1 = spark.createDataFrame(
        [(1, " ".join(X)), (2, " ".join(Y)), (3, " ".join(Q))],
        "doc_id long, text string")
    sigs_t, bands_t = "inc_sigs_t", "inc_bands_t"
    try:
        dedup.commit_minhash_index(day1, sigs_t, bands_t,
                                   str(tmp_path / "idx"), n_buckets=4)

        day2 = spark.createDataFrame(
            [(11, " ".join(perturb(X))),   # near-dup of committed 1
             (12, " ".join(Z)),            # fresh
             (13, " ".join(X[2:] + X[:2])),  # rotated X — also ~1
             (14, " ".join(perturb(Z)))],  # in-batch near-dup of 12
            "doc_id long, text string")

        pairs = dedup.incremental_minhash_pairs(
            spark, day2, sigs_t, bands_t, threshold=0.5)
        got = {(r["new_id"], r["old_id"]) for r in pairs.collect()}
        assert (11, 1) in got and (13, 1) in got, got
        assert not any(o in (2, 3) for _, o in got), got
        assert not any(n in (12, 14) for n, _ in got), got

        kept = dedup.incremental_near_dup_filter(
            spark, day2, sigs_t, bands_t, threshold=0.5)
        assert {r["doc_id"] for r in kept.collect()} == {12}

        # day-3 cycle: append survivors, then a re-crawl of Z drops
        dedup.commit_minhash_index(kept, sigs_t, bands_t,
                                   str(tmp_path / "idx"), n_buckets=4,
                                   mode="append")
        day3 = spark.createDataFrame(
            [(21, " ".join(perturb(Z))), (22, " ".join(block("w")))],
            "doc_id long, text string")
        kept3 = dedup.incremental_near_dup_filter(
            spark, day3, sigs_t, bands_t, threshold=0.5)
        assert {r["doc_id"] for r in kept3.collect()} == {22}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {sigs_t}")
        spark.sql(f"DROP TABLE IF EXISTS {bands_t}")


def test_compact_minhash_index_bounds_partitions(spark, tmp_path):
    """Epoch compaction (VERDICT r04 Missing #3): after K epoch
    commits + compaction both index tables hold ≤ keep_epochs + 1
    partitions, the day-N+1 incremental filter returns IDENTICAL
    drops pre/post compaction, post-compaction reads stay
    bucket-aligned (no Exchange on the bucket keys), and re-running
    compaction is a no-op (the merge is keyed → self-healing)."""
    def block(tag, n=400):
        return " ".join(f"{tag}{i}" for i in range(n))

    day1 = spark.createDataFrame(
        [(1, block("x")), (2, block("y"))], "doc_id long, text string")
    sigs_t, bands_t = "cmpct_sigs_t", "cmpct_bands_t"
    try:
        dedup.commit_minhash_index(day1, sigs_t, bands_t,
                                   str(tmp_path / "idx"), n_buckets=4)
        # four streaming-style epoch commits, one fresh doc each
        for e in range(1, 5):
            d = spark.createDataFrame([(100 + e, block(f"e{e}_"))],
                                      "doc_id long, text string")
            dedup.commit_minhash_index(d, sigs_t, bands_t,
                                       str(tmp_path / "idx"),
                                       n_buckets=4, mode="append",
                                       epoch_id=e)
        n_docs_before = spark.table(sigs_t).count()

        # probe: near-dups of docs committed in DIFFERENT epochs +
        # one fresh doc (same perturbation as the two-run flow test)
        def perturb(text):
            toks = text.split()
            toks[0], toks[-1] = "changed0", "changed1"
            return " ".join(toks)
        probe = spark.createDataFrame(
            [(201, perturb(block("x"))),     # near-dup of epoch -1
             (202, perturb(block("e2_"))),   # near-dup of epoch 2
             (203, perturb(block("e4_"))),   # near-dup of epoch 4
             (204, block("fresh"))],         # fresh
            "doc_id long, text string")
        pre = {r["doc_id"] for r in dedup.incremental_near_dup_filter(
            spark, probe, sigs_t, bands_t, threshold=0.5).collect()}
        assert pre == {204}

        report = dedup.compact_minhash_index(spark, sigs_t, bands_t,
                                             keep_epochs=1)
        assert report["sigs"]["merged_epochs"] == [-1, 1, 2, 3]
        assert report["sigs"]["n_partitions"] == 2    # base + epoch 4
        assert report["bands"]["n_partitions"] == 2
        parts = {r["partition"] for r in
                 spark.sql(f"SHOW PARTITIONS {sigs_t}").collect()}
        assert parts == {"epoch=-1", "epoch=4"}
        # no rows lost or duplicated by the merge
        assert spark.table(sigs_t).count() == n_docs_before
        assert spark.table(sigs_t).select("doc_id").distinct().count() \
            == n_docs_before

        post = {r["doc_id"] for r in dedup.incremental_near_dup_filter(
            spark, probe, sigs_t, bands_t, threshold=0.5).collect()}
        assert post == pre

        # bucketing survived the insertInto rewrite: grouping on the
        # bucket keys needs no Exchange
        for t, keys in ((sigs_t, ["doc_id"]), (bands_t, ["band", "bh"])):
            plan = (spark.table(t).groupBy(*keys).count()
                    ._jdf.queryExecution().executedPlan().toString())
            assert "Exchange" not in plan, (t, plan)

        # idempotent: a second compaction changes nothing
        report2 = dedup.compact_minhash_index(spark, sigs_t, bands_t,
                                              keep_epochs=1)
        assert report2["sigs"]["merged_epochs"] == []
        assert spark.table(sigs_t).count() == n_docs_before
        assert {r["doc_id"] for r in dedup.incremental_near_dup_filter(
            spark, probe, sigs_t, bands_t,
            threshold=0.5).collect()} == pre
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {sigs_t}")
        spark.sql(f"DROP TABLE IF EXISTS {bands_t}")


def test_compact_expire_before_readmits_old_content(spark, tmp_path):
    """Retention/TTL half of the index lifecycle (expire_before):
    epochs below the cutoff drop outright, so near-dups of EXPIRED
    content are admitted again while near-dups of retained epochs
    still drop; the report lists the dropped epochs; and expiry
    composes with compaction in the same call."""
    def block(tag, n=400):
        return " ".join(f"{tag}{i}" for i in range(n))

    def perturb(text):
        toks = text.split()
        toks[0], toks[-1] = "changed0", "changed1"
        return " ".join(toks)

    sigs_t, bands_t = "ttl_sigs_t", "ttl_bands_t"
    try:
        for e, tag in enumerate(("d0_", "d1_", "d2_")):
            d = spark.createDataFrame([(10 * e + 1, block(tag))],
                                      "doc_id long, text string")
            dedup.commit_minhash_index(
                d, sigs_t, bands_t, str(tmp_path / "ttlidx"),
                n_buckets=4, mode="overwrite" if e == 0 else "append",
                epoch_id=e)
        probe = spark.createDataFrame(
            [(201, perturb(block("d0_"))),   # near-dup of epoch 0
             (202, perturb(block("d1_"))),   # near-dup of epoch 1
             (203, perturb(block("d2_"))),   # near-dup of epoch 2
             (204, block("fresh"))],
            "doc_id long, text string")
        pre = {r["doc_id"] for r in dedup.incremental_near_dup_filter(
            spark, probe, sigs_t, bands_t, threshold=0.5).collect()}
        assert pre == {204}

        report = dedup.compact_minhash_index(
            spark, sigs_t, bands_t, keep_epochs=2**31,
            expire_before=2)
        assert report["expired"]["sigs"] == [0, 1]
        assert report["expired"]["bands"] == [0, 1]
        assert report["sigs"]["merged_epochs"] == []  # nothing to merge
        parts = {r["partition"] for r in
                 spark.sql(f"SHOW PARTITIONS {sigs_t}").collect()}
        assert parts == {"epoch=2"}

        post = {r["doc_id"] for r in dedup.incremental_near_dup_filter(
            spark, probe, sigs_t, bands_t, threshold=0.5).collect()}
        # epochs 0/1 expired -> their near-dups re-admitted; epoch 2
        # retained -> its near-dup still drops
        assert post == {201, 202, 204}

        # expiry composes with a merge in one call (epoch 2 + a new
        # epoch 3 commit, cutoff 3, keep 1 -> only epoch 3 survives)
        d3 = spark.createDataFrame([(31, block("d3_"))],
                                   "doc_id long, text string")
        dedup.commit_minhash_index(
            d3, sigs_t, bands_t, str(tmp_path / "ttlidx"),
            n_buckets=4, mode="append", epoch_id=3)
        report2 = dedup.compact_minhash_index(
            spark, sigs_t, bands_t, keep_epochs=1, expire_before=3)
        assert report2["expired"]["sigs"] == [2]
        parts2 = {r["partition"] for r in
                  spark.sql(f"SHOW PARTITIONS {sigs_t}").collect()}
        assert parts2 == {"epoch=3"}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {sigs_t}")
        spark.sql(f"DROP TABLE IF EXISTS {bands_t}")


def test_semantic_dedup_survivors_planted(spark):
    """SemDeDup survivor contract on planted embedding clusters:
    docs sharing an IDENTICAL embedding (same sign bucket by
    construction -> blocking recall 1 for the cluster) keep exactly
    the quality-argmax member (ties -> lowest id); near-orthogonal
    docs survive; docs with NO embedding row pass through; the
    default policy keeps the lowest id; and the no-pairs path
    returns the corpus unchanged."""
    dim = 8

    def basis(i):
        return [1.0 if j == i else 0.0 for j in range(dim)]

    docs = spark.createDataFrame(
        [(1, "short", 5), (2, "the longest text in cluster", 28),
         (3, "medium txt", 10), (4, "orthogonal", 10),
         (5, "no embedding row", 16)],
        "doc_id long, text string, n_chars long")
    emb = spark.createDataFrame(
        [(1, basis(0)), (2, basis(0)), (3, basis(0)), (4, basis(1))],
        "vec_id long, embedding array<float>")

    surv = dedup.semantic_dedup_survivors(
        docs, emb, threshold=0.95, score_col="n_chars")
    assert {r["doc_id"] for r in surv.collect()} == {2, 4, 5}
    # deterministic: a second run returns the same survivor set
    again = dedup.semantic_dedup_survivors(
        docs, emb, threshold=0.95, score_col="n_chars")
    assert {r["doc_id"] for r in again.collect()} == {2, 4, 5}

    # default policy: lowest id per cluster
    first = dedup.semantic_dedup_survivors(docs, emb, threshold=0.95)
    assert {r["doc_id"] for r in first.collect()} == {1, 4, 5}

    # no pairs at all (orthogonal-only corpus): everything survives
    rest = docs.where(F.col("doc_id") >= 4)
    assert {r["doc_id"] for r in dedup.semantic_dedup_survivors(
        rest, emb, threshold=0.95).collect()} == {4, 5}

    # schema passthrough: survivors keep the full doc columns
    assert surv.columns == docs.columns


def test_remove_dup_spans_char_offsets_preserve_structure(spark):
    """char_offsets=True (VERDICT r04 What's-wrong #3): a doc losing a
    mid-paragraph duplicated range keeps its newline/tab structure
    byte-for-byte outside the cut; both flanking whitespace runs stay
    (the cut removes exactly the duplicated substring); untouched
    docs pass through verbatim; and token positions stay aligned on
    non-ASCII-whitespace docs (the ADVICE r04 class)."""
    shared = " ".join(f"dup{i}" for i in range(25))
    doc_a = ("Intro paragraph with unique words alpha beta gamma.\n\n"
             + shared
             + "\n\nClosing paragraph stays intact\twith a tab.")
    doc_b = ("Other unique prefix here. " + shared
             + " And a unique suffix tail.")
    doc_c = "Totally unique document\nwith its own\nnewline structure."
    # NBSP (\xa0) INSIDE a token: Python str.split() would split it,
    # misaligning char offsets vs the Java-\s token stream
    doc_d = "Uniq\xa0word here also fine. " + shared + " End bit."
    df = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, doc_c), (4, doc_d)],
        "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in
           dedup.remove_dup_spans(df, n=20,
                                  char_offsets=True).collect()}
    for i in (1, 2, 4):
        assert "dup0" not in out[i], i
    assert out[3] == doc_c
    assert out[1] == ("Intro paragraph with unique words alpha beta "
                      "gamma.\n\n\n\nClosing paragraph stays intact\t"
                      "with a tab."), repr(out[1])
    assert out[2] == "Other unique prefix here.  And a unique suffix tail."
    assert out[4] == "Uniq\xa0word here also fine.  End bit."


def test_cluster_survivors_by_quality(spark):
    """Quality-priority survivor selection: per component keep the
    HIGHEST-score member (ties -> lowest id), not the lowest id.
    Chain 1-2-3 (scores favor the MIDDLE doc), triangle 10-11-12 with
    a score tie between 11 and 12, and untouched singleton 99."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long")
    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 7),          # argmax is 2, not head 1
         (10, 4), (11, 8), (12, 8),       # tie 11/12 -> lowest id 11
         (99, 1)],                        # no pair: survives as-is
        "doc_id long, score long")
    kept = {r.doc_id for r in dedup.cluster_survivors_by_quality(
        docs, pairs, "score").collect()}
    assert kept == {2, 11, 99}, kept


def test_remove_dup_spans_excises_shared_block(spark):
    """Lee et al. removal semantics: a 25-token block shared by two
    docs (inside different unique contexts) is excised from BOTH;
    untouched docs keep their ORIGINAL text byte-for-byte (newlines
    and spacing intact — ADVICE r03); a fully duplicated pair comes
    back EMPTY (not original text)."""
    shared = " ".join(f"s{i}" for i in range(25))
    pa = " ".join(f"a{i}" for i in range(30))
    sa = " ".join(f"z{i}" for i in range(30))
    pb = " ".join(f"b{i}" for i in range(30))
    sb = " ".join(f"y{i}" for i in range(30))
    uniq = " ".join(f"u{i}" for i in range(40))
    twin = " ".join(f"t{i}" for i in range(40))
    multiline = ("line one.\nline two has\t tabs and  double spaces\n"
                 + " ".join(f"m{i}" for i in range(25)))
    docs = spark.createDataFrame(
        [(1, f"{pa} {shared} {sa}"), (2, f"{pb} {shared} {sb}"),
         (3, uniq), (4, twin), (5, twin), (6, multiline)],
        "doc_id long, text string")
    got = {r["doc_id"]: r["text"]
           for r in dedup.remove_dup_spans(docs).collect()}
    assert got[1] == f"{pa} {sa}"
    assert got[2] == f"{pb} {sb}"
    assert got[3] == uniq
    assert got[4] == "" and got[5] == ""
    assert got[6] == multiline  # verbatim, not a canonical rejoin


def test_remove_dup_spans_nonascii_whitespace(spark):
    """ADVICE r04 high regression: the flagging pass (Arrow UDF) and
    the excision pass (Catalyst split(trim, '\\s+')) must tokenize
    IDENTICALLY on non-ASCII whitespace. A doc whose unique prefix
    contains NBSP (\\xa0) / U+3000 / NEL (\\x85) — all Unicode
    whitespace to Python str.split() but NOT to Java \\s — previously
    misaligned token positions: the shared block was silently RETAINED
    (or the wrong tokens excised). Java \\s+ keeps NBSP inside a
    token, so 'a1\\xa0a2' is ONE token on both streams."""
    shared = " ".join(f"s{i}" for i in range(25))
    # NBSP-glued pairs: Python str.split() would see 8 tokens here,
    # Java \s+ sees 4 — a 4-position shift over the flagged block
    pa = "a1\xa0a2 b1　b2 c1\x85c2 d1\x1dd2"
    pb = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, f"{pa} {shared}"), (2, f"{pb} {shared}")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["text"]
           for r in dedup.remove_dup_spans(docs).collect()}
    assert got[1] == "a1\xa0a2 b1　b2 c1\x85c2 d1\x1dd2"
    assert got[2] == pb


def test_remove_dup_spans_matches_python_reference(spark):
    """Property test: remove_dup_spans ≡ a brute-force Python
    reference on random small-alphabet corpora (tiny alphabet forces
    frequent cross-doc span collisions at every alignment). The
    covered-token set is the invariant — the union of flagged spans —
    independent of how islands merge."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from luzzu_spark import dedup

    N = 5

    def reference(texts):
        toks = {i: t.split() for i, t in texts.items()}
        owners: dict = {}
        for i, tk in toks.items():
            for s in range(len(tk) - N + 1):
                owners.setdefault(tuple(tk[s:s + N]), set()).add(i)
        out = {}
        for i, tk in toks.items():
            covered = set()
            for s in range(len(tk) - N + 1):
                if len(owners[tuple(tk[s:s + N])]) >= 2:
                    covered.update(range(s, s + N))
            out[i] = " ".join(t for p, t in enumerate(tk)
                              if p not in covered)
        return out

    token = st.sampled_from(["a", "b"])
    doc = st.lists(token, min_size=0, max_size=40).map(" ".join)
    corpus = st.dictionaries(st.integers(0, 9), doc,
                             min_size=2, max_size=5)

    @settings(max_examples=8, deadline=None)
    @given(corpus)
    def prop(texts):
        df = spark.createDataFrame(list(texts.items()),
                                   "doc_id long, text string")
        got = {r["doc_id"]: r["text"]
               for r in dedup.remove_dup_spans(df, n=N).collect()}
        assert got == reference(texts), (got, reference(texts))

    prop()


def test_near_dup_clusters_long_chain_converges(spark):
    """A 60-node path graph needs 59 rounds under plain min-label
    propagation — silently wrong under max_iter=20 before pointer
    doubling. With doubling it must converge (O(log n) rounds) to one
    component labeled by the minimum id, under the DEFAULT max_iter."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 60)], "id_a long, id_b long")
    got = {(r.doc_id, r.cluster)
           for r in dedup.near_dup_clusters(pairs).collect()}
    assert got == {(i, 1) for i in range(1, 61)}, sorted(got)[:5]


def test_replayable_signature_kernels_match_python_reference():
    """The vectorized signature kernels (minhash_batch / simhash_batch
    / shingle_set_batch) must equal a transparent pure-Python
    implementation of the documented hash spec (dedup.py _REPLAY_B
    block) on random corpora — including non-ASCII codepoints and
    tokens beyond the 32-char truncation point. This pins the numpy
    vectorization (factorize scatter, utf-32 decode, reduceat) against
    the spec the DuckDB oracles replay."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    P = dedup._MERSENNE_P
    N = dedup.SHINGLE_N

    def tok_hash(tok: str) -> int:
        return sum((ord(c) + 1) * pow(dedup._REPLAY_B, i, P)
                   for i, c in enumerate(tok[:dedup._REPLAY_LMAX])) % P

    def shingles(text: str) -> list[int]:
        th = [tok_hash(t)
              for t in dedup._JAVA_WS.split(text or "") if t]
        out = []
        for j in range(len(th) - N + 1):
            lo = sum(th[j + k] * pow(dedup._C_LO, k, P) % P
                     for k in range(N)) % P
            hi = sum(th[j + k] * pow(dedup._C_HI, k, P) % P
                     for k in range(N)) % P
            out.append(hi * (1 << 31) + lo)
        return out

    def ref_minhash(text: str):
        hs = shingles(text)
        if not hs:
            return None
        return [min((a * (h % P) + b) % P for h in hs)
                for a, b in zip(dedup._HASH_A, dedup._HASH_B)]

    def ref_simhash(text: str):
        hs = shingles(text)
        if not hs:
            return None
        acc = 0
        for b in range(63):
            if sum((h >> b) & 1 for h in hs) * 2 > len(hs):
                acc |= 1 << b
        return acc

    token = st.text(
        alphabet=st.sampled_from(list("abzé中9!") + ["x"]),
        min_size=1, max_size=40)
    doc = st.lists(token, min_size=0, max_size=12).map(" ".join)
    corpus = st.lists(doc, min_size=1, max_size=6)

    @settings(max_examples=20, deadline=None)
    @given(corpus)
    def prop(texts):
        s = pd.Series(texts)
        got_min = dedup.minhash_batch(s)
        got_sim = dedup.simhash_batch(s)
        got_set = dedup.shingle_set_batch(s)
        for i, t in enumerate(texts):
            assert got_min[i] == ref_minhash(t), (t, got_min[i])
            assert got_sim[i] == ref_simhash(t), (t, got_sim[i])
            assert sorted(got_set[i]) == sorted(set(shingles(t))), t

    prop()


def test_remove_cross_doc_paragraphs_planted(spark):
    """RefinedWeb paragraph scrub as a corpus transform: the shared
    paragraph survives only in its globally-first doc; untouched docs
    rebuild byte-identically; NULL text passes through; intra-doc
    repeats stay (they are the Gopher rules' business)."""
    from luzzu_spark.dedup import remove_cross_doc_paragraphs
    shared = "Subscribe to our newsletter for updates."
    rows = [
        (1, f"First doc body.\n\n{shared}\n\nTail one."),
        (2, "Second doc alpha.\n\nSecond doc beta.\n\nSecond doc gamma."),
        (3, f"{shared}\n\nThird doc tail."),
        (4, "Repeat me.\n\nRepeat me.\n\nUnique end."),   # intra-doc only
        (5, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in remove_cross_doc_paragraphs(docs).collect()}
    assert out[1] == rows[0][1]                 # first instance kept
    assert out[2] == rows[1][1]                 # untouched, byte-identical
    assert out[3] == "Third doc tail."          # later copy excised
    assert out[4] == rows[3][1]                 # intra-doc repeats stay
    assert out[5] is None                       # NULL passes through


def test_remove_cross_doc_paragraphs_fully_duplicated(spark):
    from luzzu_spark.dedup import remove_cross_doc_paragraphs
    docs = spark.createDataFrame(
        [(1, "Only para."), (2, "Only para.")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in remove_cross_doc_paragraphs(docs).collect()}
    assert out[1] == "Only para."
    assert out[2] == ""                          # empties out -> filter drops


def test_remove_cross_doc_paragraphs_blank_runs_untouched(spark):
    """Empty paragraphs (blank-line runs / trailing separators) are
    whitespace, not shared content (review r04): two docs sharing ONLY
    the empty paragraph between \\n\\n\\n\\n must both rebuild
    byte-identically."""
    from luzzu_spark.dedup import remove_cross_doc_paragraphs
    rows = [(1, "alpha one.\n\n\n\nbeta one."),
            (2, "gamma two.\n\n\n\ndelta two."),
            (3, "tail blank.\n\n")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in remove_cross_doc_paragraphs(docs).collect()}
    assert out == dict((d, t) for d, t in rows)


# ---- Bloom-filter seen-set (r05) ----------------------------------------


def test_bloom_seen_filter_equals_exact_anti_join(spark):
    """seen_bloom_anti_join must return row-for-row the exact
    anti-join result on an overlapping committed/batch split of the
    fixture corpus — the Bloom only changes the plan."""
    from luzzu_spark.fixtures import load_table
    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id",
                F.md5(F.coalesce("text", F.lit("")))
                .alias("content_key"))
    seen = docs.where("doc_id % 2 = 0")
    batch = docs.where("doc_id % 3 = 0")
    got = sorted(r["doc_id"] for r in dedup.seen_bloom_anti_join(
        batch, seen, key="content_key").select("doc_id").collect())
    want = sorted(r["doc_id"] for r in dedup.seen_anti_join(
        batch, seen, key="content_key").select("doc_id").collect())
    assert got == want and len(got) > 0
    # and the batch/committed overlap was real (the bloom had hits)
    assert len(got) < batch.count()


def test_bloom_seen_filter_all_novel_and_empty_seen(spark):
    """Disjoint keys -> every batch row survives; an EMPTY committed
    set -> identity (zero-filled bitmap, nothing might-contain)."""
    seen = spark.createDataFrame(
        [(f"http://old.example/{i}",) for i in range(200)],
        "url string")
    batch = spark.createDataFrame(
        [(f"http://new.example/{i}", i) for i in range(300)],
        "url string, doc_id long")
    out = dedup.seen_bloom_anti_join(batch, seen, key="url")
    assert out.count() == 300
    empty = seen.where("url IS NULL")
    assert dedup.seen_bloom_anti_join(batch, empty,
                                      key="url").count() == 300


def test_bloom_no_false_negatives_and_fpp_bound(spark):
    """Every committed key must might-contain (Bloom's hard guarantee
    -- a false negative would LEAK a duplicate into the corpus); the
    false-positive rate on disjoint keys stays near the configured
    fpp (generous 5x bound for a 2k sample)."""
    n = 2000
    seen = spark.createDataFrame(
        [(f"http://seen.example/{i}",) for i in range(n)], "url string")
    m_bits, k = dedup.bloom_params(n, fpp=0.01)
    bloom = dedup.bloom_build(seen, "url", m_bits, k)
    probe = spark.createDataFrame(
        [(f"http://seen.example/{i}",) for i in range(n)]
        + [(f"http://novel.example/{i}",) for i in range(n)],
        "url string")
    flagged = probe.withColumn(
        "maybe", dedup._bloom_membership_col(spark, bloom, k, m_bits,
                                             F.col("url")))
    seen_hits = flagged.where(
        "url LIKE 'http://seen.example/%' AND maybe").count()
    assert seen_hits == n, f"false negatives: {n - seen_hits}"
    fp = flagged.where(
        "url LIKE 'http://novel.example/%' AND maybe").count()
    assert fp / n <= 0.05, f"fp rate {fp / n} vs configured 0.01"


def test_bloom_index_persisted_roundtrip(spark, tmp_path):
    """bloom_index_commit / bloom_index_filter: the persisted-bitmap
    cross-run mode. Committed keys ALWAYS drop (no false negatives);
    survivors are a subset of the exact novel set with at most ~fpp
    over-drop; re-committing the same keys is a bitmap no-op (OR
    idempotence) so filter results are unchanged under replay."""
    idx = str(tmp_path / "bloom_idx")
    day1 = spark.createDataFrame(
        [(f"http://d1.example/{i}",) for i in range(500)], "url string")
    meta = dedup.bloom_index_commit(day1, "url", idx, fpp=0.01,
                                    expected_items=2000)
    assert meta["committed_items"] == 500
    batch = spark.createDataFrame(
        [(f"http://d1.example/{i}",) for i in range(500)]      # dups
        + [(f"http://new.example/{i}",) for i in range(500)],  # novel
        "url string")
    out = {r["url"] for r in
           dedup.bloom_index_filter(batch, idx, "url").collect()}
    assert not any("d1.example" in u for u in out), "dup leaked"
    novel = {f"http://new.example/{i}" for i in range(500)}
    assert out <= novel
    assert len(novel - out) <= 25, f"over-drop {len(novel - out)}/500"

    # replayed commit: bitmap unchanged -> identical filter result
    with open(f"{idx}/bitmap.bin", "rb") as f:
        bm_before = f.read()
    dedup.bloom_index_commit(day1, "url", idx)
    with open(f"{idx}/bitmap.bin", "rb") as f:
        assert f.read() == bm_before
    out2 = {r["url"] for r in
            dedup.bloom_index_filter(batch, idx, "url").collect()}
    assert out2 == out

    # day-2 commit of the survivors: they drop on day 3
    day2_kept = spark.createDataFrame([(u,) for u in sorted(out)],
                                      "url string")
    dedup.bloom_index_commit(day2_kept, "url", idx)
    out3 = dedup.bloom_index_filter(
        spark.createDataFrame([(u,) for u in sorted(out)],
                              "url string"), idx, "url")
    assert out3.count() == 0


def test_seen_bloom_paragraph_scrub_exact(spark):
    """Paragraph-granular cross-run suppression (the Dolma deduper's
    published granularity), exact-result variant: a batch doc quoting
    a committed paragraph loses that block but KEEPS its novel prose
    byte-identically; a doc whose every paragraph was committed
    rebuilds to ''; empty paragraphs (blank-line runs) are whitespace
    and never excise; NULL-text docs pass through."""
    seen = spark.createDataFrame(
        [(1, "shared boilerplate block\n\nday one unique prose"),
         (2, None)],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "novel opening\n\nshared boilerplate block\n\n"
              "novel closing"),
         (11, "shared boilerplate block"),        # fully excised
         (12, "all new\n\n\n\nwith blank run"),   # empties preserved
         (13, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in
           dedup.seen_bloom_paragraph_scrub(batch, seen).collect()}
    assert out == {10: "novel opening\n\nnovel closing",
                   11: "",
                   12: "all new\n\n\n\nwith blank run",
                   13: None}


def test_bloom_paragraph_index_two_run_flow(spark, tmp_path):
    """Persisted paragraph-Bloom index: day 1 commits its paragraphs;
    day 2 excises every committed paragraph with zero committed-side
    I/O and matches the exact scrub (false positives improbable at
    this bitmap size); re-committing is OR-idempotent."""
    import os
    idx = str(tmp_path / "para_idx")
    day1 = spark.createDataFrame(
        [(1, "shared boilerplate block\n\nday one unique prose")],
        "doc_id long, text string")
    meta = dedup.bloom_paragraph_commit(day1, idx, expected_items=1000,
                                        epoch_id=0)
    assert meta["committed_items"] == 2    # two distinct paragraphs
    batch = spark.createDataFrame(
        [(10, "novel opening\n\nshared boilerplate block\n\n"
              "novel closing"),
         (11, "day one unique prose"),
         (12, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in
           dedup.bloom_paragraph_filter(batch, idx).collect()}
    exact = {r["doc_id"]: r["text"] for r in
             dedup.seen_bloom_paragraph_scrub(batch, day1).collect()}
    assert out == exact == {10: "novel opening\n\nnovel closing",
                            11: "", 12: None}
    # replayed commit: bitmap bytes unchanged, counter not inflated
    with open(os.path.join(idx, "bitmap.bin"), "rb") as f:
        before = f.read()
    meta2 = dedup.bloom_paragraph_commit(day1, idx, epoch_id=0)
    assert meta2["committed_items"] == 2
    with open(os.path.join(idx, "bitmap.bin"), "rb") as f:
        assert f.read() == before


def test_paragraph_family_null_id_passes_through(spark, tmp_path):
    """A NULL-id doc cannot be joined back to a rebuild, so it passes
    through with its text unchanged and its paragraphs take no part in
    the batch-side marking — in all three paragraph scrubs."""
    from luzzu_spark.dedup import remove_cross_doc_paragraphs
    docs = spark.createDataFrame(
        [(None, "p\n\nq"), (5, "p\n\nr"), (6, "p")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in
           remove_cross_doc_paragraphs(docs).collect()}
    assert out == {None: "p\n\nq", 5: "p\n\nr", 6: ""}

    seen = spark.createDataFrame([(1, "p")], "doc_id long, text string")
    batch = spark.createDataFrame([(None, "p\n\nq"), (5, "p\n\nr")],
                                  "doc_id long, text string")
    want = {None: "p\n\nq", 5: "r"}
    exact = {r["doc_id"]: r["text"] for r in
             dedup.seen_bloom_paragraph_scrub(batch, seen).collect()}
    assert exact == want
    idx = str(tmp_path / "para_idx")
    dedup.bloom_paragraph_commit(seen, idx, expected_items=100)
    approx = {r["doc_id"]: r["text"] for r in
              dedup.bloom_paragraph_filter(batch, idx).collect()}
    assert approx == want


def test_benchmark_decontaminate_contract(spark):
    """13-gram decontamination: a doc sharing one 13-gram with the bench
    set drops; tokens split on a single space only (a tab or newline
    stays inside its token), runs of spaces add no empty tokens; docs
    under 13 tokens and NULL text are never flagged; the bench frame
    needs no id column."""
    words = [f"w{i}" for i in range(13)]
    gram = " ".join(words)
    short = " ".join(words[:12])
    bench = spark.createDataFrame(
        [(f"bench prefix {gram} tail",), (short,)], "text string")
    docs = spark.createDataFrame(
        [(1, f"lead {gram} end"),                        # shares a gram
         (2, gram.replace(" ", "  ", 3)),                # double spaces
         (3, gram.replace(" ", "\t", 1)),                # tab in a token
         (4, gram.replace(" ", "\n", 1)),                # newline in one
         (5, short),                                     # 12 tokens
         (6, None),
         (7, "unrelated text " * 10)],
        "doc_id long, text string")
    out = dedup.benchmark_decontaminate(docs, bench)
    assert sorted(r["doc_id"] for r in out.collect()) == [3, 4, 5, 6, 7]
    assert out.columns == docs.columns


def test_bloom_commit_epoch_counter_exact(spark, tmp_path):
    """``epoch_id`` makes the fill counter exact under replay: each
    epoch's keys count ONCE even when a crashed first attempt never
    reached the meta write (review r05 — the marker-based
    count_items=fresh heuristic under-counted that case forever)."""
    idx = str(tmp_path / "epoch_idx")
    e0 = spark.createDataFrame([(f"u{i}",) for i in range(100)],
                               "url string")
    e1 = spark.createDataFrame([(f"v{i}",) for i in range(50)],
                               "url string")
    meta = dedup.bloom_index_commit(e0, "url", idx,
                                    expected_items=1000, epoch_id=0)
    assert (meta["committed_items"], meta["last_epoch"]) == (100, 0)
    # replay of epoch 0 (e.g. crash AFTER the commit): not recounted
    meta = dedup.bloom_index_commit(e0, "url", idx, epoch_id=0)
    assert (meta["committed_items"], meta["last_epoch"]) == (100, 0)
    # epoch 1 whose first attempt crashed between the epoch marker and
    # the commit: the replayed commit is the FIRST for this epoch and
    # counts exactly once
    meta = dedup.bloom_index_commit(e1, "url", idx, epoch_id=1)
    assert (meta["committed_items"], meta["last_epoch"]) == (150, 1)
    meta = dedup.bloom_index_commit(e1, "url", idx, epoch_id=1)
    assert (meta["committed_items"], meta["last_epoch"]) == (150, 1)


def test_epoch_ids_monotone_after_expire_all(spark, tmp_path):
    """Retention may legitimately drop EVERY live epoch partition;
    next_epoch_id must keep counting past the recorded high-water
    mark — ``max(partitions)+1`` would restart at 0 and a monotone
    retention cutoff would then expire brand-new commits recommitted
    under recycled ids (review r05)."""
    def block(tag, n=400):
        return " ".join(f"{tag}{i}" for i in range(n))

    sigs_t, bands_t = "mono_sigs_t", "mono_bands_t"
    try:
        for e in range(3):
            d = spark.createDataFrame([(10 * e + 1, block(f"m{e}_"))],
                                      "doc_id long, text string")
            dedup.commit_minhash_index(
                d, sigs_t, bands_t, str(tmp_path / "monoidx"),
                n_buckets=4, mode="overwrite" if e == 0 else "append",
                epoch_id=e)
        assert dedup.next_epoch_id(spark, sigs_t) == 3
        dedup.compact_minhash_index(spark, sigs_t, bands_t,
                                    keep_epochs=2**31, expire_before=3)
        assert spark.sql(f"SHOW PARTITIONS {sigs_t}").count() == 0
        # the floor survives the expire-all: ids stay monotone
        assert dedup.next_epoch_id(spark, sigs_t) == 3
        d = spark.createDataFrame([(91, block("fresh_"))],
                                  "doc_id long, text string")
        dedup.commit_minhash_index(
            d, sigs_t, bands_t, str(tmp_path / "monoidx"),
            n_buckets=4, mode="append",
            epoch_id=dedup.next_epoch_id(spark, sigs_t))
        parts = {r["partition"] for r in
                 spark.sql(f"SHOW PARTITIONS {sigs_t}").collect()}
        assert parts == {"epoch=3"}
        assert dedup.next_epoch_id(spark, sigs_t) == 4
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {sigs_t}")
        spark.sql(f"DROP TABLE IF EXISTS {bands_t}")


def test_bloom_index_design_point_warning(spark, tmp_path):
    """Filling the index past its design capacity must WARN (fpp has
    degraded past the configured target)."""
    import warnings as _w
    idx = str(tmp_path / "tiny_idx")
    a = spark.createDataFrame(
        [(f"u{i}",) for i in range(100)], "url string")
    dedup.bloom_index_commit(a, "url", idx, expected_items=50)
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        dedup.bloom_index_filter(a, idx, "url").count()
    assert any("design point" in str(w.message) for w in rec)


def test_bloom_index_sharded_matches_guarantees(spark, tmp_path):
    """shards=4: the sharded persisted index keeps every Bloom
    guarantee — committed keys always drop, over-drop stays ~fpp,
    replayed commits are byte-idempotent across ALL shard files —
    while the filter path loads one shard per task instead of
    broadcasting one bitmap (the ≥GB-index mode)."""
    import os

    idx = str(tmp_path / "sharded_idx")
    day1 = spark.createDataFrame(
        [(f"http://d1.example/{i}",) for i in range(500)], "url string")
    meta = dedup.bloom_index_commit(day1, "url", idx, fpp=0.01,
                                    expected_items=2000, shards=4)
    assert meta["shards"] == 4 and meta["committed_items"] == 500
    files = sorted(f for f in os.listdir(idx) if f.endswith(".bin"))
    assert files == [f"shard_0000{s}.bin" for s in range(4)]
    # every shard is sized for its SHARE of the lifetime, not all of it
    m1, _ = dedup.bloom_params(2000, 0.01)
    assert meta["m_bits"] < m1 and os.path.getsize(
        os.path.join(idx, files[0])) == meta["m_bits"] // 8

    batch = spark.createDataFrame(
        [(f"http://d1.example/{i}",) for i in range(500)]
        + [(f"http://new.example/{i}",) for i in range(500)],
        "url string")
    out = {r["url"] for r in
           dedup.bloom_index_filter(batch, idx, "url").collect()}
    assert not any("d1.example" in u for u in out), "dup leaked"
    novel = {f"http://new.example/{i}" for i in range(500)}
    assert out <= novel
    assert len(novel - out) <= 25, f"over-drop {len(novel - out)}/500"

    # replay: every shard file byte-identical, filter unchanged
    before = {f: open(os.path.join(idx, f), "rb").read() for f in files}
    dedup.bloom_index_commit(day1, "url", idx)
    for f in files:
        assert open(os.path.join(idx, f), "rb").read() == before[f]
    out2 = {r["url"] for r in
            dedup.bloom_index_filter(batch, idx, "url").collect()}
    assert out2 == out

    # incremental: commit the survivors, they drop next run
    dedup.bloom_index_commit(
        spark.createDataFrame([(u,) for u in sorted(out)],
                              "url string"), "url", idx)
    assert dedup.bloom_index_filter(
        spark.createDataFrame([(u,) for u in sorted(out)],
                              "url string"), idx, "url").count() == 0


def test_bloom_index_files_equal_bloom_build(spark, tmp_path):
    """One bitmap layout on every path: the S=1 index's bitmap.bin is
    bloom_build over the same keys, and each S=4 shard file is
    bloom_build over exactly that shard's keys at the meta's m/k."""
    import os

    keys = spark.createDataFrame(
        [(f"http://x.example/{i}",) for i in range(600)], "url string")
    idx1, idx4 = str(tmp_path / "s1"), str(tmp_path / "s4")
    meta1 = dedup.bloom_index_commit(keys, "url", idx1)
    with open(os.path.join(idx1, "bitmap.bin"), "rb") as f:
        assert f.read() == bytes(dedup.bloom_build(
            keys, "url", meta1["m_bits"], meta1["k"]))

    meta4 = dedup.bloom_index_commit(keys, "url", idx4, shards=4)
    sharded = keys.withColumn("_s", dedup._bloom_shard_col(F.col("url"), 4))
    for s in range(4):
        with open(os.path.join(idx4, f"shard_{s:05d}.bin"), "rb") as f:
            assert f.read() == bytes(dedup.bloom_build(
                sharded.where(F.col("_s") == s), "url",
                meta4["m_bits"], meta4["k"])), s


def test_bloom_index_meta_backcompat_no_shards_key(spark, tmp_path):
    """An index written before the shards field existed (meta without
    'shards') must read as a single-bitmap index — both commit and
    filter."""
    import json
    import os

    idx = str(tmp_path / "old_idx")
    keys = spark.createDataFrame(
        [(f"u{i}",) for i in range(200)], "url string")
    dedup.bloom_index_commit(keys, "url", idx, expected_items=400)
    meta_p = os.path.join(idx, "meta.json")
    with open(meta_p) as f:
        meta = json.load(f)
    meta.pop("shards")
    with open(meta_p, "w") as f:
        json.dump(meta, f)
    # filter: committed keys all drop through the legacy layout
    assert dedup.bloom_index_filter(keys, idx, "url").count() == 0
    # commit: appends into bitmap.bin, does not re-shard
    more = spark.createDataFrame(
        [(f"v{i}",) for i in range(100)], "url string")
    dedup.bloom_index_commit(more, "url", idx)
    assert os.path.exists(os.path.join(idx, "bitmap.bin"))
    assert dedup.bloom_index_filter(more, idx, "url").count() == 0
