"""Dedup (exact / MinHash-LSH / SimHash) and ANN similarity operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from islamic_ner_spark.operators.dedup import (
    exact_duplicate_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    near_duplicate_groups,
    simhash_near_duplicates,
)
from islamic_ner_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    topk_recall,
)

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away into the "
    "woods tonight while the moon rises slowly over the quiet hills"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                  # exact dup of 0
        (2, BASE.replace("lazy", "sleepy")),        # near dup of 0
        (3, "spark query engines shuffle data between executors during wide transforms"),
        (4, "spark query engines shuffle data between executors during wide transform"),
        (5, "completely unrelated short document"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs) -> None:
    groups = exact_duplicate_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["members"] == [0, 1]
    assert groups[0]["keep_id"] == 0


def test_minhash_signature_determinism(docs, spark) -> None:
    s1 = {r["id"]: tuple(r["signature"]) for r in minhash_signatures(docs).collect()}
    s2 = {
        r["id"]: tuple(r["signature"])
        for r in minhash_signatures(docs.repartition(7)).collect()
    }
    assert s1 == s2
    assert s1[0] == s1[1]  # identical text -> identical signature
    assert s1[0] != s1[3]


def test_lsh_finds_near_dups(docs) -> None:
    pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(minhash_signatures(docs)).collect()
    }
    assert (0, 1) in pairs
    assert (0, 2) in pairs or (1, 2) in pairs


def test_near_duplicate_groups(docs) -> None:
    groups = {
        r["id"]: r["group"] for r in near_duplicate_groups(docs, threshold=0.7).collect()
    }
    assert groups[0] == groups[1] == groups[2] == 0
    assert groups[3] == groups[4] == 3
    assert 5 not in groups  # singleton


def test_simhash_near_duplicates(docs) -> None:
    pairs = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_duplicates(docs, max_hamming=10).collect()
    }
    assert (0, 1) in pairs
    assert not any(5 in p for p in pairs)


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_brute_force_topk_shape(embeddings) -> None:
    queries = embeddings.where(F.col("vec_id") < 5)
    topk = brute_force_topk(embeddings, queries, k=3)
    rows = topk.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["cos_x1e6"]))
    for ranked in by_q.values():
        ranked.sort()
        scores = [s for _, s in ranked]
        assert scores == sorted(scores, reverse=True)


def test_lsh_topk_recall(embeddings) -> None:
    queries = embeddings.where(F.col("vec_id") < 10)
    exact = brute_force_topk(embeddings, queries, k=5)
    approx = lsh_topk(embeddings, queries, k=5, n_planes=16, bands=8)
    recall = topk_recall(approx, exact)
    assert recall >= 0.5, recall  # 8 bands of 2 bits -> high candidate recall


def test_lsh_topk_derived_params_recall(embeddings) -> None:
    """With corpus-derived planes (log2 N bits/band) + radius-1
    multiprobe the pruned candidate set still recovers a useful share of
    the true neighbors on hard (near-uniform random) data."""
    queries = embeddings.where(F.col("vec_id") < 10)
    exact = brute_force_topk(embeddings, queries, k=5)
    approx = lsh_topk(embeddings, queries, k=5)  # n_planes derived
    recall = topk_recall(approx, exact)
    assert recall >= 0.3, recall


def test_candidate_pairs_linear_in_corpus(spark) -> None:
    """The verdict-r2 scale defect: 2-4-bit bands made embedding
    candidate generation ~all-pairs.  With hyperplane_params sizing
    (bits/band >= log2 N), random-corpus candidate pairs must stay
    <= bands * N — linear, nowhere near N^2/2."""
    import numpy as np

    from islamic_ner_spark.operators.similarity import (
        embedding_candidate_pairs,
        hyperplane_params,
        hyperplane_signatures,
    )

    n = 10_000
    rng = np.random.RandomState(3)
    mat = rng.normal(size=(n, 32))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    emb = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    )

    n_planes, bands = hyperplane_params(n, min_cos=0.8)
    assert n_planes // bands >= 14  # >= log2(10^4) bits per band
    sigs = hyperplane_signatures(emb, n_planes=n_planes, bands=bands)
    n_pairs = embedding_candidate_pairs(sigs).count()
    assert 0 < n_pairs <= bands * n, (n_pairs, bands * n)


def test_bucket_cap_drops_degenerate_buckets(spark) -> None:
    """Hundreds of identical (e.g. empty-ish) docs share every band
    bucket; with a cap the degenerate bucket is dropped instead of going
    quadratic, while normal near-dup pairs are still found."""
    n_degenerate = 300
    rows = [(i, "xx") for i in range(n_degenerate)]
    rows += [(1000, BASE), (1001, BASE.replace("lazy", "sleepy"))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            minhash_signatures(docs), max_bucket_size=100
        ).collect()
    }
    assert (1000, 1001) in pairs                       # real pair survives
    assert not any(a < 1000 and b < 1000 for a, b in pairs)  # degenerate dropped

    sh_pairs = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_duplicates(docs, max_hamming=10, max_bucket_size=100).collect()
    }
    assert (1000, 1001) in sh_pairs
    assert not any(a < 1000 and b < 1000 for a, b in sh_pairs)


def test_simhash_band_pigeonhole_recall(spark) -> None:
    """With bands = max_hamming + 1, every pair within the Hamming budget
    MUST be produced as a candidate (pigeonhole guarantee) — verified
    against a brute-force Hamming scan."""
    from islamic_ner_spark.operators.dedup import simhash_band_specs, simhash_signatures

    specs = simhash_band_specs(7)
    assert sum(w for _, w in specs) == 64
    assert [s for s, _ in specs] == [0, 10, 19, 28, 37, 46, 55]

    rows = [(i, " ".join(BASE.split()[: 5 + (i % 20)]) + f" tail{i % 7}") for i in range(60)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["id"]: r["simhash"] for r in simhash_signatures(docs).collect()}

    max_h = 6
    expected = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= max_h:
                expected.add((a, b))

    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_duplicates(docs, max_hamming=max_h).collect()
    }
    assert got == expected and expected  # exact, and the scenario is non-trivial


def test_embedding_near_duplicates(spark) -> None:
    """Perturbed twins group together; unrelated vectors stay singletons."""
    import math
    import random

    from islamic_ner_spark.operators.similarity import embedding_near_duplicates

    rng = random.Random(11)

    def unit(seed_vec):
        nrm = math.sqrt(sum(x * x for x in seed_vec))
        return [x / nrm for x in seed_vec]

    rows = []
    for vid in range(30):
        v = unit([rng.gauss(0, 1) for _ in range(16)])
        rows.append((vid, v))
        # twin: tiny jitter on one component -> cosine ~0.999
        w = list(v)
        w[0] += 0.05
        rows.append((vid + 1000, unit(w)))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    groups = {
        r["id"]: r["group"]
        for r in embedding_near_duplicates(
            emb, threshold_x1e6=990_000, n_planes=32, bands=16
        ).collect()
    }
    paired = sum(1 for vid in range(30) if groups.get(vid) == groups.get(vid + 1000)
                 and groups.get(vid) is not None)
    assert paired >= 28  # LSH recall; random 16-dim gaussians never hit 0.99
    # no cross-contamination: every group holds exactly one twin pair
    from collections import Counter
    sizes = Counter(groups.values())
    assert all(size == 2 for size in sizes.values())

    # derived parameterization (n_planes=None -> hyperplane_params from a
    # corpus count) finds the twins too
    derived = {
        r["id"]: r["group"]
        for r in embedding_near_duplicates(emb, threshold_x1e6=990_000).collect()
    }
    derived_paired = sum(
        1 for vid in range(30)
        if derived.get(vid) is not None and derived.get(vid) == derived.get(vid + 1000)
    )
    assert derived_paired >= 25, derived_paired


def test_jaccard_scores_integer_parity(spark) -> None:
    """jaccard_x1e6 == floor(verify_jaccard_pairs' float * 1e6) on the
    same pairs (same shingle semantics, integer-exact arithmetic)."""
    from islamic_ner_spark.operators.dedup import jaccard_scores, verify_jaccard_pairs

    docs = spark.createDataFrame(
        [(0, BASE), (1, BASE.replace("lazy", "sleepy")), (2, "tiny"), (3, "")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(0, 1), (0, 2), (2, 3)], "id_a long, id_b long")
    ints = {
        (r["id_a"], r["id_b"]): r["jaccard_x1e6"]
        for r in jaccard_scores(pairs, docs).collect()
    }
    floats = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in verify_jaccard_pairs(pairs, docs, threshold=-1.0).collect()
    }
    assert ints[(0, 1)] > 800_000
    assert ints[(2, 3)] == 0  # empty text scores 0 against everything
    for key, val in ints.items():
        if key == (2, 3):
            continue  # verify_jaccard_pairs treats "" as {''}; documented diff
        assert abs(val - floats[key] * 1_000_000) <= 1


def test_ivf_topk_recall_and_candidate_bound(embeddings, spark) -> None:
    """IVF coarse quantizer: candidates are structurally ~nprobe/n_cells
    of the corpus (distribution-independent, unlike LSH), recall on the
    probed cells is useful, and the whole operator is deterministic
    across input partitionings."""
    from islamic_ner_spark.operators.similarity import (
        assign_cells,
        ivf_topk,
        kmeans_centroids,
    )

    n = embeddings.count()
    queries = embeddings.where(F.col("vec_id") < 10)
    exact = brute_force_topk(embeddings, queries, k=5)
    approx = ivf_topk(embeddings, queries, k=5, n_cells=16, nprobe=4)
    recall = topk_recall(approx, exact)
    assert recall >= 0.4, recall

    # candidate bound: probing nprobe of n_cells cells touches roughly
    # that fraction of the corpus per query (x2 slack for uneven cells)
    centroids = kmeans_centroids(embeddings, n_cells=16)
    assigned = assign_cells(embeddings, centroids)
    probes = assign_cells(queries, centroids, nprobe=4).select(
        F.col("vid").alias("qid"), "cell"
    )
    n_cand = (
        probes.join(assigned.select("vid", "cell"), "cell")
        .select("qid", "vid").distinct().count()
    )
    assert n_cand <= 10 * (4 / 16) * n * 2, n_cand

    # determinism: same result from a different input partitioning
    again = ivf_topk(
        embeddings.repartition(7), queries, k=5, n_cells=16, nprobe=4
    )
    assert sorted(map(tuple, approx.collect())) == sorted(map(tuple, again.collect()))


def test_kmeans_trainer_matches_numpy_reference(embeddings) -> None:
    """The shuffle-free trainer (partial sums fused into the assignment
    Arrow pass) computes the SAME centroids as a driver-side numpy
    replay of seeded-init + Lloyd — i.e. the plan change did not change
    the math."""
    import hashlib

    import numpy as np

    from islamic_ner_spark.operators.similarity import kmeans_centroids

    rows = embeddings.select("vec_id", "embedding").collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
    n_cells = 8
    order = sorted(
        vecs, key=lambda vid: hashlib.md5(f"7:{vid}".encode()).hexdigest()
    )[:n_cells]
    cent = np.array([vecs[v] for v in order])
    cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    mat = np.array([vecs[v] for v in sorted(vecs)])
    normed = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    for _ in range(2):
        nearest = np.argmax(normed @ cent.T, axis=1)
        new = cent.copy()
        for c in range(n_cells):
            members = mat[nearest == c]
            if len(members):
                mean = members.mean(axis=0)
                nrm = np.linalg.norm(mean)
                if nrm > 1e-12:
                    new[c] = mean / nrm
        cent = new
    got = np.array(kmeans_centroids(embeddings, n_cells=n_cells, n_iters=2))
    assert np.allclose(got, cent, atol=1e-9), float(np.abs(got - cent).max())


def test_kmeans_refinement_has_no_corpus_shuffle(embeddings) -> None:
    """Scale contract of the Lloyd round: the corpus never enters an
    exchange — each task emits <= n_cells partial rows, and the only
    shuffle in the refinement aggregation is over those partials (no
    join against the corpus anywhere in the plan)."""
    from islamic_ner_spark.operators.similarity import (
        cell_partial_sums,
        kmeans_centroids,
    )

    cent = kmeans_centroids(embeddings, n_cells=8, n_iters=0)
    partials = cell_partial_sums(embeddings, cent)
    n_parts = embeddings.rdd.getNumPartitions()
    assert partials.count() <= n_parts * 8

    sums = (
        partials.select("cell", "n", F.posexplode("sum_vec").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.sum("x").alias("s"), F.sum("n").alias("n"))
    )
    plan = sums._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_cap_buckets_caches_only_into_an_owner(spark) -> None:
    """With an owner, cap_buckets caches its input into it, so the
    overflow check, the cap window and the downstream join read one
    kernel run; with none it caches nothing.  The capped rows are the
    same either way."""
    from islamic_ner_spark.operators.capping import cap_buckets
    from islamic_ner_spark.operators.materialize import release

    def cached() -> bool:
        return not spark._jsparkSession.sharedState().cacheManager().isEmpty()

    banded = spark.createDataFrame(
        [(i, "hot" if i < 4 else f"b{i}") for i in range(8)], "k long, band string"
    )
    spark.catalog.clearCache()
    unowned = sorted(cap_buckets(banded, ["band"], 3, "test-no-owner").collect())
    assert not cached()
    owner: list = []
    owned = sorted(cap_buckets(banded, ["band"], 3, "test-owner", owner).collect())
    assert len(owner) == 1 and cached()
    release(owner)
    assert not cached()
    assert owned == unowned and [r["k"] for r in owned] == [4, 5, 6, 7]


def test_bucket_self_join_matches_brute_force(spark) -> None:
    """cap_buckets + bucket_self_join against a Python enumeration of the
    within-bucket pairs: the over-cap bucket is dropped (and kept when
    uncapped), a pair sharing two buckets comes out once, an id listed
    twice in one bucket pairs once, and the carried column rides along
    from both sides."""
    from islamic_ner_spark.operators.capping import bucket_self_join, cap_buckets

    cap = 3
    members = {
        (0, "x"): [1, 2, 3],      # at the cap: kept
        (1, "y"): [1, 2, 5],      # ids 1 and 2 share a second bucket
        (1, "x"): [3, 6],         # same hash, other band: its own bucket
        (0, "z"): [4, 5, 6, 7],   # over the cap
        (2, "w"): [9, 9, 10],     # id 9 twice in one bucket
        (2, "x"): [8],            # no pair
    }
    rows = [(band, h, i, f"t{i}") for (band, h), ids in members.items() for i in ids]
    banded = spark.createDataFrame(rows, "band int, h string, id long, tag string")

    for max_size in (cap, None):
        expected = {
            (a, b, f"t{a}", f"t{b}")
            for ids in members.values()
            if max_size is None or len(ids) <= max_size
            for a in ids
            for b in ids
            if a < b
        }
        capped = cap_buckets(banded, ["band", "h"], max_size, "test-self-join")
        out = bucket_self_join(capped, ["band", "h"], "id", carry=("tag",))
        assert out.columns == ["id_a", "id_b", "tag_a", "tag_b"]
        got = [tuple(r) for r in out.collect()]
        assert len(got) == len(set(got))
        assert set(got) == expected
        assert ((4, 5, "t4", "t5") in expected) == (max_size is None)
