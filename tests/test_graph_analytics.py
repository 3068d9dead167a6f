"""PageRank / triangle enumeration / passage dedup unit tests.

Hand-built graphs with hand-computed fixed-point expectations, plus a
pure-Python replay of the integer PageRank recurrence on a seeded
random digraph (the same role the DuckDB unrolled-CTE oracle plays in
the driver harness, but independent of any SQL engine).
"""

from __future__ import annotations

import random
from contextlib import nullcontext

from pyspark.sql import functions as F

from islamic_ner_spark.operators.dedup import duplicated_passages
from islamic_ner_spark.operators.graph_analytics import (
    PAGERANK_SCALE,
    pagerank_integer,
    triangles,
)
from islamic_ner_spark.operators.materialize import plan_capture

EDGE_SCHEMA = (
    "pred string, src_label string, src_key string, "
    "tgt_label string, tgt_key string"
)


def _edges(spark, pairs, noise=True):
    rows = [("NARRATED_FROM", "Scholar", s, "Scholar", t) for s, t in pairs]
    if noise:
        rows.append(("IN_BOOK", "Hadith", "h1", "Book", "b1"))
        rows.append(("NARRATED_FROM", "Scholar", "self", "Scholar", "self"))
    return spark.createDataFrame(rows, EDGE_SCHEMA)


def _python_pagerank(pairs, n_iters=5, scale=PAGERANK_SCALE):
    """Independent replay of the integer recurrence (floor division)."""
    se = sorted(set((s, t) for s, t in pairs if s != t))
    nodes = sorted({s for s, _ in se} | {t for _, t in se})
    out = {}
    for s, _ in se:
        out[s] = out.get(s, 0) + 1
    rank = {n: scale for n in nodes}
    base = (15 * scale) // 100
    for _ in range(n_iters):
        sums = {n: 0 for n in nodes}
        for s, t in se:
            sums[t] += rank[s] // out[s]
        rank = {n: base + (85 * sums[n]) // 100 for n in nodes}
    return rank


def test_pagerank_two_cycle_fixed_point(spark) -> None:
    # a <-> b is a fixed point of the recurrence: rank stays exactly 1.0
    got = {
        r["node"]: r["rank_x1e9"]
        for r in pagerank_integer(_edges(spark, [("a", "b"), ("b", "a")])).collect()
    }
    assert got == {"a": PAGERANK_SCALE, "b": PAGERANK_SCALE}


def test_pagerank_sink_hand_computed(spark) -> None:
    # a -> b <- c ; b dangling.  From iteration 2 on: a=c=0.15,
    # b = 0.15 + 0.85*(2*0.15) = 0.405 in fixed point.
    got = {
        r["node"]: r["rank_x1e9"]
        for r in pagerank_integer(_edges(spark, [("a", "b"), ("c", "b")])).collect()
    }
    assert got == {"a": 150_000_000, "b": 405_000_000, "c": 150_000_000}


def test_pagerank_matches_python_replay_random_graph(spark) -> None:
    rng = random.Random(7)
    names = [f"s{i:02d}" for i in range(20)]
    pairs = sorted(
        {
            (rng.choice(names), rng.choice(names))
            for _ in range(60)
        }
    )
    pairs = [(s, t) for s, t in pairs if s != t]
    # a plan built under plan capture is lazy: same results
    for capture in (False, True):
        with plan_capture() if capture else nullcontext():
            ranks = pagerank_integer(_edges(spark, pairs))
        got = {r["node"]: r["rank_x1e9"] for r in ranks.collect()}
        assert got == _python_pagerank(pairs), capture


def test_pagerank_duplicate_and_reversed_edges_distinct(spark) -> None:
    # duplicate directed edges collapse to one; reversed edges are real
    got = pagerank_integer(
        _edges(spark, [("a", "b"), ("a", "b"), ("b", "a")])
    ).collect()
    assert {r["node"]: r["rank_x1e9"] for r in got} == {
        "a": PAGERANK_SCALE,
        "b": PAGERANK_SCALE,
    }


def test_triangles_hand_graphs(spark) -> None:
    # one triangle + a tail edge; edge directions mixed (undirected)
    tri = triangles(
        _edges(spark, [("a", "b"), ("c", "b"), ("a", "c"), ("c", "d")])
    ).collect()
    assert sorted(map(tuple, tri)) == [("a", "b", "c")]

    # two triangles sharing edge a-b; duplicate edge must not double-count
    tri2 = triangles(
        _edges(
            spark,
            [("a", "b"), ("b", "a"), ("b", "c"), ("a", "c"), ("a", "d"), ("b", "d")],
        )
    ).collect()
    assert sorted(map(tuple, tri2)) == [("a", "b", "c"), ("a", "b", "d")]

    # no triangle in a path graph
    assert triangles(_edges(spark, [("a", "b"), ("b", "c")])).count() == 0


def test_duplicated_passages_hand_docs(spark) -> None:
    w = [f"w{i}" for i in range(1, 11)]  # w1..w10
    docs = spark.createDataFrame(
        [
            (1, " ".join(w)),                # 3 windows of width 8
            (2, " ".join(w[1:9])),           # exactly w2..w9 -> 1 window
            (3, "too short"),                # 0 windows
            (4, " ".join(["x"] * 16)),       # self-repeats only: 9 windows,
                                             # no OTHER doc shares them
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_frac_x1000"])
        for r in duplicated_passages(docs, width=8).collect()
    }
    assert got[1] == (3, 1, 333)   # the w2..w9 window is shared with doc 2
    assert got[2] == (1, 1, 1000)
    assert got[3] == (0, 0, 0)
    assert got[4] == (9, 0, 0)     # within-doc repetition is not cross-doc dup


def test_duplicated_passages_partition_invariant(spark) -> None:
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{(i * 7 + j) % 13}" for j in range(12))) for i in range(24)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, duplicated_passages(docs.coalesce(1)).collect()))
    b = sorted(map(tuple, duplicated_passages(docs.repartition(5)).collect()))
    assert a == b and len(a) == 24


# --- LPA / k-core / co-mention / walks ---------------------------------

import hashlib

from islamic_ner_spark.operators.graph_analytics import (
    comention_network,
    kcore,
    label_propagation,
    random_walks,
)


def _python_lpa(pairs, n_iters=4):
    """Independent replay: sync update, ties by (count desc, label asc)."""
    se = sorted(set((s, t) for s, t in pairs if s != t))
    adj = {}
    for s, t in se:
        adj.setdefault(s, set()).add(t)
        adj.setdefault(t, set()).add(s)
    labels = {n: n for n in adj}
    for _ in range(n_iters):
        nxt = {}
        for n, nbrs in adj.items():
            counts = {}
            for v in nbrs:
                counts[labels[v]] = counts.get(labels[v], 0) + 1
            nxt[n] = min(counts, key=lambda c: (-counts[c], c))
        labels = nxt
    return labels


def test_lpa_matches_python_replay(spark) -> None:
    rng = random.Random(11)
    names = [f"s{i:02d}" for i in range(16)]
    pairs = [(s, t) for s, t in {(rng.choice(names), rng.choice(names))
                                 for _ in range(40)} if s != t]
    got = {
        r["node"]: r["community"]
        for r in label_propagation(_edges(spark, pairs)).collect()
    }
    assert got == _python_lpa(pairs)


def test_lpa_two_cliques_bridge(spark) -> None:
    # two triangles joined by one bridge: communities never cross the
    # bridge under 4 sync rounds of the (count desc, label asc) rule
    clique1 = [("a", "b"), ("b", "c"), ("a", "c")]
    clique2 = [("x", "y"), ("y", "z"), ("x", "z")]
    got = {
        r["node"]: r["community"]
        for r in label_propagation(
            _edges(spark, clique1 + clique2 + [("c", "x")])
        ).collect()
    }
    assert got == _python_lpa(clique1 + clique2 + [("c", "x")])
    assert len({got["a"], got["b"], got["c"]}) == 1
    assert len({got["x"], got["y"], got["z"]}) == 1


def test_kcore_triangle_with_tail(spark) -> None:
    got = {
        r["node"]: r["core_degree"]
        for r in kcore(
            _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")])
        ).collect()
    }
    assert got == {"a": 2, "b": 2, "c": 2}


def test_kcore_path_cascades_to_empty(spark) -> None:
    # peeling a path removes endpoints each round until nothing is left
    rows = kcore(
        _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")])
    ).collect()
    assert rows == []


def test_comention_hand_edges(spark) -> None:
    rows = [
        # h1 names a, b, c (two isnad hops); h2 names a, b
        ("NARRATED_FROM", "Scholar", "a", "Scholar", "b", "h1"),
        ("NARRATED_FROM", "Scholar", "b", "Scholar", "c", "h1"),
        ("NARRATED_FROM", "Scholar", "a", "Scholar", "b", "h2"),
        # noise: non-scholar predicate with a hadith must not count
        ("IN_BOOK", "Hadith", "h1", "Book", "k", "h1"),
    ]
    df = spark.createDataFrame(
        rows,
        "pred string, src_label string, src_key string, "
        "tgt_label string, tgt_key string, source_hadith string",
    )
    got = {
        (r["s_a"], r["s_b"]): (r["n_comention"], r["affinity_x1000"])
        for r in comention_network(df).collect()
    }
    # nh: a=2, b=2, c=1
    assert got == {
        ("a", "b"): (2, 1000),
        ("a", "c"): (1, 1000),
        ("b", "c"): (1, 1000),
    }


def _python_walks(pairs, n_steps=4):
    se = sorted(set((s, t) for s, t in pairs if s != t))
    out = {}
    for s, t in se:
        out.setdefault(s, []).append(t)
    nodes = sorted({s for s, _ in se} | {t for _, t in se})
    walks = {}
    for start in nodes:
        cur, path = start, [start]
        for i in range(n_steps):
            nbrs = out.get(cur)
            if not nbrs:
                break
            cur = min(
                nbrs,
                key=lambda v: hashlib.md5(
                    f"{path[-1]}#{i}#{v}".encode()
                ).hexdigest(),
            )
            path.append(cur)
        walks[start] = ("->".join(path), len(path))
    return walks


def test_random_walks_match_python_replay(spark) -> None:
    rng = random.Random(3)
    names = [f"n{i}" for i in range(12)]
    pairs = [(s, t) for s, t in {(rng.choice(names), rng.choice(names))
                                 for _ in range(30)} if s != t]
    got = {
        r["start"]: (r["walk"], r["walk_len"])
        for r in random_walks(_edges(spark, pairs)).collect()
    }
    assert got == _python_walks(pairs)


def test_random_walks_dead_end(spark) -> None:
    got = {
        r["start"]: (r["walk"], r["walk_len"])
        for r in random_walks(_edges(spark, [("a", "b")])).collect()
    }
    assert got == {"a": ("a->b", 2), "b": ("b", 1)}


def _python_skipgram(pairs, window=2, n_steps=4):
    from collections import Counter

    counts = Counter()
    for walk, _ in _python_walks(pairs, n_steps).values():
        seq = walk.split("->")
        for i, center in enumerate(seq):
            for j in range(i + 1, min(i + window + 1, len(seq))):
                counts[(center, seq[j], j - i)] += 1
                counts[(seq[j], center, j - i)] += 1
    return counts


def test_skipgram_pairs_match_python_replay(spark) -> None:
    from islamic_ner_spark.operators.graph_analytics import skipgram_pairs

    rng = random.Random(7)
    names = [f"n{i}" for i in range(10)]
    pairs = [(s, t) for s, t in {(rng.choice(names), rng.choice(names))
                                 for _ in range(25)} if s != t]
    got = {
        (r["center"], r["context"], r["dist"]): r["n_pairs"]
        for r in skipgram_pairs(_edges(spark, pairs)).collect()
    }
    assert got == dict(_python_skipgram(pairs))


def test_skipgram_pairs_symmetric_and_windowed(spark) -> None:
    from islamic_ner_spark.operators.graph_analytics import skipgram_pairs

    # chain a->b->c->d: walk from 'a' is the full chain; every pair is
    # mirrored and no dist exceeds the window
    rows = skipgram_pairs(
        _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")]), window=2
    ).collect()
    as_map = {(r["center"], r["context"], r["dist"]): r["n_pairs"] for r in rows}
    for (c, x, d), n in as_map.items():
        assert as_map[(x, c, d)] == n
        assert 1 <= d <= 2


def test_community_modularity_two_triangles(spark) -> None:
    from islamic_ner_spark.operators.graph_analytics import community_modularity

    # two triangles bridged by one edge: LPA settles each triangle into
    # one community; m=7 undirected edges, per triangle e_c=3 and the
    # bridge endpoints carry degree 3 -> d_c = 2+2+3 = 7... computed
    # below by pure-Python replay of the exact integer formula
    pairs = [("a", "b"), ("b", "c"), ("c", "a"),
             ("d", "e"), ("e", "f"), ("f", "d"), ("c", "d")]
    rows = community_modularity(_edges(spark, pairs)).collect()
    got = {r.community: (r.n_nodes, r.e_intra, r.d_sum, r.contrib_x1e9) for r in rows}

    # pure-Python replay on the LPA labels the operator itself reports
    # (LPA labels are covered by their own oracle); formula must match
    und = sorted({tuple(sorted(p)) for p in pairs})
    m = len(und)
    deg = {}
    for u, v in und:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    from islamic_ner_spark.operators.graph_analytics import label_propagation

    lab = {r.node: r.community for r in label_propagation(_edges(spark, pairs)).collect()}
    exp = {}
    for c in set(lab.values()):
        members = [n for n, l in lab.items() if l == c]
        e_c = sum(1 for u, v in und if lab[u] == c and lab[v] == c)
        d_c = sum(deg[n] for n in members)
        frac = (d_c * 10_000) // (2 * m)
        exp[c] = (len(members), e_c, d_c, (e_c * 1_000_000_000) // m - frac * frac * 10)
    assert got == exp
    # structure sanity: every edge endpoint is labeled, total degree 2m
    assert sum(v[2] for v in got.values()) == 2 * m


from itertools import combinations

from islamic_ner_spark.operators.graph_analytics import (
    comention_lift,
    local_clustering,
)


def test_comention_lift_hand_edges(spark) -> None:
    rows = [
        # h1 names a, b, c; h2 names a, b; h3 names d, e  =>  n_h = 3
        ("NARRATED_FROM", "Scholar", "a", "Scholar", "b", "h1"),
        ("NARRATED_FROM", "Scholar", "b", "Scholar", "c", "h1"),
        ("NARRATED_FROM", "Scholar", "a", "Scholar", "b", "h2"),
        ("NARRATED_FROM", "Scholar", "d", "Scholar", "e", "h3"),
        # noise: non-scholar predicate must not count
        ("IN_BOOK", "Hadith", "h1", "Book", "k", "h1"),
    ]
    df = spark.createDataFrame(
        rows,
        "pred string, src_label string, src_key string, "
        "tgt_label string, tgt_key string, source_hadith string",
    )
    got = {
        (r["s_a"], r["s_b"]): (r["n_comention"], r["lift_x1000"])
        for r in comention_lift(df).collect()
    }
    # nh: a=2, b=2, c=1, d=1, e=1; lift = n_co*1000*3 // (nh_a*nh_b)
    assert got == {
        ("a", "b"): (2, 1500),
        ("a", "c"): (1, 1500),
        ("b", "c"): (1, 1500),
        ("d", "e"): (1, 3000),
    }


def test_local_clustering_triangle_with_tail(spark) -> None:
    # triangle a-b-c plus pendant c-d
    df = _edges(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")])
    got = {
        r["node"]: (r["deg"], r["n_tri"], r["cc_x1000"])
        for r in local_clustering(df).collect()
    }
    assert got == {
        "a": (2, 1, 1000),
        "b": (2, 1, 1000),
        "c": (3, 1, 333),
        "d": (1, 0, 0),
    }


def test_local_clustering_matches_python_replay(spark) -> None:
    rng = random.Random(77)
    nodes = [f"n{i}" for i in range(12)]
    pairs = sorted(
        {
            (a, b)
            for a, b in (
                tuple(sorted(rng.sample(nodes, 2))) for _ in range(30)
            )
        }
    )
    adj = {}
    for u, v in pairs:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    expected = {}
    for n, nbrs in adj.items():
        deg = len(nbrs)
        n_tri = sum(1 for x, y in combinations(sorted(nbrs), 2) if y in adj[x])
        cc = (2000 * n_tri) // (deg * (deg - 1)) if deg >= 2 else 0
        expected[n] = (deg, n_tri, cc)
    got = {
        r["node"]: (r["deg"], r["n_tri"], r["cc_x1000"])
        for r in local_clustering(_edges(spark, pairs)).collect()
    }
    assert got == expected


from islamic_ner_spark.operators.graph_analytics import personalized_pagerank


def _python_ppr(pairs, n_iters=5, scale=PAGERANK_SCALE):
    se = sorted(set((s, t) for s, t in pairs if s != t))
    nodes = sorted({s for s, _ in se} | {t for _, t in se})
    seed = nodes[0]
    out = {}
    for s, _ in se:
        out[s] = out.get(s, 0) + 1
    rank = {n: (scale if n == seed else 0) for n in nodes}
    base = (15 * scale) // 100
    for _ in range(n_iters):
        sums = {n: 0 for n in nodes}
        for s, t in se:
            sums[t] += rank[s] // out[s]
        rank = {
            n: (base if n == seed else 0) + (85 * sums[n]) // 100
            for n in nodes
        }
    return rank


def test_ppr_seed_only_mass(spark) -> None:
    # a -> b -> c chain, seed = a: mass decays along the chain, nothing
    # flows back to the seed beyond its own teleport term
    got = {
        r["node"]: r["ppr_x1e9"]
        for r in personalized_pagerank(
            _edges(spark, [("a", "b"), ("b", "c")])
        ).collect()
    }
    assert got == _python_ppr([("a", "b"), ("b", "c")])
    assert got["a"] == (15 * PAGERANK_SCALE) // 100
    assert got["b"] > got["c"] > 0


def test_ppr_matches_python_replay_random_graph(spark) -> None:
    rng = random.Random(99)
    nodes = [f"s{i}" for i in range(10)]
    pairs = sorted(
        {
            (a, b)
            for a, b in (
                (rng.choice(nodes), rng.choice(nodes)) for _ in range(25)
            )
            if a != b
        }
    )
    for capture in (False, True):
        with plan_capture() if capture else nullcontext():
            ranks = personalized_pagerank(_edges(spark, pairs))
        got = {r["node"]: r["ppr_x1e9"] for r in ranks.collect()}
        assert got == _python_ppr(pairs), capture


from islamic_ner_spark.operators.graph_analytics import negative_samples


def _python_negatives(pairs, k=4):
    se = sorted(set((s, t) for s, t in pairs if s != t))
    nodes = sorted({s for s, _ in se} | {t for _, t in se})
    ring = sorted(nodes, key=lambda n: hashlib.md5(n.encode()).hexdigest())
    v = len(ring)
    out = {}
    for c in nodes:
        for j in range(k):
            key = int(
                hashlib.md5(f"{c}#{j}".encode()).hexdigest()[:15], 16
            )
            out[(c, j)] = ring[key % v]
    return out


def test_negative_samples_match_python_replay(spark) -> None:
    rng = random.Random(123)
    nodes = [f"s{i}" for i in range(15)]
    pairs = sorted(
        {
            (a, b)
            for a, b in (
                (rng.choice(nodes), rng.choice(nodes)) for _ in range(30)
            )
            if a != b
        }
    )
    got = {
        (r["center"], r["slot"]): r["negative"]
        for r in negative_samples(_edges(spark, pairs)).collect()
    }
    assert got == _python_negatives(pairs)


def test_negative_samples_shape(spark) -> None:
    df = negative_samples(_edges(spark, [("a", "b"), ("b", "c")]), k=3)
    rows = df.collect()
    # 3 nodes x 3 slots, every negative drawn from the vocabulary
    assert len(rows) == 9
    assert {r["negative"] for r in rows} <= {"a", "b", "c"}
    assert {(r["center"], r["slot"]) for r in rows} == {
        (c, j) for c in ("a", "b", "c") for j in range(3)
    }


def test_negative_samples_rejects_k_zero(spark) -> None:
    import pytest

    with pytest.raises(ValueError, match="k >= 1"):
        negative_samples(_edges(spark, [("a", "b")]), k=0)


from collections import deque

from islamic_ner_spark.operators.graph_analytics import harmonic_centrality


def _py_harmonic(pairs, max_hops=4, scale=1_000_000):
    se = sorted(set((s, t) for s, t in pairs if s != t))
    adj = {}
    for s, t in se:
        adj.setdefault(s, set()).add(t)
        adj.setdefault(t, set()).add(s)
    out = {}
    for origin in adj:
        dist = {origin: 0}
        q = deque([origin])
        while q:
            u = q.popleft()
            if dist[u] >= max_hops:
                continue
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        reached = {v: d for v, d in dist.items() if d > 0}
        out[origin] = (
            len(reached),
            sum(scale // d for d in reached.values()),
        )
    return out


def test_harmonic_path_graph(spark) -> None:
    # path a-b-c-d-e-f: from a, reaches b..e within 4 hops (f at dist 5
    # is outside the bound)
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f")]
    got = {
        r["node"]: (r["n_reached"], r["harmonic_x1e6"])
        for r in harmonic_centrality(_edges(spark, pairs)).collect()
    }
    assert got == _py_harmonic(pairs)
    assert got["a"] == (4, 1_000_000 + 500_000 + 333_333 + 250_000)


def test_harmonic_matches_python_replay_random(spark) -> None:
    rng = random.Random(55)
    nodes = [f"h{i}" for i in range(14)]
    pairs = sorted(
        {
            tuple(sorted(rng.sample(nodes, 2)))
            for _ in range(20)
        }
    )
    got = {
        r["node"]: (r["n_reached"], r["harmonic_x1e6"])
        for r in harmonic_centrality(_edges(spark, pairs)).collect()
    }
    assert got == _py_harmonic(pairs)


def _python_ppr_seeded(pairs, seed, n_iters=5, scale=PAGERANK_SCALE):
    se = sorted(set((s, t) for s, t in pairs if s != t))
    nodes = sorted({s for s, _ in se} | {t for _, t in se})
    out = {}
    for s, _ in se:
        out[s] = out.get(s, 0) + 1
    rank = {n: (scale if n == seed else 0) for n in nodes}
    base = (15 * scale) // 100
    for _ in range(n_iters):
        sums = {n: 0 for n in nodes}
        for s, t in se:
            sums[t] += rank[s] // out[s]
        rank = {
            n: (base if n == seed else 0) + (85 * sums[n]) // 100
            for n in nodes
        }
    return rank


def test_ppr_literal_seed_parameter(spark) -> None:
    # round-4 verdict next #4: the seed is a serving parameter, not a
    # hardcoded min(node) — pin it to the middle of the chain and
    # replay
    pairs = [("a", "b"), ("b", "c")]
    got = {
        r["node"]: r["ppr_x1e9"]
        for r in personalized_pagerank(_edges(spark, pairs), seed="b").collect()
    }
    assert got == _python_ppr_seeded(pairs, "b")
    assert got["b"] == (15 * PAGERANK_SCALE) // 100  # nothing flows into b
    assert got["a"] == 0  # teleport mass sits on b, none reaches a


def test_ppr_seed_agg_max(spark) -> None:
    pairs = [("a", "b"), ("b", "c"), ("c", "a")]
    got = {
        r["node"]: r["ppr_x1e9"]
        for r in personalized_pagerank(
            _edges(spark, pairs), seed_agg="max"
        ).collect()
    }
    assert got == _python_ppr_seeded(pairs, "c")
    assert got != _python_ppr_seeded(pairs, "a")


def test_ppr_absent_seed_is_all_zero(spark) -> None:
    got = {
        r["node"]: r["ppr_x1e9"]
        for r in personalized_pagerank(
            _edges(spark, [("a", "b")]), seed="no-such-node"
        ).collect()
    }
    assert got == {"a": 0, "b": 0}


def _md5_draw(text: str) -> int:
    return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)


def test_harmonic_origin_sample(spark) -> None:
    # sampled origins = the md5-draw filter applied to the full result:
    # per-origin scores identical, origin set cut deterministically
    rng = random.Random(77)
    nodes = [f"h{i}" for i in range(14)]
    pairs = sorted(
        {tuple(sorted(rng.sample(nodes, 2))) for _ in range(20)}
    )
    full = _py_harmonic(pairs)
    mod = 2
    expected = {
        n: v for n, v in full.items() if _md5_draw(n) % mod == 0
    }
    got = {
        r["node"]: (r["n_reached"], r["harmonic_x1e6"])
        for r in harmonic_centrality(
            _edges(spark, pairs), origin_mod=mod
        ).collect()
    }
    assert got == expected
    assert 0 < len(got) < len(full)


from islamic_ner_spark.operators.graph_analytics import dense_ids


def test_dense_ids_matches_global_rank(spark) -> None:
    # bucketed two-phase rank == row_number over the global sort, for
    # keys that collide and diverge inside the 2-char prefix buckets
    keys = sorted(
        {f"s{i:03d}" for i in range(40)}
        | {"a", "ab", "abc", "b", "ba", "z", "zz", "zzz"}
    )
    rng = random.Random(11)
    shuffled = keys[:]
    rng.shuffle(shuffled)
    df = spark.createDataFrame(
        [(k,) for k in shuffled], "key string"
    ).repartition(7)
    got = {
        r["key"]: r["vid"] for r in dense_ids(df, key="key").collect()
    }
    assert got == {k: i for i, k in enumerate(keys)}


def test_dense_ids_custom_order_expr(spark) -> None:
    from pyspark.sql import functions as F

    keys = [f"n{i}" for i in range(30)]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    got = {
        r["key"]: r["vid"]
        for r in dense_ids(
            df, key="key", order_expr=F.md5(F.col("key"))
        ).collect()
    }
    ordered = sorted(keys, key=lambda k: hashlib.md5(k.encode()).hexdigest())
    assert got == {k: i for i, k in enumerate(ordered)}
