"""Graph query operators incl. BFS — ports test_graph.py:99-198 semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from islamic_ner_spark.functions.normalize import normalize
from islamic_ner_spark.operators import queries as Q
from islamic_ner_spark.plans.pipeline import build_graph_from_labels

LABELED_SCHEMA = "conv_id string, turn_idx int, tokens array<string>, labels array<string>"


def _chain_doc(doc, names):
    tokens, labels = ["حدثنا"], ["O"]
    for i, name in enumerate(names):
        if i:
            tokens.append("عن")
            labels.append("O")
        tokens.append(name)
        labels.append("B-SCHOLAR")
    return (doc, 0, tokens, labels)


def _graph(spark, resolver_gazetteer, rows):
    labeled = spark.createDataFrame(rows, LABELED_SCHEMA)
    return build_graph_from_labels(spark, labeled, gazetteer=resolver_gazetteer)


def test_find_scholar_shortest_name(spark, resolver_gazetteer) -> None:
    result = _graph(
        spark,
        resolver_gazetteer,
        [_chain_doc("d1", ["مالك", "نافع"]), _chain_doc("d2", ["البخاري", "مالك"])],
    )
    hit = Q.find_scholar(result.nodes, normalize("مالك"))
    assert hit["canonical_name"] == normalize("مالك")
    assert Q.find_scholar(result.nodes, "لا وجود له") == {}


def test_scholar_connections(spark, resolver_gazetteer) -> None:
    result = _graph(
        spark,
        resolver_gazetteer,
        [_chain_doc("d1", ["مالك", "نافع"]), _chain_doc("d2", ["عبد الله", "مالك"])],
    )
    conn = Q.scholar_connections(result.edges, normalize("مالك"))
    assert conn["teachers"] == [normalize("نافع")]
    assert conn["students"] == [normalize("عبد الله")]


def test_concepts_in_book(spark, resolver_gazetteer) -> None:
    tokens = ["رواه", "البخاري", "الربا"]
    labels = ["O", "B-BOOK", "B-CONCEPT"]
    result = _graph(spark, resolver_gazetteer, [("d-book", 0, tokens, labels)])
    concepts = [r["concept"] for r in Q.concepts_in_book(
        result.nodes, result.edges, normalize("البخاري")
    ).collect()]
    assert concepts == [normalize("الربا")]


def test_shortest_path_bfs(spark, resolver_gazetteer) -> None:
    result = _graph(
        spark,
        resolver_gazetteer,
        [
            _chain_doc("d1", ["مالك", "نافع"]),
            _chain_doc("d2", ["نافع", "عبد الله"]),
            _chain_doc("d3", ["عبد الله", "البخاري"]),
        ],
    )
    malik = normalize("مالك")
    bukhari = normalize("محمد بن إسماعيل البخاري")
    path = Q.shortest_path(result.edges, malik, bukhari)
    assert path[0] == malik
    assert path[-1] == bukhari
    assert len(path) == 4
    assert Q.shortest_path(result.edges, malik, malik) == [malik]
    assert Q.shortest_path(result.edges, malik, "مجهول") == []


def test_shortest_path_reads_each_edge_once(spark) -> None:
    """shortest_path derives its adjacency once, not once per BFS level:
    over a 7-edge chain the 7-hop walk reads each edge row one time."""
    reads = spark.sparkContext.accumulator(0)

    def counted(_key):
        reads.add(1)
        return True

    chain = [f"s{i}" for i in range(8)]
    edges = spark.createDataFrame(
        [("NARRATED_FROM", "Scholar", a, "Scholar", b)
         for a, b in zip(chain, chain[1:])],
        "pred string, src_label string, src_key string, tgt_label string, "
        "tgt_key string",
    ).where(F.udf(counted, "boolean")("src_key"))
    assert Q.shortest_path(edges, "s0", "s7") == chain
    assert reads.value == len(chain) - 1


def test_entry_matches_staged_narration_chains(spark, tmp_path, monkeypatch) -> None:
    """Drift guard (VERDICT r2 #8): the flagship entry() and the staged
    KG dataflow synthesize transcripts from the SAME single-sourced
    FLAGSHIP_TURNS_PER_CONV, so the flagship output must row-for-row
    equal the oracle-checked kg_narration_chains query on the same
    documents table."""
    import __spark_entry__ as se
    from islamic_ner_spark.plans import staging
    from islamic_ner_spark.plans.driver_queries import q_kg_narration_chains

    monkeypatch.setattr(staging, "STAGE_ROOT", tmp_path / "stage")
    flagship = se.entry(spark).select("source_hadith", "source", "target")
    staged = q_kg_narration_chains(spark, se.SF0001).select(
        "source_hadith", "source", "target"
    )
    assert sorted(map(tuple, flagship.collect())) == sorted(
        map(tuple, staged.collect())
    )


def test_stage_goes_stale_when_engine_code_changes(tmp_path, monkeypatch) -> None:
    """A stage group is keyed on the digest of the package's files, so
    stages written by other engine code never feed the oracles."""
    from islamic_ner_spark.plans import staging

    monkeypatch.setattr(staging, "STAGE_ROOT", tmp_path / "stage")
    assert len(staging.code_digest()) == 64
    monkeypatch.setattr(staging, "code_digest", lambda: "a" * 64)
    staging._reset("kg")
    assert not staging._is_current("kg", "sf")
    staging._mark("kg", "sf")
    assert staging._is_current("kg", "sf")
    assert not staging._is_current("kg", "other_sf")
    monkeypatch.setattr(staging, "code_digest", lambda: "b" * 64)
    assert not staging._is_current("kg", "sf")


def test_code_digest_reads_the_package_zip(tmp_path) -> None:
    """Shipped as ``--py-files pkg.zip`` the package is no directory; the
    digest must read the same files out of the archive, not hash an
    empty tree."""
    import zipfile

    from islamic_ner_spark.plans import staging

    root = staging.PACKAGE_ROOT
    zip_path = tmp_path / "islamic_ner_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for path in sorted(root.rglob("*")):
            if path.is_file() and "__pycache__" not in path.parts:
                zf.write(path, path.relative_to(root.parent))
    in_zip = staging._in_archive(zip_path / "islamic_ner_spark")
    assert isinstance(in_zip, zipfile.Path)
    assert staging.tree_digest(in_zip) == staging.tree_digest(root)
    (tmp_path / "empty").mkdir()
    assert staging.tree_digest(root) != staging.tree_digest(tmp_path / "empty")


def test_bfs_distances_hand_graph(spark) -> None:
    """bfs_distances on a hand-built edge table: path graph + branch +
    disconnected island; distances must be minimal and the island
    unreachable."""
    rows = [
        # a - b - c - d (chain), b - e (branch), x - y (island)
        ("NARRATED_FROM", "Scholar", "a", "Scholar", "b"),
        ("NARRATED_FROM", "Scholar", "b", "Scholar", "c"),
        ("NARRATED_FROM", "Scholar", "c", "Scholar", "d"),
        ("NARRATED_FROM", "Scholar", "e", "Scholar", "b"),  # reversed dir
        ("NARRATED_FROM", "Scholar", "x", "Scholar", "y"),
        # noise: wrong predicate / label must be ignored
        ("IN_BOOK", "Hadith", "a", "Book", "z"),
    ]
    edges = spark.createDataFrame(
        rows, "pred string, src_label string, src_key string, tgt_label string, tgt_key string"
    )
    got = {r["node"]: r["dist"] for r in Q.bfs_distances(edges, source="a").collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "e": 2, "d": 3}
    # default seed = lexicographic min node ("a"); max_hops truncates
    capped = {r["node"]: r["dist"] for r in Q.bfs_distances(edges, max_hops=1).collect()}
    assert capped == {"a": 0, "b": 1}
    # a source absent from the graph reaches only itself
    absent = Q.bfs_distances(edges, source="nobody").collect()
    assert {r["node"]: r["dist"] for r in absent} == {"nobody": 0}
    # no Scholar NARRATED_FROM row: the default seed is undefined, so
    # the walk is empty but keeps its (node string, dist int) shape
    no_scholars = edges.where(F.col("pred") != "NARRATED_FROM")
    empty = Q.bfs_distances(no_scholars)
    assert empty.collect() == []
    assert empty.dtypes == [("node", "string"), ("dist", "int")]
