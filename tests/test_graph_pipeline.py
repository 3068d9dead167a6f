"""Graph materialize + query parity — ports test_graph.py:322-491 onto the
Spark pipeline (build_graph_from_labels is the process_hadith equivalent)."""

from __future__ import annotations

from pathlib import Path

import pytest

from __spark_entry__ import SF0001
from islamic_ner_spark.functions.normalize import normalize
from islamic_ner_spark.operators import queries as Q
from islamic_ner_spark.operators.graph import EDGE_KEY, graph_stats
from islamic_ner_spark.plans.pipeline import build_graph_from_labels

LABELED_SCHEMA = "conv_id string, turn_idx int, tokens array<string>, labels array<string>"

H_STATS_TOKENS = [
    "حدثنا", "عبد", "الله", "عن", "نافع", "في", "صحيح", "البخاري",
    "حديث", "رقم", "7", "الربا",
]
H_STATS_LABELS = [
    "O", "B-SCHOLAR", "I-SCHOLAR", "O", "B-SCHOLAR", "O", "B-BOOK", "I-BOOK",
    "B-HADITH_REF", "I-HADITH_REF", "I-HADITH_REF", "B-CONCEPT",
]


def _build(spark, rows, resolver_gazetteer):
    labeled = spark.createDataFrame(rows, LABELED_SCHEMA)
    return build_graph_from_labels(spark, labeled, gazetteer=resolver_gazetteer)


def test_single_doc_creates_nodes_and_edges(spark, resolver_gazetteer) -> None:
    result = _build(spark, [("h-single", 0, H_STATS_TOKENS, H_STATS_LABELS)], resolver_gazetteer)
    stats = result.stats()
    assert stats["nodes_by_label"].get("Scholar", 0) >= 2
    assert stats["relationships_by_type"].get("NARRATED_FROM", 0) == 1
    assert stats["relationships_by_type"].get("IN_BOOK", 0) == 1
    assert stats["relationships_by_type"].get("MENTIONS_CONCEPT", 0) == 1


def test_reprocessing_same_doc_is_idempotent(spark, resolver_gazetteer) -> None:
    tokens = ["حدثنا", "عبد", "الله", "عن", "نافع"]
    labels = ["O", "B-SCHOLAR", "I-SCHOLAR", "O", "B-SCHOLAR"]
    once = _build(spark, [("h-dup", 0, tokens, labels)], resolver_gazetteer)
    twice = _build(
        spark,
        [("h-dup", 0, tokens, labels), ("h-dup", 0, tokens, labels)],
        resolver_gazetteer,
    )
    once_stats, twice_stats = once.stats(), twice.stats()
    # every triple is written twice into the same graph
    assert twice_stats.pop("total_triples") == 2 * once_stats.pop("total_triples")
    assert once_stats == twice_stats
    # a repeated turn takes the global groupBy: every column of every row
    # equals the one-turn build's, except the writer counts, which double
    def rows(df, key):
        return {tuple(r[k] for k in key): r.asDict() for r in df.collect()}

    for table, key, count in (
        ("nodes", ["label", "key"], "mention_count"),
        ("edges", EDGE_KEY, "merge_count"),
    ):
        single = rows(getattr(once, table), key)
        double = rows(getattr(twice, table), key)
        assert single and single.keys() == double.keys()
        for k, row in single.items():
            assert double[k] == {**row, count: 2 * row[count]}, (table, k)


def test_variant_mentions_merge_to_one_node(spark, resolver_gazetteer) -> None:
    canonical = normalize("محمد بن إسماعيل البخاري")
    result = _build(
        spark,
        [
            ("h-var-1", 0, ["قال", "البخاري"], ["O", "B-SCHOLAR"]),
            ("h-var-2", 0, ["قال", "الإمام", "البخاري"], ["O", "B-SCHOLAR", "I-SCHOLAR"]),
        ],
        resolver_gazetteer,
    )
    scholars = {
        r["key"]: r
        for r in result.nodes.where("label = 'Scholar'").collect()
    }
    assert canonical in scholars
    variants = set(scholars[canonical]["variants"])
    assert "البخاري" in variants
    assert "الإمام البخاري" in variants
    assert list(scholars[canonical]["variants"]) == sorted(variants)


def test_narration_chain_query_order(spark, resolver_gazetteer) -> None:
    tokens = ["حدثنا", "عبد", "الله", "عن", "مالك", "عن", "نافع"]
    labels = ["O", "B-SCHOLAR", "I-SCHOLAR", "O", "B-SCHOLAR", "O", "B-SCHOLAR"]
    result = _build(spark, [("h-chain", 0, tokens, labels)], resolver_gazetteer)
    chain = Q.narration_chain(result.edges, "h-chain:0").collect()
    assert len(chain) == 2
    assert chain[0]["source"] == normalize("عبد الله")
    assert chain[0]["target"] == normalize("مالك")
    assert chain[1]["source"] == normalize("مالك")
    assert chain[1]["target"] == normalize("نافع")


def test_stats_counts_exact(spark, resolver_gazetteer) -> None:
    result = _build(spark, [("h-stats", 0, H_STATS_TOKENS, H_STATS_LABELS)], resolver_gazetteer)
    stats = graph_stats(result.nodes, result.edges)
    assert stats["relationships_by_type"].get("NARRATED_FROM", 0) == 1
    assert stats["relationships_by_type"].get("IN_BOOK", 0) == 1
    assert stats["relationships_by_type"].get("MENTIONS_CONCEPT", 0) == 1
    assert stats["nodes_by_label"].get("Scholar", 0) == 2
    assert stats["nodes_by_label"].get("Book", 0) == 1
    assert stats["nodes_by_label"].get("Concept", 0) == 1
    assert stats["nodes_by_label"].get("Hadith", 0) == 1
    assert stats["total_nodes"] == sum(stats["nodes_by_label"].values())
    assert stats["total_relationships"] == sum(stats["relationships_by_type"].values())
    assert stats["total_triples"] == stats["total_relationships"]


def test_stats_triples_sum_merge_count(spark, resolver_gazetteer) -> None:
    """``total_triples`` counts the resolved triples the edges merged,
    not the edges: a turn written twice merges two triples per edge."""
    row = ("h-stats", 0, H_STATS_TOKENS, H_STATS_LABELS)
    result = _build(spark, [row, row], resolver_gazetteer)
    stats = graph_stats(result.nodes, result.edges)
    merge_counts = [r["merge_count"] for r in result.edges.collect()]
    assert merge_counts and set(merge_counts) == {2}
    assert stats["total_relationships"] == len(merge_counts)
    assert stats["total_triples"] == sum(merge_counts) == 2 * len(merge_counts)


def test_edge_merge_confidence_and_evidence(spark, resolver_gazetteer) -> None:
    """First relation per edge key fixes confidence/evidence within a doc
    (in-batch first-wins, builder.py:99-123)."""
    result = _build(
        spark,
        [("h-conf", 0, ["حدثنا", "مالك", "نافع"], ["O", "B-SCHOLAR", "B-SCHOLAR"])],
        resolver_gazetteer,
    )
    edges = result.edges.where("pred = 'NARRATED_FROM'").collect()
    assert len(edges) == 1
    assert edges[0]["confidence"] == 0.7  # adjacency rule
    assert edges[0]["evidence"] == "adjacent scholar entities in narration chain"


@pytest.mark.parametrize("scholar,expected", [("مالك", 1), ("غير موجود", 0)])
def test_count_narrated(spark, resolver_gazetteer, scholar, expected) -> None:
    tokens = ["حدثنا", "عبد", "الله", "عن", "مالك"]
    labels = ["O", "B-SCHOLAR", "I-SCHOLAR", "O", "B-SCHOLAR"]
    result = _build(spark, [("h-count", 0, tokens, labels)], resolver_gazetteer)
    assert Q.count_narrated_hadiths(result.edges, normalize(scholar)) == expected


def _no_cache(spark) -> bool:
    """Spark's cache manager holds nothing: every ``persist()`` was
    released (local checkpoints are not cache-manager entries)."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_unpersist_releases_every_cache(spark, resolver_gazetteer, tmp_path,
                                        monkeypatch) -> None:
    """Each build caches only into its result's owner, and unpersist()
    leaves Spark's cache manager empty: the labeled build (global
    groupBy), the in-memory build on the driver and on the distributed
    ladder, and the staged build, which keeps no cache at all."""
    from pyspark import StorageLevel

    from islamic_ner_spark.operators import linking
    from islamic_ner_spark.plans.pipeline import build_graph
    from islamic_ner_spark.sources.transcripts import synthetic_transcripts

    spark.catalog.clearCache()
    result = _build(spark, [("h-cache", 0, H_STATS_TOKENS, H_STATS_LABELS)], resolver_gazetteer)
    result.stats()
    assert result.annotated.storageLevel != StorageLevel.NONE
    result.unpersist()
    assert result.annotated.storageLevel == StorageLevel.NONE
    assert _no_cache(spark)

    transcripts = synthetic_transcripts(spark, 6, turns_per_conv=3)
    builds = {
        "driver ladder": lambda: build_graph(spark, transcripts),
        "distributed ladder": lambda: build_graph(spark, transcripts),
        "staged": lambda: build_graph(spark, transcripts, work_dir=str(tmp_path / "w")),
    }
    for name, build in builds.items():
        if name != "driver ladder":
            monkeypatch.setattr(linking, "DRIVER_LADDER_LIMIT", 0)
        spark.catalog.clearCache()
        result = build()
        if name == "staged":  # the ladder's cache ends with its staged table
            assert _no_cache(spark) and not result.persisted
        assert result.stats()["total_triples"] > 0, name
        assert result.metrics()["resolution_strings"] > 0, name
        result.unpersist()
        assert _no_cache(spark), name


def test_operators_release_their_caches(spark) -> None:
    """The near-duplicate operators cache only into a local owner and
    release it before they return."""
    import random

    from islamic_ner_spark.operators.dedup import near_duplicate_groups
    from islamic_ner_spark.operators.similarity import embedding_near_duplicates

    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "the quick brown fox jumps over the lazy dog"),
         (2, "a completely different sentence about spark")],
        "doc_id long, text string",
    )
    rng = random.Random(3)
    emb = spark.createDataFrame(
        [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    for name, run in (
        ("near_duplicate_groups", lambda: near_duplicate_groups(docs)),
        ("embedding_near_duplicates", lambda: embedding_near_duplicates(emb)),
    ):
        spark.catalog.clearCache()
        run().collect()
        assert _no_cache(spark), name


def test_compaction_releases_its_caches(spark, tmp_path) -> None:
    """compact_graph_stream caches the new-entity nodes and the key remap
    into an owner it releases before returning."""
    import json

    from islamic_ner_spark.operators.graph import (
        edge_bucket,
        merge_edge_rows,
        merge_node_rows,
        node_bucket,
    )
    from islamic_ner_spark.plans.pipeline import DEFAULT_GAZETTEER_DIR, build_graph
    from islamic_ner_spark.sources.gazetteer import Gazetteer
    from islamic_ner_spark.sources.tables import SINK
    from islamic_ner_spark.sources.transcripts import synthetic_transcripts
    from islamic_ner_spark.streaming.stream_pipeline import (
        GRAPH_SCHEMA_VERSION,
        bucket_upsert,
        compact_graph_stream,
    )

    graph = tmp_path / "graph"
    graph.mkdir()
    (graph / "_graph_meta.json").write_text(
        json.dumps({"n_buckets": 4, "schema_version": GRAPH_SCHEMA_VERSION})
    )
    result = build_graph(spark, synthetic_transcripts(spark, 6, turns_per_conv=3))
    SINK.merge_buckets(spark, graph / "edges", result.edges, edge_bucket(4),
                       bucket_upsert(merge_edge_rows), 0)
    SINK.merge_buckets(spark, graph / "nodes", result.nodes, node_bucket(4),
                       bucket_upsert(merge_node_rows), 0)
    (graph / "_last_batch.json").write_text(json.dumps({"batch_id": 0}))
    result.unpersist()

    spark.catalog.clearCache()
    gazetteer_bc = spark.sparkContext.broadcast(Gazetteer.from_dir(DEFAULT_GAZETTEER_DIR))
    assert compact_graph_stream(spark, str(graph), gazetteer_bc)["nodes"] > 0
    assert _no_cache(spark)


@pytest.mark.skipif(not Path(SF0001).exists(), reason="sf0.001 test data absent")
def test_ann_lsh_topk_leaves_no_cache(spark, tmp_path, monkeypatch) -> None:
    """The staged ANN query passes no owner, so capping caches nothing."""
    from islamic_ner_spark.plans import driver_queries, staging

    monkeypatch.setattr(staging, "STAGE_ROOT", tmp_path / "stage")
    staging.ensure_ann_stage(spark, SF0001)
    spark.catalog.clearCache()
    assert driver_queries.QUERIES["ann_lsh_topk"](spark, SF0001).collect()
    assert _no_cache(spark)


def test_failed_merge_releases_its_cache(spark, tmp_path) -> None:
    """SINK.merge_buckets releases its cached batch when merge_fn raises."""
    from pyspark.sql import functions as F

    from islamic_ner_spark.sources.tables import SINK

    def failing_merge(existing, incoming):
        raise RuntimeError("merge failed")

    table = tmp_path / "t"
    bucket = F.pmod(F.col("k"), F.lit(2)).cast("int")
    # the first write finds no stored bucket, so nothing is merged
    SINK.merge_buckets(spark, table, spark.createDataFrame([(1, 10)], "k long, n long"),
                       bucket, failing_merge, batch_id=1)
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="merge failed"):
        SINK.merge_buckets(spark, table, spark.createDataFrame([(3, 30)], "k long, n long"),
                           bucket, failing_merge, batch_id=2)
    assert _no_cache(spark)
