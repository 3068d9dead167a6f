"""Graph materialize + query parity — ports test_graph.py:322-491 onto the
Spark pipeline (build_graph_from_labels is the process_hadith equivalent)."""

from __future__ import annotations

import pytest

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


def test_unpersist_releases_every_cache(spark, resolver_gazetteer) -> None:
    """unpersist() releases the label build's persisted annotate output
    along with the intermediates the build cached."""
    from pyspark import StorageLevel

    result = _build(spark, [("h-cache", 0, H_STATS_TOKENS, H_STATS_LABELS)], resolver_gazetteer)
    result.stats()
    assert result.annotated.storageLevel != StorageLevel.NONE
    result.unpersist()
    assert result.annotated.storageLevel == StorageLevel.NONE
    assert all(df.storageLevel == StorageLevel.NONE for df in result.persisted)
