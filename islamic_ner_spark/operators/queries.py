"""Read-side graph queries (Q1-Q7) over the nodes/edges tables.

Parity target: GraphQuerier (/root/reference/src/graph/query.py) and the
FakeGraphBackend query doubles (tests/test_graph.py:99-198).  All queries
are plain DataFrame plans (filter/join/distinct/orderBy) except BFS, which
is an iterative frontier-expansion join bounded at 20 hops (query.py:125)
over the scholar adjacency of operators/graph_analytics.
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from islamic_ner_spark.operators.graph_analytics import (
    multi_origin_bfs,
    undirected_adjacency,
)
from islamic_ner_spark.operators.materialize import materialize


def find_scholar(nodes: DataFrame, name: str) -> Dict[str, str]:
    """Substring lookup, shortest canonical name wins (Q1, query.py:14-38).

    Deterministic tiebreak on the name itself (the reference leaves ties
    to store order)."""
    rows = (
        nodes.where(F.col("label") == "Scholar")
        .where(
            F.col("key").contains(name)
            | F.coalesce(F.col("name_ar"), F.col("key")).contains(name)
        )
        .select(
            F.col("key").alias("canonical_name"),
            F.coalesce(F.col("name_ar"), F.col("key")).alias("name_ar"),
        )
        .orderBy(F.length("canonical_name"), F.col("canonical_name"))
        .limit(1)
        .collect()
    )
    if not rows:
        return {}
    return {"canonical_name": rows[0]["canonical_name"], "name_ar": rows[0]["name_ar"]}


def narration_chain(edges: DataFrame, doc_id: str) -> DataFrame:
    """NARRATED_FROM edges of one document, ordered (Q2, query.py:40-66)."""
    return (
        edges.where(
            (F.col("pred") == "NARRATED_FROM")
            & (F.col("source_hadith") == doc_id)
            & (F.col("src_label") == "Scholar")
            & (F.col("tgt_label") == "Scholar")
        )
        .select(
            F.col("src_key").alias("source"),
            F.col("tgt_key").alias("target"),
            "confidence",
            "evidence",
        )
        .orderBy("source", "target")
    )


def scholar_connections(edges: DataFrame, scholar: str) -> Dict[str, object]:
    """Teachers (out-neighbors) and students (in-neighbors) via
    NARRATED_FROM, distinct + sorted (Q3, query.py:68-94)."""
    narrated = edges.where(F.col("pred") == "NARRATED_FROM")
    teachers = [
        r["name"]
        for r in narrated.where(F.col("src_key") == scholar)
        .select(F.col("tgt_key").alias("name"))
        .distinct()
        .orderBy("name")
        .collect()
    ]
    students = [
        r["name"]
        for r in narrated.where(F.col("tgt_key") == scholar)
        .select(F.col("src_key").alias("name"))
        .distinct()
        .orderBy("name")
        .collect()
    ]
    return {"scholar": scholar, "teachers": teachers, "students": students}


def concepts_in_book(nodes: DataFrame, edges: DataFrame, book_name: str) -> DataFrame:
    """Two-hop semi-join: Hadith-[IN_BOOK]->Book(~name) x
    Hadith-[MENTIONS_CONCEPT]->Concept (Q4, query.py:96-113)."""
    books = (
        nodes.where(F.col("label") == "Book")
        .where(
            F.col("key").contains(book_name)
            | F.coalesce(F.col("name_ar"), F.lit("")).contains(book_name)
        )
        .select(F.col("key").alias("book_key"))
    )
    in_book = (
        edges.where((F.col("pred") == "IN_BOOK") & (F.col("tgt_label") == "Book"))
        .join(F.broadcast(books), F.col("tgt_key") == F.col("book_key"), "left_semi")
        .select(F.col("src_key").alias("hadith_key"))
        .distinct()
    )
    mentions = edges.where(
        (F.col("pred") == "MENTIONS_CONCEPT") & (F.col("tgt_label") == "Concept")
    ).select(F.col("src_key").alias("hadith_key"), F.col("tgt_key").alias("concept"))
    return (
        mentions.join(in_book, "hadith_key", "left_semi")
        .select("concept")
        .distinct()
        .orderBy("concept")
    )


def count_narrated_hadiths(edges: DataFrame, scholar: str) -> int:
    """count(DISTINCT source_hadith) touching a scholar either direction,
    excluding empty provenance (Q6, api/routes/graph.py:49-71)."""
    row = (
        edges.where(F.col("pred") == "NARRATED_FROM")
        .where((F.col("src_key") == scholar) | (F.col("tgt_key") == scholar))
        .where(F.col("source_hadith") != "")
        .agg(F.countDistinct("source_hadith").alias("n"))
        .collect()[0]
    )
    return int(row["n"])


def top_narrators(edges: DataFrame, k: int = 20) -> DataFrame:
    """Scholars ranked by distinct narrated hadiths (the all-scholars
    generalization of Q6).  Narrator keys are Zipf-hot, so the naive
    groupBy(src_key).countDistinct would bottleneck one partition per
    top narrator; the skew-safe rewrite dedupes on (key, hadith) first
    (operators/skew.py)."""
    from islamic_ner_spark.operators.skew import count_distinct_skew_safe

    chains = edges.where(
        (F.col("pred") == "NARRATED_FROM") & (F.col("source_hadith") != "")
    )
    return (
        count_distinct_skew_safe(chains, "src_key", "source_hadith")
        .orderBy(F.desc("n"), "src_key")
        .limit(k)
    )


def shortest_path(
    edges: DataFrame, scholar1: str, scholar2: str, max_hops: int = 20
) -> List[str]:
    """Undirected BFS over NARRATED_FROM Scholar edges (Q5, query.py:115-135).

    Iterative frontier-expansion joins over an adjacency checkpointed
    once (so no level re-derives it from the edge table); the frontier
    carries the path as an array column, visited nodes are anti-joined
    out, and each level's lineage is cut (operators/materialize.py).  Ties
    resolve to the lexicographically smallest path for determinism.
    """
    if scholar1 == scholar2:
        return [scholar1]

    adj = materialize(undirected_adjacency(edges))
    spark = edges.sparkSession
    frontier = spark.createDataFrame(
        [(scholar1, [scholar1])], "node string, path array<string>"
    )
    visited = frontier.select("node")

    for _ in range(max_hops):
        expanded = (
            frontier.join(adj, "node")
            .select(
                F.col("nbr").alias("node"),
                F.concat("path", F.array(F.col("nbr"))).alias("path"),
            )
            .join(visited, "node", "left_anti")
        )
        # one best (shortest tie-broken) path per node this level
        expanded = expanded.groupBy("node").agg(F.min("path").alias("path"))
        expanded = materialize(expanded)
        hits = expanded.where(F.col("node") == scholar2).select("path").collect()
        if hits:
            return list(min(r["path"] for r in hits))
        if expanded.isEmpty():
            return []
        visited = materialize(visited.union(expanded.select("node")).distinct())
        frontier = expanded
    return []


def bfs_distances(
    edges: DataFrame, source: str | None = None, max_hops: int = 8
) -> DataFrame:
    """All shortest-path distances from ``source`` over the undirected
    Scholar NARRATED_FROM graph, capped at ``max_hops`` (the
    all-destinations generalization of Q5's point-to-point BFS).

    The walk is :func:`graph_analytics.multi_origin_bfs` from the one
    origin over :func:`graph_analytics.undirected_adjacency` — one
    frontier⋈adjacency equi-join per level, an anti-join against
    everything already reached (BFS guarantees the first visit is
    minimal) and a lineage checkpoint.  When ``source`` is None the
    lexicographically smallest scholar key seeds the walk (a
    deterministic choice both engines can compute; the driver oracle
    replays the whole walk as a recursive CTE with MIN(dist)).  A
    ``source`` absent from the graph reaches only itself.

    Returns (node string, dist int).
    """
    adj = materialize(undirected_adjacency(edges))
    spark = edges.sparkSession
    if source is None:
        source = adj.agg(F.min("node").alias("s")).collect()[0]["s"]  # 1 row
        if source is None:
            return spark.createDataFrame([], "node string, dist int")
    origin = spark.createDataFrame([(source,)], "node string")
    return multi_origin_bfs(adj, origin, max_hops).select("node", "dist")
