"""Graph materialize: resolved mentions + triples -> nodes & edges tables.

Neo4j MERGE semantics re-expressed as deterministic aggregations
(builder.py:394-443, FakeGraphBackend in tests/test_graph.py:31-84):

* node upsert ``SET n += props``  -> last-writer-wins per property under a
  stable (conv_id, turn_idx, mention order) sequence, except ``variants``
  which accumulates as a sorted set union
* edge MERGE keyed by (pred, src_label, src_key, tgt_label, tgt_key,
  source_hadith) -> the first writer fixes evidence/confidence.  The key
  holds the turn's ``source_hadith``, so all of an edge's writers come
  from one turn, where the reference's in-batch dedupe keeps the *first*
  relation per key (builder.py:99-123); a min over the emit order
  reproduces it exactly.

The MERGE rule is written once per table, over rows in the persistent
``NODES_TABLE_SCHEMA`` / ``EDGES_TABLE_SCHEMA`` shape: each row carries
its winning writer's ordinal, so merging is one associative
aggregation, :func:`merge_node_rows` and :func:`merge_edge_rows`.  Rows
enter it in one of two shapes:

* candidate rows, one per writer (:func:`node_candidate_rows`,
  :func:`edge_candidate_rows`), lifted to the table shape by
  :func:`lift_node_candidates` / :func:`lift_edge_candidates` — the
  global groupBy strategy (:func:`build_nodes`, :func:`build_edges`),
  valid for any input, and the staged oracle queries;
* rows already merged — the fused Arrow pass's per-batch vocabulary
  rows (:func:`fused_graph_outputs`, finished by
  :func:`nodes_from_combined` / :func:`edges_from_combined`; needs one
  row per turn), the stream's per-bucket upsert and the compaction.

The fused build's Hadith nodes need no aggregation: each one's writers
all sit in one turn, and the annotate kernel counts them into the lean
extraction's flat ``href_texts`` / ``n_href`` / ``href_slot`` columns,
so :func:`build_hadith_nodes_turn_local` is a plain column projection.

Both shapes run the one rule, so a streamed, compacted or resumed graph
equals the one-shot build.

Node schema per entity type (builder.py:19-26, 325-392):
SCHOLAR->(Scholar, canonical_name), BOOK->(Book, canonical_name),
CONCEPT->(Concept, term), PLACE->(Place, canonical_name),
HADITH_REF->(Hadith, hadith_id).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NODE_LABELS = {
    "SCHOLAR": "Scholar",
    "BOOK": "Book",
    "CONCEPT": "Concept",
    "PLACE": "Place",
    "HADITH_REF": "Hadith",
    "HADITH": "Hadith",
}

def _label_expr(type_col: str) -> F.Column:
    """entity_type -> node label as a when-chain (codegen-friendly)."""
    expr = F.lit(None).cast("string")
    for entity_type, label in reversed(list(NODE_LABELS.items())):
        expr = F.when(F.col(type_col) == entity_type, F.lit(label)).otherwise(expr)
    return expr


def node_candidate_rows(
    resolved_mentions: DataFrame,
    doc_index: DataFrame,
    resolved_triples: DataFrame | None = None,
) -> DataFrame:
    """The pre-aggregation node MERGE input: one row per (node key,
    writer) with the writer's emit order — the relational half of
    :func:`build_nodes`, exposed so the MERGE tail can be staged to
    parquet and replayed by an independent SQL engine.

    Columns: label, key, conv_id, turn_idx, emit_idx, original_text,
    confidence.
    """
    linkable = resolved_mentions.where(
        F.col("entity_type").isin(list(NODE_LABELS))
    ).select(
        "conv_id",
        "turn_idx",
        F.col("mention_idx").alias("emit_idx"),
        F.col("entity_type"),
        # HADITH_REF mentions key to the doc id (builder.py:149-167)
        F.when(F.col("entity_type") == "HADITH_REF", F.col("doc_id"))
        .otherwise(F.col("canonical_name"))
        .alias("key"),
        F.col("text").alias("original_text"),
        F.col("confidence"),
    )

    hadith_meta = doc_index.select(
        "conv_id",
        "turn_idx",
        F.lit(2_000_000_000).alias("emit_idx"),  # appended after mentions
        F.lit("HADITH_REF").alias("entity_type"),
        F.col("doc_id").alias("key"),
        F.col("doc_id").alias("original_text"),
        F.lit(1.0).alias("confidence"),
    )

    rows = linkable.unionByName(hadith_meta)

    if resolved_triples is not None:
        def endpoint(side: str, offset: int) -> DataFrame:
            return resolved_triples.select(
                "conv_id",
                "turn_idx",
                # endpoints are merged after the doc's mention nodes, src
                # before tgt, in relation emit order (builder.py:125-126)
                (F.lit(3_000_000_000) + F.col("rel_idx") * 2 + F.lit(offset))
                .alias("emit_idx"),
                F.col(f"{side}_type").alias("entity_type"),
                F.col(f"{side}_canonical").alias("key"),
                F.when(
                    F.col(f"{side}_type") == "HADITH_REF", F.col("doc_id")
                ).otherwise(F.col(f"{side}_text")).alias("original_text"),
                F.coalesce(F.col(f"{side}_confidence_r"), F.lit(1.0)).alias(
                    "confidence"
                ),
            ).where(F.col("entity_type").isin(list(NODE_LABELS)))

        rows = rows.unionByName(endpoint("subj", 0)).unionByName(endpoint("obj", 1))

    return rows.select(
        _label_expr("entity_type").alias("label"),
        "key",
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.col("emit_idx").cast("long").alias("emit_idx"),
        "original_text",
        "confidence",
    )


def _hadith_provenance() -> F.Column:
    """``book_ref`` / ``chapter``: Hadith nodes carry provenance fields,
    empty for transcript input (builder.py:339-343); other labels null."""
    return F.when(F.col("label") == "Hadith", F.lit(""))


def lift_node_candidates(rows: DataFrame) -> DataFrame:
    """:func:`node_candidate_rows` -> ``NODES_TABLE_SCHEMA`` rows, each
    one writer: its own text is the name and the only variant, and its
    emit order is the winning ordinal, so :func:`merge_node_rows` over
    the lifted rows is the first-time node MERGE."""
    return rows.select(
        "label",
        "key",
        F.col("original_text").alias("name_ar"),
        "confidence",
        F.array("original_text").alias("variants"),
        F.lit(1).cast("long").alias("mention_count"),
        F.col("conv_id").alias("best_conv"),
        F.col("turn_idx").cast("int").alias("best_turn"),
        F.col("emit_idx").cast("long").alias("best_emit"),
        _hadith_provenance().alias("book_ref"),
        _hadith_provenance().alias("chapter"),
    )


def build_nodes(
    resolved_mentions: DataFrame,
    doc_index: DataFrame,
    resolved_triples: DataFrame | None = None,
) -> DataFrame:
    """Node table from resolved mention spans + one Hadith node per doc +
    triple endpoints (inferred entities, e.g. author-map books, exist only
    as endpoints — the reference merges endpoint nodes during relation
    insert, builder.py:125-126).

    ``resolved_mentions`` columns: conv_id, turn_idx, doc_id, mention_idx,
    text, entity_type, canonical_name, confidence, match_type.
    ``doc_index`` columns: conv_id, turn_idx, doc_id (distinct docs).

    The global groupBy strategy, valid for any input layout: the pipeline
    uses it for labeled input that may repeat a turn, and when the
    resolution is too large for the fused pass
    (:func:`fused_graph_outputs`), which it is the reference for.  It is
    the one node MERGE (:func:`merge_node_rows`) over the candidate rows
    lifted to the table shape.
    """
    return merge_node_rows(lift_node_candidates(
        node_candidate_rows(resolved_mentions, doc_index, resolved_triples)
    ))


def build_hadith_nodes_turn_local(extracted: DataFrame) -> DataFrame:
    """Hadith (doc-scoped) nodes as a plain column projection — no
    shuffle, no lambdas.

    A Hadith node's key is the turn's ``doc_id``, so every row that could
    merge into it comes from that one turn: HADITH_REF mention spans,
    the per-doc metadata row, and HADITH_REF triple endpoints
    (builder.py:149-167, 313-322).  The annotate kernel already counts
    them per text into the lean extraction's flat columns (``href_texts``,
    ``n_href``, ``href_slot``, operators/ner.EXTRACTED_SCHEMA), so the
    whole MERGE is column arithmetic:

    * name_ar / confidence: the last writer is the metadata row or a
      HADITH_REF endpoint — both carry (doc_id, 1.0) — so the outcome is
      constant.
    * variants: {doc_id} ∪ href_texts, sorted.
    * mention_count: 1 (metadata) + n_href.
    * best_emit: the global agg's winner ordinal, the max emit among the
      turn's candidate rows — the last HADITH_REF endpoint (3e9 +
      href_slot) when there is one, else the metadata row (2e9);
      mention emits (< 2e9) never win.

    Equivalence with the global groupBy strategy is asserted in
    tests/test_pipeline_scale.py; requires one input row per turn (the
    transcripts-table natural key).
    """
    return extracted.select(
        F.lit("Hadith").alias("label"),
        F.col("doc_id").alias("key"),
        F.col("doc_id").alias("name_ar"),
        F.lit(1.0).alias("confidence"),
        # sort_array, not array_sort: array_sort's default comparator is
        # a lambda; with no null element both give the same order
        F.sort_array(
            F.array_distinct(F.concat(F.array("doc_id"), F.col("href_texts")))
        ).alias("variants"),
        (F.col("n_href") + 1).cast("long").alias("mention_count"),
        F.col("conv_id").alias("best_conv"),
        F.col("turn_idx").cast("int").alias("best_turn"),
        F.coalesce(
            F.col("href_slot") + F.lit(3_000_000_000), F.lit(2_000_000_000)
        ).cast("long").alias("best_emit"),
        F.lit("").alias("book_ref"),
        F.lit("").alias("chapter"),
    )


def build_edges(resolved_triples: DataFrame) -> DataFrame:
    """Edge table from resolved triples with MERGE-upsert aggregation.

    ``resolved_triples``: output of linking.resolve_triples — must carry
    subj_canonical/obj_canonical, source_hadith, rel_idx.

    The global groupBy strategy, valid for any input layout and the
    reference the fused pass (:func:`fused_graph_outputs`) is tested
    against; the pipeline falls back to it for labeled input that may
    repeat a turn and for resolutions too large for the fused pass.  It
    is the one edge MERGE (:func:`merge_edge_rows`) over the candidate
    rows lifted to the table shape.
    """
    return merge_edge_rows(lift_edge_candidates(edge_candidate_rows(resolved_triples)))


EDGE_KEY = ["pred", "src_label", "src_key", "tgt_label", "tgt_key", "source_hadith"]


# The streamed graph's bucket of a row: a hash of its MERGE key modulo
# the graph dir's pinned bucket count.  Stored bucket dirs depend on
# these exact expressions; changing one orphans every row of a graph dir.
def edge_bucket(n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(*EDGE_KEY), F.lit(n_buckets)).cast("int")


def node_bucket(n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64("label", "key"), F.lit(n_buckets)).cast("int")


# persistent-table DDL shapes (v2, writer-ordinal columns) — shared by
# the streaming maintenance jobs so a one-table-missing graph dir can be
# processed against an empty side of the right schema
EDGES_TABLE_SCHEMA = (
    "pred string, src_label string, src_key string, tgt_label string, "
    "tgt_key string, source_hadith string, confidence double, "
    "evidence string, merge_count long, first_emit long"
)
NODES_TABLE_SCHEMA = (
    "label string, key string, name_ar string, confidence double, "
    "variants array<string>, mention_count long, best_conv string, "
    "best_turn int, best_emit long, book_ref string, chapter string"
)


def edge_candidate_rows(resolved_triples: DataFrame) -> DataFrame:
    """Projection + validity filter of the global edge merge (exposed so
    the MERGE tail can be staged to parquet and replayed by an
    independent SQL engine)."""
    return resolved_triples.select(
        "conv_id",
        "turn_idx",
        F.col("rel_idx").alias("emit_idx"),
        F.col("pred"),
        _label_expr("subj_type").alias("src_label"),
        F.col("subj_canonical").alias("src_key"),
        _label_expr("obj_type").alias("tgt_label"),
        F.col("obj_canonical").alias("tgt_key"),
        F.col("source_hadith"),
        F.col("confidence"),
        F.col("evidence"),
    ).where(
        F.col("src_key").isNotNull()
        & (F.col("src_key") != "")
        & F.col("tgt_key").isNotNull()
        & (F.col("tgt_key") != "")
        & F.col("src_label").isNotNull()
        & F.col("tgt_label").isNotNull()
    )


def lift_edge_candidates(rows: DataFrame) -> DataFrame:
    """:func:`edge_candidate_rows` -> ``EDGES_TABLE_SCHEMA`` rows, each
    one writer whose emit order is its ``first_emit``, so
    :func:`merge_edge_rows` over the lifted rows is the first-time edge
    MERGE."""
    return rows.select(
        *EDGE_KEY,
        "confidence",
        "evidence",
        F.lit(1).cast("long").alias("merge_count"),
        F.col("emit_idx").cast("long").alias("first_emit"),
    )


_COMBINED_SCHEMA = (
    "out string, "
    "pred string, src_label string, src_key string, tgt_label string, "
    "tgt_key string, source_hadith string, confidence double, "
    "evidence string, merge_count long, first_emit long, "
    "label string, key string, name_ar string, variants array<string>, "
    "mention_count long, best_conv string, best_turn int, best_emit long"
)
# Hadith (doc-scoped) nodes are deliberately NOT part of the fused output:
# at one Python row per turn they cost more CPU than they save (ROADMAP
# Direction 2), while build_hadith_nodes_turn_local is a plain column
# projection of the annotate kernel's flat Hadith-ref columns over the
# already-cached extraction.


def fused_graph_outputs(extracted: DataFrame, resolution_bc) -> DataFrame:
    """Edges + node inputs in ONE Arrow pass over the annotate output.

    The pipeline's materialize path for every unique-turn build, in memory
    and staged.  The global groupBy (:func:`build_nodes`,
    :func:`build_edges`) scans the extraction 4x (mention explode, two
    triple explodes, doc index), broadcast-joins the resolution into each,
    and pushes ~6 rows/turn through JVM row processing whose per-record
    CPU inflates ~2x at 16 threads on one box.  The edge MERGE key holds
    the per-turn ``source_hadith``, so every merge is turn-local over data
    already sitting in the turn's arrays: one mapInPandas with the
    (vocabulary-sized) resolution as a broadcast Python dict replaces it;
    Python workers have per-worker heaps and scale ~1.0 (same shape as
    the annotate stage).

    Per input row (= one turn) emits, discriminated by ``out``:

    * ``edge``  — first-writer-wins merged edges (== build_edges)
    * ``vnode`` — per-BATCH pre-aggregated vocabulary-node candidates
      (~|vocabulary| rows per Arrow batch); finish with
      :func:`nodes_from_combined` (== build_nodes on vocabulary rows,
      unioned with the JVM-side Hadith projection)

    ``resolution_bc``: broadcast dict {(text, entity_type): (canonical,
    confidence)}.  Requires one input row per (conv_id, turn_idx); the
    pipeline falls back to the global groupBy for labeled input that may
    repeat a turn or for a resolution above ``FUSED_VOCAB_LIMIT``
    (plans/pipeline.py).
    """

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        res = resolution_bc.value
        labels_map = NODE_LABELS

        for batch in batches:
            edge_rows: list[tuple] = []
            # (label, key) -> [order, text, conf, variants, count]
            vocab: dict[tuple, list] = {}

            for conv_id, turn_idx, doc_id, mentions, triples in zip(
                batch["conv_id"], batch["turn_idx"], batch["doc_id"],
                batch["mentions"], batch["triples"],
            ):
                turn_idx = int(turn_idx)
                for m in mentions:
                    etype = m["entity_type"]
                    if etype == "HADITH_REF":
                        continue
                    lab = labels_map.get(etype)
                    if lab is None:
                        continue
                    hit = res.get((m["text"], etype))
                    if hit is None:
                        continue
                    key = (lab, hit[0])
                    order = (conv_id, turn_idx, m["mention_idx"])
                    ent = vocab.get(key)
                    if ent is None:
                        vocab[key] = [order, m["text"], hit[1], {m["text"]}, 1]
                    else:
                        if order > ent[0]:
                            ent[0], ent[1], ent[2] = order, m["text"], hit[1]
                        ent[3].add(m["text"])
                        ent[4] += 1

                seen: dict[tuple, list] = {}
                for t in triples:
                    ridx = t["rel_idx"]
                    endpoints = (
                        (t["subj_text"], t["subj_type"], 3_000_000_000 + ridx * 2),
                        (t["obj_text"], t["obj_type"], 3_000_000_000 + ridx * 2 + 1),
                    )
                    canon = []
                    for text, etype, emit in endpoints:
                        if etype == "HADITH_REF":
                            canon.append(doc_id)
                            continue
                        hit = res.get((text, etype))
                        canon.append(hit[0] if hit else None)
                        lab = labels_map.get(etype)
                        if lab is None or hit is None:
                            continue
                        key = (lab, hit[0])
                        order = (conv_id, turn_idx, emit)
                        # endpoint confidence = resolution confidence
                        # (resolve_triples: coalesce(confidence_r, 1.0))
                        conf = hit[1] if hit[1] is not None else 1.0
                        ent = vocab.get(key)
                        if ent is None:
                            vocab[key] = [order, text, conf, {text}, 1]
                        else:
                            if order > ent[0]:
                                ent[0], ent[1], ent[2] = order, text, conf
                            ent[3].add(text)
                            ent[4] += 1
                    sc, oc = canon
                    sl = labels_map.get(t["subj_type"])
                    ol = labels_map.get(t["obj_type"])
                    if sc and oc and sl and ol:
                        k = (t["pred"], sl, sc, ol, oc, doc_id)
                        ent = seen.get(k)
                        if ent is None:
                            # edge candidate emit == rel_idx
                            seen[k] = [t["confidence"], t["evidence"], 1, ridx]
                        else:
                            ent[2] += 1
                for k, v in seen.items():
                    edge_rows.append(k + (v[0], v[1], v[2], v[3]))

            n_e, n_v = len(edge_rows), len(vocab)
            if not (n_e or n_v):
                # a fully-empty construction would give the frame's list
                # columns numpy float64 dtype, which Arrow cannot convert
                # to list<string> (possible when a batch has no matches
                # at all, e.g. non-Arabic input)
                continue
            out = pd.DataFrame(
                {
                    "out": ["edge"] * n_e + ["vnode"] * n_v,
                    "pred": [r[0] for r in edge_rows] + [None] * n_v,
                    "src_label": [r[1] for r in edge_rows] + [None] * n_v,
                    "src_key": [r[2] for r in edge_rows] + [None] * n_v,
                    "tgt_label": [r[3] for r in edge_rows] + [None] * n_v,
                    "tgt_key": [r[4] for r in edge_rows] + [None] * n_v,
                    "source_hadith": [r[5] for r in edge_rows] + [None] * n_v,
                    "confidence": [r[6] for r in edge_rows]
                    + [v[2] for v in vocab.values()],
                    "evidence": [r[7] for r in edge_rows] + [None] * n_v,
                    "merge_count": [r[8] for r in edge_rows] + [0] * n_v,
                    "first_emit": [r[9] for r in edge_rows] + [0] * n_v,
                    "label": [None] * n_e + [k[0] for k in vocab],
                    "key": [None] * n_e + [k[1] for k in vocab],
                    "name_ar": [None] * n_e + [v[1] for v in vocab.values()],
                    "variants": [None] * n_e
                    + [sorted(v[3]) for v in vocab.values()],
                    "mention_count": [0] * n_e + [v[4] for v in vocab.values()],
                    "best_conv": [None] * n_e + [v[0][0] for v in vocab.values()],
                    "best_turn": [0] * n_e + [v[0][1] for v in vocab.values()],
                    "best_emit": [0] * n_e + [v[0][2] for v in vocab.values()],
                }
            )
            yield out

    return extracted.select(
        "conv_id", "turn_idx", "doc_id", "mentions", "triples"
    ).mapInPandas(run, schema=_COMBINED_SCHEMA)


def edges_from_combined(combined: DataFrame) -> DataFrame:
    return combined.where(F.col("out") == "edge").select(
        "pred", "src_label", "src_key", "tgt_label", "tgt_key",
        "source_hadith", "confidence", "evidence", "merge_count", "first_emit",
    )


def nodes_from_combined(combined: DataFrame, extracted: DataFrame) -> DataFrame:
    """Vocabulary candidates finish with a (tiny) global
    :func:`merge_node_rows`; Hadith nodes come from the narrow JVM
    projection over the cached extraction."""
    # one projection of one provenance expression: the fewest py4j round
    # trips and one analysis (two withColumn calls analyze twice)
    provenance = _hadith_provenance()
    vocab = combined.where(F.col("out") == "vnode").withColumns(
        {"book_ref": provenance, "chapter": provenance}
    )
    return merge_node_rows(vocab).unionByName(build_hadith_nodes_turn_local(extracted))


def merge_node_rows(rows: DataFrame) -> DataFrame:
    """The node MERGE over table-shaped rows (``NODES_TABLE_SCHEMA``
    columns; extra columns are ignored), merged already or lifted by
    :func:`lift_node_candidates`: per (label, key) the row with
    the globally last writer (max ``best_conv/best_turn/best_emit``)
    wins the properties, ``variants`` is the sorted set union and
    ``mention_count`` the sum (``SET n += props``, builder.py:404-408).

    The max over the rows' winner ordinals is the global last writer,
    so the result does not depend on how the writers were split into
    rows, nor on the order the rows arrive in."""
    # the ordinal fields lead the struct, so struct max == last writer;
    # collect_set keeps one copy of each variant array in the partial
    # buffer, not one per writer
    winner = F.max(
        F.struct(
            "best_conv", "best_turn", "best_emit",
            "name_ar", "confidence", "book_ref", "chapter",
        )
    ).alias("w")
    return (
        rows.groupBy("label", "key")
        .agg(
            winner,
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_set("variants")))
            ).alias("variants"),
            F.sum("mention_count").alias("mention_count"),
        )
        .select(
            "label", "key",
            F.col("w.name_ar").alias("name_ar"),
            F.col("w.confidence").alias("confidence"),
            "variants", "mention_count",
            F.col("w.best_conv").alias("best_conv"),
            F.col("w.best_turn").alias("best_turn"),
            F.col("w.best_emit").alias("best_emit"),
            F.col("w.book_ref").alias("book_ref"),
            F.col("w.chapter").alias("chapter"),
        )
    )


def merge_edge_rows(rows: DataFrame) -> DataFrame:
    """The edge MERGE over table-shaped rows (``EDGES_TABLE_SCHEMA``
    columns), merged already or lifted by :func:`lift_edge_candidates`:
    per :data:`EDGE_KEY` the row with the first writer (min
    ``first_emit``) keeps its confidence and evidence, and
    ``merge_count`` is the sum.  An edge key's writers all share one
    turn, so the emit ordinal alone orders them, and the min over the
    rows' ordinals is the global first writer in any split or order."""
    # first_emit leads the struct, so struct min == first writer
    winner = F.min(F.struct("first_emit", "confidence", "evidence")).alias("w")
    return (
        rows.groupBy(*EDGE_KEY)
        .agg(winner, F.sum("merge_count").alias("merge_count"))
        .select(
            *EDGE_KEY,
            F.col("w.confidence").alias("confidence"),
            F.col("w.evidence").alias("evidence"),
            "merge_count",
            F.col("w.first_emit").alias("first_emit"),
        )
    )


def graph_stats(nodes: DataFrame, edges: DataFrame) -> dict:
    """Counts by node label and edge type + totals (A6, builder.py:244-283).

    ``total_triples`` is the number of resolved triples the edges merged,
    ``sum(merge_count)``: an edge written by k triples counts k times."""
    nodes_by_label = {
        r["label"]: r["count"] for r in nodes.groupBy("label").count().collect()
    }
    by_pred = edges.groupBy("pred").agg(
        F.count(F.lit(1)).alias("count"), F.sum("merge_count").alias("triples")
    ).collect()
    rels_by_type = {r["pred"]: r["count"] for r in by_pred}
    return {
        "nodes_by_label": nodes_by_label,
        "relationships_by_type": rels_by_type,
        "total_nodes": int(sum(nodes_by_label.values())),
        "total_relationships": int(sum(rels_by_type.values())),
        "total_triples": int(sum(r["triples"] for r in by_pred)),
    }
