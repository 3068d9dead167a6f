"""Entity linking: exact + fuzzy vs the broadcast gazetteer -> joint
canonicalization of the remainder.

Scale shape (the whole point of this design):

* Resolution is computed over **distinct** (text, type) strings, never per
  mention row — at 10^12 turns the distinct mention vocabulary is orders
  of magnitude smaller than the mention table.
* One bounded collect (``DRIVER_LADDER_LIMIT`` + 1 rows) both decides
  the ladder and fetches a small vocabulary: at or below the limit the
  whole ladder below runs on the driver in plain Python
  (``resolve_strings_locally``) and nothing is cached — a few thousand
  rows do not justify the distributed ladder's ~20 Spark jobs and three
  Python crossings.  The driver ladder counts its blocked pairs before
  scoring them and hands a vocabulary over ``DRIVER_PAIR_LIMIT`` (hot
  name tokens just under the block cap) to the distributed ladder, as it
  does a vocabulary over the string limit; that ladder runs rule for
  rule.
* L1 exact linking is a **broadcast hash lookup** against the gazetteer
  dimension (the map-side half of a broadcast hash join,
  entity_resolver.py:26-43), fused into the same batched Arrow pass as
* L2 fuzzy scoring (SequenceMatcher vs same-type canonicals+variants;
  entity_resolver.py:70-100).  A batch of strings first meets one numpy
  bound matrix against the type's candidate strings (difflib's
  ``quick_ratio``, exact): a string no candidate can reach is "new" at
  once, and only the rest are scored, skipping a candidate whose exact
  difflib upper bound cannot reach the threshold or the best score so
  far.  Both rungs are one batch function
  (functions/resolve.resolve_strings) that both ladders call.
* L3' "new" entities are clustered **jointly**: blocking by shared token,
  then pairwise ratio >= 0.8 through functions/resolve.similar_pairs —
  the same vectorized bound over each block's pairs (or each Arrow
  batch of pairs), SequenceMatcher only on its survivors — then
  connected components (large-star/small-star, or union-find on the
  driver) pick a deterministic canonical (lexicographic min).  This
  replaces the reference's order-dependent resolver mutation with
  order-free semantics.
* The final mention->resolution join relies on AQE to broadcast the
  (small) resolution table and to split skewed keys when it is not small
  (hot narrator names are Zipf-heavy; ``spark.sql.adaptive.skewJoin`` is
  on in the session defaults).
"""

from __future__ import annotations

import logging
from typing import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from islamic_ner_spark.functions.worker import drop_zip_importers
from islamic_ner_spark.operators.components import (
    connected_components,
    min_label_components,
)
from islamic_ner_spark.operators.materialize import cache, owned

log = logging.getLogger(__name__)

LINKABLE_TYPES = ("SCHOLAR", "BOOK", "CONCEPT", "PLACE")

RESOLUTION_SCHEMA = (
    "text string, entity_type string, norm_text string, "
    "canonical_name string, confidence double, match_type string"
)
RESOLUTION_COLUMNS = [c.split()[0] for c in RESOLUTION_SCHEMA.split(", ")]


def _distinct_linkable_strings(mentions: DataFrame, triples: DataFrame) -> DataFrame:
    """Distinct (text, entity_type) across mention spans and triple
    endpoints (inferred-book endpoints only exist in triples).

    Two branches, one per fact table: the mention spans, and both
    endpoints of each triple through one ``explode(array(struct,
    struct))``, so each table is read once.  Over the cached extraction
    every read is its own Spark job at the first action, so this costs
    two cache reads where three union branches (mentions, subjects,
    objects) cost three."""
    endpoints = triples.select(F.explode(F.array(
        F.struct(F.col("subj_text").alias("text"), F.col("subj_type").alias("entity_type")),
        F.struct(F.col("obj_text").alias("text"), F.col("obj_type").alias("entity_type")),
    )).alias("endpoint")).select("endpoint.*")
    return (
        mentions.select("text", "entity_type").unionByName(endpoints)
        .where(F.col("entity_type").isin(list(LINKABLE_TYPES)))
        .distinct()
    )


# NOTE (round 6): a single-scan variant (mentions + both triple endpoints
# concatenated array-side with higher-order filter/transform lambdas
# before one explode) was REJECTED by measurement: the nested-lambda
# struct-building expressions run interpreted, not codegen'd — 1335 CPU-s
# vs 137 CPU-s for three codegen'd explode scans of the same cached table
# at the bench workload.  A lambda-free single scan needs the extraction's
# array columns, which callers passing flat mention and triple tables
# (tests, perfbench/layers.py) do not have, so the derivation keeps one
# codegen'd branch per fact table instead.


# blocks (shared tokens) larger than this are dropped from candidate
# generation: a token carried by that many strings (Arabic name particles
# like بن / ابو / عبد at corpus scale) cannot discriminate, and keeping it
# makes the blocked self-join quadratic in the hot block's size.  Every
# drop is logged — no silent coverage caps.
MAX_BLOCK_SIZE = 1_000

# The whole resolution ladder runs on the driver (build_resolution_table)
# for up to DRIVER_LADDER_LIMIT distinct linkable strings whose kept
# blocks hold up to DRIVER_PAIR_LIMIT pairs; past either, distributed.
# The driver's cost is linear in the blocked pairs (sum of n(n-1)/2 over
# the kept blocks), so both counts were measured: build_resolution_table
# over V scholar names plus its collect, warm local[4] session on a
# 4-vCPU host, driver vs distributed seconds, two runs each, both ladders
# scoring pairs through functions/resolve.similar_pairs (rows identical
# between the two ladders, and to per-pair scalar scoring, on every row):
#   names                             V   pairs  driver    distributed
#   longtail_vocabulary(1, V, 200)    2k    37k  1.1  1.0   6.9  4.1
#   (the benchmark's fixed pool)      5k   226k  1.0  1.1   4.1  3.9
#                                    10k   900k  2.0  1.8   6.1  6.0
#                                    20k  3.54M  5.9  5.1  15.4 13.3
#   longtail_vocabulary(1, V, V/10)   2k    37k  0.7  0.7   2.8  2.5
#   (blocks of ~20 names)             5k    92k  0.8  0.7   2.9  2.8
#                                    10k   184k  1.1  1.3   3.5  3.3
#                                    20k   367k  1.6  1.6   3.7  4.4
#   "H بن Y", 999 names per hot H     2k   1.0M  2.2  2.3   5.3  5.0
#   (blocks just under the cap)       5k   2.5M  3.7  3.5   9.5  8.9
#                                    10k   5.0M  7.4  7.0  18.2 15.8
# The driver was 2-4x faster on every row, so at 4 vCPUs neither limit
# is a crossover and both stay.  The string limit bounds the collect;
# the pair limit is the largest pair count measured.  Past it one core
# is unmeasured, and a cluster with more cores scores the distributed
# pairs in parallel.
DRIVER_LADDER_LIMIT = 10_000
DRIVER_PAIR_LIMIT = 5_000_000


def new_entity_nodes(new_strings: DataFrame) -> DataFrame:
    """Distinct type-scoped node ids for unresolved strings.

    Node id = ``entity_type \\x1f norm_text`` — \\x1f (unit separator)
    cannot appear in normalized text, so the same string under different
    types never merges.
    """
    return new_strings.select(
        F.concat_ws("\x1f", "entity_type", "norm_text").alias("node"),
        "entity_type",
        "norm_text",
    ).distinct()


def new_pair_edges(
    nodes: DataFrame,
    *,
    max_block_size: int = MAX_BLOCK_SIZE,
    log_dropped: bool = True,
    persisted: list | None = None,
) -> DataFrame:
    """Similarity edges between unresolved strings.

    Blocking: same (entity_type, shared whitespace token), with blocks
    larger than ``max_block_size`` dropped (logged via the shared
    operators/capping helper) so one ubiquitous name particle cannot
    make the pair join quadratic in the vocabulary.  Both capping
    branches feed the shared bucket self-join
    (operators/capping.bucket_self_join).  Pair scoring: ratio >= 0.8
    (entity_resolver.py:70-100 semantics) of each Arrow batch of pairs
    through functions/resolve.similar_pairs, the driver ladder's scorer:
    the vectorized bound, then SequenceMatcher on its survivors.
    """
    from pyspark.sql import Window

    from islamic_ner_spark.operators.capping import bucket_self_join, cap_buckets

    block_key = ["entity_type", "block_token"]
    blocked = nodes.select(
        "node", "entity_type", "norm_text",
        F.explode(F.split("norm_text", " ")).alias("block_token"),
    ).where(F.col("block_token") != "")

    if log_dropped:
        capped = cap_buckets(
            blocked, block_key, max_block_size, "new-entity-blocking", persisted
        )
    else:
        # silent path for equivalence tests: one shuffle keyed on the
        # block — the window count and the subsequent self-join both
        # consume the same (entity_type, block_token) hashing
        block_w = Window.partitionBy(*block_key)
        capped = blocked.withColumn(
            "block_n", F.count(F.lit(1)).over(block_w)
        ).where(F.col("block_n") <= max_block_size).drop("block_n")

    pairs = bucket_self_join(capped, block_key, "node", carry=("norm_text",))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        from islamic_ner_spark.functions.resolve import similar_pairs

        for batch in batches:
            # the batch's pairs as one candidate chunk over its distinct texts
            codes, texts = pd.factorize(pd.concat(
                [batch["norm_text_a"], batch["norm_text_b"]], ignore_index=True))
            a, b = codes[:len(batch)], codes[len(batch):]
            similar = set(similar_pairs(list(texts), [(a, b)]))
            keep = [pair in similar for pair in zip(a.tolist(), b.tolist())]
            yield batch.loc[keep, ["id_a", "id_b"]].set_axis(["src", "dst"], axis=1)

    return pairs.mapInPandas(score, schema="src string, dst string")


def canonicalize_from_pairs(nodes: DataFrame, pair_edges: DataFrame) -> DataFrame:
    """(node, entity_type, norm_text) + similarity edges -> canonical per
    string via connected components (lexicographic-min node id wins;
    singletons resolve to themselves)."""
    comp = connected_components(pair_edges)
    return (
        nodes.join(comp, nodes["node"] == comp["node"], "left")
        .select(
            nodes["entity_type"],
            nodes["norm_text"],
            F.coalesce(comp["component"], nodes["node"]).alias("component"),
        )
        # canonical = norm_text part of the component's min node id
        .withColumn("canonical_name", F.substring_index("component", "\x1f", -1))
        .drop("component")
    )


def _canonicalize_new(spark: SparkSession, new_strings: DataFrame) -> DataFrame:
    """Joint clustering of unresolved strings.

    Blocking (capped) -> pairwise ratio >= 0.8 -> connected components;
    the lexicographic-min norm_text of each component is the canonical.
    Identical to the reference for every test fixture."""
    nodes = new_entity_nodes(new_strings.select("text", "entity_type", "norm_text"))
    # canonicalize_from_pairs runs connected_components, which materializes
    # the edge set — the blocked cache is no longer referenced after it
    with owned() as blocked:
        return canonicalize_from_pairs(nodes, new_pair_edges(nodes, persisted=blocked))


def build_resolution_table(
    spark: SparkSession,
    mentions: DataFrame,
    triples: DataFrame,
    gazetteer_df: DataFrame | None,
    gazetteer_bc: Broadcast,
    persisted: list | None = None,
) -> DataFrame:
    """Distinct (text, entity_type) -> (canonical_name, confidence,
    match_type) via the exact -> fuzzy -> new ladder: the table of
    :func:`resolve_vocabulary`, without the driver-side rows.

    ``gazetteer_df`` is unused — every rung reads the broadcast
    ``gazetteer_bc`` — and stays in the signature for existing callers.
    """
    return resolve_vocabulary(spark, mentions, triples, gazetteer_bc, persisted)[0]


def resolve_vocabulary(
    spark: SparkSession,
    mentions: DataFrame,
    triples: DataFrame,
    gazetteer_bc: Broadcast,
    persisted: list | None = None,
) -> tuple[DataFrame, list[tuple] | None]:
    """The resolution table, and its ``RESOLUTION_COLUMNS`` rows when the
    ladder ran on the driver (``None`` when it ran distributed).

    One bounded collect of ``DRIVER_LADDER_LIMIT`` + 1 distinct strings
    both decides the ladder and fetches the vocabulary: at or below the
    limit the whole ladder runs on the driver
    (:func:`resolve_strings_locally`) over those rows, nothing is cached,
    and the table is one Arrow-built frame of the driver's rows, so a
    small vocabulary crosses the barrier in one Spark action instead of
    the distributed ladder's ~20 jobs and three Python crossings.  A
    caller holding the rows (the pipeline's fused pass) need not read
    the frame back.  The driver ladder's cost is its blocked pairs, so it
    also stops, before scoring any, when they exceed
    ``DRIVER_PAIR_LIMIT``.  One INFO line records both counts and the
    ladder that ran.

    Above either limit the ladder runs distributed.  The exact and fuzzy
    rungs both score against the *broadcast* gazetteer dimension and are
    independent per string, so they run fused in ONE batched Arrow pass
    over the distinct strings (exact = broadcast hash lookup, the
    map-side half of a broadcast hash join; fuzzy = the reference's
    SequenceMatcher scoring, entity_resolver.py:26-100).  Only the "new"
    remainder needs corpus-joint work (blocking + connected components).
    With a ``persisted`` owner the distributed ladder's scored strings
    are cached into it (operators/materialize.cache), and the caller
    releases them (``GraphBuildResult.unpersist()``); with none they are
    not cached.
    """
    strings = _distinct_linkable_strings(mentions, triples)
    head = strings.limit(DRIVER_LADDER_LIMIT + 1).collect()
    n_strings = len(head)
    rows = n_pairs = None
    if n_strings <= DRIVER_LADDER_LIMIT:
        rows, n_pairs = resolve_strings_locally(
            ((r["text"], r["entity_type"]) for r in head), gazetteer_bc.value
        )
    with owned() as local:
        if rows is None:
            # cached, so the count (for the INFO line) computes the
            # distinct strings once and the distributed ladder reads them
            # back; the clustering's blocking and components jobs below
            # are the last to read them
            strings = cache(strings, local)
            n_strings = strings.count()
        log.info(
            "resolution ladder: %d distinct linkable strings (driver limit %d), "
            "%s blocked pairs (driver limit %d) -> %s",
            n_strings, DRIVER_LADDER_LIMIT,
            "uncounted" if n_pairs is None else n_pairs, DRIVER_PAIR_LIMIT,
            "distributed" if rows is None else "driver",
        )
        if rows is not None:
            # one local Arrow batch in one partition, as components'
            # _local_components builds its mapping
            frame = pd.DataFrame(rows, columns=RESOLUTION_COLUMNS)
            return spark.createDataFrame(frame, schema=RESOLUTION_SCHEMA).coalesce(1), rows

        scored = cache(score_strings_ladder(strings, gazetteer_bc), persisted)
        new_canon = _canonicalize_new(spark, scored.where(F.col("match_type") == "new"))
        return resolution_from_scored(scored, new_canon), None


def resolve_strings_locally(
    strings: Iterable[tuple[str, str]], gazetteer
) -> tuple[list[tuple] | None, int]:
    """The whole resolution ladder in plain Python over distinct
    ``(text, entity_type)`` pairs -> ``(RESOLUTION_SCHEMA rows,
    blocked pair count)``.

    The blocked pair count is the sum of ``n(n-1)/2`` over the kept
    blocks, the pairs the blocked self-join would generate.  Above
    ``DRIVER_PAIR_LIMIT`` the rows are ``None``: no pair is scored and
    nothing is logged, and the caller runs the distributed ladder.

    The same rungs as the distributed path, rule for rule: the
    exact/fuzzy/new ladder (functions/resolve.resolve_strings), token
    blocks over the new strings' nodes capped at ``MAX_BLOCK_SIZE``
    exploded (node, token) rows (a repeated token counts twice) with the
    same dropped-block WARNING, pairs scored as ``ratio(text of the
    smaller node id, text of the larger)`` >= 0.8, and min-label
    union-find (components.min_label_components), whose component id's
    text after the last \\x1f is the canonical.

    Pairs are scored by functions/resolve.similar_pairs, block by block:
    each kept block's upper triangle (members in id order) gets the
    vectorized char-count bound in slices of a fixed byte budget, and
    only the bound's survivors reach SequenceMatcher, each once even
    when it shares two blocks — so no pair set beyond the survivors is
    ever held, and memory stays linear in the vocabulary plus one
    block's pairs."""
    from islamic_ner_spark.functions.resolve import resolve_strings, similar_pairs
    from islamic_ner_spark.operators.capping import warn_dropped

    strings = list(strings)
    scored = [(text, etype, *row)
              for (text, etype), row in zip(strings, resolve_strings(strings, gazetteer))]

    # new_entity_nodes: node id -> (entity_type, normalized text)
    nodes = {f"{etype}\x1f{norm}": (etype, norm)
             for _, etype, norm, _, _, match_type in scored if match_type == "new"}
    blocks: dict[tuple[str, str], list[str]] = {}
    for node, (etype, norm) in nodes.items():
        for token in norm.split(" "):
            if token:
                blocks.setdefault((etype, token), []).append(node)
    n_pairs = sum(len(members) * (len(members) - 1) // 2
                  for members in blocks.values() if len(members) <= MAX_BLOCK_SIZE)
    if n_pairs > DRIVER_PAIR_LIMIT:
        return None, n_pairs
    # largest first, ties by key: cap_buckets' order
    warn_dropped(
        "new-entity-blocking",
        sorted(((*key, len(members)) for key, members in blocks.items()
                if len(members) > MAX_BLOCK_SIZE),
               key=lambda hot: (-hot[-1], hot[:-1])),
        MAX_BLOCK_SIZE,
    )
    # positions in id order, so a block's upper triangle pairs each
    # smaller id with a larger one
    ids = sorted(nodes)
    position = {node: i for i, node in enumerate(ids)}

    def block_pairs() -> Iterator[tuple[np.ndarray, np.ndarray]]:
        for members in blocks.values():
            if len(members) <= MAX_BLOCK_SIZE:
                # a repeated token lists its node twice; it pairs once
                block = np.unique([position[node] for node in members])
                a, b = np.triu_indices(len(block), 1)
                yield block[a], block[b]

    similar = similar_pairs([nodes[node][1] for node in ids], block_pairs())
    component = min_label_components((ids[a], ids[b]) for a, b in similar)

    rows = []
    for text, etype, norm, canonical, confidence, match_type in scored:
        if match_type == "new":
            node = f"{etype}\x1f{norm}"
            canonical = component.get(node, node).rsplit("\x1f", 1)[-1]
        rows.append((text, etype, norm, canonical, confidence, match_type))
    return rows, n_pairs


def score_strings_ladder(strings: DataFrame, gazetteer_bc: Broadcast) -> DataFrame:
    """Distinct strings -> per-string exact/fuzzy/new scoring in one
    batched Arrow pass, each batch through functions/resolve.resolve_strings
    (the per-string half of the resolution ladder; the 'new' rows still
    need the joint canonicalization)."""

    def ladder(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        from islamic_ner_spark.functions.resolve import resolve_strings

        gazetteer = gazetteer_bc.value
        for batch in batches:
            scored = resolve_strings(
                zip(batch["text"], batch["entity_type"]), gazetteer)
            out = batch[["text", "entity_type"]].copy()
            for i, column in enumerate(RESOLUTION_COLUMNS[2:]):
                out[column] = [row[i] for row in scored]
            yield out

    return strings.mapInPandas(ladder, schema=RESOLUTION_SCHEMA)


def resolution_from_scored(scored: DataFrame, new_canon: DataFrame) -> DataFrame:
    """Assemble the final resolution table: exact/fuzzy rows pass
    through; 'new' rows take their joint canonical (confidence 0.5,
    entity_resolver.py:55-68)."""
    resolved = scored.where(F.col("match_type") != "new")
    new_hits = (
        scored.where(F.col("match_type") == "new")
        .select("text", "entity_type", "norm_text")
        .join(new_canon, ["entity_type", "norm_text"])
        .select(
            "text", "entity_type", "norm_text",
            F.col("canonical_name"),
            F.lit(0.5).alias("confidence"),
            F.lit("new").alias("match_type"),
        )
    )
    return resolved.unionByName(new_hits)


def resolve_triples(
    triples: DataFrame,
    resolution: DataFrame,
    *,
    broadcast_resolution: bool = True,
    n_salts: int = 1,
) -> DataFrame:
    """Attach canonical endpoints to every triple (L5, builder.py:285-323).

    HADITH_REF endpoints canonicalize to the turn's ``doc_id`` (the
    metadata hadith_id always exists in this pipeline, builder.py:313-321);
    linkable endpoints join the resolution table.

    The resolution table is the *distinct mention vocabulary* — orders of
    magnitude smaller than the triple table — so it is broadcast by
    default (Catalyst sees a UDF/union plan with unknown stats and would
    otherwise pick a sort-merge join over the full fact table).  Pass
    ``broadcast_resolution=False`` for extreme vocabularies; hot narrator
    keys are Zipf-heavy, so that regime layers ``n_salts`` explicit key
    salting (operators/skew.salted_join) on top of AQE's runtime
    skew-join splitting.
    """
    if broadcast_resolution:
        resolution = F.broadcast(resolution)
    subj_res = resolution.select(
        F.col("text").alias("subj_text"),
        F.col("entity_type").alias("subj_type"),
        F.col("canonical_name").alias("subj_canonical_r"),
        F.col("confidence").alias("subj_confidence_r"),
        F.col("match_type").alias("subj_match_type_r"),
    )
    obj_res = resolution.select(
        F.col("text").alias("obj_text"),
        F.col("entity_type").alias("obj_type"),
        F.col("canonical_name").alias("obj_canonical_r"),
        F.col("confidence").alias("obj_confidence_r"),
        F.col("match_type").alias("obj_match_type_r"),
    )

    if not broadcast_resolution and n_salts > 1:
        from islamic_ner_spark.operators.skew import salted_join

        joined = salted_join(
            salted_join(triples, subj_res, ["subj_text", "subj_type"], n_salts=n_salts),
            obj_res, ["obj_text", "obj_type"], n_salts=n_salts,
        )
    else:
        joined = triples.join(subj_res, ["subj_text", "subj_type"], "left").join(
            obj_res, ["obj_text", "obj_type"], "left"
        )

    out = (
        joined
        .withColumn(
            "subj_canonical",
            F.when(F.col("subj_type") == "HADITH_REF", F.col("doc_id")).otherwise(
                F.col("subj_canonical_r")
            ),
        )
        .withColumn(
            "obj_canonical",
            F.when(F.col("obj_type") == "HADITH_REF", F.col("doc_id")).otherwise(
                F.col("obj_canonical_r")
            ),
        )
        .withColumn("source_hadith", F.col("doc_id"))
        .drop("subj_canonical_r", "obj_canonical_r")
    )
    return out
