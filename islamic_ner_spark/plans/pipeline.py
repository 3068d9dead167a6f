"""End-to-end KG construction plan: transcripts -> nodes + edges.

Spark lifecycle (all stages DataFrame-native, SURVEY.md §3):

    read transcripts
      -> annotate (fused normalize + AC-gazetteer + pattern NER,
         one narrow mapInPandas)                      [no shuffle]
      -> mentions / triples (narrow explodes)         [no shuffle]
      -> resolution over DISTINCT strings (exact lookup, fuzzy,
         blocked pair scoring, CC canonicalization): one bounded
         collect, then on the driver for a small
         vocabulary, whose rows feed the fused pass  [one small shuffle]
         or distributed above DRIVER_LADDER_LIMIT
         strings or DRIVER_PAIR_LIMIT blocked pairs   [small shuffles]
      -> graph materialize, one of two strategies:
         * fused: one Arrow pass over the extraction emits merged edges
           and pre-aggregated vocabulary-node candidates (needs one row
           per turn and a resolution that fits a broadcast dict)
         * global: nodes/edges groupBy MERGE-semantics aggs [keyed shuffle]

The strategy depends only on whether turns are unique and on the
resolution's size against ``FUSED_VOCAB_LIMIT`` (the driver ladder's row
count, else a count of the resolution table).  With a ``work_dir`` each
stage materializes to parquet with a lineage manifest and is resumable;
the annotate stage stages the lean extraction (one row per turn, so the
fused pass stays exact after the round trip), bucketed by conv_id hash,
and resumes at bucket granularity (a killed job skips finished buckets).
"""

from __future__ import annotations

import hashlib
import json
import shutil
import time
from dataclasses import dataclass, field
from functools import cached_property, partial
from pathlib import Path
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from islamic_ner_spark.operators.graph import (
    build_edges,
    build_nodes,
    edges_from_combined,
    fused_graph_outputs,
    graph_stats,
    nodes_from_combined,
)

# above this many distinct (text, type) strings the resolution no longer
# broadcasts comfortably as a Python dict; fall back to the global
# groupBy materialize (build_nodes / build_edges).  The strategy is decided
# from the driver ladder's rows when it ran, else from a count() of the
# persisted (or staged) resolution table — those rows are only ever
# collected to the driver after the count says they fit.
FUSED_VOCAB_LIMIT = 500_000
from islamic_ner_spark.operators.linking import (
    RESOLUTION_COLUMNS,
    build_resolution_table,
    resolve_triples,
    resolve_vocabulary,
)
from islamic_ner_spark.operators.ner import annotate_transcripts
from islamic_ner_spark.operators.relations import extract_mentions, extract_triples
from islamic_ner_spark.sources import tables
from islamic_ner_spark.sources.gazetteer import Gazetteer

DEFAULT_GAZETTEER_DIR = str(Path(__file__).resolve().parents[1] / "data" / "gazetteers")


@dataclass
class GraphBuildResult:
    """A build's tables.  The build reads only the extraction, the fact
    tables and the resolution; ``annotated``, ``resolved_triples`` and
    ``resolved_mentions`` are views for callers, planned on first
    access."""

    mentions: DataFrame
    triples: DataFrame
    resolution: DataFrame
    nodes: DataFrame
    edges: DataFrame
    extracted: DataFrame  # (conv, turn, doc, mentions, triples): cached, or staged
    annotate: Callable[[], DataFrame]  # plans the ``annotated`` view
    persisted: list = field(default_factory=list)  # released via unpersist()

    @cached_property
    def annotated(self) -> DataFrame:
        return self.annotate()

    @cached_property
    def resolved_triples(self) -> DataFrame:
        return resolve_triples(self.triples, self.resolution)

    @cached_property
    def resolved_mentions(self) -> DataFrame:
        return resolve_mentions_table(self.mentions, self.resolution)

    def stats(self) -> dict:
        return graph_stats(self.nodes, self.edges)

    def metrics(self) -> dict:
        """Per-stage row counts — the in-memory counterpart of the
        ``work_dir`` path's ``_manifest.json`` lineage records (computed
        on demand from the cached extraction and graph tables; the
        resolution is cached only when its ladder ran distributed, and
        otherwise is a local frame of the driver ladder's rows)."""
        return {
            "turns": self.extracted.count(),
            "mentions": self.mentions.count(),
            "triples": self.triples.count(),
            "resolution_strings": self.resolution.count(),
            "nodes": self.nodes.count(),
            "edges": self.edges.count(),
        }

    def unpersist(self) -> None:
        """Release every intermediate this build cached — required by
        long-running callers (e.g. the streaming foreachBatch loop) to
        keep executor storage bounded across many builds."""
        for df in self.persisted or []:
            df.unpersist()


def _fingerprint(*parts: object) -> str:
    return hashlib.sha256(json.dumps([str(p) for p in parts]).encode()).hexdigest()[:16]


def resolve_mentions_table(mentions: DataFrame, resolution: DataFrame) -> DataFrame:
    """Attach canonical/confidence to mention rows (HADITH_REF mentions
    canonicalize to their doc_id with confidence 1.0, builder.py:149-167)."""
    # resolution is persisted by the pipeline; AQE broadcasts it at
    # runtime based on its actual (small) size
    res = resolution.select(
        "text", "entity_type",
        F.col("canonical_name").alias("canonical_name_r"),
        F.col("confidence").alias("confidence_r"),
        F.col("match_type").alias("match_type_r"),
    )
    return (
        mentions.join(res, ["text", "entity_type"], "left")
        .withColumn(
            "canonical_name",
            F.when(F.col("entity_type") == "HADITH_REF", F.col("doc_id")).otherwise(
                F.col("canonical_name_r")
            ),
        )
        .withColumn(
            "confidence",
            F.when(F.col("entity_type") == "HADITH_REF", F.lit(1.0)).otherwise(
                F.col("confidence_r")
            ),
        )
        .withColumn(
            "match_type",
            F.when(F.col("entity_type") == "HADITH_REF", F.lit("exact")).otherwise(
                F.col("match_type_r")
            ),
        )
        .drop("canonical_name_r", "confidence_r", "match_type_r")
    )


# the resumable annotate commits its buckets in this many append jobs:
# more waves = finer resume granularity, but one extra input scan per
# wave (the bucket predicate is a hash of conv_id and cannot prune the
# source)
ANNOTATE_WAVES = 4


def _annotate_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    gazetteer_bc,
    work_dir: str,
    fingerprint: str,
    n_buckets: int,
) -> DataFrame:
    """Bucketed, partition-resumable annotate stage.

    Stages the lean extraction (``annotate_transcripts(...,
    extraction_only=True)``): conv_id, turn_idx, doc_id, mentions,
    triples — the only columns the KG stages read.

    Buckets are committed in ``ANNOTATE_WAVES`` independent append jobs,
    each followed by an incremental manifest update — so a killed job
    leaves a manifest recording exactly the committed buckets, and the
    re-run annotates only the missing ones.
    """
    path = str(Path(work_dir) / "annotated")
    bucket_col = F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")

    manifest = tables.read_manifest(path)
    if manifest and manifest.get("fingerprint") == fingerprint and manifest.get("complete"):
        return tables.read_table(spark, path).drop("bucket")

    # partial output is only resumable if it was produced for the SAME
    # input/gazetteer fingerprint; otherwise it is stale and must be
    # rebuilt from scratch (e.g. same work_dir pointed at a new input)
    if manifest and manifest.get("fingerprint") == fingerprint:
        done = tables.completed_buckets(path)
        resumed = True
        # crash window: a wave's parquet job can commit and the process
        # die before the manifest update records it.  Those bucket dirs
        # hold real rows the manifest doesn't know about — re-annotating
        # them would APPEND A SECOND COPY.  The manifest is the only
        # source of truth, so drop any bucket dir it doesn't list.
        for bucket_dir in Path(path).glob("bucket=*"):
            if bucket_dir.name.split("=", 1)[1] not in done:
                shutil.rmtree(bucket_dir, ignore_errors=True)
    else:
        done = set()
        resumed = False
        shutil.rmtree(path, ignore_errors=True)

    per_partition: dict[str, int] = (
        dict((manifest or {}).get("per_partition_rows") or {}) if done else {}
    )
    started = time.time()
    wave_of = {b: b % ANNOTATE_WAVES for b in range(n_buckets)}
    pending_waves = sorted(
        {wave_of[b] for b in range(n_buckets) if str(b) not in done}
    )

    def write_manifest() -> None:
        tables.manifest_path(path).write_text(json.dumps({
            "stage": "annotate",
            "fingerprint": fingerprint,
            "per_partition_rows": per_partition,
            "rows": sum(per_partition.values()),
            "complete": len(per_partition) >= n_buckets,
            "resumed": resumed,
            "duration_s": round(time.time() - started, 3),
        }, indent=2))

    for wave in pending_waves:
        wave_buckets = [
            b for b in range(n_buckets)
            if wave_of[b] == wave and str(b) not in done
        ]
        # bucket is a pure function of conv_id, so the wave predicate
        # applies to the RAW transcripts — the expensive annotate UDF
        # only ever runs on each wave's rows, never on the full input
        chunk = annotate_transcripts(
            transcripts.where(bucket_col.isin(wave_buckets)), gazetteer_bc,
            extraction_only=True,
        ).withColumn("bucket", bucket_col)
        chunk.write.mode("append").partitionBy("bucket").parquet(path)
        # count committed rows per bucket from the files just written —
        # the manifest update is the checkpoint barrier for this wave
        wave_counts = {
            str(r["bucket"]): r["rows"]
            for r in spark.read.parquet(path)
            .where(F.col("bucket").isin(wave_buckets))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("rows")).collect()
        }
        for b in wave_buckets:
            wave_counts.setdefault(str(b), 0)
        per_partition.update(wave_counts)
        write_manifest()
    if not pending_waves:
        # all buckets were already committed; finalize the manifest
        write_manifest()
    return tables.read_table(spark, path).drop("bucket")


def build_graph_from_labels(
    spark: SparkSession,
    labeled: DataFrame,
    *,
    gazetteer: Optional[Gazetteer] = None,
    gazetteer_dir: str = DEFAULT_GAZETTEER_DIR,
) -> GraphBuildResult:
    """KG construction from pre-labeled input — the reference's
    ``process_hadith(tokens, labels, hadith_id)`` entry point
    (builder.py:134-209), e.g. for externally produced model-NER labels.

    ``labeled`` columns: conv_id string, turn_idx int, tokens
    array<string>, labels array<string>.
    """
    from islamic_ner_spark.operators.ner import annotate_labeled

    annotated = annotate_labeled(
        labeled.select(
            "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"), "tokens", "labels"
        )
    ).persist()
    gazetteer_bc = spark.sparkContext.broadcast(
        gazetteer or Gazetteer.from_dir(gazetteer_dir)
    )
    result = _build_from_annotated(
        spark, annotated, lambda: annotated, gazetteer_bc,
        # arbitrary labeled input may repeat (conv_id, turn_idx) rows, so
        # turn uniqueness is not guaranteed -> global groupBy merges
        unique_turns=False,
    )
    result.persisted.append(annotated)
    return result


def build_graph(
    spark: SparkSession,
    transcripts: DataFrame,
    *,
    gazetteer: Optional[Gazetteer] = None,
    gazetteer_dir: str = DEFAULT_GAZETTEER_DIR,
    work_dir: Optional[str] = None,
    n_buckets: int = 64,
    input_token: str = "",
) -> GraphBuildResult:
    """Run the full KG-construction dataflow.

    Without ``work_dir`` the extraction and the fused graph pass are
    persisted since several children consume them; the resolution is
    persisted only when its ladder ran distributed (the driver ladder's
    rows feed the fused pass directly).  With ``work_dir`` every stage
    materializes to parquet + manifest and re-runs resume from completed
    work; ``annotated`` is then the staged lean extraction, and only this
    path computes the input fingerprint that keys the staged tables.

    Input contract: ``transcripts`` has at most one row per
    (conv_id, turn_idx) — the transcripts table's natural key per
    BASELINE.json input_hint.  The fused graph pass relies on it (each
    turn's triples then sit in one extraction row).
    """
    gazetteer = gazetteer or Gazetteer.from_dir(gazetteer_dir)
    gazetteer_bc = spark.sparkContext.broadcast(gazetteer)

    if work_dir:
        fingerprint = _input_fingerprint(transcripts, gazetteer, gazetteer_dir, input_token)
        extracted = _annotate_resumable(
            spark, transcripts, gazetteer_bc, work_dir, fingerprint, n_buckets
        )
        result = _build_from_annotated(
            spark, extracted, lambda: extracted, gazetteer_bc,
            work_dir=work_dir, fingerprint=fingerprint,
        )
    else:
        # Only the extraction outputs feed the KG stages; tokens/labels/
        # norm_text are the bulk of the row, so the build materializes a
        # LEAN annotate pass (same memoized kernel, 5-column output —
        # the Arrow boundary never serializes the dropped columns, and
        # the input projection prunes role/tool/ts from the scan).  The
        # full annotated view is planned on access (for audits/stats).
        extracted = annotate_transcripts(
            transcripts, gazetteer_bc, extraction_only=True
        ).persist()
        result = _build_from_annotated(
            spark, extracted, partial(annotate_transcripts, transcripts, gazetteer_bc),
            gazetteer_bc,
        )
        result.persisted.append(extracted)
    return result


def _input_fingerprint(
    transcripts: DataFrame, gazetteer: Gazetteer, gazetteer_dir: str, input_token: str
) -> str:
    """The staged tables' key: ``input_token`` folds the input identity
    (path, row caps) in so a work_dir is never silently reused across
    inputs.  Even without a token, a cheap intrinsic identity — schema +
    the source file listing (stable across job restarts, unlike plan/expr
    ids) — is folded in, so pointing an old work_dir at new parquet
    invalidates the staged tables instead of silently resuming them."""
    input_identity = transcripts.schema.simpleString()
    try:
        source_files = sorted(transcripts.inputFiles())
    except Exception:  # non-file-backed plans (e.g. in-memory test frames)
        source_files = []
    # "v3": the annotate stage stages the lean extraction — the version
    # bump invalidates work_dirs staged by older code so a resume never
    # appends lean buckets to a table of full-schema ones.
    return _fingerprint(
        "v3", gazetteer_dir, sorted(gazetteer.lookup)[:50], input_token,
        input_identity, hashlib.sha256("\n".join(source_files).encode()).hexdigest(),
    )


def _stage(
    spark: SparkSession,
    work_dir: str,
    name: str,
    fingerprint: str,
    build: Callable[[], DataFrame],
    partition_by: Optional[list] = None,
) -> DataFrame:
    """``work_dir/name`` read back from parquet, written from ``build()``
    first unless its manifest is current for ``fingerprint`` (``build`` is
    only called when the stage must run).  Partition columns are the
    stages' natural pruning predicates (e.g. narration-chain queries
    filter pred) and give the lineage manifests per-partition counts."""
    path = str(Path(work_dir) / name)
    if not tables.table_is_current(path, fingerprint):
        tables.write_table(
            build(), path, stage=name, fingerprint=fingerprint, partition_by=partition_by
        )
    return tables.read_table(spark, path)


def _materialize_graph(
    spark: SparkSession,
    extracted: DataFrame,
    mentions: DataFrame,
    triples: DataFrame,
    resolution: DataFrame,
    resolution_rows: Optional[list],
    unique_turns: bool,
) -> tuple[DataFrame, DataFrame, list]:
    """(nodes, edges, cached): the MERGE as the fused pass or the global
    groupBy.  ``resolution_rows`` are the driver ladder's rows of
    ``resolution`` (``None`` when it ran distributed or was staged).
    ``cached`` lists what this call persisted."""
    # The fused pass needs the resolution as a driver-side dict.  The
    # driver ladder's rows are already here; otherwise the strategy is
    # chosen from a COUNT of the resolution (a few bytes to the driver)
    # and the rows are only collected once the count says they fit — no
    # multi-GB speculative collect at extreme vocab.
    if unique_turns and (
        len(resolution_rows) if resolution_rows is not None else resolution.count()
    ) <= FUSED_VOCAB_LIMIT:
        if resolution_rows is None:
            resolution_rows = resolution.select(*RESOLUTION_COLUMNS).collect()
        # one Arrow pass over the extraction computes merged edges and
        # per-batch pre-aggregated vocabulary node candidates; Hadith
        # nodes are a narrow projection of the extraction — no joins, no
        # big shuffles (operators/graph.fused_graph_outputs)
        res_bc = spark.sparkContext.broadcast({
            (text, entity_type): (canonical_name, confidence)
            for text, entity_type, _, canonical_name, confidence, _ in resolution_rows
        })
        fused = fused_graph_outputs(extracted, res_bc).persist()
        return nodes_from_combined(fused, extracted), edges_from_combined(fused), [fused]
    # repeated turns (labeled input) or extreme vocabulary: global groupBy
    # merges; only the small aggregates are cached, since they are
    # consumed repeatedly and are cheaper to recompute-from-cache than the
    # full rows are to columnar-compress
    resolved_triples = resolve_triples(triples, resolution)
    doc_index = extracted.select("conv_id", "turn_idx", "doc_id")
    nodes = build_nodes(
        resolve_mentions_table(mentions, resolution), doc_index, resolved_triples
    ).persist()
    edges = build_edges(resolved_triples).persist()
    return nodes, edges, [nodes, edges]


def _build_from_annotated(
    spark: SparkSession,
    extracted: DataFrame,
    annotate: Callable[[], DataFrame],
    gazetteer_bc,
    *,
    work_dir: Optional[str] = None,
    fingerprint: Optional[str] = None,
    unique_turns: bool = True,
) -> GraphBuildResult:
    """The KG stages over ``extracted`` (conv, turn, doc, mentions,
    triples); ``annotate`` plans the result's ``annotated`` view.
    ``fingerprint`` keys the staged tables and is read only with a
    ``work_dir``."""
    persisted: list = []
    resolution_rows = None

    if work_dir:
        mentions = _stage(spark, work_dir, "mentions", fingerprint,
                          lambda: extract_mentions(extracted), ["entity_type"])
        triples = _stage(spark, work_dir, "triples", fingerprint,
                         lambda: extract_triples(extracted), ["pred"])
        # the staged table is the resolution's source of truth, so a
        # resume reads it back instead of rerunning the ladder
        resolution = _stage(
            spark, work_dir, "resolution", fingerprint,
            lambda: build_resolution_table(
                spark, mentions, triples, None, gazetteer_bc, persisted=persisted
            ),
        )
    else:
        # mentions/triples are cheap explodes of the cached `extracted`
        mentions = extract_mentions(extracted)
        triples = extract_triples(extracted)
        resolution, resolution_rows = resolve_vocabulary(
            spark, mentions, triples, gazetteer_bc, persisted=persisted
        )
        if resolution_rows is None:
            # the distributed ladder's table: the strategy count, the
            # collect or the global joins all read it
            resolution = resolution.persist()
            persisted.append(resolution)

    def graph() -> tuple[DataFrame, DataFrame, list]:
        return _materialize_graph(
            spark, extracted, mentions, triples, resolution, resolution_rows,
            unique_turns,
        )

    if not work_dir:
        nodes, edges, cached = graph()
        persisted.extend(cached)
    elif all(tables.table_is_current(str(Path(work_dir) / name), fingerprint)
             for name in ("nodes", "edges")):
        # resume of a finished graph: no strategy count, no resolution collect
        nodes = tables.read_table(spark, str(Path(work_dir) / "nodes"))
        edges = tables.read_table(spark, str(Path(work_dir) / "edges"))
    else:
        # the graph pass is cached, so writing both tables runs it once
        fresh_nodes, fresh_edges, cached = graph()
        nodes = _stage(spark, work_dir, "nodes", fingerprint, lambda: fresh_nodes, ["label"])
        edges = _stage(spark, work_dir, "edges", fingerprint, lambda: fresh_edges, ["pred"])
        for df in cached:
            df.unpersist()

    return GraphBuildResult(
        mentions=mentions,
        triples=triples,
        resolution=resolution,
        nodes=nodes,
        edges=edges,
        extracted=extracted,
        annotate=annotate,
        persisted=persisted,
    )
