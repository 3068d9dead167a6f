"""Streaming: the extraction and the graph as Structured Streaming jobs.

The reference is strictly batch (SURVEY.md §2.8); this module extends the
engine to continuous ingestion, which a transcript KG at 10^12-turn scale
realistically needs.  The extraction stages are stateless per turn, so
they map 1:1 onto micro-batches.  Entry points:

* :func:`start_triples_stream` — transcripts -> annotate -> triples ->
  parquet sink (:func:`stream_triples` is the transform);
* :func:`start_windowed_mention_stream` — event-time windowed mention
  counts under a watermark (:func:`windowed_mention_counts`);
* :func:`start_dedup_stream` — cross-batch exact dedup by content hash
  (:func:`stream_exact_dedup`);
* :func:`start_graph_stream` — per micro-batch graph build upserted into
  bucketed persistent node/edge tables;
* :func:`compact_graph_stream` and :func:`rebucket_graph` — maintenance
  jobs over a streamed graph dir (cross-batch re-canonicalization,
  bucket-count change).

Checkpointing/exactly-once is Spark's sink contract; the graph upsert
adds a per-bucket batch watermark (see :func:`start_graph_stream`).  The
upsert and the compaction re-merge stored rows with the one MERGE rule
of operators/graph.py (``merge_node_rows`` / ``merge_edge_rows``).
"""

from __future__ import annotations

from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from islamic_ner_spark.functions.worker import drop_zip_importers
from islamic_ner_spark.operators.materialize import cache, owned
from islamic_ner_spark.operators.ner import annotate_transcripts
from islamic_ner_spark.operators.relations import extract_triples
from islamic_ner_spark.sources.transcripts import TRANSCRIPTS_SCHEMA

# bumped whenever the persistent node/edge table schemas change (v2 added
# the writer-ordinal columns first_emit / best_conv / best_turn /
# best_emit); pinned in _graph_meta.json so a restart with mismatched
# code fails loudly instead of dying with an AnalysisException (or
# silently merging mixed schemas)
GRAPH_SCHEMA_VERSION = 2


def _check_graph_meta(graph_path, n_buckets: int | None = None) -> dict:
    """Validate (or initialize) a graph dir's pinned meta: bucket count
    must never change across restarts (a different hash would orphan
    rows), and the table schema version must match this code."""
    import json
    from pathlib import Path

    intent = Path(graph_path) / "_rebucket_intent.json"
    if intent.exists():
        pending = json.loads(intent.read_text()).get("new_n_buckets")
        raise RuntimeError(
            f"graph dir {graph_path} has an interrupted rebucket to "
            f"{pending} buckets — run rebucket_graph(graph_dir, {pending}) "
            "to finish it before streaming or compacting"
        )
    meta_file = Path(graph_path) / "_graph_meta.json"
    if meta_file.exists():
        meta = json.loads(meta_file.read_text())
        stored_version = meta.get("schema_version", 1)
        if stored_version != GRAPH_SCHEMA_VERSION:
            raise ValueError(
                f"graph dir {graph_path} holds schema_version={stored_version} "
                f"tables; this code writes v{GRAPH_SCHEMA_VERSION} "
                "(writer-ordinal columns). Rebuild the graph dir or migrate "
                "the tables before restarting."
            )
        if n_buckets is not None and meta.get("n_buckets") != n_buckets:
            raise ValueError(
                f"graph dir {graph_path} was built with "
                f"n_buckets={meta.get('n_buckets')}; restarting with "
                f"n_buckets={n_buckets} would corrupt it — pass the "
                "original value"
            )
        return meta
    if n_buckets is None:
        raise FileNotFoundError(f"no _graph_meta.json under {graph_path}")
    meta = {"n_buckets": n_buckets, "schema_version": GRAPH_SCHEMA_VERSION}
    meta_file.write_text(json.dumps(meta))
    return meta


def _read_parquet_stream(
    spark: SparkSession, input_dir: str, schema: str, max_files_per_trigger: int
) -> DataFrame:
    """File-source stream over the parquet files of ``input_dir``."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def _start_parquet_sink(
    stream: DataFrame, output_dir: str, checkpoint_dir: str, available_now: bool
) -> StreamingQuery:
    """Start an append-mode parquet sink; ``available_now=True`` drains
    the currently-visible input and stops."""
    writer = (
        stream.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_triples(
    transcripts_stream: DataFrame, gazetteer_bc: Broadcast
) -> DataFrame:
    """Stateless extraction transform, reused verbatim from the batch
    operators (both are narrow mapInPandas passes).  Like the batch
    build it runs the lean extraction, so only the triples' inputs cross
    the Arrow boundary."""
    return extract_triples(
        annotate_transcripts(transcripts_stream, gazetteer_bc, extraction_only=True)
    )


def start_triples_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gazetteer_bc: Broadcast,
    *,
    available_now: bool = False,
) -> StreamingQuery:
    """Start the transcripts->triples stream with a parquet sink.

    ``available_now=True`` drains the currently-visible input and stops —
    used for tests and for catch-up runs after downtime (resume comes free
    from the checkpoint)."""
    transcripts = _read_parquet_stream(spark, input_dir, TRANSCRIPTS_SCHEMA, 16)
    triples = stream_triples(transcripts, gazetteer_bc)
    return _start_parquet_sink(triples, output_dir, checkpoint_dir, available_now)


def windowed_mention_counts(
    transcripts_stream: DataFrame,
    gazetteer_bc: Broadcast,
    *,
    window_duration: str = "10 minutes",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Event-time windowed mention counts with late-data handling.

    Mentions are bucketed into tumbling event-time windows on the turn
    timestamp; the watermark bounds how late a turn may arrive and still
    be counted (later rows are dropped, the standard trade against
    unbounded state).  In append mode a window's row is emitted exactly
    once — when the watermark passes its end — so the parquet sink
    receives each (window, entity_type) count exactly once.  State held
    per trigger is O(open windows x entity types), independent of stream
    length.
    """
    from pyspark.sql import functions as F

    annotated = annotate_transcripts(transcripts_stream, gazetteer_bc)
    mentions = annotated.select(
        "ts", F.explode("mentions").alias("m")
    ).select("ts", F.col("m.entity_type").alias("entity_type"))
    return (
        mentions.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("win"), "entity_type")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "entity_type",
            "n_mentions",
        )
    )


def start_windowed_mention_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    gazetteer_bc: Broadcast,
    *,
    available_now: bool = False,
    max_files_per_trigger: int = 16,
    window_duration: str = "10 minutes",
    watermark_delay: str = "30 minutes",
) -> StreamingQuery:
    """Windowed mention counts -> append-mode parquet sink (each closed
    window lands exactly once; open windows stay pending in state)."""
    counts = windowed_mention_counts(
        _read_parquet_stream(
            spark, input_dir, TRANSCRIPTS_SCHEMA, max_files_per_trigger
        ),
        gazetteer_bc,
        window_duration=window_duration,
        watermark_delay=watermark_delay,
    )
    return _start_parquet_sink(counts, output_dir, checkpoint_dir, available_now)


def graph_batch_watermark(graph_path) -> int:
    """The batch id a whole-graph rewrite (compaction / rebucket) may
    stamp onto every bucket: the ``_last_batch`` marker value, after
    verifying no bucket is AHEAD of it.

    A bucket watermark > marker means the stream crashed mid-
    ``merge_buckets`` — some buckets absorbed batch N, others did not,
    and the marker was never advanced.  Raises ``RuntimeError`` with
    the recovery action (restart the stream so the checkpoint replays
    batch N to completion) because neither stamping up (silent row loss
    in the behind buckets on replay) nor down (double-merge in the
    ahead buckets) is safe in that state."""
    import json
    from pathlib import Path

    graph_path = Path(graph_path)
    marker = graph_path / "_last_batch.json"
    marker_id = (
        int(json.loads(marker.read_text())["batch_id"]) if marker.exists() else -1
    )
    ahead = marker_id
    for name in ("nodes", "edges"):
        for meta in graph_path.glob(f"{name}/bucket=*/_batch.json"):
            try:
                ahead = max(ahead, int(json.loads(meta.read_text())["batch_id"]))
            except (OSError, ValueError, KeyError):
                continue
    if ahead > marker_id:
        raise RuntimeError(
            f"graph {graph_path} is partially absorbed: bucket watermark "
            f"{ahead} is ahead of the _last_batch marker {marker_id} (the "
            f"stream crashed mid-merge of batch {ahead}) — restart the "
            f"stream to finish replaying batch {ahead} before compacting "
            "or rebucketing"
        )
    # marker_id may be -1 (no batch committed yet, e.g. a hand-built
    # graph dir): stamping -1 onto rewritten buckets is equivalent to
    # stamping nothing — a future batch 0 still merges (wm -1 < 0) and
    # the partial-absorption check stays consistent (ahead == marker)
    return marker_id


def compact_graph_stream(spark: SparkSession, graph_dir: str, gazetteer_bc: Broadcast) -> dict:
    """Cross-batch re-canonicalization compaction — closes the documented
    stream-vs-batch divergence of :func:`start_graph_stream` (which
    canonicalizes "new" entities jointly within each micro-batch but
    never across batches, so near-duplicate new entities arriving in
    different batches keep distinct canonical keys).

    A periodic batch maintenance job, O(graph) by design (amortized over
    many O(touched-buckets) incremental batches):

    1. identify the accumulated new-entity nodes — keys absent from the
       gazetteer canonical dimension (exact/fuzzy-resolved keys are
       always gazetteer canonicals; 'new' keys are cluster-min norm
       texts, operators/linking.py);
    2. re-run the SAME corpus-joint clustering kernel the batch pipeline
       uses (``_canonicalize_new``: capped token blocking ->
       SequenceMatcher >= 0.8 -> connected components) over their
       accumulated variant vocabulary;
    3. remap node keys / edge endpoint keys and re-merge with the
       writer-ordinal MERGE rule (``graph.merge_node_rows`` /
       ``merge_edge_rows``) — associative, so the compacted graph
       row-for-row equals the one-shot batch build over the same input
       (tested);
    4. atomically replace both bucketed tables via the sink's staged
       directory swap (``SINK.replace_table``; rows move between
       buckets, so the merge-only protocol cannot express this).

    Safety: takes the graph's exclusive maintenance lock (a concurrent
    micro-batch merge would be silently discarded by the table swap —
    ``SINK.merge_buckets`` refuses while the lock is live), and refuses
    to run when the graph is in a PARTIALLY-ABSORBED state — some
    bucket's watermark is ahead of the ``_last_batch`` marker, i.e. the
    stream crashed mid-``merge_buckets``.  In that state no single
    stamp is safe: stamping up would mark the behind buckets as already
    holding the unfinished batch (its replay would skip them — silent
    row loss), stamping down would double-merge the ahead buckets.  The
    stream must be restarted to finish replaying that batch first.

    Returns counts for observability.  Reference semantics approximated:
    entity_resolver.py:55-68 (corpus-joint new-entity resolution).
    """
    from pathlib import Path

    from islamic_ner_spark.sources.tables import (
        acquire_compaction_lock,
        release_compaction_lock,
    )

    graph_path = Path(graph_dir)
    n_buckets = _check_graph_meta(graph_path)["n_buckets"]
    acquire_compaction_lock(graph_path)
    try:
        with owned() as persisted:
            return _compact_graph_locked(
                spark, graph_path, gazetteer_bc, n_buckets, persisted
            )
    finally:
        release_compaction_lock(graph_path)


def _compact_graph_locked(spark, graph_path, gazetteer_bc, n_buckets, persisted) -> dict:
    from pyspark.sql import functions as F

    from islamic_ner_spark.operators.graph import (
        EDGES_TABLE_SCHEMA,
        NODE_LABELS,
        NODES_TABLE_SCHEMA,
        edge_bucket,
        merge_edge_rows,
        merge_node_rows,
        node_bucket,
    )
    from islamic_ner_spark.operators.linking import _canonicalize_new
    from islamic_ner_spark.sources.tables import SINK

    for name in ("nodes", "edges"):
        SINK.recover_replace(graph_path / name)
        SINK.recover(graph_path / name)

    # a maintenance cron can fire before the stream commits its first
    # batch — an initialized-but-empty graph dir is a no-op, not a
    # crash.  A graph with only ONE table present (e.g. batches that
    # emitted node candidates but no relation edges yet) still
    # compacts: the missing side is an empty frame of the right schema,
    # and only present tables are rewritten.
    has_nodes = (graph_path / "nodes").exists()
    has_edges = (graph_path / "edges").exists()
    if not has_nodes and not has_edges:
        return {"remapped_keys": 0, "nodes": 0, "edges": 0, "skipped": "empty graph"}

    batch_id = graph_batch_watermark(graph_path)

    nodes = (
        spark.read.parquet(str(graph_path / "nodes")).drop("bucket")
        if has_nodes
        else spark.createDataFrame([], NODES_TABLE_SCHEMA)
    )
    edges = (
        spark.read.parquet(str(graph_path / "edges")).drop("bucket")
        if has_edges
        else spark.createDataFrame([], EDGES_TABLE_SCHEMA)
    )

    # gazetteer canonical dimension: every exact/fuzzy-resolved key
    type_for_label = {
        label: etype for etype, label in NODE_LABELS.items() if label != "Hadith"
    }
    gaz = gazetteer_bc.value
    known = sorted(
        {(etype, canonical) for (_v, etype), canonical in gaz.canonical_map.items()}
        | {
            (str(meta["type"]), canonical)
            for canonical, meta in gaz.entity_metadata.items()
        }
    )
    known_df = spark.createDataFrame(known, "entity_type string, key string")
    label_to_type = F.create_map(
        *[F.lit(x) for pair in type_for_label.items() for x in pair]
    )

    typed = nodes.where(F.col("label") != "Hadith").withColumn(
        "entity_type", label_to_type[F.col("label")]
    )
    new_nodes_tbl = cache(typed.join(
        F.broadcast(known_df), ["entity_type", "key"], "left_anti"
    ), persisted)

    # accumulated variant vocabulary of the new-entity nodes, re-normalized
    variants = new_nodes_tbl.select(
        "entity_type", F.explode("variants").alias("text")
    ).distinct()

    def add_norm(batches):
        drop_zip_importers()
        from islamic_ner_spark.functions.normalize import normalize

        for batch in batches:
            batch = batch.copy()
            batch["norm_text"] = [normalize(t or "") for t in batch["text"]]
            yield batch

    vocab = variants.mapInPandas(
        add_norm, schema="entity_type string, text string, norm_text string"
    )
    canon = _canonicalize_new(spark, vocab)
    # an old key is the norm of one of its variants, so it appears in the
    # vocabulary and gets exactly one joint canonical (re-clustering over
    # a superset can only merge old clusters, never split them)
    remap = cache(
        canon.select(
            "entity_type",
            F.col("norm_text").alias("key"),
            F.col("canonical_name").alias("new_key"),
        )
        .where(F.col("key") != F.col("new_key"))
        .join(new_nodes_tbl.select("entity_type", "key").distinct(),
              ["entity_type", "key"]),
        persisted,
    )
    n_remapped = remap.count()

    # --- nodes: remap keys, re-merge with the last-writer ordinal -------
    compact_nodes = merge_node_rows(
        typed.join(F.broadcast(remap), ["entity_type", "key"], "left")
        .withColumn("key", F.coalesce("new_key", "key"))
        .drop("new_key", "entity_type")
        .unionByName(nodes.where(F.col("label") == "Hadith"))
    )

    # --- edges: remap endpoint keys, re-merge with the first-writer rule -
    type_to_label = F.create_map(
        *[F.lit(x) for label, etype in type_for_label.items() for x in (etype, label)]
    )
    edge_remap = remap.select(
        type_to_label[F.col("entity_type")].alias("r_label"),
        F.col("key").alias("r_key"),
        "new_key",
    )
    compact_edges = merge_edge_rows(
        edges.join(
            F.broadcast(edge_remap),
            (F.col("src_label") == F.col("r_label"))
            & (F.col("src_key") == F.col("r_key")),
            "left",
        )
        .withColumn("src_key", F.coalesce("new_key", "src_key"))
        .drop("r_label", "r_key", "new_key")
        .join(
            F.broadcast(edge_remap),
            (F.col("tgt_label") == F.col("r_label"))
            & (F.col("tgt_key") == F.col("r_key")),
            "left",
        )
        .withColumn("tgt_key", F.coalesce("new_key", "tgt_key"))
        .drop("r_label", "r_key", "new_key")
    )

    # only rewrite sides that exist: replacing a missing table with an
    # empty frame would leave a file-less parquet dir later reads choke on
    if has_edges:
        SINK.replace_table(spark, graph_path / "edges", compact_edges,
                           edge_bucket(n_buckets), batch_id)
    if has_nodes:
        SINK.replace_table(spark, graph_path / "nodes", compact_nodes,
                           node_bucket(n_buckets), batch_id)

    return {
        "remapped_keys": int(n_remapped),
        "nodes": spark.read.parquet(str(graph_path / "nodes")).count() if has_nodes else 0,
        "edges": spark.read.parquet(str(graph_path / "edges")).count() if has_edges else 0,
    }


def rebucket_graph(spark: SparkSession, graph_dir: str, new_n_buckets: int) -> dict:
    """Re-hash a streamed graph's bucketed tables to ``new_n_buckets``.

    ``n_buckets`` is pinned at stream start (a different modulus would
    orphan rows from the incremental merge), but at 10^12-turn scale the
    initial bucket count eventually saturates — per-bucket rewrites grow
    with graph size instead of batch size.  This maintenance job rewrites
    both tables under the new modulus using the same staged-swap protocol
    as compaction, then updates the pinned meta so subsequent stream
    restarts use the new assignment.

    Protocol (stream must be stopped, like compaction):

    1. take the graph maintenance lock (micro-batch merges refuse while
       it is live) and verify no partially-absorbed batch
       (:func:`graph_batch_watermark`);
    2. write a ``_rebucket_intent.json`` BEFORE touching the tables —
       a crash between the two table swaps (or before the meta update)
       leaves the graph with mixed bucket moduli, so
       :func:`_check_graph_meta` refuses to stream/compact while the
       intent file exists and directs the operator to re-run this
       function (idempotent: table CONTENT is bucket-layout-independent,
       so re-replacing both tables under the new modulus from any mixed
       state converges);
    3. ``SINK.replace_table`` each table with the new bucket column and
       the current batch watermark;
    4. update ``_graph_meta.json`` -> remove the intent marker.
    """
    import json
    from pathlib import Path

    from islamic_ner_spark.operators.graph import edge_bucket, node_bucket
    from islamic_ner_spark.sources.tables import (
        SINK,
        acquire_compaction_lock,
        release_compaction_lock,
    )

    if new_n_buckets < 1:
        raise ValueError(f"new_n_buckets must be >= 1, got {new_n_buckets}")
    graph_path = Path(graph_dir)
    meta_file = graph_path / "_graph_meta.json"
    if not meta_file.exists():
        raise FileNotFoundError(f"no _graph_meta.json under {graph_path}")
    meta = json.loads(meta_file.read_text())
    if meta.get("schema_version", 1) != GRAPH_SCHEMA_VERSION:
        raise ValueError(
            f"graph dir {graph_path} holds schema_version="
            f"{meta.get('schema_version', 1)} tables; this code writes "
            f"v{GRAPH_SCHEMA_VERSION}"
        )
    intent = graph_path / "_rebucket_intent.json"
    acquire_compaction_lock(graph_path)
    try:
        if intent.exists():
            pending = json.loads(intent.read_text()).get("new_n_buckets")
            if pending != new_n_buckets:
                raise RuntimeError(
                    f"interrupted rebucket to {pending} buckets pending — "
                    f"re-run with new_n_buckets={pending} to finish it "
                    f"before rebucketing to {new_n_buckets}"
                )
        for name in ("nodes", "edges"):
            SINK.recover_replace(graph_path / name)
            SINK.recover(graph_path / name)
        # rewrite every PRESENT table; a missing side (no batch has
        # emitted rows for it yet) has no rows under any modulus, so
        # only the pinned meta changes for it.  A graph with neither
        # table is a pure modulus update.
        present = [
            name for name in ("edges", "nodes") if (graph_path / name).exists()
        ]
        if not present:
            meta["n_buckets"] = new_n_buckets
            meta_file.write_text(json.dumps(meta))
            return {"n_buckets": new_n_buckets, "nodes": 0, "edges": 0,
                    "skipped": "empty graph"}
        batch_id = graph_batch_watermark(graph_path)
        intent.write_text(json.dumps({"new_n_buckets": new_n_buckets}))

        bucket_for = {"edges": edge_bucket, "nodes": node_bucket}
        stats = {"n_buckets": new_n_buckets, "nodes": 0, "edges": 0}
        for name in present:
            table = graph_path / name
            df = spark.read.parquet(str(table)).drop("bucket")
            SINK.replace_table(spark, table, df, bucket_for[name](new_n_buckets),
                               batch_id)
            stats[name] = spark.read.parquet(str(table)).count()

        meta["n_buckets"] = new_n_buckets
        meta_file.write_text(json.dumps(meta))
        intent.unlink()
        return stats
    finally:
        release_compaction_lock(graph_path)


def recover_bucket_swaps(table_dir) -> None:
    """Finish/undo an interrupted per-bucket swap (see
    :func:`start_graph_stream`).  Delegates to the parquet table sink —
    the swap protocol lives with the sink (sources/tables.py) so a
    managed-table (Iceberg) sink can replace it wholesale."""
    from islamic_ner_spark.sources.tables import SINK

    SINK.recover(table_dir)


DEDUP_OUTPUT_SCHEMA = (
    "content_hash string, doc_id long, text string"
)
DEDUP_STATE_SCHEMA = "seen boolean"


def stream_exact_dedup(
    docs_stream: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-batch streaming exact dedup: the first document with a given
    content hash passes, every later duplicate — in the same micro-batch
    or any future one — is dropped.

    Custom stateful operator via ``applyInPandasWithState``: state is one
    boolean per distinct content hash (the minimal dedup memory), keyed
    by ``md5(text)`` so state lookup is a hash-partitioned exact-match —
    at 100 TB the state store shards across executors with the key space,
    and skew is impossible (a hash key's group only ever holds
    duplicates, which are dropped, not accumulated).
    """
    from typing import Any, Iterable, Iterator, Tuple

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    hashed = docs_stream.select(
        F.md5(F.col(text_col)).alias("content_hash"),
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
    )

    def dedup(
        key: Tuple[Any, ...],
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            # hash already emitted in an earlier batch: drop everything
            for _ in batches:
                pass
            return
        best: pd.DataFrame | None = None
        for batch in batches:
            if not len(batch):
                continue
            # deterministic winner: min doc_id across ALL of the group's
            # pandas chunks in this batch
            cand = batch.nsmallest(1, "doc_id")
            if best is None or cand["doc_id"].iloc[0] < best["doc_id"].iloc[0]:
                best = cand
        if best is not None:
            state.update((True,))
            yield best[["content_hash", "doc_id", "text"]]

    return hashed.groupBy("content_hash").applyInPandasWithState(
        dedup,
        outputStructType=DEDUP_OUTPUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    input_schema: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    available_now: bool = False,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """documents stream -> first-copy-only stream (parquet sink)."""
    deduped = stream_exact_dedup(
        _read_parquet_stream(spark, input_dir, input_schema, max_files_per_trigger)
    )
    return _start_parquet_sink(deduped, output_dir, checkpoint_dir, available_now)


def bucket_upsert(merge_rows):
    """The ``merge_fn`` of ``SINK.merge_buckets`` for a graph table: a
    touched bucket's stored rows and the batch's rows re-merge under the
    one MERGE rule ``merge_rows`` (``graph.merge_edge_rows`` /
    ``merge_node_rows``); the sink re-adds ``bucket``."""
    return lambda existing, incoming: merge_rows(
        existing.drop("bucket").unionByName(incoming.drop("bucket"))
    )


def start_graph_stream(
    spark: SparkSession,
    input_dir: str,
    graph_dir: str,
    checkpoint_dir: str,
    gazetteer_bc: Broadcast,
    *,
    available_now: bool = False,
    max_files_per_trigger: int = 16,
    n_buckets: int = 64,
) -> StreamingQuery:
    """Continuously maintained graph: per micro-batch, build the batch's
    subgraph with the gazetteer of ``gazetteer_bc`` (the one the
    compaction resolves against) and MERGE it into the persistent
    nodes/edges tables.  The build's caches are released when the batch
    ends, whether or not its merge succeeded.

    **Bucketed incremental MERGE** — the persistent tables are hash-
    partitioned on their MERGE keys (``graph.edge_bucket`` /
    ``node_bucket``), and a micro-batch reads, re-merges (with the batch
    build's own rule, :func:`bucket_upsert`) and rewrites ONLY the
    buckets its keys touch.  Per-batch cost is O(touched buckets), not
    O(graph): at 10^12-turn scale a micro-batch touches a bounded key
    set while the accumulated graph grows without bound, so a full
    read-merge-rewrite would degrade linearly in graph age.  (Iceberg ``MERGE INTO`` is the
    managed-table form of the same idea; sources/tables.py documents the
    swap-in.)

    Exactly-once at bucket granularity: each bucket directory carries a
    ``_batch.json`` watermark written INTO the staged content before the
    directory swap, so a crash anywhere mid-commit leaves every bucket
    either fully old or fully new+marked; a replay (foreachBatch is
    at-least-once) re-merges only the buckets whose watermark is stale.
    The whole write/merge/swap/recover protocol lives behind the table
    sink (``sources/tables.SINK``, default parquet) — an Iceberg sink
    replaces it with ``MERGE INTO`` per the mapping documented there.

    Incremental-linking semantics: "new"-entity canonicalization is
    joint WITHIN a batch but not across batches (a later batch cannot
    re-canonicalize earlier output) — the documented incremental
    counterpart of the batch pipeline's corpus-joint clustering.
    """
    import json
    from pathlib import Path

    from islamic_ner_spark.operators.graph import (
        edge_bucket,
        merge_edge_rows,
        merge_node_rows,
        node_bucket,
    )
    from islamic_ner_spark.plans.pipeline import build_graph
    from islamic_ner_spark.sources.tables import SINK

    graph_path = Path(graph_dir)
    graph_path.mkdir(parents=True, exist_ok=True)
    marker = graph_path / "_last_batch.json"

    # bucket assignment and table schema must never change across
    # restarts of the same graph dir — a different n_buckets would
    # rehash keys into buckets the merge never reconciles (silent row
    # loss), and an older schema would break the ordinal merges.
    _check_graph_meta(graph_path, n_buckets)

    def process_batch(batch_df, batch_id: int) -> None:
        if marker.exists() and json.loads(marker.read_text())["batch_id"] >= batch_id:
            return  # replayed batch fully committed previously
        if not batch_df.take(1):
            return
        result = build_graph(spark, batch_df, gazetteer=gazetteer_bc.value)
        try:
            SINK.merge_buckets(spark, graph_path / "edges", result.edges,
                               edge_bucket(n_buckets), bucket_upsert(merge_edge_rows), batch_id)
            SINK.merge_buckets(spark, graph_path / "nodes", result.nodes,
                               node_bucket(n_buckets), bucket_upsert(merge_node_rows), batch_id)
            marker.write_text(json.dumps({"batch_id": batch_id}))
        finally:
            result.unpersist()

    transcripts = _read_parquet_stream(
        spark, input_dir, TRANSCRIPTS_SCHEMA, max_files_per_trigger
    )
    writer = transcripts.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
