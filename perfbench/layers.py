"""Traced run: ``build_graph`` replayed layer by layer, then the staged
job and the stream, each layer under its own span and Spark job group.

The replay calls the same public operator functions ``build_graph``
calls, in its order, and forces each layer with one action at the
persist boundaries ``build_graph`` already has (the persisted
extraction, the persisted resolution table and its count, the persisted
fused pass).  Counts the engine does not report (resolution-ladder
counts, the memo's repeat ceiling) are measured by probe jobs outside
every span, so they never enter a layer's wall time.
"""

from __future__ import annotations

import inspect
import shutil
import statistics
import time
from dataclasses import dataclass
from pathlib import Path

from ops import (
    Gate,
    check_pinned,
    check_sample,
    graph_digest,
    materialize,
    pinned_record,
    run_queries,
    sample_precision_recall,
    setup,
)
from spans import Tracer, summarize_event_log

STAGES = ("annotated", "mentions", "triples", "resolution", "nodes", "edges")
# Each micro-batch costs seconds of fixed work, so two keep the traced run
# inside its time limit while still merging one batch into another.
STREAM_BATCHES = 2
PROBE_GROUP = "probe"

# (name, unit, better) of every per-layer metric, in report order
PER_LAYER = [
    ("sources.scan.wall_s", "s", "lower"),
    ("sources.scan.rows", "count", "lower"),
    ("sources.scan.bytes", "bytes", "lower"),
    *[(f"operators.ner.annotate.{m}", u, b) for m, u, b in (
        ("wall_s", "s", "lower"), ("cpu_s", "s", "lower"), ("py_run_s", "s", "lower"),
        ("py_init_s", "s", "lower"), ("py_sent_bytes", "bytes", "lower"),
        ("py_returned_bytes", "bytes", "lower"), ("rows", "count", "lower"),
        ("repeat_ratio", "ratio", "higher"))],
    ("operators.relations.explode.wall_s", "s", "lower"),
    ("operators.relations.explode.mentions", "count", "lower"),
    ("operators.relations.explode.triples", "count", "lower"),
    *[(f"operators.linking.resolution.{m}", u, b) for m, u, b in (
        ("wall_s", "s", "lower"), ("cpu_s", "s", "lower"), ("py_run_s", "s", "lower"),
        ("strings_in", "count", "lower"), ("exact", "count", "higher"),
        ("fuzzy", "count", "lower"), ("new", "count", "lower"),
        ("pairs_scored", "count", "lower"), ("pairs_kept_ratio", "ratio", "higher"),
        ("blocks_dropped", "count", "lower"), ("cc_edges", "count", "lower"),
        ("cc_local", "count", "higher"))],
    ("plans.pipeline.strategy.wall_s", "s", "lower"),
    ("plans.pipeline.strategy.fused", "count", "higher"),
    ("plans.pipeline.strategy.resolution_count", "count", "lower"),
    *[(f"operators.graph.fused.{m}", u, "lower") for m, u in (
        ("wall_s", "s"), ("cpu_s", "s"), ("py_run_s", "s"),
        ("py_sent_bytes", "bytes"), ("py_returned_bytes", "bytes"))],
    ("operators.graph.aggregate.wall_s", "s", "lower"),
    ("operators.graph.aggregate.shuffle_read_bytes", "bytes", "lower"),
    ("operators.graph.aggregate.shuffle_write_bytes", "bytes", "lower"),
    *[(f"sources.tables.write.{stage}.{m}", u, "lower")
      for stage in STAGES for m, u in (("wall_s", "s"), ("bytes", "bytes"), ("files", "count"))],
    ("plans.pipeline.staged.build_s", "s", "lower"),
    ("plans.pipeline.staged.cpu_s", "s", "lower"),
    ("plans.pipeline.staged.resume_s", "s", "lower"),
    ("plans.pipeline.staged.write_amp", "ratio", "lower"),
    ("streaming.batch.p50_s", "s", "lower"),
    ("streaming.batch.rows", "count", "higher"),
    ("streaming.batch.bytes_rewritten", "bytes", "lower"),
    ("streaming.batch.buckets_touched", "count", "lower"),
    ("streaming.turns_per_s", "1/s", "higher"),
    ("streaming.compact_s", "s", "lower"),
    *[(f"queries.{q}.{m}", u, "lower")
      for q in ("top_narrators", "pagerank", "triangles", "components")
      for m, u in (("wall_s", "s"), ("cpu_s", "s"), ("shuffle_bytes", "bytes"))],
    ("trace.span_sum_s", "s", "lower"),
]

# spans that make up the replayed build, in build_graph's order
BUILD_LAYERS = (
    "sources.scan", "operators.ner.annotate", "operators.relations.explode",
    "operators.linking.resolution", "plans.pipeline.strategy",
    "operators.graph.fused", "operators.graph.aggregate",
)


@dataclass
class Replay:
    nodes: object
    edges: object
    triples: object
    resolution: object
    counts: dict
    persisted: list

    def unpersist(self) -> None:
        for df in self.persisted:
            df.unpersist()


def replay_build(spark, tracer: Tracer, corpus, gazetteer) -> Replay:
    """``build_graph`` without ``work_dir``, one span per layer."""
    from islamic_ner_spark.operators.graph import (
        edges_from_combined,
        fused_graph_outputs,
        nodes_from_combined,
    )
    from islamic_ner_spark.operators.linking import build_resolution_table
    from islamic_ner_spark.operators.ner import annotate_transcripts
    from islamic_ner_spark.operators.relations import extract_mentions, extract_triples
    from islamic_ner_spark.plans.pipeline import FUSED_VOCAB_LIMIT

    sc = spark.sparkContext
    persisted: list = []
    with tracer.span("sources.scan"):
        transcripts = spark.read.parquet(corpus.path)
        transcripts.select("conv_id", "turn_idx", "text").write.format("noop").mode(
            "overwrite").save()
    with tracer.span("operators.ner.annotate") as counts:
        gazetteer_bc = sc.broadcast(gazetteer)
        extracted = annotate_transcripts(
            transcripts, gazetteer_bc, extraction_only=True
        ).persist()
        persisted.append(extracted)
        counts["rows"] = extracted.count()
    with tracer.span("operators.relations.explode") as counts:
        mentions, triples = extract_mentions(extracted), extract_triples(extracted)
        counts["mentions"] = mentions.count()
        counts["triples"] = triples.count()
    with tracer.span("operators.linking.resolution") as counts:
        resolution = build_resolution_table(
            spark, mentions, triples, gazetteer.to_dataframe(spark), gazetteer_bc,
            persisted=persisted,
        ).persist()
        persisted.append(resolution)
        counts["strings"] = strings = resolution.count()
    with tracer.span("plans.pipeline.strategy") as counts:
        counts["fused"] = int(strings <= FUSED_VOCAB_LIMIT)
        if not counts["fused"]:
            raise RuntimeError("the relational materialize strategy is not replayed")
        res_bc = sc.broadcast({
            (r["text"], r["entity_type"]): (r["canonical_name"], r["confidence"])
            for r in resolution.collect()
        })
    with tracer.span("operators.graph.fused") as counts:
        fused = fused_graph_outputs(extracted, res_bc).persist()
        persisted.append(fused)
        counts["rows"] = fused.count()
    with tracer.span("operators.graph.aggregate") as counts:
        nodes, edges = nodes_from_combined(fused, extracted), edges_from_combined(fused)
        counts.update(materialize(nodes, edges))
    return Replay(nodes, edges, triples, resolution, counts, persisted)


def probe_counts(spark, corpus, resolution) -> dict:
    """Counts measured from outside the engine, in probe jobs: the
    annotate memo's ceiling and the resolution ladder's rungs."""
    from pyspark.sql import functions as F

    from islamic_ner_spark.operators.components import connected_components
    from islamic_ner_spark.operators.linking import (
        MAX_BLOCK_SIZE,
        new_entity_nodes,
        new_pair_edges,
    )

    spark.sparkContext.setJobGroup(PROBE_GROUP, PROBE_GROUP)
    turns = spark.read.parquet(corpus.path)
    # the memo is task-scoped, so its ceiling is one hit per repeat of a
    # text inside an input partition
    distinct_per_partition = turns.select(
        F.spark_partition_id().alias("p"), "text").distinct().count()
    rungs = {r["match_type"]: r["count"]
             for r in resolution.groupBy("match_type").count().collect()}

    nodes = new_entity_nodes(resolution.where(F.col("match_type") == "new")).persist()
    blocked = nodes.select(
        "node", "entity_type", F.explode(F.split("norm_text", " ")).alias("block_token")
    ).where(F.col("block_token") != "")
    block_n = blocked.groupBy("entity_type", "block_token").count().persist()
    kept_blocks = block_n.where(F.col("count") <= MAX_BLOCK_SIZE).drop("count")
    capped = blocked.join(kept_blocks, ["entity_type", "block_token"])
    a, b = capped.alias("a"), capped.alias("b")
    scored = a.join(b, [F.col("a.entity_type") == F.col("b.entity_type"),
                        F.col("a.block_token") == F.col("b.block_token"),
                        F.col("a.node") < F.col("b.node")]).select("a.node", "b.node")
    pairs_scored = scored.distinct().count()
    kept = new_pair_edges(nodes, log_dropped=False).where(F.col("src") != F.col("dst"))
    cc_edges = kept.distinct().count()
    local_threshold = inspect.signature(connected_components).parameters[
        "local_threshold"].default
    out = {
        "repeat_ratio": 1 - distinct_per_partition / corpus.turns,
        "exact": rungs.get("exact", 0), "fuzzy": rungs.get("fuzzy", 0),
        "new": rungs.get("new", 0), "pairs_scored": pairs_scored,
        "pairs_kept_ratio": cc_edges / pairs_scored if pairs_scored else 1.0,
        "blocks_dropped": block_n.where(F.col("count") > MAX_BLOCK_SIZE).count(),
        "cc_edges": cc_edges, "cc_local": int(cc_edges <= local_threshold),
    }
    block_n.unpersist()
    nodes.unpersist()
    spark.sparkContext.setJobGroup("", "")
    return out


def _data_files(path: Path) -> list[Path]:
    return [p for p in path.rglob("*.parquet") if p.is_file()]


def staged_job(spark, tracer: Tracer, corpus, gazetteer, work: Path, columns) -> dict:
    """``build_graph(work_dir=…)`` as the production job calls it, then a
    re-run on the complete work_dir."""
    from islamic_ner_spark.plans.pipeline import build_graph
    from islamic_ner_spark.sources import tables

    work_dir = work / "staged"

    def build(span: str):
        with tracer.span(span):
            result = build_graph(
                spark, spark.read.parquet(corpus.path), gazetteer=gazetteer,
                work_dir=str(work_dir), input_token=corpus.path,
            )
            return result, materialize(result.nodes, result.edges)

    result, counts = build("plans.pipeline.staged")
    digest = graph_digest(result.nodes.select(*columns[0]), result.edges.select(*columns[1]))
    written = sum(p.stat().st_size for p in work_dir.rglob("*") if p.is_file())
    stages = {}
    for stage in STAGES:
        files = _data_files(work_dir / stage)
        stages[stage] = {
            "wall_s": tables.read_manifest(work_dir / stage)["duration_s"],
            "bytes": sum(p.stat().st_size for p in files), "files": len(files),
        }
    _, resumed = build("plans.pipeline.resume")
    return {"counts": counts, "resume_counts": resumed, "digest": digest,
            "write_amp": written / corpus.input_bytes, "stages": stages}


def _bucket_batch(bucket: Path) -> int:
    import json

    try:
        return int(json.loads((bucket / "_batch.json").read_text())["batch_id"])
    except (OSError, ValueError, KeyError):
        return -1


def stream_merge(spark, tracer: Tracer, corpus, gazetteer, work: Path, columns) -> dict:
    """The corpus files through ``start_graph_stream`` in STREAM_BATCHES
    micro-batches, then the cross-batch compaction.  Each batch's files
    are drained by their own ``available_now`` start on the same
    checkpoint, so every batch's touched buckets are known exactly."""
    import pyarrow.parquet as pq

    from islamic_ner_spark.streaming.stream_pipeline import (
        compact_graph_stream,
        start_graph_stream,
    )

    base = work / "stream"
    in_dir, graph, ckpt = base / "in", base / "graph", base / "ckpt"
    in_dir.mkdir(parents=True)
    gazetteer_bc = spark.sparkContext.broadcast(gazetteer)
    batches = []
    files = sorted(Path(corpus.path).glob("*.parquet"))
    per_batch = -(-len(files) // STREAM_BATCHES)
    for group in (files[i:i + per_batch] for i in range(0, len(files), per_batch)):
        for path in group:
            shutil.copy(path, in_dir / path.name)
        with tracer.span("streaming.batch"):
            start = time.time()
            query = start_graph_stream(
                spark, str(in_dir), str(graph), str(ckpt), gazetteer_bc,
                available_now=True, max_files_per_trigger=len(group),
            )
            query.awaitTermination()
            wall = time.time() - start
        progress = [p for p in query.recentProgress if p["numInputRows"]][-1]
        touched = [d for table in ("nodes", "edges") for d in (graph / table).glob("bucket=*")
                   if _bucket_batch(d) == progress["batchId"]]
        batches.append({
            "batch_id": progress["batchId"], "wall_s": wall,
            "add_batch_s": progress["durationMs"]["addBatch"] / 1000,
            "rows": sum(pq.ParquetFile(path).metadata.num_rows for path in group),
            "buckets_touched": len(touched),
            "bytes_rewritten": sum(p.stat().st_size for d in touched for p in d.rglob("*")
                                   if p.is_file()),
        })
    with tracer.span("streaming.compact") as counts:
        counts.update(compact_graph_stream(spark, str(graph), gazetteer_bc))
    nodes = spark.read.parquet(str(graph / "nodes")).select(*columns[0])
    edges = spark.read.parquet(str(graph / "edges")).select(*columns[1])
    return {"batches": batches, "digest": graph_digest(nodes, edges)}


def traced_run(args, ctx: dict, spark, corpus, warm_corpus, gaz_dir, run_dir: Path,
               session_s: float) -> tuple[Gate, dict]:
    """The replayed build and the queries on the corpus; the staged job and
    the stream on the warm-up slice, whose costs are mostly fixed per job
    and per micro-batch, so the run stays inside its time limit.  Every
    output is checked against the pinned in-memory build of its input."""
    gate = Gate()
    gazetteer, setup_s = setup(session_s, spark, warm_corpus, gaz_dir)
    tracer = Tracer(spark, ctx["run_id"])

    replay = replay_build(spark, tracer, corpus, gazetteer)
    gate.op()
    counts, digest = replay.counts, graph_digest(replay.nodes, replay.edges)
    columns = (replay.nodes.columns, replay.edges.columns)
    # a query's first pass over a full-size graph runs at up to twice its
    # warm time, even after the warm-up build, so only the second is traced
    run_queries(replay.edges)
    _, answers = run_queries(replay.edges, tracer)
    gate.attempted += 2 * len(answers)
    probes = probe_counts(spark, corpus, replay.resolution)
    check_pinned(gate, corpus, pinned_record(corpus, counts, digest, answers))
    check_sample(gate, sample_precision_recall(spark, replay.triples, corpus, gazetteer,
                                               args.seed))
    replay.unpersist()

    staged = staged_job(spark, tracer, warm_corpus, gazetteer, run_dir, columns)
    gate.attempted += 2
    check_pinned(gate, warm_corpus, {**staged["counts"], "digest": staged["digest"]},
                 "staged_equals_build")
    check_pinned(gate, warm_corpus, staged["resume_counts"], "resume_equals_build")

    stream = stream_merge(spark, tracer, warm_corpus, gazetteer, run_dir, columns)
    gate.attempted += len(stream["batches"]) + 1
    check_pinned(gate, warm_corpus, {"digest": stream["digest"]}, "stream_equals_build")

    ctx.update({"setup_s": setup_s, "counts": counts, "digest": digest, "probes": probes,
                "staged": staged, "stream": stream, "spans": tracer.spans})
    return gate, {}


def finish_trace(ctx: dict, _metrics: dict, event_log: Path) -> dict:
    """Per-layer metrics from the spans, the probes and the event log
    (read once the SparkContext has stopped)."""
    groups = summarize_event_log(event_log)
    ctx["layers"] = {k: dict(v) for k, v in groups.items()}
    spans = ctx["spans"]

    def wall(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def counts(name: str) -> dict:
        return next(s["counts"] for s in spans if s["name"] == name)

    def ev(name: str, key: str) -> float:
        return groups.get(name, {}).get(key, 0.0)

    values: dict[str, float] = {
        "sources.scan.wall_s": wall("sources.scan"),
        "sources.scan.rows": ev("sources.scan", "input_rows"),
        "sources.scan.bytes": ev("sources.scan", "input_bytes"),
        "operators.ner.annotate.rows": counts("operators.ner.annotate")["rows"],
        "operators.ner.annotate.repeat_ratio": ctx["probes"]["repeat_ratio"],
        "operators.relations.explode.wall_s": wall("operators.relations.explode"),
        "operators.relations.explode.mentions": counts("operators.relations.explode")["mentions"],
        "operators.relations.explode.triples": counts("operators.relations.explode")["triples"],
        "operators.linking.resolution.strings_in": counts("operators.linking.resolution")["strings"],
        "plans.pipeline.strategy.wall_s": wall("plans.pipeline.strategy"),
        "plans.pipeline.strategy.fused": counts("plans.pipeline.strategy")["fused"],
        "plans.pipeline.strategy.resolution_count":
            counts("operators.linking.resolution")["strings"],
        "operators.graph.aggregate.wall_s": wall("operators.graph.aggregate"),
        "operators.graph.aggregate.shuffle_read_bytes":
            ev("operators.graph.aggregate", "shuffle_read_bytes"),
        "operators.graph.aggregate.shuffle_write_bytes":
            ev("operators.graph.aggregate", "shuffle_write_bytes"),
    }
    for layer in ("operators.ner.annotate", "operators.linking.resolution",
                  "operators.graph.fused"):
        values[f"{layer}.wall_s"] = wall(layer)
        for key in ("cpu_s", "py_run_s", "py_init_s", "py_sent_bytes", "py_returned_bytes"):
            values[f"{layer}.{key}"] = ev(layer, key)
    for key in ("exact", "fuzzy", "new", "pairs_scored", "pairs_kept_ratio",
                "blocks_dropped", "cc_edges", "cc_local"):
        values[f"operators.linking.resolution.{key}"] = ctx["probes"][key]

    staged = ctx["staged"]
    for stage, facts in staged["stages"].items():
        for key, value in facts.items():
            values[f"sources.tables.write.{stage}.{key}"] = value
    values.update({
        "plans.pipeline.staged.build_s": wall("plans.pipeline.staged"),
        "plans.pipeline.staged.cpu_s": ev("plans.pipeline.staged", "cpu_s"),
        "plans.pipeline.staged.resume_s": wall("plans.pipeline.resume"),
        "plans.pipeline.staged.write_amp": staged["write_amp"],
    })

    batches = ctx["stream"]["batches"]
    values.update({
        "streaming.batch.p50_s": statistics.median(b["add_batch_s"] for b in batches),
        "streaming.batch.rows": statistics.median(b["rows"] for b in batches),
        "streaming.batch.bytes_rewritten":
            statistics.median(b["bytes_rewritten"] for b in batches),
        "streaming.batch.buckets_touched":
            statistics.median(b["buckets_touched"] for b in batches),
        "streaming.turns_per_s":
            sum(b["rows"] for b in batches) / sum(b["wall_s"] for b in batches),
        "streaming.compact_s": wall("streaming.compact"),
    })
    for q in ("top_narrators", "pagerank", "triangles", "components"):
        group = f"queries.{q}"
        values[f"{group}.wall_s"] = wall(group)
        values[f"{group}.cpu_s"] = ev(group, "cpu_s")
        values[f"{group}.shuffle_bytes"] = ev(group, "shuffle_read_bytes")

    values["trace.span_sum_s"] = sum(wall(name) for name in BUILD_LAYERS)
    return {name: (values[name], unit) for name, unit, _ in PER_LAYER}
