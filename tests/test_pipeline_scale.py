"""End-to-end pipeline: P/R gate, determinism, checkpoint resume."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from islamic_ner_spark.plans.pipeline import build_graph
from islamic_ner_spark.sources.transcripts import (
    expected_triples,
    synthetic_transcripts,
    triple_precision_recall,
)

N_CONVS = 60
TURNS = 5


def test_triple_pr_gate(spark) -> None:
    """Pipeline triples == golden triples (P/R = 1.0 >= 0.95 gate)."""
    transcripts = synthetic_transcripts(spark, N_CONVS, turns_per_conv=TURNS)
    result = build_graph(spark, transcripts)
    golden = expected_triples(spark, N_CONVS, turns_per_conv=TURNS)
    pr = triple_precision_recall(result.triples, golden)
    assert pr["precision"] == 1.0, pr
    assert pr["recall"] == 1.0, pr
    assert pr["expected"] > 0


def test_determinism_across_partitionings(spark) -> None:
    """Same graph regardless of input partitioning (order-free semantics)."""
    t1 = synthetic_transcripts(spark, 30, turns_per_conv=4, partitions=1)
    t16 = synthetic_transcripts(spark, 30, turns_per_conv=4, partitions=16)
    r1 = build_graph(spark, t1)
    r16 = build_graph(spark, t16)

    def edge_set(result):
        return {
            tuple(row)
            for row in result.edges.select(
                "pred", "src_label", "src_key", "tgt_label", "tgt_key",
                "source_hadith", "confidence", "evidence",
            ).collect()
        }

    def node_set(result):
        return {
            (row["label"], row["key"], tuple(row["variants"]))
            for row in result.nodes.collect()
        }

    assert edge_set(r1) == edge_set(r16)
    assert node_set(r1) == node_set(r16)


EDGE_COLS = [
    "pred", "src_label", "src_key", "tgt_label", "tgt_key",
    "source_hadith", "confidence", "evidence", "merge_count", "first_emit",
]
NODE_COLS = [
    "label", "key", "name_ar", "confidence", "variants", "mention_count",
    "best_conv", "best_turn", "best_emit", "book_ref", "chapter",
]


def _rows(df, cols):
    """Sorted multiset of ``df``'s rows over ``cols`` (arrays as tuples)."""
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.select(cols).collect()
    )


def test_fused_edges_match_global(spark) -> None:
    """The fused edge merge (pipeline path) must produce exactly the
    global groupBy MERGE result on every column, including merge_count for
    within-turn duplicate edge keys and the first-writer ordinal."""
    from islamic_ner_spark.operators.graph import build_edges

    transcripts = synthetic_transcripts(spark, 40, turns_per_conv=4, partitions=3)
    result = build_graph(spark, transcripts)
    fused_rows = _rows(result.edges, EDGE_COLS)
    assert fused_rows == _rows(build_edges(result.resolved_triples), EDGE_COLS)
    assert len(fused_rows) > 0


def test_split_node_build_matches_global(spark) -> None:
    """Pipeline node table (vocab global agg + turn-local Hadith nodes)
    must equal the single global groupBy strategy."""
    from islamic_ner_spark.operators.graph import build_nodes

    transcripts = synthetic_transcripts(spark, 40, turns_per_conv=4, partitions=3)
    result = build_graph(spark, transcripts)

    doc_index = result.annotated.select("conv_id", "turn_idx", "doc_id")
    global_nodes = build_nodes(result.resolved_mentions, doc_index, result.resolved_triples)

    def rows(df):
        return sorted(
            (r["label"], r["key"], r["name_ar"], r["confidence"],
             tuple(r["variants"]), r["mention_count"], r["book_ref"], r["chapter"])
            for r in df.collect()
        )

    assert rows(result.nodes) == rows(global_nodes)
    assert any(r[0] == "Hadith" for r in rows(result.nodes))
    assert any(r[0] == "Scholar" for r in rows(result.nodes))


def test_fused_edge_merge_duplicates_first_writer_wins(spark) -> None:
    """Within-turn duplicate edge keys: first writer (lowest rel_idx) fixes
    confidence/evidence, merge_count counts all writers — matching the
    global groupBy strategy exactly (in-batch first-wins, builder.py:99-123)."""
    from islamic_ner_spark.operators.graph import (
        build_edges,
        edges_from_combined,
        fused_graph_outputs,
    )
    from islamic_ner_spark.operators.linking import resolve_triples
    from islamic_ner_spark.operators.ner import EXTRACTED_SCHEMA
    from islamic_ner_spark.operators.relations import extract_triples

    def triple(rel_idx, pred, subj, subj_type, obj, obj_type, conf, evidence):
        return (rel_idx, pred, subj, subj_type, 0, 1, obj, obj_type, 2, 3, conf, evidence)

    extracted = spark.createDataFrame([
        # turn c:0 — same edge key twice (x and x2 both resolve to X, with
        # different evidence), one other edge; HADITH_REF subj endpoints
        # at rel 0 and 2 (href_texts, n_href, href_slot = [], 2, 2*2)
        ("c", 0, "c:0", [], [
            triple(0, "MENTIONS_CONCEPT", "h", "HADITH_REF", "x", "CONCEPT", 0.6, "first-ev"),
            triple(1, "NARRATED_FROM", "a", "SCHOLAR", "b", "SCHOLAR", 0.9, "chain"),
            triple(2, "MENTIONS_CONCEPT", "h", "HADITH_REF", "x2", "CONCEPT", 0.6, "second-ev"),
        ], [], 2, 4),
        # turn c:1 — same canonicals as c:0 but a different source_hadith:
        # no merge
        ("c", 1, "c:1", [], [
            triple(0, "MENTIONS_CONCEPT", "h", "HADITH_REF", "x", "CONCEPT", 0.6, "other-turn"),
        ], [], 1, 0),
    ], EXTRACTED_SCHEMA).coalesce(1)
    resolution = {
        ("x", "CONCEPT"): ("X", 1.0), ("x2", "CONCEPT"): ("X", 0.9),
        ("a", "SCHOLAR"): ("A", 1.0), ("b", "SCHOLAR"): ("B", 1.0),
    }
    fused = fused_graph_outputs(extracted, spark.sparkContext.broadcast(resolution))
    resolution_df = spark.createDataFrame(
        [(t, e, c, conf, "exact") for (t, e), (c, conf) in resolution.items()],
        "text string, entity_type string, canonical_name string, "
        "confidence double, match_type string",
    )
    glob = build_edges(resolve_triples(extract_triples(extracted), resolution_df))

    fused_rows = _rows(edges_from_combined(fused), EDGE_COLS)
    assert fused_rows == _rows(glob, EDGE_COLS)
    merged = [r for r in fused_rows if r[8] == 2]
    assert len(merged) == 1
    assert merged[0][5:8] == ("c:0", 0.6, "first-ev") and merged[0][9] == 0
    assert len(fused_rows) == 3


def test_hadith_projection_matches_global(spark) -> None:
    """The fused build's Hadith nodes, projected from the extraction's
    flat href columns, equal the global groupBy MERGE on every column,
    the winner ordinals included.  The synthetic corpora put HADITH_REF
    only on the subj side of a triple, so this is the only coverage of
    an obj-side (side 1) endpoint."""
    from islamic_ner_spark.operators.graph import (
        build_hadith_nodes_turn_local,
        build_nodes,
        fused_graph_outputs,
        nodes_from_combined,
    )
    from islamic_ner_spark.operators.linking import resolve_triples
    from islamic_ner_spark.operators.ner import EXTRACTED_SCHEMA
    from islamic_ner_spark.operators.relations import extract_mentions, extract_triples
    from islamic_ner_spark.plans.pipeline import resolve_mentions_table

    def triple(rel_idx, subj, subj_type, obj, obj_type):
        return (rel_idx, "P", subj, subj_type, 0, 1, obj, obj_type, 2, 3, 0.6, "ev")

    def mention(idx, text, entity_type):
        return (idx, text, entity_type, idx, idx + 1)

    extracted = spark.createDataFrame([
        # repeated HADITH_REF mention texts, no endpoints
        ("h", 0, "h:0", [
            mention(0, "r5", "HADITH_REF"), mention(1, "x", "CONCEPT"),
            mention(2, "r5", "HADITH_REF"),
        ], [], ["r5", "r5"], 2, None),
        # HADITH_REF endpoints on the subj side (rel 0) and the obj side
        # (rel 1): slots 0 and 2*1+1
        ("h", 1, "h:1", [mention(0, "a", "SCHOLAR")], [
            triple(0, "h:1", "HADITH_REF", "x", "CONCEPT"),
            triple(1, "a", "SCHOLAR", "h:1", "HADITH_REF"),
        ], [], 2, 3),
        # both: two mentions, three endpoints (slots 0, 2, 2*2+1)
        ("h", 2, "h:2", [
            mention(0, "rb", "HADITH_REF"), mention(1, "ra", "HADITH_REF"),
            mention(2, "x", "CONCEPT"),
        ], [
            triple(0, "rb", "HADITH_REF", "x", "CONCEPT"),
            triple(1, "ra", "HADITH_REF", "x", "CONCEPT"),
            triple(2, "x", "CONCEPT", "ra", "HADITH_REF"),
        ], ["rb", "ra"], 5, 5),
        # neither
        ("h", 3, "h:3", [mention(0, "a", "SCHOLAR"), mention(1, "b", "SCHOLAR")], [
            triple(0, "a", "SCHOLAR", "b", "SCHOLAR"),
        ], [], 0, None),
    ], EXTRACTED_SCHEMA).coalesce(1)
    resolution = {
        ("x", "CONCEPT"): ("X", 1.0), ("a", "SCHOLAR"): ("A", 1.0),
        ("b", "SCHOLAR"): ("B", 0.9),
    }
    resolution_df = spark.createDataFrame(
        [(t, e, c, conf, "exact") for (t, e), (c, conf) in resolution.items()],
        "text string, entity_type string, canonical_name string, "
        "confidence double, match_type string",
    )
    glob = build_nodes(
        resolve_mentions_table(extract_mentions(extracted), resolution_df),
        extracted.select("conv_id", "turn_idx", "doc_id"),
        resolve_triples(extract_triples(extracted), resolution_df),
    )
    hadith = _rows(build_hadith_nodes_turn_local(extracted), NODE_COLS)
    assert hadith == _rows(glob.where(F.col("label") == "Hadith"), NODE_COLS)
    assert {r[1]: (r[4], r[5], r[8]) for r in hadith} == {
        "h:0": (("h:0", "r5"), 3, 2_000_000_000),
        "h:1": (("h:1",), 3, 3_000_000_003),
        "h:2": (("h:2", "ra", "rb"), 6, 3_000_000_005),
        "h:3": (("h:3",), 1, 2_000_000_000),
    }
    fused = fused_graph_outputs(extracted, spark.sparkContext.broadcast(resolution))
    assert _rows(nodes_from_combined(fused, extracted), NODE_COLS) == _rows(glob, NODE_COLS)


def test_global_fallback_matches_fused(spark, monkeypatch) -> None:
    """Above FUSED_VOCAB_LIMIT a unique-turn build falls back to the global
    groupBy; its nodes and edges equal the fused build's on every column."""
    from islamic_ner_spark.plans import pipeline

    transcripts = synthetic_transcripts(spark, 40, turns_per_conv=4, partitions=3)
    fused = build_graph(spark, transcripts)
    monkeypatch.setattr(pipeline, "FUSED_VOCAB_LIMIT", 0)
    fallback = build_graph(spark, transcripts)
    assert _rows(fallback.edges, EDGE_COLS) == _rows(fused.edges, EDGE_COLS)
    assert _rows(fallback.nodes, NODE_COLS) == _rows(fused.nodes, NODE_COLS)
    # the fallback really ran: it caches its aggregates, the fused build
    # its Arrow pass
    assert fallback.nodes.is_cached and fallback.edges.is_cached
    assert not fused.edges.is_cached


def test_global_fallback_does_not_force_broadcast(spark, monkeypatch) -> None:
    """A unique-turn build takes the global groupBy only because its
    resolution exceeds FUSED_VOCAB_LIMIT, so its resolved triples carry
    no broadcast hint on the resolution; the default view does."""
    from islamic_ner_spark.plans import pipeline

    def hinted(df) -> bool:
        return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()

    monkeypatch.setattr(pipeline, "FUSED_VOCAB_LIMIT", 0)
    fallback = build_graph(spark, synthetic_transcripts(spark, 8, turns_per_conv=2))
    assert fallback.edges.is_cached
    assert not hinted(fallback.edges) and not hinted(fallback.nodes)
    assert hinted(fallback.resolved_triples)


def test_workdir_build_matches_in_memory(spark, tmp_path) -> None:
    """The staged job runs the same fused pass over the staged lean
    extraction: identical node and edge multisets on every column."""
    transcripts = synthetic_transcripts(spark, 20, turns_per_conv=3, partitions=3)
    staged = build_graph(spark, transcripts, work_dir=str(tmp_path / "work"), n_buckets=4)
    in_memory = build_graph(spark, transcripts)
    assert _rows(staged.edges, EDGE_COLS) == _rows(in_memory.edges, EDGE_COLS)
    assert _rows(staged.nodes, NODE_COLS) == _rows(in_memory.nodes, NODE_COLS)
    assert staged.extracted.columns == [
        "conv_id", "turn_idx", "doc_id", "mentions", "triples",
        "href_texts", "n_href", "href_slot",
    ]
    # both paths plan the same full annotation as ``annotated``
    assert staged.annotated.schema == in_memory.annotated.schema


def test_workdir_rebuilds_when_any_gazetteer_entry_changes(spark, tmp_path) -> None:
    """The staged tables are keyed on every gazetteer entry: moving a
    variant that sorts past the first 50 onto another canonical must
    rebuild the staged annotate and every later stage, never resume."""
    import json

    from islamic_ner_spark.plans.pipeline import DEFAULT_GAZETTEER_DIR
    from islamic_ner_spark.sources.gazetteer import (
        GAZETTEER_FILES,
        Gazetteer,
        parse_gazetteer_text,
    )

    entries = [
        (entity_type, variants)
        for name, entity_type in GAZETTEER_FILES
        for variants in parse_gazetteer_text(
            (Path(DEFAULT_GAZETTEER_DIR) / name).read_text(encoding="utf-8")
        )
    ]
    before = Gazetteer(entries)
    # نافع becomes a variant of مالك: no variant is added or dropped
    after = Gazetteer(
        (t, ["مالك", "نافع"] if v == ["نافع"] else v) for t, v in entries
    )
    assert sorted(before.lookup) == sorted(after.lookup)
    assert sorted(before.lookup).index("نافع") >= 50
    assert before.lookup["نافع"] != after.lookup["نافع"]

    transcripts = synthetic_transcripts(spark, 12, turns_per_conv=3)
    work = str(tmp_path / "work")
    manifest = tmp_path / "work" / "annotated" / "_manifest.json"
    first = build_graph(spark, transcripts, gazetteer=before, work_dir=work, n_buckets=4)
    first_nodes = _rows(first.nodes, NODE_COLS)
    first_key = json.loads(manifest.read_text())["fingerprint"]

    staged = build_graph(spark, transcripts, gazetteer=after, work_dir=work, n_buckets=4)
    rebuilt = json.loads(manifest.read_text())
    assert rebuilt["fingerprint"] != first_key
    assert rebuilt["resumed"] is False
    in_memory = build_graph(spark, transcripts, gazetteer=after)
    assert _rows(staged.nodes, NODE_COLS) == _rows(in_memory.nodes, NODE_COLS)
    assert _rows(staged.edges, EDGE_COLS) == _rows(in_memory.edges, EDGE_COLS)
    assert _rows(staged.nodes, NODE_COLS) != first_nodes
    in_memory.unpersist()


def test_per_turn_text_equality_invariant(spark) -> None:
    """Per-turn normalized text equality under stable (conv_id, turn_idx)
    ordering — the input_hint's per-row invariant."""
    from islamic_ner_spark.functions.normalize import normalize as py_normalize

    transcripts = synthetic_transcripts(spark, 10, turns_per_conv=4)
    result = build_graph(spark, transcripts)
    rows = (
        result.annotated.select("conv_id", "turn_idx", "norm_text")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    source = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in transcripts.collect()
    }
    assert len(rows) == len(source)
    for row in rows:
        assert row["norm_text"] == py_normalize(source[(row["conv_id"], row["turn_idx"])])


def test_workdir_checkpoint_and_resume(spark, tmp_path) -> None:
    """Stage manifests make re-runs no-ops and bucket resume append-only."""
    import json

    from islamic_ner_spark.sources import tables

    transcripts = synthetic_transcripts(spark, 12, turns_per_conv=3)
    work = str(tmp_path / "work")
    r1 = build_graph(spark, transcripts, work_dir=work, n_buckets=4)
    edges_1 = sorted(map(tuple, r1.edges.select("pred", "src_key", "tgt_key", "source_hadith").collect()))

    # simulate a killed job: the wave-commit protocol leaves a manifest
    # with the CURRENT fingerprint, a subset of buckets, complete=False
    annotated_path = tmp_path / "work" / "annotated"
    manifest = json.loads((annotated_path / "_manifest.json").read_text())
    full_buckets = dict(manifest["per_partition_rows"])
    kept = dict(list(full_buckets.items())[:2])
    manifest["per_partition_rows"] = kept
    manifest["complete"] = False
    (annotated_path / "_manifest.json").write_text(json.dumps(manifest))
    # drop the corresponding parquet bucket dirs
    import shutil

    for bucket in full_buckets:
        if bucket not in kept:
            shutil.rmtree(annotated_path / f"bucket={bucket}", ignore_errors=True)

    r2 = build_graph(spark, transcripts, work_dir=work, n_buckets=4)
    edges_2 = sorted(map(tuple, r2.edges.select("pred", "src_key", "tgt_key", "source_hadith").collect()))
    assert edges_1 == edges_2
    resumed = tables.read_manifest(annotated_path)
    assert resumed["resumed"] is True
    assert resumed["complete"] is True
    assert set(resumed["per_partition_rows"]) == set(full_buckets)


def test_workdir_not_reused_across_inputs(spark, tmp_path) -> None:
    """A work_dir pointed at a DIFFERENT input (different fingerprint via
    input_token) must rebuild, never resume stale buckets."""
    work = str(tmp_path / "work")
    t_a = synthetic_transcripts(spark, 12, turns_per_conv=3)
    t_b = synthetic_transcripts(spark, 6, turns_per_conv=3)
    build_graph(spark, t_a, work_dir=work, n_buckets=4, input_token="a")
    r_b = build_graph(spark, t_b, work_dir=work, n_buckets=4, input_token="b")
    fresh = build_graph(spark, t_b, work_dir=str(tmp_path / "fresh"), n_buckets=4,
                        input_token="b")
    rows = lambda r: sorted(  # noqa: E731
        map(tuple, r.edges.select("pred", "src_key", "tgt_key", "source_hadith").collect())
    )
    assert rows(r_b) == rows(fresh)


def test_workdir_resume_crash_between_commit_and_manifest(spark, tmp_path) -> None:
    """A wave's parquet job can commit and the process die BEFORE the
    manifest update records it.  The re-run must treat those un-manifested
    bucket dirs as uncommitted (delete + re-annotate), never append a
    second copy of their rows."""
    import json

    transcripts = synthetic_transcripts(spark, 12, turns_per_conv=3)
    work = str(tmp_path / "work")
    r1 = build_graph(spark, transcripts, work_dir=work, n_buckets=4)
    clean_rows = r1.extracted.count()
    edges_1 = sorted(
        map(tuple, r1.edges.select("pred", "src_key", "tgt_key", "source_hadith").collect())
    )

    # crash window: roll the manifest back to 2 buckets but LEAVE every
    # parquet bucket dir on disk (the committed-but-unrecorded state)
    annotated_path = tmp_path / "work" / "annotated"
    manifest = json.loads((annotated_path / "_manifest.json").read_text())
    full_buckets = dict(manifest["per_partition_rows"])
    manifest["per_partition_rows"] = dict(list(full_buckets.items())[:2])
    manifest["complete"] = False
    (annotated_path / "_manifest.json").write_text(json.dumps(manifest))

    r2 = build_graph(spark, transcripts, work_dir=work, n_buckets=4)
    assert r2.extracted.count() == clean_rows  # no duplicated turns
    edges_2 = sorted(
        map(tuple, r2.edges.select("pred", "src_key", "tgt_key", "source_hadith").collect())
    )
    assert edges_1 == edges_2


def test_in_memory_metrics(spark) -> None:
    """metrics() reports per-stage row counts from the cached
    intermediates — the in-memory counterpart of _manifest.json."""
    transcripts = synthetic_transcripts(spark, 10, turns_per_conv=4)
    result = build_graph(spark, transcripts)
    m = result.metrics()
    assert m["turns"] == 40
    assert m["triples"] == result.triples.count() > 0
    assert m["mentions"] >= m["triples"]
    assert m["nodes"] == result.nodes.count() > 0
    assert m["edges"] == result.edges.count() > 0
    assert m["resolution_strings"] > 0


def _isnad_transcripts(spark):
    """Stock turns (gazetteer hits) plus isnad chains over 1,005 new
    ``X بن Y`` names: one-letter spelling variants that cluster, a fuzzy
    gazetteer hit, a name with a repeated token, and a بن block over
    ``MAX_BLOCK_SIZE`` that the ladder drops."""
    import datetime
    import random

    from islamic_ner_spark.sources.transcripts import TRANSCRIPTS_SCHEMA

    rng = random.Random(5)
    letters = "بتثجحخدذرزسشصضطظعغفقكلمنهو"
    first: list[str] = []
    while len(first) < 60:
        name = "".join(rng.choice(letters) for _ in range(rng.randint(6, 8)))
        if name not in first:
            first.append(name)
    names: list[str] = []
    while len(names) < 1_005:
        name = " بن ".join(rng.sample(first, 2))
        if name not in names:
            names.append(name)
    names += ["البخاريي", "زيدون بن حارث", "زيدون بن حارت", "زيذون بن حارث", "محمد بن محمد"]
    ts = datetime.datetime(2024, 1, 1)
    chains = [
        (f"isnad_{i // 8:04d}", i % 8, "assistant",
         "حدثنا " + " عن ".join(names[3 * i:3 * i + 3]), None, ts)
        for i in range((len(names) + 2) // 3)
    ]
    stock = synthetic_transcripts(spark, 20, turns_per_conv=4, partitions=2)
    return stock.unionByName(spark.createDataFrame(chains, TRANSCRIPTS_SCHEMA))


def test_driver_ladder_build_matches_distributed(spark, monkeypatch, caplog) -> None:
    """A build whose resolution ladder ran on the driver equals one whose
    ladder ran distributed: resolution table, nodes and edges, every
    column."""
    import logging

    from islamic_ner_spark.operators import linking

    transcripts = _isnad_transcripts(spark)
    res_cols = linking.RESOLUTION_COLUMNS

    def build(limit: int):
        monkeypatch.setattr(linking, "DRIVER_LADDER_LIMIT", limit)
        caplog.clear()
        with caplog.at_level(logging.INFO, logger="islamic_ner_spark"):
            result = build_graph(spark, transcripts)
            rows = [_rows(result.resolution, res_cols),
                    _rows(result.edges, result.edges.columns),
                    _rows(result.nodes, result.nodes.columns)]
            result.unpersist()
        decisions = [r.getMessage() for r in caplog.records if r.name == linking.log.name]
        warnings = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
        return rows, decisions, warnings

    on_driver, driver_log, driver_warnings = build(10_000)
    distributed, distributed_log, distributed_warnings = build(0)
    assert on_driver == distributed
    assert len(driver_log) == 1 and driver_log[0].endswith("-> driver")
    assert len(distributed_log) == 1 and distributed_log[0].endswith("-> distributed")
    # both dropped the بن block: every name carries it
    assert driver_warnings == distributed_warnings and "'بن'" in driver_warnings[0]

    # the bounded collect's last row decides: a vocabulary of exactly the
    # limit runs on the driver, one string more runs distributed
    n_strings = len(on_driver[0])
    at_limit, at_limit_log, _ = build(n_strings)
    over_limit, over_limit_log, _ = build(n_strings - 1)
    assert at_limit == over_limit == on_driver
    assert at_limit_log[0].startswith(
        f"resolution ladder: {n_strings} distinct linkable strings (driver limit "
        f"{n_strings}), ") and at_limit_log[0].endswith("-> driver")
    assert over_limit_log[0].startswith(
        f"resolution ladder: {n_strings} distinct linkable strings (driver limit "
        f"{n_strings - 1}), uncounted ") and over_limit_log[0].endswith("-> distributed")

    resolution = on_driver[0]
    assert {r[5] for r in resolution} == {"exact", "fuzzy", "new"}
    canon = {r[0]: r[3] for r in resolution}
    assert canon["زيدون بن حارث"] == canon["زيذون بن حارث"] == "زيدون بن حارت"
    assert canon["محمد بن محمد"] == "محمد بن محمد"


# Spark jobs of one in-memory build plus one action over its nodes and
# edges, on the driver ladder.  The build runs 4: two reads of the cached
# extraction (one per string-derivation branch), the distinct strings'
# shuffle and the bounded collect.  The action runs 6: the fused pass and
# the node/edge aggregations.
BUILD_JOB_BUDGET = 10


def test_in_memory_build_job_budget(spark) -> None:
    """A small-vocabulary build crosses the resolution barrier in one
    action and builds no frame it does not read: the job count of a build
    and one materializing action stays exactly at its budget."""
    sc = spark.sparkContext
    # a size no other test builds, so no earlier test's cache is reused
    transcripts = synthetic_transcripts(spark, 23, turns_per_conv=3)
    group = "test_in_memory_build_job_budget"
    sc.setJobGroup(group, group)
    try:
        result = build_graph(spark, transcripts)
        counts = (
            result.edges.agg(F.count(F.lit(1)).alias("n")).select(F.lit("edges").alias("k"), "n")
            .unionByName(result.nodes.agg(F.count(F.lit(1)).alias("n"))
                         .select(F.lit("nodes").alias("k"), "n"))
            .collect()
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    result.unpersist()
    assert all(r["n"] > 0 for r in counts)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == BUILD_JOB_BUDGET
