"""Executable physical-plan audit — the claims in BENCH.md/COVERAGE.md
("filters reach the scan", "dimensions broadcast", "the edge MERGE never
exchanges", "aggregations combine map-side") as assertions over the
ACTUAL plans Catalyst produces, not prose.

Prints one verdict line per invariant and exits non-zero when any is
violated, so a plan regression (a lost pushdown, a broadcast that became
a sort-merge join, a shuffle sneaking into the turn-local edge path)
fails loudly instead of surfacing as a mystery slowdown at scale.

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

FAILURES: list[str] = []


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def check(name: str, condition: bool, detail: str) -> None:
    status = "OK  " if condition else "FAIL"
    print(f"[{status}] {name}: {detail}")
    if not condition:
        FAILURES.append(name)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from islamic_ner_spark.plans import driver_queries as dq
    from islamic_ner_spark.session import build_session

    spark = build_session("plan_audit", master="local[8]", shuffle_partitions=8)

    # -- relational headliners -------------------------------------------
    plan = plan_of(dq.QUERIES["lineitem_pricing_summary"](spark, sf_dir))
    check(
        "lineitem: filter pushed to scan",
        "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan,
        "l_shipdate predicate appears in the parquet scan's PushedFilters",
    )
    check(
        "lineitem: column pruning",
        "l_comment" not in plan and "ReadSchema" in plan,
        "scan reads only the 6 referenced columns (no l_comment)",
    )
    check(
        "lineitem: map-side partial aggregation",
        plan.count("HashAggregate") >= 2,
        "partial + final HashAggregate (combine before the exchange)",
    )

    plan = plan_of(dq.QUERIES["orders_per_nation"](spark, sf_dir))
    check(
        "orders_per_nation: dimensions broadcast",
        plan.count("BroadcastHashJoin") >= 2 and "SortMergeJoin" not in plan,
        "customer and nation join as broadcast hash joins, no sort-merge",
    )

    plan = plan_of(dq.QUERIES["token_stats"](spark, sf_dir))
    check(
        "token_stats: column pruning",
        "ReadSchema: struct<doc_id:bigint,text:string>" in plan,
        "scan schema is exactly (doc_id, text)",
    )

    plan = plan_of(dq.QUERIES["events_sessionize"](spark, sf_dir))
    check(
        "events_sessionize: one partitioning reused",
        plan.count("Exchange hashpartitioning") == 1,
        "window + running-sum + groupBy all reuse the user_id exchange",
    )

    plan = plan_of(dq.QUERIES["events_rollup"](spark, sf_dir))
    check(
        "events_rollup: one shuffle for all grouping sets",
        "Expand" in plan and plan.count("Exchange") == 1,
        "ROLLUP expands grouping sets map-side and aggregates through a "
        "single exchange (not one scan per subtotal level)",
    )

    plan = plan_of(dq.QUERIES["dedup_exact"](spark, sf_dir))
    check(
        "dedup_exact: map-side partial aggregation",
        plan.count("HashAggregate") >= 2,
        "hash-groupBy combines per-partition before the exchange",
    )

    # -- flagship KG build: the turn-local edge path must not shuffle ----
    from islamic_ner_spark.plans.pipeline import build_graph
    from islamic_ner_spark.sources.transcripts import synthetic_transcripts

    transcripts = synthetic_transcripts(spark, 50, turns_per_conv=3)
    result = build_graph(spark, transcripts)
    plan = plan_of(result.edges)
    check(
        "kg edges: zero-shuffle turn-local MERGE",
        "Exchange hashpartitioning" not in plan,
        "no hash-partition exchange anywhere in the edge dataflow "
        "(broadcast exchanges for the resolution dimension are fine)",
    )
    check(
        "kg edges: resolution joins broadcast",
        "SortMergeJoin" not in plan,
        "no sort-merge join in the edge dataflow",
    )
    check(
        "kg nodes: no interpreted lambdas",
        "lambdafunction" not in plan_of(result.nodes).lower(),
        "the fused build's node plan holds no higher-order lambda: Hadith "
        "nodes are a plain projection of the extraction's href columns",
    )
    result.unpersist()

    # -- resolution: the linkable strings read the extraction once per
    # fact table, through codegen'd explodes (no interpreted lambdas) ---
    from islamic_ner_spark.operators.linking import _distinct_linkable_strings
    from islamic_ner_spark.operators.relations import extract_mentions, extract_triples
    from islamic_ner_spark.plans import staging

    staging.ensure_kg_stage(spark, sf_dir)
    extraction = spark.read.parquet(staging.stage_path("kg", "annotated"))
    plan = plan_of(_distinct_linkable_strings(
        extract_mentions(extraction), extract_triples(extraction)
    ))
    check(
        "linkable strings: two lambda-free branches over the extraction",
        "lambdafunction" not in plan.lower()
        and plan.count("FileScan parquet") == 2
        and plan.count("Generate explode(mentions") == 1
        and plan.count("Generate explode(triples") == 1
        and plan.count("Generate ") == 3,
        "the mention spans and the triples each read the staged extraction "
        "once through one explode, both triple endpoints come through one "
        "more explode, and no higher-order lambda runs interpreted",
    )

    # -- ANN: candidate joins keep the small side broadcast --------------
    staging.ensure_ann_stage(spark, sf_dir)
    plan = plan_of(dq.QUERIES["ivf_topk"](spark, sf_dir))
    check(
        "ivf_topk: probe side broadcast",
        "BroadcastHashJoin" in plan,
        "the nprobe-cell probe table broadcasts against cell assignments",
    )

    # -- bucket self-join: shared-bucket equi-join, never all-pairs ------
    from islamic_ner_spark.operators.dedup import lsh_candidate_pairs
    from islamic_ner_spark.operators.similarity import embedding_candidate_pairs

    staging.ensure_dedup_stage(spark, sf_dir)
    plans = [
        plan_of(lsh_candidate_pairs(
            spark.read.parquet(staging.stage_path("dedup", "minhash_sigs"))
        )),
        plan_of(embedding_candidate_pairs(
            spark.read.parquet(staging.stage_path("ann", "emb_neardup_sigs"))
        )),
    ]
    check(
        "bucket self-join: equi-join on the bucket key, no all-pairs",
        all(
            any(j in p for j in ("SortMergeJoin", "ShuffledHashJoin",
                                 "BroadcastHashJoin"))
            and "CartesianProduct" not in p
            and "BroadcastNestedLoopJoin" not in p
            for p in plans
        ),
        "lsh_candidate_pairs and embedding_candidate_pairs over staged "
        "signatures pair rows through a bucket-keyed hash/sort-merge join",
    )

    # -- IVF trainer: refinement aggregates partials, never the corpus ---
    from pyspark.sql import functions as F

    from islamic_ner_spark.operators.similarity import (
        cell_partial_sums,
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = kmeans_centroids(emb, n_cells=8, n_iters=0)
    partials = cell_partial_sums(emb, centroids)
    sums = (
        partials.select("cell", "n", F.posexplode("sum_vec").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.sum("x").alias("s"), F.sum("n").alias("n"))
    )
    plan = plan_of(sums)
    check(
        "ivf trainer: no corpus join/shuffle in Lloyd refinement",
        "Join" not in plan and plan.count("Exchange") <= 1,
        "refinement aggregates <= tasks x n_cells partial rows only",
    )

    # -- as-of join: the scalable composition, not a non-equi join -------
    plan = plan_of(dq.QUERIES["events_asof"](spark, sf_dir))
    check(
        "events_asof: no join operator at all",
        "Join" not in plan,
        "the as-of semantics compile to union + window carry-forward, "
        "never a nested-loop/range join",
    )
    check(
        "events_asof: single keyed exchange",
        plan.count("Exchange hashpartitioning") == 1,
        "both sides meet in ONE user_id window exchange",
    )

    # -- repetition filters: explode feeds partial agg, no self-join -----
    plan = plan_of(dq.QUERIES["repetition_filters"](spark, sf_dir))
    check(
        "repetition_filters: no self-join for bigrams",
        "SortMergeJoin" not in plan and "CartesianProduct" not in plan,
        "bigrams are built array-side (transform), word/bigram branches "
        "rejoin per-doc only",
    )
    check(
        "repetition_filters: map-side combine on (doc, unit)",
        plan.count("HashAggregate") >= 4,
        "both unit rollups partial-aggregate before their exchange",
    )

    # -- stratified sample: one exchange keyed by the strata -------------
    plan = plan_of(dq.QUERIES["stratified_sample"](spark, sf_dir))
    check(
        "stratified_sample: one strata exchange",
        plan.count("Exchange hashpartitioning") == 1 and "Join" not in plan,
        "window rank over a single (lang, source) exchange; no join, no "
        "collect",
    )

    # -- PII scrub: pure codegen, no UDF crossing -------------------------
    plan = plan_of(dq.QUERIES["pii_redaction"](spark, sf_dir))
    check(
        "pii_redaction: whole-stage codegen, zero exchanges",
        "Exchange" not in plan
        and "BatchEvalPython" not in plan
        and "ArrowEvalPython" not in plan,
        "the redaction chain is a narrow JVM-side projection",
    )

    # -- vocab coverage: the 500-term vocab broadcasts over the stream ---
    plan = plan_of(dq.QUERIES["vocab_coverage"](spark, sf_dir))
    check(
        "vocab_coverage: vocab side broadcasts",
        "BroadcastHashJoin" in plan and "CartesianProduct" not in plan,
        "the top-500 vocab meets the token stream as a broadcast, "
        "never a shuffled join of the corpus",
    )

    # -- substring dedup / source overlap: shingle-keyed, no all-pairs ---
    plan = plan_of(dq.QUERIES["substring_dedup"](spark, sf_dir))
    check(
        "substring_dedup: no all-pairs step",
        "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan,
        "duplicated windows resolve through shingle-hash equi-joins only",
    )
    plan = plan_of(dq.QUERIES["source_overlap"](spark, sf_dir))
    check(
        "source_overlap: per-source totals broadcast",
        plan.count("BroadcastHashJoin") >= 2 and "CartesianProduct" not in plan,
        "pair join keys on the shingle hash; the source-sized totals "
        "broadcast onto the pair table",
    )

    # -- co-mention: pair join keyed on source_hadith --------------------
    plan = plan_of(dq.QUERIES["kg_comention"](spark, sf_dir))
    check(
        "kg_comention: hadith-keyed pair join",
        "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan,
        "within-hadith pairs come from an equi-join on source_hadith "
        "(isnad-bounded groups), never scholar x scholar",
    )

    # -- training-pipeline profiling ops ---------------------------------
    plan = plan_of(dq.QUERIES["bigram_quality"](spark, sf_dir))
    check(
        "bigram_quality: array-side bigrams, no all-pairs",
        "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan,
        "bigrams built by transform over the word array; common-set "
        "resolution is a bigram-hash equi-join",
    )
    plan = plan_of(dq.QUERIES["shard_assignment"](spark, sf_dir))
    check(
        "shard_assignment: bin-keyed ranking, no global sort",
        plan.count("Exchange hashpartitioning") >= 1
        and "Exchange rangepartitioning" not in plan
        and "Join" not in plan,
        "round-robin windows partition by the size bin — the ranking "
        "never serializes through one global ordering",
    )
    plan = plan_of(dq.QUERIES["label_centroids"](spark, sf_dir))
    check(
        "label_centroids: map-side partial sums over the explode",
        plan.count("HashAggregate") >= 2 and "Join" not in plan,
        "N x dim exploded rows combine before the (label, pos) exchange",
    )

    from islamic_ner_spark.operators.bpe import word_frequencies

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(word_frequencies(docs))
    check(
        "bpe: one combined corpus exchange, TakeOrdered cap",
        plan.count("HashAggregate") >= 2 and "TakeOrderedAndProject" in plan,
        "word counts combine map-side before the shuffle; the vocab cap "
        "is a TakeOrderedAndProject, never a global sort",
    )

    plan = plan_of(dq.QUERIES["doc_keywords"](spark, sf_dir))
    check(
        "doc_keywords: vocabulary-sized df broadcast",
        "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan,
        "the document-frequency dimension broadcasts onto tf; no "
        "corpus-wide sort-merge join",
    )

    plan = plan_of(dq.QUERIES["kg_skipgram_pairs"](spark, sf_dir))
    check(
        "skipgram: windowed equi-join on the walk id",
        "CartesianProduct" not in plan,
        "context pairing joins on the walk id with a range predicate — "
        "never a cartesian product",
    )

    plan = plan_of(dq.QUERIES["inverted_index"](spark, sf_dir))
    check(
        "inverted_index: salted two-phase top-k",
        plan.count("Window") >= 2
        and plan.count("HashAggregate") >= 2
        and "CartesianProduct" not in plan,
        "posting pick ranks per (term, salt) then per term — two window "
        "passes, so no df-sized partition; totals combine map-side",
    )

    plan = plan_of(dq.QUERIES["kg_comention_lift"](spark, sf_dir))
    check(
        "comention_lift: broadcast 1-row corpus total",
        "BroadcastNestedLoopJoin" in plan and "CartesianProduct" not in plan,
        "the n_hadith scalar broadcasts onto the hadith-keyed pair join; "
        "no cartesian anywhere",
    )

    # round-4 verdict weak #2: the dense-id rank must partition by the
    # prefix bucket — a row_number whose windowspec starts at the
    # ordering column means a vocabulary-global single-task sort crept
    # back in.  (The surviving Exchange SinglePartition feeds only the
    # BUCKET-count prefix-sum, <= |charset|^2 rows.)
    import re as _re

    for qname in ("kg_coo_export", "kg_negative_samples"):
        plan = plan_of(dq.QUERIES[qname](spark, sf_dir))
        rank_parts = _re.findall(
            r"row_number\(\) windowspecdefinition\((\w+)#", plan
        )
        check(
            f"{qname}: no vocabulary-global window",
            bool(rank_parts)
            and all(p == "_b" for p in rank_parts)
            and "windowspecdefinition(_ord#" not in plan,
            "every dense-id row_number partitions by the prefix bucket "
            "_b (an unpartitioned windowspec over _ord would be the "
            "single-task vocabulary sort); the only global windows left "
            "are the bucket-sized offset prefix-sums",
        )

    plan = plan_of(dq.QUERIES["kg_clustering"](spark, sf_dir))
    check(
        "local_clustering: semi-join triangle close, no cartesian",
        "LeftSemi" in plan and "CartesianProduct" not in plan,
        "per-node triangle counts come from the degree-ordered wedge "
        "join closed by a semi-join; degree merge is node-keyed",
    )

    # round-5: bigram-LM training must combine map-side before its one
    # (w1, w2)-keyed exchange, and the 1-row vocabulary-size scalar must
    # broadcast (not cartesian) onto the model table
    plan = plan_of(dq.QUERIES["lm_surprise"](spark, sf_dir))
    check(
        "lm_surprise: partial-agg LM training + broadcast V scalar",
        plan.count("HashAggregate") >= 4
        and "BroadcastNestedLoopJoin" in plan
        and "CartesianProduct" not in plan,
        "bigram/first-word counts combine map-side before their keyed "
        "exchanges; the 1-row vocab count broadcasts onto the model",
    )

    # round-5: the role-transition lag window must partition by conv_id
    # (bounded conversations) — an unpartitioned window over the corpus
    # would serialize 10^12 turns through one task
    plan = plan_of(dq.QUERIES["conv_role_transitions"](spark, sf_dir))
    check(
        "conv_role_transitions: conversation-partitioned lag window",
        "windowspecdefinition(conv_id#" in plan
        and "Exchange SinglePartition" not in plan,
        "lag(state) partitions by conv_id; no single-partition exchange "
        "anywhere in the transition rollup",
    )

    # round-5: SFT pair extraction must pay exactly ONE conv_id-keyed
    # exchange — its two window passes share the (conv_id, turn_idx)
    # spec, so the second Window reuses the first's partitioning
    plan = plan_of(dq.QUERIES["sft_pairs"](spark, sf_dir))
    check(
        "sft_pairs: one conv exchange feeds both window passes",
        plan.count("Exchange hashpartitioning(conv_id#") == 1
        and "Exchange SinglePartition" not in plan,
        "running-tool-count and last-user-turn windows chain over a "
        "single conv_id hash exchange; nothing single-partitions",
    )

    # round-5: the curation features must add ZERO cost to the pair
    # extraction — pure column expressions, same single conv exchange
    plan = plan_of(dq.QUERIES["sft_pair_quality"](spark, sf_dir))
    check(
        "sft_pair_quality: features add no exchange to extraction",
        plan.count("Exchange hashpartitioning(conv_id#") == 1
        and "Exchange SinglePartition" not in plan
        and "BatchEvalPython" not in plan,
        "echo/length/overlap features are JVM array expressions layered "
        "on the sft_pairs plan; still exactly one conv_id exchange",
    )

    # round-5: tool telemetry must filter to tool turns BEFORE the
    # aggregation exchange and keep the lead window conv-partitioned
    plan = plan_of(dq.QUERIES["tool_call_stats"](spark, sf_dir))
    check(
        "tool_call_stats: conv-keyed lead + pre-agg tool filter",
        "windowspecdefinition(conv_id#" in plan
        and plan.count("HashAggregate") >= 2
        and "Exchange SinglePartition" not in plan,
        "latency lead partitions by conv_id; the tool rollup combines "
        "map-side (two-phase distinct) with no single-partition exchange",
    )

    # round-5: conversation assembly must be ONE conv-keyed aggregation
    # with map-side partial collect (ObjectHashAggregate), never a
    # global sort (ordering comes from array_sort inside each group)
    plan = plan_of(dq.QUERIES["assemble_conversations"](spark, sf_dir))
    check(
        "assemble_conversations: partial-agg collect, no global sort",
        "ObjectHashAggregate" in plan
        and plan.count("Exchange hashpartitioning(conv_id#") == 1
        and "Exchange rangepartitioning" not in plan
        and "Exchange SinglePartition" not in plan,
        "turn structs collect partially map-side into one conv_id "
        "exchange; array_sort orders within each group, no global sort",
    )

    # round-5: the five-table star join must broadcast every dimension
    # (the lineitem fact never reshuffles for a join — the only
    # exchange is the final aggregation's) and push the p_size
    # predicate into the part scan
    plan = plan_of(dq.QUERIES["region_part_revenue"](spark, sf_dir))
    check(
        "region_part_revenue: all-broadcast star, pushed part filter",
        plan.count("BroadcastHashJoin") == 4
        and "SortMergeJoin" not in plan
        and plan.count("Exchange hashpartitioning") == 1
        and "LessThanOrEqual(p_size,25)" in plan,
        "part/supplier/nation/region broadcast onto the fact table; "
        "one exchange total (final agg); p_size pushed to the scan",
    )

    from islamic_ner_spark.operators.graph_analytics import (
        negative_samples,
        pagerank_integer,
        personalized_pagerank,
    )
    from islamic_ner_spark.operators.materialize import plan_capture

    staged_edges = dq._staged_edges(spark, sf_dir)
    with plan_capture():
        plan = plan_of(pagerank_integer(staged_edges, n_iters=1))
    check(
        "pagerank: no seed join, keyed contribution agg",
        "BroadcastNestedLoopJoin" not in plan
        and "CartesianProduct" not in plan
        and plan.count("HashAggregate") >= 2,
        "global PageRank flags every node as a teleport target with a "
        "literal, so the shared kernel adds no seed cross join; "
        "contributions combine map-side before the tgt exchange",
    )

    from islamic_ner_spark.operators.graph import merge_edge_rows

    # two staged edge frames (split on first_emit parity), as the stream's
    # bucket upsert unions stored and incoming rows
    parity = F.col("first_emit") % 2 == 0
    pair = staged_edges.where(parity).unionByName(staged_edges.where(~parity))
    plan = plan_of(merge_edge_rows(pair))
    # a struct min is not a fixed-width buffer, so Spark may plan it as a
    # SortAggregate: count aggregate operators of any kind ("keys=" for
    # HashAggregate, "key=" for Sort/ObjectHashAggregate)
    added = plan.count("Aggregate(key") - plan_of(pair).count("Aggregate(key")
    check(
        "edge re-merge: one keyed aggregation, no join",
        added >= 2
        and "Join" not in plan
        and "FullOuter" not in plan,
        "merging stored and incoming edge rows is a partial + final "
        "aggregation on the edge key over their union, never a "
        "full-outer join with a coalesce per column",
    )

    # the first-time MERGE of the staged candidate rows runs the same
    # re-aggregation over the rows lifted to the table shape
    for qname in ("kg_nodes", "kg_edges"):
        plan = plan_of(dq.QUERIES[qname](spark, sf_dir))
        check(
            f"{qname}: one keyed MERGE aggregation, no join",
            plan.count("Aggregate(key") == 2
            and plan.count("Exchange hashpartitioning") == 1
            and "Join" not in plan,
            "staged candidate rows merge in one partial + final "
            "aggregation on the table key, with no join to pick the "
            "winning writer",
        )

    with plan_capture():
        plan = plan_of(personalized_pagerank(staged_edges, n_iters=1))
    check(
        "ppr: broadcast seed + keyed contribution agg",
        "BroadcastNestedLoopJoin" in plan
        and plan.count("HashAggregate") >= 2
        and "CartesianProduct" not in plan,
        "teleport seed is a broadcast 1-row aggregate; per-iteration "
        "contributions combine map-side before the tgt exchange",
    )

    plan = plan_of(negative_samples(staged_edges))
    check(
        "negative_samples: broadcast V, equi-join draw",
        "BroadcastNestedLoopJoin" in plan and "CartesianProduct" not in plan,
        "vocabulary size broadcasts as one row; the draw resolves "
        "through an idx equi-join, never a ring/range join",
    )

    from islamic_ner_spark.operators.graph_analytics import harmonic_centrality

    plan = plan_of(harmonic_centrality(staged_edges, max_hops=1))
    check(
        "harmonic: frontier equi-joins only",
        "CartesianProduct" not in plan
        and plan.count("HashAggregate") >= 2,
        "multi-origin BFS expands via adjacency equi-joins with "
        "partial-agg min-dist dedup; no all-pairs step",
    )

    plan = plan_of(dq.QUERIES["typo_pairs"](spark, sf_dir))
    check(
        "typo_pairs: variant-keyed blocking, no all-pairs",
        "CartesianProduct" not in plan
        and "BroadcastNestedLoopJoin" not in plan,
        "edit-distance candidates meet in the deletion-variant "
        "equi-join; the exact levenshtein runs as a post-filter, "
        "never as a join condition",
    )

    plan = plan_of(dq.QUERIES["event_session_overlap"](spark, sf_dir))
    check(
        "interval_join: bucket equi-join, no nested loop",
        "BroadcastNestedLoopJoin" not in plan
        and "CartesianProduct" not in plan
        and ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
             or "BroadcastHashJoin" in plan),
        "containment compiles to the bucket-id equi-join + post-filter, "
        "never Spark's nested-loop rendering of the range predicate",
    )

    # -- bucketed publish layer: co-located node/edge join ---------------
    import tempfile

    from islamic_ner_spark.sources.bucketed import (
        expand_neighbors,
        publish_graph_tables,
    )

    nodes_df = dq.QUERIES["kg_nodes"](spark, sf_dir)
    edges_df = dq.QUERIES["kg_edges"](spark, sf_dir)
    with tempfile.TemporaryDirectory() as tdir:
        nt, et = publish_graph_tables(
            spark, nodes_df, edges_df, tdir, prefix="audit"
        )
        old_thresholds = (
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
            spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None),
        )
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
            plan = plan_of(expand_neighbors(spark, nt, et))
            check(
                "bucketed publish: exchange-free co-located join",
                "Exchange" not in plan
                and "SortMergeJoin" in plan
                and plan.count("Bucketed: true") == 2,
                "nodes(key) x edges(src_key) sort-merge over matching "
                "bucket layouts, zero shuffle in the serving hot loop",
            )
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", old_thresholds[0]
            )
            if old_thresholds[1] is not None:
                spark.conf.set(
                    "spark.sql.adaptive.autoBroadcastJoinThreshold",
                    old_thresholds[1],
                )
            spark.sql(f"DROP TABLE IF EXISTS {nt}")
            spark.sql(f"DROP TABLE IF EXISTS {et}")

    print()
    if FAILURES:
        print(f"PLAN AUDIT FAILED: {FAILURES}")
        return 1
    print("plan audit passed: every claimed plan property holds")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
