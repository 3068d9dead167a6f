"""Dataset statistics and training-set shaping (A7-A10, P12, E2).

Parity targets: label-distribution / entity-count reporting
(generate_silver_data.py:261-292), training filters (:294-299),
seeded split (:545-561), class-target oversampling
(boost_silver_data.py:355-422), and the gold-annotation BIO validity
workflow (gold_annotation.py:153-210) as a distributed scan.
"""

from __future__ import annotations

from typing import Dict, List, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from islamic_ner_spark.operators.materialize import materialize


def label_distribution(annotated: DataFrame, labels_col: str = "labels") -> DataFrame:
    """Per-label share of all tokens, % rounded to 3dp (A7)."""
    exploded = annotated.select(F.explode(labels_col).alias("label"))
    counts = exploded.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(Window.partitionBy())
    return counts.select(
        "label", "n", F.round(F.col("n") * 100.0 / total, 3).alias("pct")
    ).orderBy("label")


def entity_type_counts(annotated: DataFrame, labels_col: str = "labels") -> DataFrame:
    """B- tag counts per entity type (A7)."""
    return (
        annotated.select(F.explode(labels_col).alias("label"))
        .where(F.col("label").startswith("B-"))
        .select(F.substring("label", 3, 100).alias("entity_type"))
        .groupBy("entity_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("entity_type")
    )


def training_filter(
    annotated: DataFrame,
    tokens_col: str = "tokens",
    labels_col: str = "labels",
    *,
    min_tokens: int = 5,
    max_tokens: int = 128,
) -> DataFrame:
    """Keep rows with min<=len(tokens)<=max and >=1 B- label (P12)."""
    n_entities = F.size(
        F.filter(labels_col, lambda label: label.startswith("B-"))
    )
    return annotated.where(
        F.size(tokens_col).between(min_tokens, max_tokens) & (n_entities > 0)
    )


def validate_bio_dataset(
    df: DataFrame,
    *,
    tokens_col: str = "tokens",
    labels_col: str = "labels",
) -> DataFrame:
    """Per-record BIO validity errors as a distributed scan — the
    reference's gold-annotation validation workflow
    (gold_annotation.py:153-210) without the driver-side JSON loop.

    Emits only invalid records, each with an ``bio_errors`` array whose
    messages mirror the reference's: unknown tags, I- continuations
    without a same-type B/I predecessor (an invalid predecessor resets
    the state to O, exactly like validate_bio_sequence), and token/tag
    length mismatches.  Pure column expressions — whole-stage codegen,
    no Python in the scan.
    """
    from islamic_ner_spark.functions.annotate import ENTITY_TYPES

    tag_pattern = "^(B|I)-(" + "|".join(sorted(ENTITY_TYPES)) + ")$"
    labels = F.col(labels_col)

    def is_valid(tag):
        return (tag == "O") | tag.rlike(tag_pattern)

    def err_at(i):
        tag = F.element_at(labels, i + 1)
        prev_raw = F.when(i > 0, F.element_at(labels, i)).otherwise(F.lit("START"))
        # an invalid (or absent) predecessor resets the state machine to O
        prev_eff = F.when(
            (i > 0) & is_valid(F.element_at(labels, i)), F.element_at(labels, i)
        ).otherwise(F.lit("O"))
        bad_continuation = tag.startswith("I-") & (
            (prev_eff == "O")
            | (F.substring_index(prev_eff, "-", -1) != F.substring_index(tag, "-", -1))
        )
        return (
            F.when(
                ~is_valid(tag),
                F.format_string("invalid tag '%s' at token_index=%d", tag, i),
            )
            .when(
                bad_continuation,
                F.format_string(
                    "invalid I- continuation '%s' at token_index=%d; "
                    "previous tag was '%s'",
                    tag, i, prev_raw,
                ),
            )
        )

    indices = F.sequence(F.lit(0), F.size(labels) - F.lit(1))
    tag_errors = F.filter(
        F.transform(indices, err_at), lambda e: e.isNotNull()
    )
    mismatch = F.size(tokens_col) != F.size(labels)
    errors = F.when(
        mismatch,
        F.array(
            F.format_string(
                "token/tag length mismatch: %d tokens vs %d tags",
                F.size(tokens_col), F.size(labels),
            )
        ),
    ).otherwise(F.when(F.size(labels) > 0, tag_errors).otherwise(F.array().cast("array<string>")))

    return (
        df.withColumn("bio_errors", errors)
        .where(F.size("bio_errors") > 0)
        .withColumn("n_errors", F.size("bio_errors"))
    )


def seeded_split(
    df: DataFrame, weights: Sequence[float] = (0.8, 0.1, 0.1), seed: int = 42
) -> List[DataFrame]:
    """Deterministic train/dev/test split (A9)."""
    return df.randomSplit(list(weights), seed=seed)


def oversample_to_targets(
    train: DataFrame,
    targets: Dict[str, int],
    *,
    labels_col: str = "labels",
    seed: int = 42,
    max_candidates: int = 2_000_000,
) -> DataFrame:
    """Class-target oversampling (A8, boost_silver_data.py:355-422).

    Distributed re-expression of the reference's driver loop: per-record
    entity yields are aggregated (small), replication multiplicities are
    computed on the driver from the aggregate (the same greedy
    yield-descending round-robin), and the replication itself is a
    distributed explode.  Deterministic under the seed.
    """
    def b_count(entity_type: str):
        # closure (not a default arg) — a 2-arg lambda would make Spark
        # pass the array index as the second parameter
        return F.size(F.filter(labels_col, lambda label: label == f"B-{entity_type}"))

    yields = train.select(
        F.monotonically_increasing_id().alias("_rid"), "*"
    ).withColumn(
        "_yield",
        F.map_from_arrays(
            F.array([F.lit(t) for t in targets]),
            F.array(*[b_count(t) for t in targets]),
        ),
    )
    # a lineage cut, not a cache: the _rid ids must be the same rows in
    # the collects below and in the replication join
    yields = materialize(yields)

    # current counts per targeted type (small aggregate)
    count_row = yields.select(
        *[
            F.sum(F.col("_yield").getItem(t)).alias(t)
            for t in targets
        ]
    ).collect()[0]
    current = {t: int(count_row[t] or 0) for t in targets}

    # candidate list per type (rid, yield) — bounded by records that
    # contain the type at all; collected because multiplicity planning is
    # a greedy sequential decision (same as the reference)
    import random

    multiplicity: Dict[int, int] = {}
    for entity_type, threshold in targets.items():
        if current[entity_type] >= threshold:
            continue
        cand_df = yields.select(
            "_rid", F.col("_yield").getItem(entity_type).alias("y")
        ).where(F.col("y") > 0)
        # the greedy multiplicity plan is a sequential driver decision
        # (mirroring the reference), so the candidate list crosses to the
        # driver — bounded: beyond max_candidates keep the highest-yield
        # records (the ones the greedy loop would pick first) and log it
        n_cand = cand_df.limit(max_candidates + 1).count()
        if n_cand > max_candidates:
            import logging

            logging.getLogger(__name__).warning(
                "oversample_to_targets(%s): capping candidate collect at "
                "%d highest-yield records (more exist)",
                entity_type, max_candidates,
            )
            cand_df = cand_df.orderBy(F.desc("y"), F.asc("_rid")).limit(max_candidates)
        # deterministic base order before the seeded shuffle — a bare
        # collect() returns partition/scheduling order, which would make
        # equal-yield tie-breaks vary run to run despite the seed
        cands = [
            (int(r["_rid"]), int(r["y"])) for r in cand_df.orderBy("_rid").collect()
        ]
        if not cands:
            continue
        rng = random.Random(seed)
        rng.shuffle(cands)
        cands.sort(key=lambda item: item[1], reverse=True)
        cursor = 0
        while current[entity_type] < threshold:
            rid, entity_yield = cands[cursor % len(cands)]
            cursor += 1
            multiplicity[rid] = multiplicity.get(rid, 0) + 1
            current[entity_type] += entity_yield

    if not multiplicity:
        return yields.drop("_rid", "_yield")

    mult_df = yields.sparkSession.createDataFrame(
        [(rid, m) for rid, m in multiplicity.items()], "_rid long, _mult int"
    )
    clones = (
        yields.join(F.broadcast(mult_df), "_rid")
        .withColumn("_copy", F.explode(F.sequence(F.lit(1), F.col("_mult"))))
        .drop("_mult", "_copy")
    )
    return yields.drop("_rid", "_yield").unionByName(clones.drop("_rid", "_yield"))


def stratified_sample(
    df: DataFrame,
    strata: Sequence[str],
    *,
    k: int,
    key_col: str,
) -> DataFrame:
    """Deterministic stratified sample: the first ``k`` rows of each
    stratum under hash order of ``key_col`` (md5 of its string form).

    Hash order makes the pick independent of physical row layout (a
    `LIMIT k` per group would change with partitioning) and unbiased
    with respect to any natural ordering of the key.  Plan shape: one
    hash exchange keyed by the strata, a per-group sort, and a rank
    filter — no collect, no sampling UDF.  Skew note: a stratum's rows
    all sort on one task; for pathological strata (one group = half the
    corpus) pre-aggregate with a salted per-salt top-k and re-rank the
    k*n_salts survivors.

    Output = the sampled rows plus ``sample_rank`` (1-based within the
    stratum).
    """
    order_key = F.md5(F.col(key_col).cast("string"))
    w = Window.partitionBy(*strata).orderBy(order_key.asc(), F.col(key_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= k)
    )


def domain_mix_sample(
    df: DataFrame,
    weights_pct: Dict[str, int],
    *,
    domain_col: str,
    key_col: str,
) -> DataFrame:
    """Deterministic downsample to a target domain mixture.

    ``weights_pct`` maps domain value -> integer percent of the output
    (summing to <= 100; domains absent from the map are dropped).  The
    output is the LARGEST corpus achievable at exactly that mixture
    without upsampling: feasible total T = min over domains of
    ``(n_d * 100) // pct_d``, and each domain contributes its first
    ``(pct_d * T) // 100`` rows under md5 hash order of ``key_col`` —
    the same layout-independent pick as :func:`stratified_sample`.  All
    arithmetic is integer-exact, so the membership is reproducible
    across engines and partitionings.

    Plan shape: one vocabulary-sized aggregation for the per-domain
    counts (collected — bounded by the number of domains, not the
    corpus), then one hash exchange keyed by ``domain_col`` for the
    rank filter.  The per-domain quota reaches the executors as a map
    literal, not a join.  Skew note: rows of one domain rank on one
    task; for a domain holding half the corpus, pre-thin with a salted
    per-salt top-quota pass first (same remedy as stratified_sample).
    """
    weights = {str(s): int(p) for s, p in weights_pct.items()}
    if not weights or any(p <= 0 for p in weights.values()):
        raise ValueError("weights_pct must be positive integer percents")
    in_mix = df.where(F.col(domain_col).isin(list(weights)))
    counts = {
        r["d"]: r["n"]
        for r in in_mix.groupBy(F.col(domain_col).alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # bounded: one row per domain in the mix
    }
    total = min((counts.get(s, 0) * 100) // p for s, p in weights.items())
    quotas = {s: (p * total) // 100 for s, p in weights.items()}
    quota_map = F.create_map(
        *[lit for s in sorted(quotas) for lit in (F.lit(s), F.lit(quotas[s]))]
    )
    order_key = F.md5(F.col(key_col).cast("string"))
    w = Window.partitionBy(domain_col).orderBy(order_key.asc(), F.col(key_col).asc())
    return (
        in_mix.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= quota_map[F.col(domain_col)])
    )


def role_transitions(transcripts: DataFrame) -> DataFrame:
    """Conversation-structure rollup over the transcript table
    (conv_id, turn_idx, role, tool, ...): counts of consecutive
    turn-state transitions, where a turn's state is its role refined
    with the tool name for tool turns (``tool:search``).  The read-side
    sanity report for agent-transcript corpora: a healthy corpus shows
    user→assistant / assistant→tool:…→assistant structure; a scrambled
    ingest shows impossible transitions (assistant→assistant floods,
    tool turns with no caller).

    Plan shape at 10^12 turns: ONE conv_id-keyed exchange feeds the lag
    window (conversations are bounded — tens of turns — so window
    partitions are tiny and skew-free), then a states²-sized aggregation
    with map-side partial combine.  ``n_convs`` is an exact
    COUNT(DISTINCT conv_id), which Spark expands into a two-phase
    aggregate keyed by (transition, conv_id) — no single reducer sees
    the corpus.  Nothing collects.
    """
    state = F.when(
        F.col("role") == "tool",
        F.concat(F.lit("tool:"), F.coalesce(F.col("tool"), F.lit("?"))),
    ).otherwise(F.col("role"))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    lagged = transcripts.select(
        "conv_id", "turn_idx", state.alias("state")
    ).withColumn("prev_state", F.lag("state").over(w))
    return (
        lagged.where(F.col("prev_state").isNotNull())
        .groupBy("prev_state", "state")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_transitions"),
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
        )
    )


def tool_call_stats(transcripts: DataFrame) -> DataFrame:
    """Per-tool usage and latency rollup over the transcript table —
    the agent-telemetry read a transcript-corpus owner runs before
    training on tool-use traces: how often each tool fires, across how
    many conversations, and how long the agent waits for it (the gap
    from the tool turn's ts to the conversation's next turn).

    Latency is integer-exact epoch-second arithmetic — last-turn tool
    calls have no follow-up and are counted (``n_calls``) but excluded
    from latency (``n_with_followup``); ``avg_latency_ms`` is the
    floor-division mean so both engines reproduce it bit-for-bit.

    Plan shape at 10^12 turns: ONE conv_id-keyed exchange feeds the
    lead window (bounded conversations, skew-free), the tool filter
    prunes to tool turns BEFORE the aggregation exchange, and the final
    rollup is tool-vocabulary-sized with map-side partial combine;
    the exact distinct-conversation count expands two-phase keyed by
    (tool, conv_id).  Nothing collects.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ts_s = F.col("ts").cast("long")
    turns = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        F.coalesce(F.col("tool"), F.lit("?")).alias("tool"),
        (F.lead(ts_s).over(w) - ts_s).alias("latency_s"),
    )
    return (
        turns.where(F.col("role") == "tool")
        .groupBy("tool")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_calls"),
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
            F.count("latency_s").cast("long").alias("n_with_followup"),
            F.coalesce(F.sum("latency_s"), F.lit(0))
            .cast("long")
            .alias("total_latency_s"),
            F.coalesce(
                F.expr("(sum(latency_s) * 1000) div count(latency_s)"),
                F.lit(0),
            )
            .cast("long")
            .alias("avg_latency_ms"),
        )
    )
