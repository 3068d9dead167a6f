"""Candidate generation for every bucketed path: capping plus the two
join shapes, each written once.

A bucketed path computes signatures, equi-joins the rows that share one,
then verifies the pairs.  The paths are MinHash LSH bands and SimHash
bands (operators/dedup.py), hyperplane-LSH bands and IVF cells
(operators/similarity.py), token blocks for new-entity resolution
(operators/linking.py), deletion variants for typo pairs (dedup.py),
and the staged driver queries that replay them (plans/driver_queries.py).
Their shared kernels:

* :func:`cap_buckets` drops over-capacity buckets, so every build emits
  the same evidence when it drops work: one WARNING naming the path, how
  many buckets were dropped, and the largest offenders.  No silent caps
  anywhere.  :data:`MAX_BUCKET_SIZE` is the one cap of the LSH paths.
* :func:`bucket_self_join` — distinct pairs ``id_a < id_b`` of rows that
  share a bucket, carrying chosen columns from each side.  Callers:
  ``dedup.lsh_candidate_pairs``, ``dedup.simhash_pairs_from_signatures``
  (carries ``simhash``), ``dedup.typo_pairs`` (uncapped),
  ``similarity.embedding_candidate_pairs`` and ``linking.new_pair_edges``
  (carries ``norm_text``).
* :func:`probe_join` — query probes against an index on the bucket key,
  distinct ``(qid, vid)`` with ``qid != vid``.  Callers:
  ``similarity.lsh_topk``, ``similarity.ivf_topk`` and the driver
  queries ``q_ann_lsh_topk`` / ``q_ivf_topk``.
* The verified pairs' tail, ``(id_a, id_b)`` -> connected components ->
  ``(id, group)``, is ``components.pair_groups``.  Callers:
  ``dedup.near_duplicate_groups``, ``similarity.embedding_near_duplicates``
  and the driver queries ``q_neardup_minhash``, ``q_neardup_embedding``
  and ``q_corpus_curation``.

:func:`log_candidate_stats` is the companion visibility hook: one INFO
line per build reporting candidate-pair volume against corpus size, so
an LSH parameterization that fails to prune (the round-2 verdict's
2-4-bit band defect) is self-evident in the logs instead of only in a
plan audit.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from islamic_ner_spark.operators.materialize import cache

log = logging.getLogger("islamic_ner_spark.capping")

# a band bucket larger than this is dropped from candidate generation
# (and logged): degenerate buckets — e.g. thousands of empty/near-empty
# docs sharing one signature — would otherwise go quadratic within the
# bucket.  Real near-dup clusters this large are still found through
# their other (b-1) bands unless ALL their buckets are degenerate.
MAX_BUCKET_SIZE = 5_000


def cap_buckets(
    banded: DataFrame,
    key_cols: list[str],
    max_bucket_size: int | None,
    what: str,
    persisted: list | None = None,
) -> DataFrame:
    """Drop (and log) over-capacity buckets/blocks from ``banded``.

    With a ``persisted`` owner, ``banded`` is cached into it
    (operators/materialize.cache), so the overflow check, the window-cap
    plan and the downstream candidate self-join read one run of the
    kernel that produced it; the caller releases it.  With no owner
    nothing is cached and each of them re-reads ``banded`` — the
    callers that pass none (the staged driver queries and stages) feed
    it a parquet scan.
    """
    if max_bucket_size is None:
        return banded
    banded = cache(banded, persisted)

    bucket_w = Window.partitionBy(*key_cols)
    capped = banded.withColumn(
        "_bucket_n", F.count(F.lit(1)).over(bucket_w)
    ).where(F.col("_bucket_n") <= max_bucket_size).drop("_bucket_n")

    # ONE driver job: top over-capacity buckets (len>5 => "more exist")
    hot_rows = (
        banded.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("_bucket_n"))
        .where(F.col("_bucket_n") > max_bucket_size)
        # ties by key, so the list is the same on every run and matches
        # the driver resolution ladder's (operators/linking.py)
        .orderBy(F.desc("_bucket_n"), *key_cols)
        .take(6)
    )
    warn_dropped(
        what,
        [tuple(r[c] for c in key_cols) + (r["_bucket_n"],) for r in hot_rows],
        max_bucket_size,
    )
    return capped


def bucket_self_join(
    banded: DataFrame,
    key_cols: list[str],
    id_col: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct ``(id_a, id_b, <c>_a, <c>_b ...)`` pairs, ``id_a < id_b``,
    of the ``banded`` rows that share the bucket ``key_cols``; each
    column ``c`` in ``carry`` comes from both sides.  An equi-join on
    the bucket key (the id order is a join filter), never all-pairs; a
    pair that shares several buckets is emitted once."""

    def side(s: str) -> DataFrame:
        return banded.select(
            *key_cols,
            F.col(id_col).alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )

    return (
        side("a").join(side("b"), list(key_cols))
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *[f"{c}_{s}" for c in carry for s in "ab"])
        .distinct()
    )


def probe_join(probes: DataFrame, index: DataFrame, key_cols: list[str]) -> DataFrame:
    """Distinct candidate ``(qid, vid)`` pairs, ``qid != vid``: the query
    ``probes(vid, *key_cols)`` (their ``vid`` is the query id ``qid``)
    equi-joined to ``index(vid, *key_cols)`` on the bucket key."""
    return (
        probes.select(F.col("vid").alias("qid"), *key_cols)
        .join(index.select("vid", *key_cols), list(key_cols))
        .where(F.col("qid") != F.col("vid"))
        .select("qid", "vid")
        .distinct()
    )


def warn_dropped(what: str, hot: list[tuple], max_bucket_size: int) -> None:
    """The one WARNING for dropped buckets.  ``hot`` lists the
    over-capacity buckets largest first (ties by key), each a key tuple
    ending in its member count; six or more read as ">=6" (more exist)."""
    if hot:
        log.warning(
            "%s: dropped %s%d over-capacity bucket(s) (> %d members) from "
            "candidate generation; largest: %s",
            what,
            ">=" if len(hot) > 5 else "",
            len(hot[:6]),
            max_bucket_size,
            hot[:5],
        )


def log_candidate_stats(
    what: str,
    *,
    n_candidates: int,
    corpus_size: int,
    extra: str = "",
) -> None:
    """One INFO line per build: candidate volume vs corpus size.

    ``pairs/doc`` is the number a reader compares against the corpus
    size: for a pruning LSH it should stay roughly constant as the
    corpus grows; if it tracks the corpus size, candidate generation
    has gone quadratic.
    """
    per_doc = n_candidates / corpus_size if corpus_size else 0.0
    log.info(
        "%s: %d candidate pairs over corpus of %d (%.1f pairs/doc)%s",
        what, n_candidates, corpus_size, per_doc,
        f" [{extra}]" if extra else "",
    )
