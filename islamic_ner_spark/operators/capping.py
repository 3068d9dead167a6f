"""Bucket/block capping with dropped-work observability.

Every path that bounds quadratic candidate generation — MinHash LSH
bands (operators/dedup.py), SimHash bands (same), hyperplane-LSH bands
(operators/similarity.py), token blocking for new-entity resolution
(operators/linking.py) — runs through :func:`cap_buckets`, so every
build emits the same evidence when it drops work: one WARNING naming
the path, how many buckets were dropped, and the largest offenders.
No silent caps anywhere.

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

log = logging.getLogger("islamic_ner_spark.capping")

# Bounded registry for caches nobody tracks (callers that pass no
# ``persisted`` list, e.g. the driver query catalog): the newest few
# inputs stay cached so the overflow-report job, the window-cap plan,
# and the downstream candidate join all reuse ONE kernel run, while the
# oldest entries are explicitly unpersisted — a loop over the catalog
# holds at most ``_AUTO_CACHE_LIMIT`` kernels in memory instead of
# leaking until Spark's LRU notices.
_AUTO_CACHE_LIMIT = 4
_auto_cached: list[DataFrame] = []


def cap_buckets(
    banded: DataFrame,
    key_cols: list[str],
    max_bucket_size: int | None,
    what: str,
    persisted: list | None = None,
) -> DataFrame:
    """Drop (and log) over-capacity buckets/blocks from ``banded``.

    ``banded`` is always cached — the overflow check, the window-cap
    plan, and the downstream candidate self-join would otherwise each
    re-run the (expensive) kernel that produced it.  When ``persisted``
    (a list) is given the cache is appended to it and the caller owns
    the ``unpersist()``; otherwise it lands in a bounded module-level
    registry that unpersists the oldest entries as new ones arrive.
    """
    if max_bucket_size is None:
        return banded
    banded = banded.persist()
    if persisted is not None:
        persisted.append(banded)
    else:
        _auto_cached.append(banded)
        while len(_auto_cached) > _AUTO_CACHE_LIMIT:
            evicted = _auto_cached.pop(0)
            try:
                evicted.unpersist()
            except Exception:  # entry may belong to a stopped SparkContext
                pass

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
