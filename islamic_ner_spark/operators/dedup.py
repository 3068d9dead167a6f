"""Document deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Training-data-pipeline operators over a ``documents(doc_id, text)``-shaped
table.  Scale shape:

* signatures are computed in numpy inside Arrow batches (one pass, narrow);
* candidate generation is an equi-join on LSH band buckets / SimHash bands
  — never an all-pairs comparison;
* verification (exact Jaccard / Hamming) runs only on bucket-collision
  pairs, again Arrow-batched;
* duplicate groups come from connected components over verified pairs
  (size-adaptive local/distributed, operators/components.py).

All hashing is blake2b-based and fully deterministic across processes
(no PYTHONHASHSEED dependence), so results are partitioning-invariant.
"""

from __future__ import annotations

import hashlib
from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from islamic_ner_spark.operators.capping import (
    MAX_BUCKET_SIZE,
    bucket_self_join,
    cap_buckets,
    log_candidate_stats,
)
from islamic_ner_spark.operators.components import pair_groups
from islamic_ner_spark.operators.materialize import cache, owned

_MERSENNE_PRIME = (1 << 61) - 1
_MAX_HASH = (1 << 32) - 1


def _stable_hash64(token: str) -> int:
    return int.from_bytes(hashlib.blake2b(token.encode("utf-8"), digest_size=8).digest(), "big")


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct k-character shingle hashes (uint64) of a document."""
    if len(text) < k:
        shingles = {text} if text else set()
    else:
        shingles = {text[i : i + k] for i in range(len(text) - k + 1)}
    if not shingles:
        return np.zeros(0, dtype=np.uint64)
    return np.fromiter(
        (_stable_hash64(s) for s in shingles), dtype=np.uint64, count=len(shingles)
    )


def _perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE_PRIME, size=num_perm, dtype=np.uint64)
    b = rng.randint(0, _MERSENNE_PRIME, size=num_perm, dtype=np.uint64)
    return a, b


def exact_duplicate_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: hash-groupBy on content (A1-shaped)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min(id_col).alias("keep_id"),
            F.array_sort(F.collect_list(id_col)).alias("members"),
        )
        .where(F.col("dup_count") > 1)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_perm: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(id, signature array<long>) via vectorized universal hashing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        a, b = _perm_params(num_perm, seed)
        for batch in batches:
            sigs: List[List[int]] = []
            for text in batch[text_col]:
                hashes = _shingle_hashes(text or "", shingle_k)
                if hashes.size == 0:
                    sigs.append([0] * num_perm)
                    continue
                # (num_perm, n) broadcast: (a*h + b) mod p, truncated to 32 bits
                values = (a[:, None] * hashes[None, :] + b[:, None]) % _MERSENNE_PRIME
                sigs.append((values.min(axis=1) & _MAX_HASH).astype(np.int64).tolist())
            yield pd.DataFrame({"id": batch[id_col], "signature": sigs})

    return df.select(id_col, text_col).mapInPandas(
        run, schema="id long, signature array<long>"
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    *,
    bands: int = 16,
    max_bucket_size: int | None = MAX_BUCKET_SIZE,
    persisted: list | None = None,
) -> DataFrame:
    """Band the signatures and equi-join on (band_id, band_hash); buckets
    above ``max_bucket_size`` are dropped with a logged warning."""
    rows_per_band = (F.size("signature") / bands).cast("int")
    banded = (
        signatures.select(
            "id",
            "signature",
            F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band_id"),
        )
        .select(
            "id",
            "band_id",
            F.md5(
                F.concat_ws(
                    ",",
                    F.slice("signature", F.col("band_id") * rows_per_band + 1, rows_per_band),
                )
            ).alias("band_hash"),
        )
    )
    keys = ["band_id", "band_hash"]
    banded = cap_buckets(banded, keys, max_bucket_size, "minhash-lsh", persisted)
    return bucket_self_join(banded, keys, "id")


def verify_jaccard_pairs(
    candidate_pairs: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_k: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate pairs (Arrow batch)."""
    texts = df.select(F.col(id_col).alias("vid"), F.col(text_col).alias("vtext"))
    with_texts = (
        candidate_pairs.join(texts, candidate_pairs["id_a"] == texts["vid"])
        .select("id_a", "id_b", F.col("vtext").alias("text_a"))
        .join(texts, F.col("id_b") == texts["vid"])
        .select("id_a", "id_b", "text_a", F.col("vtext").alias("text_b"))
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            scores = []
            for ta, tb in zip(batch["text_a"], batch["text_b"]):
                sa = set((ta or "")[i : i + shingle_k] for i in range(max(1, len(ta or "") - shingle_k + 1)))
                sb = set((tb or "")[i : i + shingle_k] for i in range(max(1, len(tb or "") - shingle_k + 1)))
                union = len(sa | sb)
                scores.append(len(sa & sb) / union if union else 0.0)
            out = batch[["id_a", "id_b"]].copy()
            out["jaccard"] = scores
            yield out

    scored = with_texts.mapInPandas(run, schema="id_a long, id_b long, jaccard double")
    return scored.where(F.col("jaccard") >= threshold)


def near_duplicate_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.8,
    seed: int = 42,
    max_bucket_size: int | None = MAX_BUCKET_SIZE,
) -> DataFrame:
    """MinHash -> LSH bands -> exact-Jaccard verify -> components.

    Returns (id, group) where group is the numeric min doc id of the
    duplicate cluster; singletons are omitted (nothing to deduplicate)."""
    sigs = minhash_signatures(
        df, id_col, text_col, num_perm=num_perm, shingle_k=shingle_k, seed=seed
    )
    # pair_groups' connected_components materializes the edge set (probe
    # collect / checkpoint), so the banded-signature and candidate caches
    # are no longer referenced after it
    with owned() as local:
        candidates = cache(lsh_candidate_pairs(
            sigs, bands=bands, max_bucket_size=max_bucket_size, persisted=local
        ), local)
        log_candidate_stats(
            "minhash-near-dup",
            n_candidates=candidates.count(),
            corpus_size=df.count(),
            extra=f"{num_perm // bands} rows x {bands} bands",
        )
        return pair_groups(verify_jaccard_pairs(
            candidates, df, id_col, text_col, shingle_k=shingle_k, threshold=threshold
        ))


def jaccard_scores(
    candidate_pairs: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    shingle_k: int = 5,
) -> DataFrame:
    """Exact shingle-Jaccard of candidate pairs as an INTEGER score
    (``jaccard_x1e6 = |A∩B| * 10^6 // |A∪B|``) — engine-exact, so an
    independent SQL implementation over the same texts produces
    bit-identical values.  Shingle semantics: distinct ``shingle_k``-char
    substrings; texts shorter than ``shingle_k`` contribute themselves
    as their only shingle (empty texts contribute nothing and score 0
    against everything)."""
    texts = df.select(F.col(id_col).alias("vid"), F.col(text_col).alias("vtext"))
    with_texts = (
        candidate_pairs.join(texts, candidate_pairs["id_a"] == texts["vid"])
        .select("id_a", "id_b", F.col("vtext").alias("text_a"))
        .join(texts, F.col("id_b") == texts["vid"])
        .select("id_a", "id_b", "text_a", F.col("vtext").alias("text_b"))
    )

    def shingles(text: str) -> set:
        text = text or ""
        if not text:
            return set()
        if len(text) < shingle_k:
            return {text}
        return {text[i : i + shingle_k] for i in range(len(text) - shingle_k + 1)}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            scores = []
            for ta, tb in zip(batch["text_a"], batch["text_b"]):
                sa, sb = shingles(ta), shingles(tb)
                union = len(sa | sb)
                scores.append(len(sa & sb) * 1_000_000 // union if union else 0)
            out = batch[["id_a", "id_b"]].copy()
            out["jaccard_x1e6"] = scores
            yield out

    return with_texts.mapInPandas(run, schema="id_a long, id_b long, jaccard_x1e6 long")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash over whitespace tokens (weighted bit vote)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bit_positions = np.arange(64, dtype=np.uint64)
        for batch in batches:
            out = []
            for text in batch[text_col]:
                tokens = (text or "").split()
                if not tokens:
                    out.append(0)
                    continue
                votes = np.zeros(64, dtype=np.int64)
                for token in tokens:
                    h = np.uint64(_stable_hash64(token))
                    bits = (h >> bit_positions) & np.uint64(1)
                    votes += np.where(bits == 1, 1, -1)
                sig = int(((votes > 0).astype(np.uint64) << bit_positions).sum())
                # store as signed 64-bit for Spark LongType
                out.append(sig - (1 << 64) if sig >= (1 << 63) else sig)
            yield pd.DataFrame({"id": batch[id_col], "simhash": out})

    return df.select(id_col, text_col).mapInPandas(run, schema="id long, simhash long")


def simhash_band_specs(bands: int, bits: int = 64) -> list[tuple[int, int]]:
    """(shift, width) per band, splitting ``bits`` into near-equal bands.

    With ``bands = max_hamming + 1`` the pigeonhole principle guarantees
    any pair within the Hamming budget agrees on at least one full band —
    i.e. recall 1.0 at the candidate-generation stage.
    """
    widths = [bits // bands + (1 if i < bits % bands else 0) for i in range(bands)]
    specs, shift = [], 0
    for width in widths:
        specs.append((shift, width))
        shift += width
    return specs


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    max_hamming: int = 3,
    bands: int | None = None,
    max_bucket_size: int | None = MAX_BUCKET_SIZE,
    persisted: list | None = None,
) -> DataFrame:
    """Candidate pairs via SimHash band buckets, verified exactly.

    ``bands`` defaults to ``max_hamming + 1`` so the band agreement
    guarantee (pigeonhole) covers the full Hamming budget — no silent
    recall loss; fewer bands trade recall for fewer candidates."""
    if bands is None:
        bands = max_hamming + 1
    sigs = simhash_signatures(df, id_col, text_col)
    return simhash_pairs_from_signatures(
        sigs, max_hamming=max_hamming, bands=bands, max_bucket_size=max_bucket_size,
        persisted=persisted,
    )


def simhash_pairs_from_signatures(
    sigs: DataFrame,
    *,
    max_hamming: int = 3,
    bands: int | None = None,
    max_bucket_size: int | None = MAX_BUCKET_SIZE,
    persisted: list | None = None,
) -> DataFrame:
    """Band-bucket candidate join + exact Hamming verify over a
    precomputed ``(id, simhash)`` signature table — the relational tail
    of :func:`simhash_near_duplicates` (replayable by a SQL oracle)."""
    if bands is None:
        bands = max_hamming + 1
    banded = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftrightunsigned("simhash", shift)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("band_value"),
                    )
                    for i, (shift, width) in enumerate(simhash_band_specs(bands))
                ]
            )
        ).alias("band"),
    ).select("id", "simhash", "band.band_id", "band.band_value")
    keys = ["band_id", "band_value"]
    banded = cap_buckets(banded, keys, max_bucket_size, "simhash", persisted)
    pairs = bucket_self_join(banded, keys, "id", carry=("simhash",))
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def duplicated_passages(
    docs: DataFrame,
    width: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact cross-document substring (passage) duplication profile.

    The document-level dedup family above treats a document as one
    unit; training corpora also need the finer measure — passages
    (boilerplate, quoted chains, licence blocks) repeated VERBATIM
    across otherwise-distinct documents (the suffix-array substring
    dedup of Lee et al., "Deduplicating Training Data Makes Language
    Models Better", approximated at fixed granularity).  A word
    ``width``-gram window slides over each document; a window is
    duplicated when its exact text occurs in >= 2 DISTINCT documents.

    Returns one row per document: total window count, duplicated
    window count, and the x1000 integer fraction — everything
    integer/string-exact, so the driver's DuckDB oracle recomputes the
    same profile from scratch.

    Scale shape: explode is narrow; the distinct on (shingle, doc) and
    the shingle-frequency agg are one shuffle each keyed on the shingle
    hash (uniform by construction); the flag join back to windows is a
    plain equi-join — no all-pairs step anywhere, same discipline as
    the MinHash path above.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    sh = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.when(
                F.size(words) >= width,
                F.expr(
                    f"transform(sequence(1, size(split(trim({text_col}), '\\\\s+')) - {width} + 1),"
                    f" i -> concat_ws(' ', slice(split(trim({text_col}), '\\\\s+'), i, {width})))"
                ),
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("wins"),
        )
        .select("doc_id", F.explode_outer("wins").alias("w"))
        .select("doc_id", F.md5("w").alias("h"))
    )
    windows = sh.where(F.col("h").isNotNull())
    dup_shingles = (
        windows.distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .where(F.col("ndocs") >= 2)
        .select("h")
    )
    flagged = windows.join(
        dup_shingles.withColumn("dup", F.lit(1)), "h", "left"
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.coalesce("dup", F.lit(0))).alias("n_dup_windows"),
    )
    all_docs = docs.select(F.col(id_col).alias("doc_id"))
    return (
        all_docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.when(
                F.coalesce("n_windows", F.lit(0)) > 0,
                F.expr("(coalesce(n_dup_windows, 0L) * 1000) div n_windows"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("dup_frac_x1000"),
        )
    )


def typo_pairs(docs: DataFrame, max_dist: int = 2) -> DataFrame:
    """Vocabulary typo clustering: every pair of distinct corpus words
    within Levenshtein distance ``max_dist`` (currently 1 or 2) — the
    step a corpus-cleaning pipeline runs before token normalization to
    find OCR noise and misspellings.

    Scale decomposition (SymSpell-style symmetric-delete blocking):
    a naive formulation is an all-pairs levenshtein join, O(V^2) over
    the vocabulary.  Instead each distinct word generates its deletion
    neighborhood (all variants obtainable by deleting <= max_dist
    characters: <= 1 + L + C(L,2) variants per word); two words within
    edit distance k ALWAYS share such a variant (take any <= k-op
    alignment and delete from each side the non-matched positions —
    both collapse to the common matched subsequence), so blocking on
    the variant string is recall-complete, and the exact
    ``F.levenshtein`` (JVM-side, no Python) filter on the blocked
    candidates removes false positives.  Everything is
    vocabulary-sized: one corpus exchange for the distinct words, a
    variant explode, a variant-keyed self-join, and the filter.

    Correctness note: the driver oracle recomputes the GROUND TRUTH as
    the naive all-pairs join in DuckDB, so the hash comparison is a
    differential proof that the deletion blocking lost no pair (ASCII
    vocabulary — DuckDB's levenshtein counts bytes, Spark's counts
    characters; they coincide exactly on single-byte text).

    Returns (w_a, w_b, dist) with w_a < w_b.
    """
    if max_dist not in (1, 2):
        raise ValueError(f"typo_pairs supports max_dist 1 or 2, got {max_dist}")
    words = (
        docs.select(
            F.explode(F.split(F.trim("text"), r"\s+")).alias("word")
        )
        .where(F.length("word") > 0)
        .distinct()
    )
    del1 = (
        "transform(sequence(1, length(word)), i -> "
        "concat(substring(word, 1, i - 1), "
        "substring(word, i + 1, length(word))))"
    )
    if max_dist == 1:
        variants = f"array_distinct(concat(array(word), {del1}))"
    else:
        # delete positions i < j: w[1..i-1] + w[i+1..j-1] + w[j+1..];
        # the (i, j) grid guards len >= 2 (sequence() would descend on
        # an empty range otherwise)
        del2 = (
            "case when length(word) >= 2 then "
            "flatten(transform(sequence(1, length(word) - 1), i -> "
            "transform(sequence(i + 1, length(word)), j -> "
            "concat(substring(word, 1, i - 1), "
            "substring(word, i + 1, j - i - 1), "
            "substring(word, j + 1, length(word)))))) "
            "else array() end"
        )
        variants = (
            f"array_distinct(concat(array(word), {del1}, {del2}))"
        )
    exploded = words.select(
        "word", F.explode(F.expr(variants)).alias("v")
    )
    cand = bucket_self_join(exploded, ["v"], "word")
    return cand.select(
        F.col("id_a").alias("w_a"),
        F.col("id_b").alias("w_b"),
        F.levenshtein("id_a", "id_b").cast("long").alias("dist"),
    ).where(F.col("dist") <= max_dist)
