"""Entity resolution scoring — stateless core of the linking stage.

Parity target: ``EntityResolver`` (/root/reference/src/graph/entity_resolver.py).
Match ladder per mention (text, type):

1. exact   — normalized text found in the gazetteer's (variant, type) map;
             confidence 1.0 (entity_resolver.py:34-42)
2. fuzzy   — best difflib.SequenceMatcher ratio against every same-type
             canonical and its variants; accept >= 0.8; confidence is the
             ratio rounded to 4dp (entity_resolver.py:70-100)
3. new     — canonical = own normalized text, confidence 0.5
             (entity_resolver.py:55-68)

The reference's resolver is stateful: a "new" entity is added to the
candidate pool so *later* mentions can fuzzy-match it — a sequential,
order-dependent behavior that cannot (and should not) be reproduced in a
parallel engine.  The distributed replacement is joint canonicalization of
all unmatched mentions via blocking + pairwise similarity + connected
components (see operators/linking.py + operators/components.py); the
reference's own tests never exercise the stateful path
(tests/test_graph.py:277-319 uses gazetteer-known or singleton-new
mentions only), so fixture parity is preserved.

Filter, then verify.  Every SequenceMatcher in the engine is built in
this module, behind one vectorized bound: difflib's ``quick_ratio``,
``2 * sum(min(count_a, count_b)) / (len_a + len_b)`` over the two
strings' code-point counts, never less than ``ratio()``.  numpy computes
it for a whole batch of pairs (:func:`_reaches_threshold`, the same
float64 arithmetic as difflib's ``_calculate_ratio``), so a pair it drops
is one ``ratio() >= FUZZY_THRESHOLD`` would have rejected too, and only
the survivors reach SequenceMatcher.  The two batch scorers,
:func:`resolve_strings` (exact and fuzzy rungs) and :func:`similar_pairs`
(the "new" strings' pairs), are what both resolution ladders call
(operators/linking.py), so the driver ladder and the distributed one
cannot drift apart.
"""

from __future__ import annotations

import threading
import weakref
from difflib import SequenceMatcher
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

import numpy as np

from islamic_ner_spark.functions.normalize import normalize
from islamic_ner_spark.sources.gazetteer import Gazetteer

FUZZY_THRESHOLD = 0.8

# one bound chunk gathers at most this many int32 count cells (8 MB), so
# a MAX_BLOCK_SIZE block's ~500k pairs never build one ~100 MB temporary
_BOUND_CELLS = 1 << 21


def similarity_ratio(a: str, b: str) -> float:
    """difflib SequenceMatcher ratio — the reference's fuzzy metric."""
    return SequenceMatcher(None, a, b).ratio()


def fuzzy_match(a: str, b: str) -> bool:
    """``similarity_ratio(a, b) >= FUZZY_THRESHOLD`` for one pair, with no
    bound at all; batches go through :func:`similar_pairs`, whose bound
    drops only pairs this rejects too."""
    return similarity_ratio(a, b) >= FUZZY_THRESHOLD


def char_counts(texts: Sequence[str]) -> Tuple[np.ndarray, np.ndarray]:
    """``(counts, lengths)`` for ``texts``: ``counts[i, c]`` is how often
    the texts' ``c``-th distinct code point occurs in ``texts[i]`` and
    ``lengths[i]`` is ``len(texts[i])``, both as difflib counts them.
    No per-character Python loop: one UTF-32 buffer, ``np.unique`` and
    ``np.add.at``."""
    lengths = np.fromiter(map(len, texts), dtype=np.int64, count=len(texts))
    points = np.frombuffer(
        "".join(texts).encode("utf-32-le", "surrogatepass"), dtype="<u4"
    )
    alphabet, cols = np.unique(points, return_inverse=True)
    counts = np.zeros((len(texts), len(alphabet)), dtype=np.int32)
    np.add.at(counts, (np.repeat(np.arange(len(texts)), lengths), cols), 1)
    return counts, lengths


def _reaches_threshold(
    counts_a: np.ndarray, lengths_a: np.ndarray,
    counts_b: np.ndarray, lengths_b: np.ndarray,
) -> np.ndarray:
    """Per broadcast pair of count rows (the alphabet is the last axis):
    does ``quick_ratio`` reach ``FUZZY_THRESHOLD``?  The same float64
    ``2.0 * matches / length`` as difflib's ``_calculate_ratio`` (1.0 for
    two empty strings), so the comparison is exact, not approximate."""
    common = np.minimum(counts_a, counts_b).sum(axis=-1)
    total = lengths_a + lengths_b
    ratio = np.ones(common.shape)
    np.divide(2.0 * common, total, out=ratio, where=total > 0)
    return ratio >= FUZZY_THRESHOLD


def _row_chunks(n_rows: int, cells_per_row: int) -> Iterable[slice]:
    """Row slices of at most ``_BOUND_CELLS`` count cells each."""
    step = max(1, _BOUND_CELLS // max(1, cells_per_row))
    return (slice(lo, lo + step) for lo in range(0, n_rows, step))


def similar_pairs(
    texts: Sequence[str], candidates: Iterable[Tuple[np.ndarray, np.ndarray]]
) -> List[Tuple[int, int]]:
    """Index pairs ``(a, b)`` whose ``ratio(texts[a], texts[b]) >=
    FUZZY_THRESHOLD``, from ``candidates``: chunks of two aligned index
    arrays (a block's pairs, or a batch of pairs).

    ``ratio`` depends on argument order, so each pair keeps the order it
    came in.  The bound runs over each chunk in row slices of
    ``_BOUND_CELLS``; a pair that arrives in several chunks (it shares
    several blocks) is verified once.  Survivors are verified grouped by
    ``b``, whose text is indexed once as the matcher's ``seq2``."""
    counts, lengths = char_counts(texts)
    survivors = set()
    for a, b in candidates:
        for rows in _row_chunks(len(a), counts.shape[1]):
            ia, ib = a[rows], b[rows]
            keep = _reaches_threshold(counts[ia], lengths[ia], counts[ib], lengths[ib])
            survivors.update(zip(ia[keep].tolist(), ib[keep].tolist()))
    matcher = SequenceMatcher(None)
    similar = []
    seq2 = None
    for a, b in sorted(survivors, key=lambda pair: (pair[1], pair[0])):
        if b != seq2:
            matcher.set_seq2(texts[b])
            seq2 = b
        matcher.set_seq1(texts[a])
        # the bound passed, and real_quick_ratio() >= quick_ratio(), so
        # only ratio() is left to check
        if matcher.ratio() >= FUZZY_THRESHOLD:
            similar.append((a, b))
    return similar


# per-thread (a matcher's seq1 is mutable state), per-gazetteer cache of
# the fuzzy candidates; a Gazetteer is never mutated after construction
_candidate_cache = threading.local()


def _fuzzy_candidates(
    gazetteer: Gazetteer, entity_type: str
) -> List[Tuple[str, List[SequenceMatcher]]]:
    """Same-type (canonical, matchers) in gazetteer insertion order.

    Each distinct candidate string (the canonical and its variants) gets
    one ``SequenceMatcher`` with the candidate as ``seq2``: its index and
    character counts are built once per gazetteer, and scoring a string
    only swaps ``seq1`` — the same ``ratio(norm_text, candidate)`` as
    :func:`similarity_ratio`."""
    cache = getattr(_candidate_cache, "by_gazetteer", None)
    if cache is None:
        cache = _candidate_cache.by_gazetteer = weakref.WeakKeyDictionary()
    by_type = cache.get(gazetteer)
    if by_type is None:
        by_type = {}
        for canonical, meta in gazetteer.entity_metadata.items():
            strings = dict.fromkeys(
                [canonical, *(str(v) for v in meta.get("variants", ()))]  # type: ignore[union-attr]
            )
            by_type.setdefault(str(meta.get("type")), []).append(
                (canonical, [SequenceMatcher(None, "", s) for s in strings])
            )
        cache[gazetteer] = by_type
    return by_type.get(entity_type, [])


def best_fuzzy_candidate(
    norm_text: str, entity_type: str, gazetteer: Gazetteer
) -> Optional[Tuple[str, float]]:
    """Best same-type canonical by max ratio over canonical + variants,
    for one string (the verify step of :func:`best_fuzzy_candidates`).

    Ties keep the earliest canonical in gazetteer insertion order, matching
    the reference's ``max()`` over an insertion-ordered candidate list.

    A candidate string is skipped when one of difflib's exact upper bounds
    (``real_quick_ratio() >= quick_ratio() >= ratio()``) falls below what
    its ratio would have to reach to matter: the threshold, the best
    canonical's score so far (a later canonical must beat it strictly)
    and the current canonical's score so far.  A skipped string can
    therefore never change the answer."""
    if not norm_text:
        return None
    best: Optional[Tuple[str, float]] = None
    for canonical, matchers in _fuzzy_candidates(gazetteer, entity_type):
        bar = FUZZY_THRESHOLD if best is None else best[1]
        score = -1.0
        for matcher in matchers:
            matcher.set_seq1(norm_text)
            floor = max(bar, score)
            if matcher.real_quick_ratio() < floor or matcher.quick_ratio() < floor:
                continue
            ratio = matcher.ratio()
            if ratio > score:
                score = ratio
        if score >= FUZZY_THRESHOLD and (best is None or score > best[1]):
            best = (canonical, score)
    return best


def best_fuzzy_candidates(
    norm_texts: Sequence[str], entity_type: str, gazetteer: Gazetteer
) -> List[Optional[Tuple[str, float]]]:
    """:func:`best_fuzzy_candidate` of every string in ``norm_texts``.

    One bound matrix (strings x same-type candidate strings, in row
    slices of ``_BOUND_CELLS``) first: a string none of whose candidates
    passes the bound cannot reach the threshold and is ``None`` at once;
    the rest are verified one by one, with the scalar's tie rules."""
    candidates = [matcher.b for _, matchers in _fuzzy_candidates(gazetteer, entity_type)
                  for matcher in matchers]
    counts, lengths = char_counts([*candidates, *norm_texts])
    n = len(candidates)
    reachable = np.zeros(len(norm_texts), dtype=bool)
    for rows in _row_chunks(len(norm_texts), counts[:n].size):
        texts = slice(n + rows.start, n + rows.stop)
        reachable[rows] = _reaches_threshold(
            counts[texts, None, :], lengths[texts, None], counts[:n], lengths[:n]
        ).any(axis=1)
    return [best_fuzzy_candidate(text, entity_type, gazetteer) if hit else None
            for text, hit in zip(norm_texts, reachable.tolist())]


def resolve_strings(
    strings: Iterable[Tuple[Optional[str], str]], gazetteer: Gazetteer
) -> List[Tuple[str, Optional[str], float, str]]:
    """Each ``(text, entity_type)`` up the exact -> fuzzy -> new ladder:
    ``(norm_text, canonical_name, confidence, match_type)`` per string,
    in input order.  The fuzzy rung scores all of a type's exact misses
    in one :func:`best_fuzzy_candidates` batch.

    A "new" string has no canonical here (``None``): the batch pipeline
    picks it jointly over all new strings (operators/linking.py), the
    single-mention resolver takes the string's own normal form."""
    rows: List[Tuple[str, Optional[str], float, str]] = []
    misses: Dict[str, List[int]] = {}
    for text, entity_type in strings:
        norm_text = normalize(text or "")
        canonical = gazetteer.canonical_map.get((norm_text, entity_type))
        if canonical is not None:
            rows.append((norm_text, canonical, 1.0, "exact"))
        else:
            misses.setdefault(entity_type, []).append(len(rows))
            rows.append((norm_text, None, 0.5, "new"))
    for entity_type, positions in misses.items():
        best = best_fuzzy_candidates([rows[i][0] for i in positions], entity_type, gazetteer)
        for i, fuzzy in zip(positions, best):
            if fuzzy is not None:
                rows[i] = (rows[i][0], fuzzy[0], round(fuzzy[1], 4), "fuzzy")
    return rows


def resolve_string(
    text: Optional[str], entity_type: str, gazetteer: Gazetteer
) -> Tuple[str, Optional[str], float, str]:
    """One string up the ladder: :func:`resolve_strings` of one row."""
    return resolve_strings([(text, entity_type)], gazetteer)[0]


def resolve_mention(text: str, entity_type: str, gazetteer: Gazetteer) -> Dict[str, object]:
    """Stateless exact/fuzzy/new resolution of one mention."""
    norm_type = str(entity_type or "").upper()
    norm_text, canonical, confidence, match_type = resolve_string(
        text, norm_type, gazetteer
    )
    return {
        "canonical_name": norm_text if canonical is None else canonical,
        "original_text": text,
        "entity_type": norm_type,
        "confidence": confidence,
        "match_type": match_type,
    }
