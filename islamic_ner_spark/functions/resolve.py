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
"""

from __future__ import annotations

import threading
import weakref
from difflib import SequenceMatcher
from typing import Dict, List, Optional, Tuple

from islamic_ner_spark.functions.normalize import normalize
from islamic_ner_spark.sources.gazetteer import Gazetteer

FUZZY_THRESHOLD = 0.8


def similarity_ratio(a: str, b: str) -> float:
    """difflib SequenceMatcher ratio — the reference's fuzzy metric."""
    return SequenceMatcher(None, a, b).ratio()


def fuzzy_match(a: str, b: str) -> bool:
    """``similarity_ratio(a, b) >= FUZZY_THRESHOLD``."""
    return matcher_passes(SequenceMatcher(None, a, b))


def matcher_passes(matcher: SequenceMatcher) -> bool:
    """``matcher.ratio() >= FUZZY_THRESHOLD``; the full ratio is computed
    only when difflib's exact upper bounds
    (``real_quick_ratio() >= quick_ratio() >= ratio()``) reach the
    threshold.  A caller scoring one string against many keeps it as
    ``seq2`` (indexed once) and swaps ``seq1``."""
    return (
        matcher.real_quick_ratio() >= FUZZY_THRESHOLD
        and matcher.quick_ratio() >= FUZZY_THRESHOLD
        and matcher.ratio() >= FUZZY_THRESHOLD
    )


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
    """Best same-type canonical by max ratio over canonical + variants.

    Ties keep the earliest canonical in gazetteer insertion order, matching
    the reference's ``max()`` over an insertion-ordered candidate list.

    A candidate string is skipped when one of difflib's exact upper bounds
    (as in :func:`fuzzy_match`) falls below what its ratio would have to
    reach to matter: the threshold, the best canonical's score so far (a
    later canonical must beat it strictly) and the current canonical's
    score so far.  A skipped string can therefore never change the
    answer."""
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


def resolve_string(
    text: Optional[str], entity_type: str, gazetteer: Gazetteer
) -> Tuple[str, Optional[str], float, str]:
    """One string up the exact -> fuzzy -> new ladder:
    ``(norm_text, canonical_name, confidence, match_type)``.

    A "new" string has no canonical here (``None``): the batch pipeline
    picks it jointly over all new strings (operators/linking.py), the
    single-mention resolver takes the string's own normal form."""
    norm_text = normalize(text or "")
    canonical = gazetteer.canonical_map.get((norm_text, entity_type))
    if canonical is not None:
        return norm_text, canonical, 1.0, "exact"
    fuzzy = best_fuzzy_candidate(norm_text, entity_type, gazetteer)
    if fuzzy is not None:
        return norm_text, fuzzy[0], round(fuzzy[1], 4), "fuzzy"
    return norm_text, None, 0.5, "new"


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
