"""Entity-resolution parity — ports test_graph.py:277-319."""

from __future__ import annotations

from islamic_ner_spark.functions.normalize import normalize
from islamic_ner_spark.functions.resolve import resolve_mention


def test_exact_match(resolver_gazetteer) -> None:
    result = resolve_mention("البخاري", "SCHOLAR", resolver_gazetteer)
    assert result["match_type"] == "exact"
    assert result["confidence"] == 1.0
    assert result["canonical_name"] == normalize("محمد بن إسماعيل البخاري")


def test_variant_match(resolver_gazetteer) -> None:
    result = resolve_mention("الإمام البخاري", "SCHOLAR", resolver_gazetteer)
    assert result["match_type"] == "exact"
    assert result["canonical_name"] == normalize("محمد بن إسماعيل البخاري")


def test_fuzzy_match(resolver_gazetteer) -> None:
    result = resolve_mention("البخاريي", "SCHOLAR", resolver_gazetteer)
    assert result["match_type"] == "fuzzy"
    assert result["confidence"] >= 0.8


def test_new_entity(resolver_gazetteer) -> None:
    result = resolve_mention("شخص غير معروف", "SCHOLAR", resolver_gazetteer)
    assert result["match_type"] == "new"
    assert result["confidence"] == 0.5
    assert result["canonical_name"] == normalize("شخص غير معروف")


def test_type_aware(resolver_gazetteer) -> None:
    scholar = resolve_mention("مسلم", "SCHOLAR", resolver_gazetteer)
    book = resolve_mention("مسلم", "BOOK", resolver_gazetteer)
    assert scholar["canonical_name"] != book["canonical_name"]


def test_new_entity_blocking_caps_hot_tokens(spark) -> None:
    """10k unresolved strings all sharing one particle (بن) must NOT
    produce a quadratic candidate join: the hot block is dropped (it
    cannot discriminate), and only discriminative-token pairs survive."""
    from pyspark.sql import functions as F

    from islamic_ner_spark.operators.linking import new_entity_nodes, new_pair_edges

    n = 10_000
    rows = [(f"بن راوي{i:05d}", "SCHOLAR", f"بن راوي{i:05d}") for i in range(n)]
    # two strings sharing a RARE token — their pair must survive the cap
    rows += [("بن شريك المجرب", "SCHOLAR", "بن شريك المجرب"),
             ("بن شريك المجربب", "SCHOLAR", "بن شريك المجربب")]
    new_strings = spark.createDataFrame(
        rows, "text string, entity_type string, norm_text string"
    )
    nodes = new_entity_nodes(new_strings)
    pairs = new_pair_edges(nodes, max_block_size=100, log_dropped=False)
    got = pairs.collect()
    # without the cap the بن block alone yields ~50M candidate pairs; with
    # it, only rare-token pairs remain
    assert len(got) == 1
    assert "شريك" in got[0]["src"] and "شريك" in got[0]["dst"]


def test_new_entity_blocking_cap_preserves_small_block_semantics(spark) -> None:
    """Below the cap the capped path is byte-identical to uncapped."""
    from islamic_ner_spark.operators.linking import new_entity_nodes, new_pair_edges

    rows = [
        ("محمد بن سيرين", "SCHOLAR", "محمد بن سيرين"),
        ("محمد بن سرين", "SCHOLAR", "محمد بن سرين"),
        ("كتاب الزهد", "BOOK", "كتاب الزهد"),
        ("كتاب الزهدد", "BOOK", "كتاب الزهدد"),
    ]
    new_strings = spark.createDataFrame(
        rows, "text string, entity_type string, norm_text string"
    )
    nodes = new_entity_nodes(new_strings)
    capped = sorted(map(tuple, new_pair_edges(nodes, max_block_size=1000,
                                              log_dropped=False).collect()))
    uncapped = sorted(map(tuple, new_pair_edges(nodes, max_block_size=10**9,
                                                log_dropped=False).collect()))
    assert capped == uncapped and len(capped) >= 2


# --------------------------------------------------------------------------
# the pruned fuzzy rung and the driver-side ladder

import logging
import random

_LETTERS = "بتثجحخدذرزسشصضطظعغفقكلمنهو"


def _names(n: int, seed: int) -> list[str]:
    """``n`` distinct 6-8 letter names that normalization leaves alone."""
    rng = random.Random(seed)
    names: list[str] = []
    while len(names) < n:
        name = "".join(rng.choice(_LETTERS) for _ in range(rng.randint(6, 8)))
        if name not in names:
            names.append(name)
    return names


def _unpruned_best_fuzzy(norm_text, entity_type, gazetteer):
    """Reference fuzzy rung: every same-type candidate string scored."""
    from islamic_ner_spark.functions.resolve import FUZZY_THRESHOLD, similarity_ratio

    if not norm_text:
        return None
    best = None
    for canonical, meta in gazetteer.entity_metadata.items():
        if str(meta.get("type")) != entity_type:
            continue
        score = similarity_ratio(norm_text, canonical)
        for variant in meta.get("variants", ()):
            score = max(score, similarity_ratio(norm_text, str(variant)))
        if best is None or score > best[1]:
            best = (canonical, score)
    if best is None or best[1] < FUZZY_THRESHOLD:
        return None
    return best


def _edits(text: str, rng: random.Random) -> list[str]:
    """One substitution, one deletion and one insertion of ``text``."""
    i = rng.randrange(len(text))
    j = rng.randrange(len(text) + 1)
    return [
        text[:i] + rng.choice(_LETTERS) + text[i + 1:],
        text[:i] + text[i + 1:],
        text[:j] + rng.choice(_LETTERS) + text[j:],
    ]


def test_pruned_fuzzy_matches_unpruned_reference(resolver_gazetteer) -> None:
    from islamic_ner_spark.functions.resolve import (
        best_fuzzy_candidate,
        best_fuzzy_candidates,
    )
    from islamic_ner_spark.operators.linking import LINKABLE_TYPES
    from islamic_ner_spark.plans.pipeline import DEFAULT_GAZETTEER_DIR
    from islamic_ner_spark.sources.gazetteer import Gazetteer

    rng = random.Random(7)
    for gazetteer in (resolver_gazetteer, Gazetteer.from_dir(DEFAULT_GAZETTEER_DIR)):
        names = _names(150, 3)
        for meta in gazetteer.entity_metadata.values():
            for variant in meta["variants"]:
                for _ in range(3):
                    names += _edits(variant, rng)
        names += ["", normalize("محمد بن إسماعيل البخاريي")]
        hits = 0
        for entity_type in LINKABLE_TYPES:
            expected = [_unpruned_best_fuzzy(name, entity_type, gazetteer)
                        for name in names]
            for name, best in zip(names, expected):
                assert best_fuzzy_candidate(name, entity_type, gazetteer) == best, (
                    name, entity_type)
            # the bulk rung: one bound matrix, then the scalar on survivors
            assert best_fuzzy_candidates(names, entity_type, gazetteer) == expected
            hits += sum(best is not None for best in expected)
        assert len(names) > 300 and hits > 50


def test_pruned_fuzzy_tie_keeps_earlier_canonical() -> None:
    from islamic_ner_spark.functions.resolve import (
        best_fuzzy_candidate,
        best_fuzzy_candidates,
        similarity_ratio,
    )
    from islamic_ner_spark.sources.gazetteer import Gazetteer

    first, second, query = "محمد بن علي", "محمد بن علا", "محمد بن علو"
    assert similarity_ratio(query, first) == similarity_ratio(query, second) >= 0.8
    for order in ((first, second), (second, first)):
        gazetteer = Gazetteer.from_rows([("SCHOLAR", [c]) for c in order])
        assert best_fuzzy_candidate(query, "SCHOLAR", gazetteer) == (
            order[0], similarity_ratio(query, order[0]))
        assert best_fuzzy_candidate(query, "SCHOLAR", gazetteer) == _unpruned_best_fuzzy(
            query, "SCHOLAR", gazetteer)
        assert best_fuzzy_candidates([query, first], "SCHOLAR", gazetteer) == [
            (order[0], similarity_ratio(query, order[0])),
            _unpruned_best_fuzzy(first, "SCHOLAR", gazetteer)]


def test_bounded_pairs_match_unbounded(monkeypatch) -> None:
    """``similar_pairs`` (the vectorized char-count bound, then
    SequenceMatcher on its survivors) accepts exactly the pairs that
    unbounded ``fuzzy_match`` accepts, in the order each pair is given,
    however the bound is sliced into chunks."""
    from itertools import combinations

    import numpy as np

    from islamic_ner_spark.functions import resolve

    rng = random.Random(9)
    names = _names(40, 5)
    texts = [
        "abcde", "abcdf",     # ratio exactly 0.8: on the threshold, kept
        "bbbbca", "bbbaba",   # 0.83 in this order, 0.67 the other way
        "", "x", "",          # empty normal forms (two empties: ratio 1.0)
        "a\U0001f600bcd", "a\U0001f600bce", "a\U0001f601bcd",  # non-BMP
        *names, *[edit for name in names[:20] for edit in _edits(name, rng)],
    ]
    blocks = [
        [0, 1, 2, 3, 4, 5],
        [0, 1, 6, 7, 8, 9, 4],   # shares the threshold pair (0, 1)
        list(range(10, len(texts))),
        list(range(10, 30)) + [7, 8],  # shares 190 pairs with the block above
    ]
    pairs = sorted({pair for block in blocks for pair in combinations(sorted(block), 2)})
    expected = [(a, b) for a, b in pairs if resolve.fuzzy_match(texts[a], texts[b])]
    assert {(0, 1), (2, 3), (4, 6), (7, 8)} <= set(expected)
    assert resolve.similarity_ratio(texts[0], texts[1]) == 0.8
    assert not resolve.fuzzy_match(texts[3], texts[2])
    assert len(expected) > 20

    def by_block():
        for block in blocks:
            block = np.array(sorted(block))
            a, b = np.triu_indices(len(block), 1)
            yield block[a], block[b]

    for cells in (resolve._BOUND_CELLS, 7):
        monkeypatch.setattr(resolve, "_BOUND_CELLS", cells)
        # each pair once, even the ones two blocks share
        assert sorted(resolve.similar_pairs(texts, by_block())) == expected
        # one chunk of every pair, each given larger index first
        flipped = np.array([(b, a) for a, b in pairs]).T
        assert sorted(resolve.similar_pairs(texts, [(flipped[0], flipped[1])])) == sorted(
            (b, a) for a, b in pairs if resolve.fuzzy_match(texts[b], texts[a]))


def test_no_matcher_outside_resolve() -> None:
    """Every SequenceMatcher is built, and every one-pair scorer called,
    in functions/resolve.py, where the batch scorers put the vectorized
    bound in front of them: no other module can score a pair unbounded."""
    import ast
    from pathlib import Path

    import islamic_ner_spark

    package = Path(islamic_ner_spark.__file__).parent
    scorers = {"SequenceMatcher", "fuzzy_match", "similarity_ratio"}
    offenders = []
    for path in sorted(package.rglob("*.py")):
        if path == package / "functions" / "resolve.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and (
                getattr(node.func, "id", None) in scorers
                or getattr(node.func, "attr", None) in scorers
            ):
                offenders.append(f"{path.relative_to(package.parent)}:{node.lineno}")
    assert offenders == [], "score pairs through functions/resolve.similar_pairs"


def _ladder_input() -> list[tuple[str, str]]:
    """Distinct (text, entity_type) strings covering every rung and rule:
    an exact and two fuzzy hits, one-letter spelling variants that
    cluster, a string whose normal form is empty, and two over-cap blocks
    of equal size.  One of them only a row count (not a node count)
    catches — 999 ``محمد X`` names plus ``محمد بن محمد`` are 1,000 nodes
    but 1,001 exploded (node, محمد) rows.  The first two ``محمد X`` names
    are one-letter variants that share no other token, so they must stay
    apart.  The 1,001 ``احمد Y`` names come last, so a block order that
    broke ties by arrival instead of by key would list محمد first."""
    hot, warm = _names(999, 11), _names(2_000, 11)[999:]
    hot[1] = hot[0][:-1] + ("ب" if hot[0][-1] != "ب" else "ت")
    return [
        ("البخاري", "SCHOLAR"),
        ("البخاريي", "SCHOLAR"),
        ("صحيح البخاريي", "BOOK"),
        ("زيدون بن حارث", "SCHOLAR"),
        ("زيدون بن حارت", "SCHOLAR"),
        ("زيذون بن حارث", "SCHOLAR"),
        ("محمد بن محمد", "SCHOLAR"),
        ("ـــ", "SCHOLAR"),
        ("", "PLACE"),
        *[(f"محمد {name}", "SCHOLAR") for name in hot],
        *[(f"احمد {name}", "SCHOLAR") for name in warm],
    ]


_DROPPED_BLOCKS = (
    "new-entity-blocking: dropped 2 over-capacity bucket(s) (> 1000 members) "
    "from candidate generation; largest: [('SCHOLAR', 'احمد', 1001), "
    "('SCHOLAR', 'محمد', 1001)]"
)


def test_driver_ladder_logs_dropped_block(resolver_gazetteer, caplog) -> None:
    from islamic_ner_spark.operators.linking import resolve_strings_locally

    with caplog.at_level(logging.WARNING, logger="islamic_ner_spark.capping"):
        rows, n_pairs = resolve_strings_locally(_ladder_input(), resolver_gazetteer)
    assert [r.getMessage() for r in caplog.records] == [_DROPPED_BLOCKS]
    assert len(rows) == len(_ladder_input())
    # the kept blocks that pair: بن (the three زيدون variants and
    # محمد بن محمد), زيدون and حارث; the two over-cap blocks do not count
    assert n_pairs == 6 + 1 + 1


def test_driver_ladder_matches_distributed(spark, resolver_gazetteer, monkeypatch,
                                           caplog) -> None:
    """The driver ladder and the distributed one give the same resolution
    table on every column, and log the same dropped blocks.  Over the
    pair limit the driver scores nothing and the distributed ladder runs."""
    from islamic_ner_spark.operators import linking

    strings = _ladder_input()
    mentions = spark.createDataFrame(strings[:-3], "text string, entity_type string")
    # the last strings reach the table only as triple endpoints
    triples = spark.createDataFrame(
        [(strings[-3][0], "SCHOLAR", strings[-2][0], "SCHOLAR"),
         (strings[-1][0], "SCHOLAR", "doc-1", "HADITH_REF")],
        "subj_text string, subj_type string, obj_text string, obj_type string",
    )
    bc = spark.sparkContext.broadcast(resolver_gazetteer)

    pair_limit_default = linking.DRIVER_PAIR_LIMIT

    def run(limit: int, pair_limit: int = pair_limit_default):
        monkeypatch.setattr(linking, "DRIVER_LADDER_LIMIT", limit)
        monkeypatch.setattr(linking, "DRIVER_PAIR_LIMIT", pair_limit)
        caplog.clear()
        with caplog.at_level(logging.INFO, logger="islamic_ner_spark"):
            table = linking.build_resolution_table(
                spark, mentions, triples, resolver_gazetteer.to_dataframe(spark), bc
            )
            rows = sorted(map(tuple, table.select(linking.RESOLUTION_COLUMNS).collect()))
        decisions = [r.getMessage() for r in caplog.records if r.name == linking.log.name]
        warnings = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
        return rows, decisions, warnings

    on_driver, driver_log, driver_warnings = run(10_000)
    distributed, distributed_log, distributed_warnings = run(0)
    too_many_pairs, pairs_log, pairs_warnings = run(10_000, 7)
    assert on_driver == distributed == too_many_pairs
    assert len(on_driver) == len(strings)
    assert driver_log == [
        f"resolution ladder: {len(strings)} distinct linkable strings (driver limit "
        f"10000), 8 blocked pairs (driver limit {pair_limit_default}) -> driver"]
    assert distributed_log == [
        f"resolution ladder: {len(strings)} distinct linkable strings (driver limit "
        f"0), uncounted blocked pairs (driver limit {pair_limit_default}) "
        "-> distributed"]
    assert pairs_log == [
        f"resolution ladder: {len(strings)} distinct linkable strings (driver limit "
        "10000), 8 blocked pairs (driver limit 7) -> distributed"]
    assert driver_warnings == distributed_warnings == pairs_warnings == [_DROPPED_BLOCKS]

    by_text = {(r[0], r[1]): r for r in on_driver}
    assert by_text[("البخاري", "SCHOLAR")][5] == "exact"
    assert by_text[("البخاريي", "SCHOLAR")][5] == "fuzzy"
    assert by_text[("صحيح البخاريي", "BOOK")][5] == "fuzzy"
    variants = {by_text[(t, "SCHOLAR")][3]
                for t in ("زيدون بن حارث", "زيدون بن حارت", "زيذون بن حارث")}
    assert variants == {"زيدون بن حارت"}
    assert by_text[("ـــ", "SCHOLAR")][2:4] == ("", "")
    # one-letter variants seen only through the dropped block stay apart
    hot = [r for r in on_driver if r[0].startswith("محمد ") and r[0] != "محمد بن محمد"]
    assert all(r[3] == r[2] for r in hot) and len(hot) == 999
