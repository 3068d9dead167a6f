"""Round-6 optimization guard: the per-task annotate memo must be
invisible — memoized results, including the doc_id rewrite of the
HADITH_REF stand-in entity, must equal direct per-row computation.

The memo keys on the raw turn text and caches triples produced with a
placeholder hadith_id; rows sharing a text must still get THEIR OWN
doc_id in every stand-in endpoint (operators/ner.py::_DOC_SENTINEL).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from islamic_ner_spark.operators.ner import (
    TextMemo,
    annotate_transcripts,
    mentions_and_triples,
)
from islamic_ner_spark.sources.transcripts import TRANSCRIPTS_SCHEMA

# Texts chosen so memo hits cross doc_ids AND at least some produce the
# sentence-level HADITH_REF stand-in (IN_BOOK via "رواه <author>" and
# MENTIONS_CONCEPT without explicit refs both source from the stand-in,
# whose text must become each row's own doc_id).
_TEXTS = [
    "رواه البخاري",              # IN_BOOK: stand-in source -> doc_id
    "نهى عن الربا",               # MENTIONS_CONCEPT: stand-in source
    "حدثنا مالك عن نافع",         # NARRATED_FROM only: no stand-in
    "حديث رقم 12 الصلاة",         # explicit HADITH_REF span (start >= 0)
    "tool returned 3 documents",   # no entities at all
    None,                          # null text
]


def _rows():
    rows = []
    for conv in range(6):
        for turn, text in enumerate(_TEXTS):
            rows.append((f"conv_{conv:02d}", turn, "assistant", text, None, None))
    return rows


def test_memoized_annotate_matches_direct(spark, matcher_gazetteer) -> None:
    bc = spark.sparkContext.broadcast(matcher_gazetteer)
    # one partition => every duplicate text is a memo HIT within the task
    df = spark.createDataFrame(_rows(), TRANSCRIPTS_SCHEMA).coalesce(1)
    out = {
        (r["conv_id"], r["turn_idx"]): r
        for r in annotate_transcripts(df, bc).collect()
    }
    assert len(out) == len(_rows())

    from islamic_ner_spark.functions.annotate import annotate_raw
    from islamic_ner_spark.functions.normalize import normalize

    saw_standin = False
    for conv_id, turn_idx, _role, text, _tool, _ts in _rows():
        doc_id = f"{conv_id}:{turn_idx}"
        ntext = normalize(text) if text is not None else ""
        tokens, labels = annotate_raw(ntext, matcher_gazetteer, is_normalized=True)
        mentions, triples = mentions_and_triples(tokens, labels, doc_id)
        got = out[(conv_id, turn_idx)]
        assert got["norm_text"] == ntext
        assert list(got["tokens"]) == tokens
        assert list(got["labels"]) == labels
        assert [tuple(m) for m in got["mentions"]] == mentions
        assert [tuple(t) for t in got["triples"]] == triples
        for t in triples:
            if t[3] == "HADITH_REF" and t[4] == -1:
                saw_standin = True
                assert t[2] == doc_id  # the rewrite carried THIS row's id
    assert saw_standin, "corpus must exercise the stand-in rewrite path"


_SHARED = ["conv_id", "turn_idx", "doc_id", "mentions", "triples"]


def test_extraction_only_matches_full(spark, matcher_gazetteer) -> None:
    bc = spark.sparkContext.broadcast(matcher_gazetteer)
    df = spark.createDataFrame(_rows(), TRANSCRIPTS_SCHEMA)
    full = annotate_transcripts(df, bc).select(*_SHARED)
    lean = annotate_transcripts(df, bc, extraction_only=True).select(*_SHARED)
    a = sorted(map(tuple, full.collect()), key=lambda r: (r[0], r[1]))
    b = sorted(map(tuple, lean.collect()), key=lambda r: (r[0], r[1]))
    assert a == b
    # the lean pass must not require role/tool/ts at all
    lean_cols = annotate_transcripts(
        df.select("conv_id", "turn_idx", "text"), bc, extraction_only=True
    ).select(*_SHARED)
    c = sorted(map(tuple, lean_cols.collect()), key=lambda r: (r[0], r[1]))
    assert a == c


def test_href_columns_match_full_annotation(spark, matcher_gazetteer) -> None:
    """The lean extraction's Hadith-node columns are what the full
    annotation's arrays say, with the memo on (one partition, so every
    repeated text is a hit) and off."""
    bc = spark.sparkContext.broadcast(matcher_gazetteer)
    df = spark.createDataFrame(_rows(), TRANSCRIPTS_SCHEMA).coalesce(1)

    def href(mentions, triples):
        slots = [
            2 * t["rel_idx"] + side
            for t in triples
            for side, etype in ((0, t["subj_type"]), (1, t["obj_type"]))
            if etype == "HADITH_REF"
        ]
        texts = [m["text"] for m in mentions if m["entity_type"] == "HADITH_REF"]
        return texts, len(texts) + len(slots), max(slots, default=None)

    expected = {
        (r["conv_id"], r["turn_idx"]): href(r["mentions"], r["triples"])
        for r in annotate_transcripts(df, bc).collect()
    }
    assert any(v[0] for v in expected.values())
    assert any(v[2] is not None for v in expected.values())
    for memo_cap in (200_000, 0):
        lean = annotate_transcripts(df, bc, extraction_only=True, memo_cap=memo_cap)
        got = {
            (r["conv_id"], r["turn_idx"]): (list(r["href_texts"]), r["n_href"], r["href_slot"])
            for r in lean.collect()
        }
        assert got == expected


def test_memo_cap_zero_still_exact(spark, matcher_gazetteer) -> None:
    # with the memo disabled (cap 0, captured by the task closure) the
    # operator must produce the same rows — the cache is an
    # optimization, never a semantic dependency
    bc = spark.sparkContext.broadcast(matcher_gazetteer)
    df = spark.createDataFrame(_rows(), TRANSCRIPTS_SCHEMA)
    with_memo = sorted(
        map(tuple, annotate_transcripts(df, bc, extraction_only=True).collect())
    )
    without = sorted(
        map(
            tuple,
            annotate_transcripts(
                df, bc, extraction_only=True, memo_cap=0
            ).collect(),
        )
    )
    assert with_memo == without


def test_memo_admission_stops_at_byte_budget() -> None:
    # the budget counts UTF-8 bytes of the held texts, not entries
    memo = TextMemo(10)
    memo.admit("abcd", 1)  # 4 bytes held
    memo.admit("عبد", 2)  # 6 bytes: 4 + 6 reaches the budget, refused
    memo.admit("ab", 3)  # 6 bytes held
    memo.admit(None, 4)  # a null text holds no bytes
    memo.admit("xyzw", 5)  # 6 + 4 reaches the budget, refused
    assert memo == {"abcd": 1, "ab": 3, None: 4}
    assert memo.free == 4

    off = TextMemo(0)  # memo_cap=0: no memo at all
    for text in ("", None, "a"):
        off.admit(text, 0)
    assert off == {}
