"""Gazetteer matcher parity — ports test_preprocessing.py:80-201."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from islamic_ner_spark.functions.normalize import normalize
from islamic_ner_spark.sources.gazetteer import Gazetteer

AL_BUKHARI = "البخاري"
SAHIH_AL_BUKHARI = "صحيح البخاري"
ABU = "أبو"
ABU_HURAYRAH = "أبو هريرة"
ABU_HURAYRAH_TASHKEEL = "أَبُو هُرَيْرَةَ"


@pytest.fixture()
def sample_gazetteer_dir(tmp_path: Path) -> Path:
    (tmp_path / "scholars.txt").write_text(
        f"{AL_BUKHARI}|محمد بن إسماعيل البخاري\n{ABU}\n{ABU_HURAYRAH}|{ABU_HURAYRAH_TASHKEEL}\n",
        encoding="utf-8",
    )
    (tmp_path / "books.txt").write_text(
        f"{SAHIH_AL_BUKHARI}|الجامع الصحيح\n", encoding="utf-8"
    )
    (tmp_path / "concepts.txt").write_text("التوحيد\n", encoding="utf-8")
    (tmp_path / "places.txt").write_text("المدينة|يثرب\n", encoding="utf-8")
    return tmp_path


def test_matches_bukhari_as_scholar(sample_gazetteer_dir: Path) -> None:
    matcher = Gazetteer.from_dir(sample_gazetteer_dir)
    matches = matcher.match("قال البخاري في كتابه")
    scholar = [m for m in matches if m.text == AL_BUKHARI]
    assert scholar and scholar[0].entity_type == "SCHOLAR"


def test_longest_match_prefers_book(sample_gazetteer_dir: Path) -> None:
    matcher = Gazetteer.from_dir(sample_gazetteer_dir)
    matches = matcher.match("هذا شرح صحيح البخاري")
    assert any(m.text == SAHIH_AL_BUKHARI and m.entity_type == "BOOK" for m in matches)
    assert not any(m.text == AL_BUKHARI and m.entity_type == "SCHOLAR" for m in matches)


def test_longest_match_prefers_abu_hurayrah(sample_gazetteer_dir: Path) -> None:
    matcher = Gazetteer.from_dir(sample_gazetteer_dir)
    matches = matcher.match("عن أبو هريرة رضي الله عنه")
    assert any(m.text == ABU_HURAYRAH and m.entity_type == "SCHOLAR" for m in matches)
    assert not any(m.text == ABU and m.entity_type == "SCHOLAR" for m in matches)


def test_matches_tashkeel_variant_with_original_spans(sample_gazetteer_dir: Path) -> None:
    matcher = Gazetteer.from_dir(sample_gazetteer_dir)
    text = f"روى {ABU_HURAYRAH_TASHKEEL} الحديث"
    canonical = normalize(ABU_HURAYRAH)
    matched = [
        m for m in matcher.match(text)
        if m.entity_type == "SCHOLAR" and m.canonical_name == canonical
    ]
    assert matched
    first = matched[0]
    assert text[first.start : first.end] == first.text


def test_match_normalized_fast_path_equals_general(matcher_gazetteer: Gazetteer) -> None:
    """On pre-normalized text the identity-alignment fast path must agree
    with the general alignment path."""
    texts = [
        normalize("قال البخاري في صحيح البخاري عن الربا"),
        normalize("رواه مالك عن عبد الله بن يوسف في المدينة"),
    ]
    for ntext in texts:
        fast = matcher_gazetteer.match_normalized(ntext)
        general = matcher_gazetteer.match(ntext)
        assert fast == general


def test_first_variant_wins_on_duplicates(tmp_path: Path) -> None:
    """Duplicate variants keep the first (canonical, type) binding
    (gazetteers.py:84-87 setdefault)."""
    (tmp_path / "scholars.txt").write_text("مسلم\n", encoding="utf-8")
    (tmp_path / "books.txt").write_text("صحيح مسلم|مسلم\n", encoding="utf-8")
    matcher = Gazetteer.from_dir(tmp_path)
    assert matcher.lookup[normalize("مسلم")] == (normalize("مسلم"), "SCHOLAR")


def test_to_dataframe_dimension(spark, resolver_gazetteer: Gazetteer) -> None:
    df = resolver_gazetteer.to_dataframe(spark)
    rows = {(r["variant_norm"], r["entity_type"]): r["canonical_norm"] for r in df.collect()}
    assert rows[(normalize("البخاري"), "SCHOLAR")] == normalize("محمد بن إسماعيل البخاري")
    assert rows[(normalize("البخاري"), "BOOK")] == normalize("صحيح البخاري")


def test_from_dir_without_gazetteer_files_raises(tmp_path: Path) -> None:
    """A mistyped dir, or one holding none of the four files, fails
    loudly instead of loading an empty gazetteer."""
    missing = tmp_path / "no_such_dir"
    with pytest.raises(FileNotFoundError, match="no_such_dir"):
        Gazetteer.from_dir(missing)
    (tmp_path / "notes.txt").write_text("not a gazetteer\n", encoding="utf-8")
    with pytest.raises(FileNotFoundError, match=re.escape(str(tmp_path))):
        Gazetteer.from_dir(tmp_path)
