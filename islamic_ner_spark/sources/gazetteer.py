"""Gazetteer dimension: loading, broadcast matcher, resolver lookup views.

Parity targets in the reference:

* file format + first-variant-wins loading — gazetteers.py:45-87 (S4)
* resolver's (variant, type)->canonical map + canonical->variants metadata —
  entity_resolver.py:102-159
* longest-match-first master-pattern matching with Unicode word boundaries
  and original-text span recovery — gazetteers.py:89-224 (M1, M2, P9, P10)

Architecture difference from the reference (deliberate, Spark-first): the
matcher is an Aho-Corasick automaton built once on the driver and
broadcast to executors, instead of a giant alternation regex re-scanned
per call.  Selection semantics (leftmost scan, per-position priority =
sorted(entity_type) then length-desc, word-boundary filtering) reproduce
the reference's regex alternation order exactly.

File format: one entity per line, ``canonical|variant|variant...``;
``#`` comments; BOM tolerated.  Files per type: scholars.txt, books.txt,
concepts.txt, places.txt.
"""

from __future__ import annotations

import re
import zipfile
from dataclasses import dataclass, field
from pathlib import Path
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession

from islamic_ner_spark.functions.aho import AhoCorasick
from islamic_ner_spark.functions.normalize import TASHKEEL_PATTERN, normalize

GAZETTEER_FILES: Tuple[Tuple[str, str], ...] = (
    ("scholars.txt", "SCHOLAR"),
    ("books.txt", "BOOK"),
    ("concepts.txt", "CONCEPT"),
    ("places.txt", "PLACE"),
)


def _in_archive(base: Path):
    """``base``, or the same directory inside the zip archive on its
    path — the package shipped with ``spark-submit --py-files pkg.zip``
    puts its data files there, where ``Path`` cannot read them."""
    if not base.is_dir():
        for archive in base.parents:
            if archive.is_file() and zipfile.is_zipfile(archive):
                return zipfile.Path(archive, base.relative_to(archive).as_posix() + "/")
    return base


_WORD_RE = re.compile(r"\w")  # same \w semantics as the reference's regex
_TASHKEEL_RE = re.compile(TASHKEEL_PATTERN)
_TATWEEL = "ـ"

# Single-char folds used by the alignment-preserving normalizer
# (gazetteers.py:112-158): tashkeel/tatweel dropped, alif variants folded,
# taa marbuta -> haa, alif maqsura -> yaa, whitespace -> ' '.
_ALIF_SET = frozenset("آأإ")


@dataclass(frozen=True)
class Mention:
    """A gazetteer match with spans in the *original* text."""

    text: str
    start: int
    end: int
    entity_type: str
    canonical_name: str


def parse_gazetteer_text(content: str) -> List[List[str]]:
    """Parse one gazetteer file's content into lists of raw variants.

    First variant on a line is the canonical form.  Empty lines, ``#``
    comments, and BOMs are skipped (the resolver loader's BOM tolerance,
    entity_resolver.py:118-127, applied uniformly).
    """
    entries: List[List[str]] = []
    for raw_line in content.splitlines():
        line = raw_line.strip().lstrip("﻿")
        if not line or line.startswith("#"):
            continue
        variants = [p.strip().lstrip("﻿") for p in line.split("|")]
        variants = [p for p in variants if p]
        if variants:
            entries.append(variants)
    return entries


class Gazetteer:
    """Normalized gazetteer with matcher + resolver views.

    Picklable; intended to be built on the driver and shipped via
    ``sc.broadcast`` into Arrow UDFs.
    """

    def __init__(self, typed_entries: Iterable[Tuple[str, Sequence[str]]]) -> None:
        """``typed_entries``: iterable of (entity_type, [raw variants...])
        in load order — order matters for first/last-wins tie-breaks."""
        # Matcher view: variant -> (canonical, type), FIRST write wins
        # (gazetteers.py:84-87 setdefault).
        self.lookup: Dict[str, Tuple[str, str]] = {}
        # Resolver view: (variant, type) -> canonical, LAST write wins
        # (entity_resolver.py:153).
        self.canonical_map: Dict[Tuple[str, str], str] = {}
        # Resolver view: canonical -> {"type", "variants" in insert order}
        # (entity_resolver.py:136-158).
        self.entity_metadata: Dict[str, Dict[str, object]] = {}

        for entity_type, raw_variants in typed_entries:
            variants_norm = [normalize(v) for v in raw_variants]
            variants_norm = [v for v in variants_norm if v]
            if not variants_norm:
                continue
            canonical = variants_norm[0]

            for variant in variants_norm:
                self.lookup.setdefault(variant, (canonical, entity_type))

            meta = self.entity_metadata.setdefault(
                canonical, {"type": entity_type, "variants": []}
            )
            meta["type"] = entity_type
            bucket: List[str] = meta["variants"]  # type: ignore[assignment]
            if canonical not in bucket:
                bucket.append(canonical)
            for variant in variants_norm:
                self.canonical_map[(variant, entity_type)] = canonical
                if variant not in bucket:
                    bucket.append(variant)

        # Per-position alternation priority of the reference's master
        # pattern: types in sorted() order, then longest variant first
        # (gazetteers.py:98-101).
        type_rank = {t: i for i, t in enumerate(sorted({t for _, t in self.lookup.values()}))}
        self._priority: Dict[str, Tuple[int, int]] = {
            variant: (type_rank[entity_type], -len(variant))
            for variant, (_, entity_type) in self.lookup.items()
        }
        self._automaton = AhoCorasick(self.lookup.keys())

    # -- constructors -----------------------------------------------------

    @classmethod
    def from_dir(cls, gazetteer_dir: str | Path) -> "Gazetteer":
        """Load the ``GAZETTEER_FILES`` under ``gazetteer_dir``.  A missing
        file loads as empty, but a dir (or archive path) holding none of
        them raises ``FileNotFoundError``: a mistyped dir must not build
        a graph with no gazetteer matches."""
        base = _in_archive(Path(gazetteer_dir))
        present = [(base / name, t) for name, t in GAZETTEER_FILES if (base / name).exists()]
        if not present:
            raise FileNotFoundError(
                f"no gazetteer file ({', '.join(name for name, _ in GAZETTEER_FILES)}) "
                f"under {gazetteer_dir}"
            )
        return cls(
            (entity_type, variants)
            for path, entity_type in present
            for variants in parse_gazetteer_text(path.read_text(encoding="utf-8"))
        )

    @classmethod
    def from_rows(cls, rows: Iterable[Tuple[str, Sequence[str]]]) -> "Gazetteer":
        """Build from (entity_type, variants) rows, e.g. a collected
        dimension DataFrame.  Gazetteers are small dimensions; collecting
        to the driver and broadcasting the automaton is the scale play."""
        return cls(rows)

    # -- Spark dimension view ---------------------------------------------

    def to_dataframe(self, spark: SparkSession) -> DataFrame:
        """(entity_type, variant_norm, canonical_norm) — broadcastable
        dimension for exact-linking joins (L1)."""
        rows = [
            (entity_type, variant, canonical)
            for (variant, entity_type), canonical in sorted(self.canonical_map.items())
        ]
        return spark.createDataFrame(
            rows, "entity_type string, variant_norm string, canonical_norm string"
        )

    # -- alignment-preserving normalization (P9/P10) -----------------------

    @staticmethod
    def _normalize_with_alignment(text: str) -> Tuple[str, List[int]]:
        """Char-level normalize keeping normalized-index -> original-index.

        Mirrors gazetteers.py:112-158: drop tashkeel/tatweel, fold letters,
        any whitespace to ' ', collapse runs, drop leading/trailing space.
        """
        out_chars: List[str] = []
        out_index: List[int] = []
        prev_space = False
        for index, char in enumerate(text):
            if char == _TATWEEL or _TASHKEEL_RE.match(char):
                continue
            if char.isspace():
                # Collapse runs; a kept space carries the original index of
                # the run's first whitespace char; leading spaces dropped.
                if not out_chars or prev_space:
                    prev_space = True
                    continue
                out_chars.append(" ")
                out_index.append(index)
                prev_space = True
                continue
            if char in _ALIF_SET:
                folded = "ا"
            elif char == "ة":
                folded = "ه"
            elif char == "ى":
                folded = "ي"
            else:
                folded = char
            out_chars.append(folded)
            out_index.append(index)
            prev_space = False
        if out_chars and out_chars[-1] == " ":
            out_chars.pop()
            out_index.pop()
        return "".join(out_chars), out_index

    @staticmethod
    def _extend_past_marks(text: str, end: int) -> int:
        """Extend a span end over trailing tashkeel/tatweel in the original
        text (gazetteers.py:160-167)."""
        n = len(text)
        while end < n and (text[end] == _TATWEEL or _TASHKEEL_RE.match(text[end])):
            end += 1
        return end

    # -- matching -----------------------------------------------------------

    def _select_matches(self, ntext: str) -> List[Tuple[int, int]]:
        """Non-overlapping leftmost matches over normalized text with the
        master pattern's alternation priority and \\w boundaries."""
        candidates: List[Tuple[int, Tuple[int, int], int]] = []
        n = len(ntext)
        for start, end in self._automaton.occurrences(ntext):
            if start > 0 and _WORD_RE.match(ntext[start - 1]):
                continue
            if end < n and _WORD_RE.match(ntext[end]):
                continue
            candidates.append((start, self._priority[ntext[start:end]], end))
        candidates.sort()
        selected: List[Tuple[int, int]] = []
        cursor = 0
        for start, _, end in candidates:
            if start < cursor:
                continue
            selected.append((start, end))
            cursor = end
        return selected

    def match_normalized(self, ntext: str) -> List[Mention]:
        """Fast path: input is already fully normalized (the pipeline's
        annotate stage normalizes each turn first), so the alignment map is
        the identity and no trailing-mark extension is needed."""
        mentions: List[Mention] = []
        for start, end in self._select_matches(ntext):
            span = ntext[start:end]
            canonical, entity_type = self.lookup[span]
            mentions.append(Mention(span, start, end, entity_type, canonical))
        return mentions

    def match(self, text: str) -> List[Mention]:
        """General path: raw text in, spans reported in the original text
        (gazetteers.py:169-224)."""
        ntext, align = self._normalize_with_alignment(text)
        if not ntext:
            return []
        mentions: List[Mention] = []
        for start, end in self._select_matches(ntext):
            canonical, entity_type = self.lookup[ntext[start:end]]
            orig_start = align[start]
            orig_end = self._extend_past_marks(text, align[end - 1] + 1)
            mentions.append(
                Mention(text[orig_start:orig_end], orig_start, orig_end, entity_type, canonical)
            )
        return mentions

    def lookup_type(self, text: str) -> Optional[str]:
        """Entity type of a normalized-on-the-fly exact lookup
        (silver_annotator.py:566-571)."""
        entry = self.lookup.get(normalize(text))
        return entry[1] if entry else None
