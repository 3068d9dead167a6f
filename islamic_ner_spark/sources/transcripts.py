"""Deterministic synthetic transcripts + golden triples for any scale.

Input shape per BASELINE.json ``input_hint``:
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``.

Turn texts are templated isnad chains / book attributions / concept
sentences over the repo gazetteers (all content derives from the
reference's committed fixtures — FIXTURES.md §5/§8), interleaved with
non-Arabic agent/tool noise turns.  Everything is a pure function of
``(seed, conv_idx, turn_idx)``, so:

* generation is fully distributed (``spark.range`` -> mapInPandas) — no
  driver-side data, any scale;
* the *expected* triple set for the P/R >= 0.95 gate is computable
  independently per turn by running the pure-Python semantic core
  (fuzz-proven equivalent to the reference, tests/test_parity_reference.py)
  over the regenerated text — also distributed.

Scholar sampling is Zipf-weighted (``skew``) so hot-entity skew in the
linking joins is actually exercised at scale.
"""

from __future__ import annotations

import random
from typing import Iterator, List, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from islamic_ner_spark.functions.worker import drop_zip_importers

TRANSCRIPTS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def read_transcripts(
    spark: SparkSession, path: str, *, source_format: str = "parquet"
) -> DataFrame:
    """Schema-pinned transcript reader for the engine's input contract.

    ``source_format``: ``parquet`` (canonical), ``json`` (JSONL — the
    common chat-log interchange form; one turn object per line,
    timestamps as ISO-8601 strings), or ``csv`` (header row expected).
    The schema is ALWAYS pinned to ``TRANSCRIPTS_SCHEMA`` rather than
    inferred: at 100 TB, schema inference is an extra full pass over the
    data, and a drifting inferred type (e.g. ``turn_idx`` as string)
    would silently poison every downstream ordinal merge.  Malformed
    rows surface as nulls (Spark PERMISSIVE mode) so the ingest filters
    can count/quarantine them instead of the job dying mid-scan."""
    reader = spark.read.schema(TRANSCRIPTS_SCHEMA)
    if source_format == "parquet":
        return reader.parquet(path)
    if source_format == "json":
        return reader.json(path)
    if source_format == "csv":
        return reader.option("header", "true").csv(path)
    raise ValueError(
        f"unsupported transcripts format {source_format!r} "
        "(expected parquet, json, or csv)"
    )

# Sampling pools (fixture-derived; see islamic_ner_spark/data/gazetteers/).
CHAIN_SCHOLARS: Tuple[str, ...] = (
    "عبد الله بن يوسف",
    "مالك",
    "نافع",
    "ابن عمر",
    "أبو هريرة",
    "الزهري",
    "سفيان بن عيينة",
    "يحيى بن سعيد",
    "عائشة",
    "أنس بن مالك",
)
AUTHORS: Tuple[str, ...] = ("البخاري", "مسلم", "الترمذي", "أبو داود")
CONCEPTS: Tuple[str, ...] = ("الربا", "التوحيد", "الصلاة", "الزكاة", "الصيام", "النية")
PLACES: Tuple[str, ...] = ("المدينة", "مكة", "بدر", "الكوفة")
BOOKS: Tuple[str, ...] = ("صحيح البخاري", "صحيح مسلم", "الموطأ")
NOISE_TEXTS: Tuple[str, ...] = (
    "please search the hadith corpus for narration chains",
    "tool returned 3 documents, summarizing now",
    "ok thanks, continue with the next conversation",
    "Hello, world! 123",
)
EPOCH_BASE = 1_767_225_600  # 2026-01-01T00:00:00Z, fixed (no wall clock)


def _zipf_weights(n: int, skew: float) -> List[float]:
    return [1.0 / (rank**skew) for rank in range(1, n + 1)]


def _conversation_rows(
    conv_idx: int, seed: int, turns_per_conv: int, skew: float
) -> List[Tuple[str, int, str, str, str, int]]:
    """All turns of one conversation — pure function of (seed, conv_idx)."""
    rng = random.Random(f"islamic-ner-synth:{seed}:{conv_idx}")
    conv_id = f"conv_{conv_idx:09d}"
    weights = _zipf_weights(len(CHAIN_SCHOLARS), skew)
    rows = []
    for turn_idx in range(turns_per_conv):
        kind = rng.random()
        role, tool = "assistant", None
        if kind < 0.12:
            text = rng.choice(NOISE_TEXTS)
            role = rng.choice(("user", "tool"))
            tool = "search" if role == "tool" else None
        elif kind < 0.55:
            k = rng.randint(2, 4)
            chain: List[str] = []
            while len(chain) < k:
                pick = rng.choices(CHAIN_SCHOLARS, weights=weights, k=1)[0]
                if pick not in chain:
                    chain.append(pick)
            opener = rng.choice(("حدثنا", "اخبرنا"))
            text = opener + " " + " عن ".join(chain)
        elif kind < 0.68:
            text = "رواه " + rng.choices(AUTHORS, weights=_zipf_weights(len(AUTHORS), skew), k=1)[0]
        elif kind < 0.80:
            text = f"حديث رقم {rng.randint(1, 9999)} " + rng.choice(CONCEPTS)
        elif kind < 0.88:
            text = "نهى عن " + rng.choice(CONCEPTS)
        elif kind < 0.95:
            scholar = rng.choices(CHAIN_SCHOLARS, weights=weights, k=1)[0]
            text = f"سمعت {scholar} في " + rng.choice(PLACES)
        else:
            s1 = rng.choices(CHAIN_SCHOLARS, weights=weights, k=1)[0]
            author = rng.choice(AUTHORS)
            book = rng.choice(BOOKS)
            concept = rng.choice(CONCEPTS)
            text = (
                f"حدثنا {s1} قال {author} في {book} "
                f"حديث رقم {rng.randint(1, 999)} {concept}"
            )
        ts = EPOCH_BASE + (conv_idx % 100_000) * 3600 + turn_idx * 60
        rows.append((conv_id, turn_idx, role, text, tool, ts))
    return rows


def synthetic_transcripts(
    spark: SparkSession,
    n_conversations: int,
    *,
    turns_per_conv: int = 8,
    seed: int = 42,
    skew: float = 1.1,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic transcripts table."""
    base = spark.range(n_conversations, numPartitions=partitions)

    def generate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for batch in batches:
            rows = []
            for conv_idx in batch["id"]:
                rows.extend(
                    _conversation_rows(int(conv_idx), seed, turns_per_conv, skew)
                )
            frame = pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
            )
            frame["ts"] = pd.to_datetime(frame["ts"], unit="s")
            yield frame

    return base.mapInPandas(generate, schema=TRANSCRIPTS_SCHEMA)


def transcripts_from_documents(
    spark: SparkSession,
    documents: DataFrame,
    *,
    turns_per_conv: int = 3,
    seed: int = 42,
    skew: float = 1.1,
) -> DataFrame:
    """Deterministic transcripts keyed by an existing table's ``doc_id``
    column — used by the driver-facing queries so the testdata tables are
    genuine inputs at every scale factor."""

    def generate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for batch in batches:
            rows = []
            for doc_id in batch["doc_id"]:
                rows.extend(
                    _conversation_rows(int(doc_id), seed, turns_per_conv, skew)
                )
            frame = pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
            )
            frame["ts"] = pd.to_datetime(frame["ts"], unit="s")
            yield frame

    return documents.select("doc_id").mapInPandas(generate, schema=TRANSCRIPTS_SCHEMA)


EXPECTED_TRIPLES_SCHEMA = (
    "doc_id string, pred string, "
    "subj_text string, subj_type string, subj_start int, subj_end int, "
    "obj_text string, obj_type string, obj_start int, obj_end int, "
    "confidence double, evidence string"
)


def expected_triples(
    spark: SparkSession,
    n_conversations: int,
    *,
    turns_per_conv: int = 8,
    seed: int = 42,
    skew: float = 1.1,
    gazetteer_dir: str | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Golden triples: regenerate each turn's text and run the pure-Python
    semantic core (reference-equivalent by differential test) on it."""
    from islamic_ner_spark.plans.pipeline import DEFAULT_GAZETTEER_DIR

    gaz_dir = gazetteer_dir or DEFAULT_GAZETTEER_DIR
    base = spark.range(n_conversations, numPartitions=partitions)

    def generate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        from islamic_ner_spark.functions.annotate import annotate_raw
        from islamic_ner_spark.functions.normalize import normalize
        from islamic_ner_spark.functions.relations import extract_relations
        from islamic_ner_spark.sources.gazetteer import Gazetteer

        gazetteer = Gazetteer.from_dir(gaz_dir)
        for batch in batches:
            out = []
            for conv_idx in batch["id"]:
                for conv_id, turn_idx, _role, text, _tool, _ts in _conversation_rows(
                    int(conv_idx), seed, turns_per_conv, skew
                ):
                    doc_id = f"{conv_id}:{turn_idx}"
                    tokens, labels = annotate_raw(
                        normalize(text), gazetteer, is_normalized=True
                    )
                    for rel in extract_relations(
                        tokens, labels, metadata={"hadith_id": doc_id}
                    ):
                        s, t = rel["source"], rel["target"]
                        out.append(
                            (
                                doc_id, rel["type"],
                                s["text"], s["type"], s["start"], s["end"],
                                t["text"], t["type"], t["start"], t["end"],
                                float(rel["confidence"]), rel["evidence"],
                            )
                        )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "pred",
                    "subj_text", "subj_type", "subj_start", "subj_end",
                    "obj_text", "obj_type", "obj_start", "obj_end",
                    "confidence", "evidence",
                ],
            )

    return base.mapInPandas(generate, schema=EXPECTED_TRIPLES_SCHEMA)


def triple_precision_recall(actual: DataFrame, expected: DataFrame) -> dict:
    """Exact-tuple P/R of emitted triples vs the golden set."""
    keys = [
        "doc_id", "pred",
        "subj_text", "subj_type", "subj_start", "subj_end",
        "obj_text", "obj_type", "obj_start", "obj_end",
        "confidence",
    ]
    a = actual.select(keys).distinct()
    e = expected.select(keys).distinct()
    n_actual = a.count()
    n_expected = e.count()
    n_hit = a.join(e, keys, "inner").count()
    precision = n_hit / n_actual if n_actual else 1.0
    recall = n_hit / n_expected if n_expected else 1.0
    f1 = (
        2 * precision * recall / (precision + recall) if (precision + recall) else 0.0
    )
    return {
        "actual": n_actual,
        "expected": n_expected,
        "matched": n_hit,
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }
