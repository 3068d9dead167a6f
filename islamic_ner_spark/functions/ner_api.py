"""S8 closure: the reference's ``POST /ner`` endpoint re-expressed as a
driver function + a batch DataFrame operator.

Parity target: ``run_ner_pipeline`` (api/routes/ner.py:289-340) with the
model-free gazetteer path (:145-188) — normalize, whitespace-split,
label via the gazetteer+pattern annotator with B=0.75 / I=0.7 word
confidences, BIO repair, and span extraction with char offsets into the
normalized text (:73-91 offsets, :191-286 entity build).  The response
dict mirrors ``NERResponse`` (api/schemas.py:37-41); per-token detail
mirrors ``_build_token_payload`` (:368-382).

An HTTP server is out of scope for a batch engine (SURVEY §2.1);
:func:`ner_text` is the request/response-shaped driver surface and
:func:`ner_table` is the Spark-idiomatic bulk equivalent (one Arrow
pass, no per-row Python).
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession

from islamic_ner_spark.functions.annotate import annotate_raw, repair_bio, word_offsets
from islamic_ner_spark.functions.normalize import normalize


def _build_entity(
    words: List[str],
    offsets: List[Tuple[int, int]],
    entity_type: str,
    start_word: int,
    end_word: int,
    confidences: List[float],
) -> dict:
    span_conf = confidences[start_word:end_word] or [0.0]
    return {
        "text": " ".join(words[start_word:end_word]),
        "type": entity_type,
        "start": offsets[start_word][0],
        "end": offsets[end_word - 1][1],
        "confidence": round(float(sum(span_conf) / len(span_conf)), 4),
    }


def labels_to_entities(
    words: List[str],
    labels: List[str],
    offsets: List[Tuple[int, int]],
    confidences: List[float],
) -> List[dict]:
    """BIO labels -> entity dicts with char spans (ner.py:213-286)."""
    entities: List[dict] = []
    current_type = ""
    span_start = -1

    def close(end_word: int) -> None:
        nonlocal current_type, span_start
        if current_type and span_start >= 0:
            entities.append(
                _build_entity(words, offsets, current_type, span_start, end_word, confidences)
            )
        current_type, span_start = "", -1

    for index, label in enumerate(labels):
        if label == "O":
            close(index)
            continue
        prefix, entity_type = label.split("-", 1)
        if prefix == "B" or current_type != entity_type or span_start < 0:
            close(index)
            current_type, span_start = entity_type, index
    close(len(words))
    return entities


def run_ner_text(text: str, gazetteer, *, return_tokens: bool = False) -> dict:
    """One text -> ``NERResponse``-shaped dict (run_ner_pipeline,
    ner.py:289-340, gazetteer fallback path with B=0.75/I=0.7)."""
    normalized = normalize(text or "")
    words, labels = annotate_raw(normalized, gazetteer, is_normalized=True)
    if not words:
        return {
            "text": text,
            "normalized_text": normalized,
            "entities": [],
            "tokens": [] if return_tokens else None,
        }
    # reference order (ner.py:145-188): confidences are assigned with the
    # raw label paint (B=0.75 / I=0.7), THEN _repair_bio rewrites labels
    # only — a repair-flipped orphan I- keeps its 0.7 confidence.
    confidences = [
        0.75 if l.startswith("B-") else 0.7 if l.startswith("I-") else 0.0
        for l in labels
    ]
    labels = repair_bio(labels)
    offsets = word_offsets(normalized, words)
    entities = labels_to_entities(words, labels, offsets, confidences)
    tokens = None
    if return_tokens:
        tokens = [
            {
                "index": i,
                "token": word,
                "label": labels[i],
                "confidence": round(float(confidences[i]), 4),
                "start": offsets[i][0],
                "end": offsets[i][1],
            }
            for i, word in enumerate(words)
        ]
    return {
        "text": text,
        "normalized_text": normalized,
        "entities": entities,
        "tokens": tokens,
    }


def ner_text(
    spark: SparkSession,
    text: str,
    *,
    gazetteer=None,
    return_tokens: bool = False,
) -> dict:
    """Driver-facing single-text NER — the ``POST /ner`` equivalent.

    Runs on the driver (one request's text doesn't justify a job); use
    :func:`ner_table` to annotate a whole table distributively."""
    if gazetteer is None:
        from islamic_ner_spark.plans.pipeline import DEFAULT_GAZETTEER_DIR
        from islamic_ner_spark.sources.gazetteer import Gazetteer

        gazetteer = Gazetteer.from_dir(DEFAULT_GAZETTEER_DIR)
    return run_ner_text(text, gazetteer, return_tokens=return_tokens)


NER_RESPONSE_SCHEMA = (
    "id long, text string, normalized_text string, "
    "entities array<struct<text:string,type:string,start:int,end:int,"
    "confidence:double>>"
)


def ner_table(
    table: DataFrame,
    gazetteer_bc,
    *,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Bulk ``/ner``: one Arrow pass over a (id, text) table emitting the
    response shape as typed columns — the 100 TB-friendly version of the
    endpoint (broadcast gazetteer, narrow mapInPandas, no shuffle)."""
    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gazetteer = gazetteer_bc.value
        for batch in batches:
            norm_l, ents_l = [], []
            for text in batch[text_col]:
                resp = run_ner_text(text, gazetteer)
                norm_l.append(resp["normalized_text"])
                ents_l.append(
                    [
                        (e["text"], e["type"], e["start"], e["end"], e["confidence"])
                        for e in resp["entities"]
                    ]
                )
            yield pd.DataFrame(
                {
                    "id": batch[id_col],
                    "text": batch[text_col],
                    "normalized_text": norm_l,
                    "entities": ents_l,
                }
            )

    return table.select(id_col, text_col).mapInPandas(run, schema=NER_RESPONSE_SCHEMA)
