"""Annotate stage: transcripts -> tokens/labels + mention & triple arrays.

ONE narrow ``mapInPandas`` pass (no shuffle) does everything per-turn:
normalize (P1-P8), tokenize (P11), mention detection with the broadcast
Aho-Corasick automaton + isnad/hadith-ref pattern rules (M1-M15), BIO
labels, entity spans, and triple extraction (R1-R6).  Downstream tables
(mentions, triples) are then plain JVM-side ``explode``s of the array
columns — the expensive Arrow crossing is paid exactly once per turn
instead of once per consumer.

Reference lifecycle being re-expressed: scripts/build_graph.py:363-421
(normalize -> split -> NER -> relations) using the model-free
gazetteer+pattern path (api/routes/ner.py:145-188,
silver_annotator.annotate_from_raw).
"""

from __future__ import annotations

from typing import Iterator, List, Sequence, Tuple

import pandas as pd
from pyspark.broadcast import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MENTION_STRUCT = (
    "struct<mention_idx:int,text:string,entity_type:string,"
    "start_token:int,end_token:int>"
)
TRIPLE_STRUCT = (
    "struct<rel_idx:int,pred:string,"
    "subj_text:string,subj_type:string,subj_start:int,subj_end:int,"
    "obj_text:string,obj_type:string,obj_start:int,obj_end:int,"
    "confidence:double,evidence:string>"
)

ANNOTATED_SCHEMA = (
    "conv_id string, turn_idx int, role string, tool string, ts timestamp, "
    "doc_id string, norm_text string, tokens array<string>, labels array<string>, "
    f"mentions array<{MENTION_STRUCT}>, triples array<{TRIPLE_STRUCT}>"
)

# The lean extraction the KG build reads: the fact arrays plus three
# flat per-turn facts of the turn's Hadith node (operators/graph.
# build_hadith_nodes_turn_local) — ``href_texts``, the HADITH_REF
# mention texts; ``n_href``, the HADITH_REF mentions plus HADITH_REF
# triple endpoints; ``href_slot``, the max ``2*rel_idx + side`` (subj 0,
# obj 1) over those endpoints, null when there are none.  All three are
# functions of the text alone, so the memo serves them as is.
EXTRACTED_SCHEMA = (
    "conv_id string, turn_idx int, doc_id string, "
    f"mentions array<{MENTION_STRUCT}>, triples array<{TRIPLE_STRUCT}>, "
    "href_texts array<string>, n_href int, href_slot int"
)

LABELED_ANNOTATED_SCHEMA = ANNOTATED_SCHEMA  # same shape, text-free path

_PASSTHROUGH = ["conv_id", "turn_idx", "role", "tool", "ts"]

# the per-text annotate result, as the memo holds it
_HIT_FIELDS = (
    "norm_text", "tokens", "labels", "mentions", "triples",
    "href_texts", "n_href", "href_slot",
)

# Per-task memo bound for the distinct-text annotate cache: beyond this
# many distinct texts in one task the memo stops admitting new entries
# (existing hits keep serving).  Sized so worst-case residency stays
# ~100-200 MB per worker at typical turn lengths.
_ANNOTATE_MEMO_CAP = 200_000

# hadith_id placeholder used while memoizing: the ONLY doc-dependent
# part of the annotate output is the sentence-level HADITH_REF stand-in
# entity extract_relations fabricates (functions/relations._hadith_source
# — always type HADITH_REF with token span -1..-1, text = hadith_id; BIO
# span entities always carry start >= 0), so a memoized result is made
# row-exact by rewriting exactly those endpoint texts to the row's
# doc_id.  The relation dedupe upstream keys on the stand-in text, but
# all stand-ins of one turn share one text, so the partition it induces
# — and therefore every memoized output — is identical whichever
# hadith_id was used.
_DOC_SENTINEL = "\x00doc\x00"


def mentions_and_triples(
    tokens: Sequence[str], labels: Sequence[str], doc_id: str
) -> Tuple[List[tuple], List[tuple]]:
    """Entity spans + relations of one turn as struct-tuples."""
    from islamic_ner_spark.functions.relations import (
        bio_to_entity_spans,
        extract_relations,
    )

    spans = bio_to_entity_spans(list(tokens), list(labels))
    mention_rows = [
        (idx, s["text"], s["type"], s["start"], s["end"])
        for idx, s in enumerate(spans)
    ]
    relations = extract_relations(
        list(tokens), list(labels), metadata={"hadith_id": doc_id}
    )
    triple_rows = [
        (
            idx,
            rel["type"],
            rel["source"]["text"], rel["source"]["type"],
            rel["source"]["start"], rel["source"]["end"],
            rel["target"]["text"], rel["target"]["type"],
            rel["target"]["start"], rel["target"]["end"],
            float(rel["confidence"]), rel["evidence"],
        )
        for idx, rel in enumerate(relations)
    ]
    return mention_rows, triple_rows


def annotate_transcripts(
    transcripts: DataFrame,
    gazetteer_bc: Broadcast,
    *,
    extraction_only: bool = False,
    memo_cap: int = _ANNOTATE_MEMO_CAP,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) -> annotated.

    ``doc_id`` = ``conv_id:turn_idx`` is the per-turn document identity
    (the reference's ``hadith_id``), used as edge provenance
    (``source_hadith``) downstream.

    Annotation is memoized per distinct ``text`` within each task: turn
    texts in a conversation corpus are heavily repetitive (the bench
    corpus runs ~4x repeats per task slice; real transcripts repeat
    greetings/boilerplate far harder), and the whole per-turn result is
    a pure function of the text except for the HADITH_REF stand-in
    entity, which is rewritten per row (see ``_DOC_SENTINEL``).  The
    memo is bounded (``_ANNOTATE_MEMO_CAP``) and task-scoped, so
    executor memory stays flat at any corpus size.

    ``extraction_only=True`` emits ``EXTRACTED_SCHEMA`` instead: (conv_id,
    turn_idx, doc_id, mentions, triples) plus the three Hadith-node
    columns (href_texts, n_href, href_slot) — the columns the KG build
    consumes — so the Arrow crossing does not serialize norm_text/
    tokens/labels for 10^N turns only for the consumer to drop them
    (guide §4: the boundary ships only what downstream reads), and the
    Hadith node is a plain projection of the extraction.
    """
    if extraction_only:
        transcripts = transcripts.select("conv_id", "turn_idx", "text")
        passthrough, schema = ["conv_id", "turn_idx"], EXTRACTED_SCHEMA
        computed = ["mentions", "href_texts", "n_href", "href_slot"]
    else:
        passthrough, schema = _PASSTHROUGH, ANNOTATED_SCHEMA
        computed = ["norm_text", "tokens", "labels", "mentions"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from islamic_ner_spark.functions.annotate import annotate_raw
        from islamic_ner_spark.functions.normalize import normalize

        gazetteer = gazetteer_bc.value
        memo: dict = {}

        def annotate_text(text):
            hit = memo.get(text)
            if hit is None:
                ntext = normalize(text) if text is not None else ""
                tokens, labels = annotate_raw(ntext, gazetteer, is_normalized=True)
                mentions, triples = mentions_and_triples(
                    tokens, labels, _DOC_SENTINEL
                )
                href_texts = [m[1] for m in mentions if m[2] == "HADITH_REF"]
                href_slots = [
                    2 * t[0] + side
                    for t in triples
                    for side, etype in ((0, t[3]), (1, t[7]))
                    if etype == "HADITH_REF"
                ]
                # in _HIT_FIELDS order, then: does any triple carry the
                # doc-dependent stand-in?
                hit = (
                    ntext, tokens, labels, mentions, triples, href_texts,
                    len(href_texts) + len(href_slots),
                    max(href_slots, default=None),
                    any(
                        (t[3] == "HADITH_REF" and t[4] == -1)
                        or (t[7] == "HADITH_REF" and t[8] == -1)
                        for t in triples
                    ),
                )
                if len(memo) < memo_cap:
                    memo[text] = hit
            return hit

        def doc_triples(hit, doc_id):  # hit[4]: triples, hit[-1]: needs_doc
            if not hit[-1]:
                return hit[4]
            return [
                (
                    t[0], t[1],
                    doc_id if (t[3] == "HADITH_REF" and t[4] == -1) else t[2],
                    t[3], t[4], t[5],
                    doc_id if (t[7] == "HADITH_REF" and t[8] == -1) else t[6],
                    t[7], t[8], t[9], t[10], t[11],
                )
                for t in hit[4]
            ]

        for batch in batches:
            doc_ids = (
                batch["conv_id"].astype(str) + ":" + batch["turn_idx"].astype(str)
            )
            hits = [annotate_text(text) for text in batch["text"]]
            out = batch[passthrough].copy()
            out["doc_id"] = doc_ids
            for name in computed:
                field = _HIT_FIELDS.index(name)
                out[name] = [hit[field] for hit in hits]
            out["triples"] = [
                doc_triples(hit, doc_id) for hit, doc_id in zip(hits, doc_ids)
            ]
            yield out

    return transcripts.mapInPandas(run, schema=schema)


def annotate_labeled(labeled: DataFrame) -> DataFrame:
    """Pre-labeled input (conv_id, turn_idx, tokens, labels) -> annotated.

    The reference's ``process_hadith(tokens, labels, hadith_id)`` entry
    shape (builder.py:134-209) — e.g. externally produced model-NER
    labels skip text annotation but share every later stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            doc_ids = (
                batch["conv_id"].astype(str) + ":" + batch["turn_idx"].astype(str)
            )
            norm_texts, mention_rows, triple_rows = [], [], []
            for tokens, labels, doc_id in zip(batch["tokens"], batch["labels"], doc_ids):
                mentions, triples = mentions_and_triples(
                    list(tokens), list(labels), doc_id
                )
                norm_texts.append(" ".join(tokens))
                mention_rows.append(mentions)
                triple_rows.append(triples)
            out = pd.DataFrame(
                {
                    "conv_id": batch["conv_id"],
                    "turn_idx": batch["turn_idx"],
                    "role": None,
                    "tool": None,
                    "ts": pd.NaT,
                    "doc_id": doc_ids,
                    "norm_text": norm_texts,
                    "tokens": batch["tokens"],
                    "labels": batch["labels"],
                    "mentions": mention_rows,
                    "triples": triple_rows,
                }
            )
            yield out

    return labeled.mapInPandas(run, schema=LABELED_ANNOTATED_SCHEMA)

