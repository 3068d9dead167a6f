"""Workload inputs: deterministic transcript corpora written as parquet.

The engine only ever sees the parquet these functions write.  Each corpus
is a pure function of ``(seed, size)``, so the same seed always gives the
same input, and a corpus already on disk for a seed is reused.
"""

from __future__ import annotations

import json
import random
import shutil
from dataclasses import asdict, dataclass
from pathlib import Path

import pandas as pd

from islamic_ner_spark.sources.transcripts import (
    EPOCH_BASE,
    TRANSCRIPTS_SCHEMA,
    synthetic_transcripts,
)


@dataclass(frozen=True)
class Size:
    """How much input one workload gets.

    ``turns`` is the corpus the timed builds read, written as ``files``
    parquet files; the traced run streams the same files, one per
    micro-batch.  ``warmup_turns`` is the small slice the untimed warm-up
    build reads.  ``vocab`` and ``pool`` only apply to ``longtail_vocab``.
    """

    turns: int
    files: int
    warmup_turns: int
    vocab: int = 0
    pool: int = 0


TURNS_PER_CONV = 8
# A seed picks one of INPUTS generated inputs (seed mod INPUTS); each of
# them has pinned outputs in pinned.json, so any seed's outputs are checked.
INPUTS = 10
# The warm-up slice is the same for every seed, so it is generated once.
WARM_SEED = 1_000_000

SIZES = {
    "chat_repeat": Size(turns=32_000, files=4, warmup_turns=80),
    "longtail_vocab": Size(turns=4_000, files=4, warmup_turns=80,
                           vocab=2_000, pool=200),
}
SMOKE_SIZES = {
    "chat_repeat": Size(turns=800, files=2, warmup_turns=160),
    "longtail_vocab": Size(turns=800, files=2, warmup_turns=160,
                           vocab=400, pool=40),
}

# Letters that normalization leaves alone (no alif/ya/ta-marbuta folding),
# so a synthesized name is its own normal form.
_LETTERS = "بتثجحخدذرزسشصضطظعغفقكلمنهو"
# One-letter substitutions used for spelling variants.
_VARIANT_OF = {"س": "ص", "ص": "س", "ت": "ط", "ط": "ت", "د": "ذ", "ذ": "د",
               "ز": "ذ", "ح": "ه", "ه": "ح", "ك": "ق", "ق": "ك"}
VARIANT_SHARE = 0.10


@dataclass(frozen=True)
class Corpus:
    """A generated input on disk plus the facts the run records about it."""

    workload: str
    seed: int
    path: str
    turns: int
    files: int
    input_bytes: int
    distinct_texts: int
    vocab: int = 0
    pool: int = 0
    variants: int = 0

    def to_dict(self) -> dict:
        return asdict(self)


def name_pool(seed: int, pool: int) -> list[str]:
    """``pool`` distinct synthetic first names, 6 to 8 letters each (long
    enough that two unrelated names rarely score as fuzzy matches)."""
    rng = random.Random(f"longtail-pool:{seed}")
    names: list[str] = []
    seen: set[str] = set()
    while len(names) < pool:
        name = "".join(rng.choice(_LETTERS) for _ in range(rng.randint(6, 8)))
        if name not in seen:
            seen.add(name)
            names.append(name)
    return names


def _variant(name: str, rng: random.Random) -> str | None:
    spots = [i for i, ch in enumerate(name) if ch in _VARIANT_OF]
    if not spots:
        return None
    i = rng.choice(spots)
    return name[:i] + _VARIANT_OF[name[i]] + name[i + 1:]


def longtail_vocabulary(seed: int, vocab: int, pool: int) -> tuple[list[str], int]:
    """``vocab`` distinct ``X بن Y`` scholar names over a pool of ``pool``
    first names; about ``VARIANT_SHARE`` of them are one-letter spelling
    variants of another name in the list.  Returns (names, n_variants)."""
    if vocab > pool * (pool - 1):
        raise ValueError(f"vocab={vocab} needs a pool larger than {pool}")
    rng = random.Random(f"longtail-vocab:{seed}")
    first = name_pool(seed, pool)
    names: list[str] = []
    seen: set[str] = set()
    n_variants = 0
    while len(names) < vocab:
        if names and rng.random() < VARIANT_SHARE:
            base_x, base_y = rng.choice(names).split(" بن ")
            x = _variant(base_x, rng)
            if x is None:
                continue
            candidate, is_variant = f"{x} بن {base_y}", True
        else:
            x, y = rng.sample(first, 2)
            candidate, is_variant = f"{x} بن {y}", False
        if candidate not in seen:
            seen.add(candidate)
            names.append(candidate)
            n_variants += is_variant
    return names, n_variants


def longtail_frame(seed: int, size: Size, n_turns: int) -> tuple[pd.DataFrame, int]:
    """Isnad-chain turns over the long-tail vocabulary: every turn names
    2 to 4 scholars drawn uniformly, so nearly every turn text is distinct."""
    names, n_variants = longtail_vocabulary(seed, size.vocab, size.pool)
    rng = random.Random(f"longtail-turns:{seed}")
    rows = []
    for turn in range(n_turns):
        conv_idx, turn_idx = divmod(turn, TURNS_PER_CONV)
        chain = rng.sample(names, rng.randint(2, 4))
        opener = rng.choice(("حدثنا", "اخبرنا"))
        rows.append((
            f"conv_{conv_idx:09d}", turn_idx, "assistant",
            opener + " " + " عن ".join(chain), None,
            EPOCH_BASE + conv_idx * 3600 + turn_idx * 60,
        ))
    frame = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    frame["ts"] = pd.to_datetime(frame["ts"], unit="s")
    return frame, n_variants


def _parquet_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.glob("*.parquet"))


def write_corpus(spark, workload: str, seed: int, size: Size, n_turns: int,
                 n_files: int, root: Path) -> Corpus:
    """Write (or reuse) ``n_turns`` of the ``workload`` corpus for ``seed``
    under ``root`` as ``n_files`` parquet files, and describe it."""
    path = root / f"{workload}-s{seed}-t{n_turns}-f{n_files}-v{size.vocab}-p{size.pool}"
    facts = path / "_corpus.json"
    if facts.exists():
        return Corpus(**json.loads(facts.read_text()))
    shutil.rmtree(path, ignore_errors=True)
    n_variants = 0
    if workload == "chat_repeat":
        df = synthetic_transcripts(
            spark, n_turns // TURNS_PER_CONV, turns_per_conv=TURNS_PER_CONV,
            seed=seed, partitions=n_files,
        )
    elif workload == "longtail_vocab":
        frame, n_variants = longtail_frame(seed, size, n_turns)
        df = spark.createDataFrame(frame, schema=TRANSCRIPTS_SCHEMA).repartition(
            n_files, "conv_id"
        )
    else:
        raise ValueError(f"unknown workload {workload!r}")
    df.write.parquet(str(path))
    written = spark.read.parquet(str(path))
    corpus = Corpus(
        workload=workload, seed=seed, path=str(path), turns=written.count(),
        files=len(list(path.glob("*.parquet"))), input_bytes=_parquet_bytes(path),
        distinct_texts=written.select("text").distinct().count(),
        vocab=size.vocab, pool=size.pool, variants=n_variants,
    )
    facts.write_text(json.dumps(corpus.to_dict()))
    return corpus
