"""Raw-file ingestion utilities (S2, S3).

Parity targets: CSV encoding-fallback reading
(generate_silver_data.py:128-143, candidates :44) and content-sampled
text-column auto-detection (:155-190).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from islamic_ner_spark.functions.worker import drop_zip_importers

ENCODING_CANDIDATES: Sequence[str] = ("utf-8", "UTF-8-SIG", "cp1256", "windows-1256")

# The reference scores columns by hit-rate of Sanadset structure tags.
SANADSET_MARKER_PATTERN = "<(NAR|SANAD|MATN)>"


def read_csv_with_fallback(
    spark: SparkSession,
    path: str,
    *,
    encodings: Sequence[str] = ENCODING_CANDIDATES,
    limit: Optional[int] = None,
) -> DataFrame:
    """CSV ingestion with Python-codec encoding fallback (S2).

    Spark's native CSV reader supports only a small charset whitelist (no
    cp1256) and substitutes U+FFFD instead of raising, so the reference's
    strict-decode fallback chain is reproduced over ``binaryFile``: the
    winning encoding is picked on the driver by strict-decoding the first
    file (exactly the reference's UnicodeDecodeError loop), then every
    file is decoded + parsed in an Arrow-batched pass."""
    import csv as _csv
    import io

    binary = spark.read.format("binaryFile").load(path).select("path", "content")
    first = binary.limit(1).collect()
    if not first:
        raise ValueError(f"no files under {path}")
    head = bytes(first[0]["content"])

    chosen: Optional[str] = None
    last_error: Exception | None = None
    for encoding in encodings:
        try:
            decoded = head.decode(encoding)
            chosen = encoding
            break
        except (UnicodeDecodeError, LookupError) as exc:
            last_error = exc
    if chosen is None:
        raise ValueError(f"no candidate encoding decoded {path}: {last_error}")

    header = next(_csv.reader(io.StringIO(decoded.splitlines()[0])))
    schema = ", ".join(f"`{c.strip()}` string" for c in header)

    def parse(batches):
        drop_zip_importers()
        import pandas as pd

        for batch in batches:
            frames = []
            for content in batch["content"]:
                text = bytes(content).decode(chosen)
                frame = pd.read_csv(io.StringIO(text), dtype=str, keep_default_na=False)
                frame.columns = [c.strip() for c in frame.columns]
                frames.append(frame)
            yield pd.concat(frames) if frames else pd.DataFrame(columns=[c.strip() for c in header])

    df = binary.mapInPandas(parse, schema=schema)
    return df.limit(limit) if limit else df


def detect_text_column(
    df: DataFrame,
    *,
    marker_pattern: str = SANADSET_MARKER_PATTERN,
    sample_rows: int = 3000,
) -> Optional[str]:
    """Pick the string column with the highest marker hit-rate on a
    bounded sample (S3) — one aggregation pass over all candidates
    instead of the reference's per-column Python loop."""
    string_cols = [f.name for f in df.schema.fields if f.dataType.simpleString() == "string"]
    if not string_cols:
        return None
    sample = df.limit(sample_rows)
    scores = sample.agg(
        *[
            F.avg(F.col(c).rlike(marker_pattern).cast("int")).alias(c)
            for c in string_cols
        ]
    ).collect()[0]
    best = max(string_cols, key=lambda c: (scores[c] or 0.0, -string_cols.index(c)))
    return best if (scores[best] or 0.0) > 0.0 else None
