"""spark-submit entry point: continuously maintain a KG from a
transcripts stream, plus the periodic re-canonicalization compaction.

Streaming (the long-running service shape):

    spark-submit --py-files islamic_ner_spark.zip \\
        scripts/kg_stream_job.py \\
        --input /path/to/transcripts_stream_dir \\
        --graph-dir /path/to/kg \\
        --checkpoint /path/to/ckpt \\
        [--gazetteer-dir DIR] [--n-buckets 64] [--available-now]

Compaction (a periodic batch job, e.g. nightly cron; safe while the
stream is stopped):

    spark-submit ... scripts/kg_stream_job.py \\
        --graph-dir /path/to/kg --compact [--stats-json PATH]

``--available-now`` drains the currently visible input and exits (catch-up
runs after downtime; resume comes from the checkpoint).  Compaction
re-runs the corpus-joint new-entity canonicalization over the graph's
accumulated variant vocabulary and atomically replaces the bucketed
tables — after it, the streamed graph equals a one-shot batch rebuild
(streaming/stream_pipeline.compact_graph_stream).

``--conf spark.checkpoint.dir=DIR`` makes the engine's lineage cuts
(the components rounds of the compaction's re-canonicalization among
them) reliable checkpoints that survive a lost executor
(operators/materialize.py); Spark deletes those files only when
``spark.cleaner.referenceTracking.cleanCheckpoints`` is set.  This is
separate from ``--checkpoint``, the stream's own offset/state dir.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

# repo-root import fallback for local (non --py-files) runs
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--input", default=None, help="transcripts stream dir")
    parser.add_argument("--graph-dir", required=True)
    parser.add_argument("--checkpoint", default=None)
    parser.add_argument("--gazetteer-dir", default=None)
    parser.add_argument("--n-buckets", type=int, default=64)
    parser.add_argument("--available-now", action="store_true")
    parser.add_argument("--compact", action="store_true",
                        help="run re-canonicalization compaction and exit")
    parser.add_argument("--stats-json", default=None)
    args = parser.parse_args(argv)
    if not args.compact and (not args.input or not args.checkpoint):
        parser.error("--input and --checkpoint are required unless --compact")

    from pyspark.sql import SparkSession

    from islamic_ner_spark.plans.pipeline import DEFAULT_GAZETTEER_DIR
    from islamic_ner_spark.sources.gazetteer import Gazetteer
    from islamic_ner_spark.streaming.stream_pipeline import (
        compact_graph_stream,
        start_graph_stream,
    )

    spark = (
        SparkSession.builder.appName("kg_stream")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    gazetteer_bc = spark.sparkContext.broadcast(
        Gazetteer.from_dir(args.gazetteer_dir or DEFAULT_GAZETTEER_DIR)
    )

    if args.compact:
        stats = compact_graph_stream(spark, args.graph_dir, gazetteer_bc)
        print(json.dumps({"mode": "compact", **stats}))
        if args.stats_json:
            Path(args.stats_json).write_text(json.dumps(stats))
        return

    query = start_graph_stream(
        spark, args.input, args.graph_dir, args.checkpoint, gazetteer_bc,
        available_now=args.available_now, n_buckets=args.n_buckets,
    )
    query.awaitTermination()


if __name__ == "__main__":
    main()
