"""spark-submit entry point: transcripts table -> nodes/edges tables.

The north-rule deployment shape — run on a cluster as:

    zip -r islamic_ner_spark.zip islamic_ner_spark
    spark-submit --py-files islamic_ner_spark.zip \\
        scripts/kg_build_job.py \\
        --input  /path/to/transcripts_parquet \\
        --output /path/to/kg_workdir \\
        [--gazetteer-dir DIR] [--n-buckets 256] [--stats-json PATH]

Every stage under --output materializes with a lineage manifest
(sources/tables.py); a killed job re-run with the same arguments resumes
from completed work — the annotate stage at bucket granularity, later
stages whole-table (plans/pipeline.build_graph).  In local smoke runs
the same script works with a plain `python` invocation because
islamic_ner_spark is importable from the repo root.

``--conf spark.checkpoint.dir=DIR`` makes the engine's lineage cuts
(the connected-components rounds among them) reliable checkpoints that
survive a lost executor (operators/materialize.py); Spark deletes those
files only when ``spark.cleaner.referenceTracking.cleanCheckpoints`` is
set.

For continuous ingestion of a transcripts stream (plus the periodic
re-canonicalization compaction), use scripts/kg_stream_job.py instead.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

# repo-root import fallback for local (non --py-files) runs
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--input", required=True, help="transcripts parquet path")
    parser.add_argument("--output", required=True, help="work dir for staged tables")
    parser.add_argument("--gazetteer-dir", default=None)
    parser.add_argument(
        "--n-buckets", type=int, default=256,
        help="annotate resume granularity (completed buckets are skipped on re-run)",
    )
    parser.add_argument("--stats-json", default=None, help="write final stats here")
    parser.add_argument("--limit", type=int, default=None, help="row cap for smoke runs")
    args = parser.parse_args(argv)

    from pyspark.sql import SparkSession

    from islamic_ner_spark.plans.pipeline import DEFAULT_GAZETTEER_DIR, build_graph

    # on a cluster, master/executors come from spark-submit; the builder
    # only fills in session-level engine defaults if unset
    builder = (
        SparkSession.builder.appName("kg_build")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    spark = builder.getOrCreate()

    transcripts = spark.read.parquet(args.input)
    if args.limit:
        transcripts = transcripts.limit(args.limit)

    started = time.time()
    result = build_graph(
        spark,
        transcripts,
        gazetteer_dir=args.gazetteer_dir or DEFAULT_GAZETTEER_DIR,
        work_dir=args.output,
        n_buckets=args.n_buckets,
        input_token=f"{args.input}#limit={args.limit}",
    )
    stats = result.stats()
    # flat totals under the same keys bench.py reports: triples are the
    # resolved triples the edges merged, sum(merge_count), counted in
    # graph_stats' per-pred groupBy (no extra Spark action)
    stats["nodes"] = stats["total_nodes"]
    stats["edges"] = stats["total_relationships"]
    stats["triples"] = stats["total_triples"]
    stats["wall_seconds"] = round(time.time() - started, 3)
    stats["input"] = args.input
    stats["output"] = args.output
    print(json.dumps(stats))
    if args.stats_json:
        Path(args.stats_json).write_text(json.dumps(stats, indent=2))


if __name__ == "__main__":
    main()
