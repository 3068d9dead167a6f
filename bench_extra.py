"""Per-phase isolation harness for optimization work (guide §1.4/§1.5).

NOT the driver bench — ``bench.py`` stays the frozen measurement contract.
This file exists so a single phase can be timed (and its physical plan
captured) without paying the full suite: it builds the same KG as
bench.py at the same scale knobs, then runs only the phases named on the
command line, each labeled via setJobDescription and timed with the same
wall + container-CPU pairing.  DataFrame-returning phases are driven
through the noop sink so every column of every row is computed and the
sink costs nothing.

Usage:
    python bench_extra.py [phase ...]
    python bench_extra.py --plans OUTDIR [phase ...]   # also dump
        .explain("formatted") of each phase's DataFrame to OUTDIR/<phase>.txt

Phases: kg_build kg_top_narrators kg_pagerank kg_triangles kg_components
        model_ner sft_pairs assemble_convs repetition_filters (default: all)
Env knobs: same as bench.py (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
SPARK_GRAFT_CONVS_PER_DOC, SPARK_GRAFT_TURNS).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))


def _container_cpu_s() -> float | None:
    try:
        return int(open("/sys/fs/cgroup/cpuacct/cpuacct.usage").read()) / 1e9
    except OSError:
        pass
    for path in ("/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/unified/cpu.stat"):
        try:
            for line in open(path):
                if line.startswith("usage_usec"):
                    return int(line.split()[1]) / 1e6
        except OSError:
            continue
    return None


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    args = sys.argv[1:]
    plans_dir = None
    if args and args[0] == "--plans":
        plans_dir = Path(args[1])
        plans_dir.mkdir(parents=True, exist_ok=True)
        args = args[2:]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    convs_per_doc = int(os.environ.get("SPARK_GRAFT_CONVS_PER_DOC", "300"))
    turns_per_conv = int(os.environ.get("SPARK_GRAFT_TURNS", "4"))

    from pyspark.sql import functions as F

    from islamic_ner_spark.plans import driver_queries as dq
    from islamic_ner_spark.plans.pipeline import build_graph
    from islamic_ner_spark.session import build_session
    from islamic_ner_spark.sources.transcripts import synthetic_transcripts

    spark = build_session(
        "bench_extra", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )

    timings: dict[str, float] = {}
    cpu_s: dict[str, float] = {}

    def run(name: str, fn) -> None:
        spark.sparkContext.setJobDescription(name)
        c0, t0 = _container_cpu_s(), time.time()
        fn()
        wall, c1 = time.time() - t0, _container_cpu_s()
        spark.sparkContext.setJobDescription(None)
        timings[name] = round(wall, 3)
        if c0 is not None and c1 is not None:
            cpu_s[name] = round(c1 - c0, 2)
        print(f"[bench_extra] {name}: {timings[name]}s wall"
              f" / {cpu_s.get(name, float('nan')):.1f} cpu-s", file=sys.stderr)

    def dump_plan(name: str, df) -> None:
        if plans_dir is not None:
            import io
            from contextlib import redirect_stdout

            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            (plans_dir / f"{name}.txt").write_text(buf.getvalue())

    phases = args or [
        "kg_build", "kg_top_narrators", "kg_pagerank", "kg_triangles",
        "kg_components", "model_ner", "repetition_filters",
    ]
    kg_phases = {
        "kg_build", "kg_top_narrators", "kg_pagerank", "kg_triangles",
        "kg_components",
    }

    result = None
    if kg_phases & set(phases):
        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        import shutil
        import tempfile

        staging = tempfile.mkdtemp(prefix="bench_extra_transcripts_")
        synthetic_transcripts(
            spark, n_docs * convs_per_doc, turns_per_conv=turns_per_conv,
            partitions=cpus * 4,
        ).write.mode("overwrite").parquet(staging)

        counts = {}

        def kg_build() -> None:
            transcripts = spark.read.parquet(staging)
            res = build_graph(spark, transcripts)
            stats_rows = (
                res.edges.agg(
                    F.count(F.lit(1)).alias("n"), F.sum("merge_count").alias("m")
                )
                .select(F.lit("edges").alias("k"), "n", "m")
                .unionByName(
                    res.nodes.agg(F.count(F.lit(1)).alias("n")).select(
                        F.lit("nodes").alias("k"), "n",
                        F.lit(0).cast("long").alias("m"),
                    )
                )
                .collect()
            )
            stats = {r["k"]: r for r in stats_rows}
            counts.update(
                edges=int(stats["edges"]["n"]), triples=int(stats["edges"]["m"]),
                nodes=int(stats["nodes"]["n"]), result=res,
            )

        run("kg_build", kg_build)
        result = counts.pop("result")
        print(f"[bench_extra] counts: {counts}", file=sys.stderr)
        dump_plan("kg_build_edges", result.edges)
        dump_plan("kg_build_nodes", result.nodes)

        from islamic_ner_spark.operators.components import connected_components
        from islamic_ner_spark.operators.graph_analytics import (
            pagerank_integer,
            triangles,
        )
        from islamic_ner_spark.operators.queries import top_narrators

        if "kg_top_narrators" in phases:
            df = top_narrators(result.edges, k=20)
            dump_plan("kg_top_narrators", df)
            run("kg_top_narrators", lambda: top_narrators(result.edges, k=20).collect())
        if "kg_pagerank" in phases:
            run("kg_pagerank", lambda: pagerank_integer(result.edges).collect())
            dump_plan("kg_pagerank", pagerank_integer(result.edges, checkpoint=False))
        if "kg_triangles" in phases:
            run("kg_triangles", lambda: triangles(result.edges).count())
            if plans_dir is not None:  # triangles() checkpoints eagerly
                dump_plan("kg_triangles", triangles(result.edges))
        if "kg_components" in phases:

            def components() -> None:
                scholar_pairs = result.edges.where(
                    (F.col("pred") == "NARRATED_FROM")
                    & (F.col("src_label") == "Scholar")
                    & (F.col("tgt_label") == "Scholar")
                ).select(F.col("src_key").alias("src"), F.col("tgt_key").alias("dst"))
                connected_components(scholar_pairs).groupBy(
                    "component"
                ).count().collect()

            run("kg_components", components)
        shutil.rmtree(staging, ignore_errors=True)

    if "model_ner" in phases:
        from islamic_ner_spark.operators.model_ner import model_ner_labels

        n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
        model_repl = int(os.environ.get("SPARK_GRAFT_MODEL_REPL", "10"))
        model_input = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .crossJoin(spark.range(model_repl).select(F.col("id").alias("rep")))
            .select(
                F.concat_ws("-", F.col("doc_id").cast("string"), "rep").alias("conv_id"),
                F.lit(0).cast("int").alias("turn_idx"),
                F.concat_ws(" ", "text", "text", "text").alias("text"),
            )
            .repartition(cpus * 2)
        )
        labels = model_ner_labels(model_input, None, encoder="numpy")
        dump_plan("model_ner", labels)
        run("model_ner", lambda: labels.select(F.sum(F.size("labels"))).collect())
        print(f"[bench_extra] model_docs/s: "
              f"{n_docs * model_repl / timings['model_ner']:.0f}", file=sys.stderr)

    for name, qname in (
        ("repetition_filters", "repetition_filters"),
    ):
        if name in phases:
            df = dq.QUERIES[qname](spark, sf_dir)
            dump_plan(name, df)
            run(name, lambda df=df: df.collect())

    print(json.dumps({"timings": timings, "cpu_s": cpu_s, "sf": sf_dir,
                      "cpus": cpus}))


if __name__ == "__main__":
    main()
