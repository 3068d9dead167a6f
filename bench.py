"""Benchmark: end-to-end KG construction throughput + headline queries.

Usage:
    python bench.py                        # the full suite, one JSON line
    python bench.py [--plans DIR] [phase ...]

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].  Prints exactly ONE JSON line (compact, no
optional whitespace):

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "cpu_s": {name: cpu-sec, ...},
     "foreign_jvm": [name, ...], "contended": ..., "sf": ...,
     "triples": N, "turns": N, "triples_per_sec": X, "turns_per_sec": X}

The headline stage is the full pipeline (synthesized transcripts scaled
from the sf documents table -> annotate -> triples -> linking -> graph),
measured as wall time to materialize the edges table; triples/sec is the
BASELINE.json metric.  Scale knobs via env:
SPARK_GRAFT_CONVS_PER_DOC (default 300), SPARK_GRAFT_TURNS (default 4).

Phases, in suite order: kg_build kg_top_narrators kg_pagerank
kg_triangles kg_components model_ner sft_pairs assemble_convs, then the
SQL headliners (``SQL_HEADLINERS``).  Naming phases runs only those; a
graph phase also runs kg_build, which builds the graph it reads.
``--plans DIR`` also writes ``.explain("formatted")`` of each phase's
DataFrame to DIR/<phase>.txt, after the phase is timed.  Each phase's
Spark jobs carry its timing key as job description (Spark UI, event log).
SPARK_GRAFT_KG_ONLY=1 (no phase named) runs the scaling-leg suite of
``scripts/scaling_run.py``: kg_build, kg_top_narrators, kg_components.

Noise accounting (round-2 verdict: a 2.9x official-number swing turned
out to be host interference and was only diagnosable by re-running):
every timed phase also records the container cgroup CPU-seconds it
burned, the host 1-min loadavg at its start, and whether a foreign Spark
process overlapped it — a watcher thread polls /proc every 3 s for Spark
processes not descended from this one (round 3 caught a co-tenant
local[16] JVM burning the container's quota mid-leg).  Nothing waits on
this evidence; it ships with the numbers.  Wall time that swings while
cpu_s stays flat is external load, not a code regression.  The line
keeps ``cpu_s`` and the list of overlapped phases (``foreign_jvm``,
empty when clean); the per-phase ``load1`` and ``foreign_jvm`` maps go
to the gitignored side file ``bench_noise.json`` next to this script,
so the line stays inside the 2,000 bytes a driver keeps of stdout.
Two reading caveats: load1 after the first phase includes the decaying
contribution of OUR OWN just-finished JVM threads (compare against
`cpus`, not zero), and under heavy host contention the cgroup counter
itself inflates (vCPU-seconds include hypervisor-stolen slices), so
cpu_s comparisons are meaningful between runs in similar load windows.
The short SQL headliners additionally run $SPARK_GRAFT_BEST_OF times
(default 2) keeping the best wall time; every other phase runs once (the
KG build is long enough to average noise, and its cpu_s is the ground
truth).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from islamic_ner_spark import hostguard  # noqa: E402

KG_PHASES = (
    "kg_build", "kg_top_narrators", "kg_pagerank", "kg_triangles",
    "kg_components",
)
SQL_HEADLINERS = (
    "lineitem_pricing_summary",
    "orders_per_nation",
    "events_sessionize",
    "dedup_exact",
    "lang_quality",
    "embedding_topk",
    "events_asof",
    "repetition_filters",
)
FULL_SUITE = KG_PHASES + ("model_ner", "sft_pairs", "assemble_convs") + SQL_HEADLINERS
# The scaling-leg workload: the one every recorded scaling pair since
# round 3 timed, so leg CPU-s stays comparable with the recorded pairs.
KG_ONLY_SUITE = ("kg_build", "kg_top_narrators", "kg_components")
# phases whose timing key in the JSON line carries an ``_e2e`` suffix
_E2E = {"kg_build", "model_ner", "sft_pairs", "assemble_convs"}
NOISE_FILE = REPO / "bench_noise.json"

# Work-conservation reference for the contended-window self-flag: the
# kg_build_e2e phase burned 912.63 CPU-s for 6M turns at local[32] in
# the driver's round-6 run (BENCH_r06.json `parsed.cpu_s`), on the
# current two-crossing build with the annotate memo.  cpu_s scales
# linearly with turn count; the 1.5x tolerance flags genuine stall
# inflation (BENCH_r06_frozen.json: 1,788.99 CPU-s, 1.96x, for the
# same 6M turns) without false-flagging clean wide runs.
KG_BUILD_REF_CPU_S = 912.63
KG_BUILD_REF_TURNS = 6_000_000
CONTENTION_TOLERANCE = 1.5


class _PhaseClock:
    """Times phases, pairing wall seconds with cgroup CPU-seconds, the
    host load at phase start, and a foreign-Spark-JVM contamination flag
    (round-3 verdict #7: a leg a co-tenant Spark job overlaps is
    garbage, and the evidence must ship with the numbers)."""

    def __init__(self) -> None:
        self.timings: dict[str, float] = {}
        self.cpu_s: dict[str, float] = {}
        self.load1: dict[str, float] = {}
        self.foreign_jvm: dict[str, bool] = {}

    @staticmethod
    def _watch_foreign(fn) -> bool:
        """Run ``fn`` while a daemon thread polls for foreign Spark
        processes every 3 s (plus one check before and after — a
        transient co-tenant JVM mid-phase must not escape the flag).
        Returns True when any was observed."""
        hit = threading.Event()
        stop = threading.Event()

        def poll() -> None:
            while not stop.is_set() and not hit.is_set():
                if hostguard.foreign_spark_processes():
                    hit.set()
                    return
                stop.wait(3.0)

        if hostguard.foreign_spark_processes():
            hit.set()
        watcher = threading.Thread(target=poll, daemon=True)
        watcher.start()
        try:
            fn()
        finally:
            stop.set()
            watcher.join(timeout=5.0)
        if hostguard.foreign_spark_processes():
            hit.set()
        return hit.is_set()

    def run_best_of(self, name: str, fn, repeats: int = 1) -> None:
        """Best wall time of ``repeats`` runs (keeps that run's cpu_s,
        load1 and foreign flag)."""
        best: tuple[float, float | None, float | None, bool] | None = None
        for _ in range(max(1, repeats)):
            load = hostguard.load1()
            cpu_before = hostguard.container_cpu_ns()
            start = time.time()
            foreign = self._watch_foreign(fn)
            wall = time.time() - start
            cpu_after = hostguard.container_cpu_ns()
            cpu = (
                (cpu_after - cpu_before) / 1e9
                if cpu_before is not None and cpu_after is not None
                else None
            )
            if best is None or wall < best[0]:
                best = (wall, cpu, load, foreign)
        self.timings[name] = round(best[0], 3)
        if best[1] is not None:
            self.cpu_s[name] = round(best[1], 2)
        if best[2] is not None:
            self.load1[name] = best[2]
        self.foreign_jvm[name] = best[3]


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(
        description="KG-build throughput and headline-query benchmark"
    )
    parser.add_argument(
        "--plans", type=Path, metavar="DIR",
        help='also write .explain("formatted") of each phase to DIR/<phase>.txt',
    )
    parser.add_argument(
        "phases", nargs="*", metavar="phase",
        help=f"phases to run (default: all): {' '.join(FULL_SUITE)}",
    )
    args = parser.parse_args(argv)
    unknown = [p for p in args.phases if p not in FULL_SUITE]
    if unknown:
        parser.error(f"unknown phase(s): {' '.join(unknown)}")
    return args


def driver_line(payload: dict) -> str:
    """The one JSON line, without optional whitespace: with every phase
    listed in ``foreign_jvm`` an sf0.1 line stays under 1,500 bytes."""
    return json.dumps(payload, separators=(",", ":"))


def dump_plan(plans_dir: Path, name: str, df) -> None:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    (plans_dir / f"{name}.txt").write_text(buf.getvalue())


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    # default sized so fixed costs (session, vocabulary resolution) are
    # amortized and the number reflects steady-state throughput: at sf0.1
    # this is 6M turns, ~1.5 min on 32 cores
    convs_per_doc = int(os.environ.get("SPARK_GRAFT_CONVS_PER_DOC", "300"))
    turns_per_conv = int(os.environ.get("SPARK_GRAFT_TURNS", "4"))
    best_of = int(os.environ.get("SPARK_GRAFT_BEST_OF", "2"))
    kg_only = bool(os.environ.get("SPARK_GRAFT_KG_ONLY"))

    wanted = set(args.phases or (KG_ONLY_SUITE if kg_only else FULL_SUITE))
    if wanted & set(KG_PHASES):
        wanted.add("kg_build")
    if args.plans is not None:
        args.plans.mkdir(parents=True, exist_ok=True)

    from pyspark.sql import functions as F

    from islamic_ner_spark.operators.materialize import plan_capture
    from islamic_ner_spark.plans import driver_queries as dq
    from islamic_ner_spark.plans.pipeline import build_graph
    from islamic_ner_spark.session import build_session
    from islamic_ner_spark.sources.transcripts import synthetic_transcripts

    spark = build_session(
        "islamic_ner_bench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 8)
    )

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    n_convs = n_docs * convs_per_doc
    n_turns = n_convs * turns_per_conv
    clock = _PhaseClock()

    def timed(name: str, fn, plan=None, repeats: int = 1) -> None:
        """Time phase ``name`` when selected; ``plan`` builds the
        DataFrame whose plan --plans writes (after the timing, lazily:
        no lineage-cut job runs while it is built)."""
        if name not in wanted:
            return
        key = f"{name}_e2e" if name in _E2E else name
        # label the phase's Spark jobs (UI / event log) with its key
        spark.sparkContext.setJobDescription(key)
        try:
            clock.run_best_of(key, fn, repeats)
        finally:
            spark.sparkContext.setJobDescription(None)
        print(
            f"[bench] {key}: {clock.timings[key]}s wall / "
            f"{clock.cpu_s.get(key, float('nan')):.1f} cpu-s",
            file=sys.stderr, flush=True,
        )
        if args.plans is not None and plan is not None:
            with plan_capture():
                dump_plan(args.plans, name, plan())

    # --- input synthesis (untimed: a real deployment reads an existing
    # transcripts table; what we benchmark is the engine, not the faker) --
    import shutil
    import tempfile

    staging = tempfile.mkdtemp(prefix="bench_transcripts_")
    if wanted & {"kg_build", "sft_pairs", "assemble_convs"}:
        synthetic_transcripts(
            spark, n_convs, turns_per_conv=turns_per_conv, partitions=cpus * 4
        ).write.mode("overwrite").parquet(staging)

    # --- headline: end-to-end KG build -----------------------------------
    counts: dict[str, int] = {}
    graph: dict = {}

    def kg_build() -> None:
        transcripts = spark.read.parquet(staging)
        result = build_graph(spark, transcripts)
        # ONE action materializes both output tables: the union-of-aggregates
        # plan shares the broadcast resolution exchange and the cached
        # extraction scans, and populates the edges/nodes caches in a single
        # job.  sum(merge_count) IS the resolved-triple count (each emitted
        # triple contributes exactly one merge), so no separate pass needed.
        stats_rows = (
            result.edges.agg(
                F.count(F.lit(1)).alias("n"), F.sum("merge_count").alias("m")
            )
            .select(F.lit("edges").alias("k"), "n", "m")
            .unionByName(
                result.nodes.agg(F.count(F.lit(1)).alias("n")).select(
                    F.lit("nodes").alias("k"), "n", F.lit(0).cast("long").alias("m")
                )
            )
            .collect()
        )
        stats = {r["k"]: r for r in stats_rows}
        counts["edges"] = int(stats["edges"]["n"])
        counts["triples"] = int(stats["edges"]["m"])
        counts["nodes"] = int(stats["nodes"]["n"])
        graph["result"] = result

    timed("kg_build", kg_build)
    if "kg_build" in wanted and args.plans is not None:
        for part in ("edges", "nodes"):
            dump_plan(args.plans, f"kg_build_{part}", getattr(graph["result"], part))

    # --- headline queries over the built graph ---------------------------
    from islamic_ner_spark.operators.components import connected_components
    from islamic_ner_spark.operators.graph_analytics import pagerank_integer, triangles
    from islamic_ner_spark.operators.queries import top_narrators

    def edges():
        return graph["result"].edges

    timed(
        "kg_top_narrators",
        lambda: top_narrators(edges(), k=20).collect(),
        plan=lambda: top_narrators(edges(), k=20),
    )
    # round-4 analytics headliners: both reduce to the vocabulary-sized
    # scholar digraph first, so their cost is independent of corpus size.
    timed(
        "kg_pagerank",
        lambda: pagerank_integer(edges()).collect(),
        plan=lambda: pagerank_integer(edges()),
    )
    timed(
        "kg_triangles",
        lambda: triangles(edges()).count(),
        plan=lambda: triangles(edges()),
    )

    def components() -> None:
        scholar_pairs = edges().where(
            (F.col("pred") == "NARRATED_FROM")
            & (F.col("src_label") == "Scholar")
            & (F.col("tgt_label") == "Scholar")
        ).select(F.col("src_key").alias("src"), F.col("tgt_key").alias("dst"))
        connected_components(scholar_pairs).groupBy("component").count().collect()

    timed("kg_components", components)

    # --- model-NER end-to-end (round-4 verdict next #5): the reference's
    # flagship bottleneck (1.55 docs/s single-threaded on CPU,
    # BASELINE.md) measured as distributed Arrow-batched throughput.
    # Same chunked word-window/max-seq core as production, through the
    # deterministic numpy encoder (no torch in this sandbox); text is
    # tripled so most rows exceed one 120-word window and the chunk
    # logic is actually in the hot path.  Replication via
    # SPARK_GRAFT_MODEL_REPL scales the doc count (default 10x =>
    # 50k docs at sf0.1).
    model_docs = 0
    if "model_ner" in wanted:
        from islamic_ner_spark.operators.model_ner import model_ner_labels

        model_repl = int(os.environ.get("SPARK_GRAFT_MODEL_REPL", "10"))
        model_docs = n_docs * model_repl
        model_input = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .crossJoin(spark.range(model_repl).select(F.col("id").alias("rep")))
            .select(
                F.concat_ws("-", F.col("doc_id").cast("string"), "rep").alias(
                    "conv_id"
                ),
                F.lit(0).cast("int").alias("turn_idx"),
                F.concat_ws(" ", "text", "text", "text").alias("text"),
            )
            .repartition(cpus * 2)
        )

        def model_ner():
            return model_ner_labels(model_input, None, encoder="numpy").select(
                F.sum(F.size("labels"))
            )

        timed("model_ner", lambda: model_ner().collect(), plan=model_ner)

    # --- transcript training-data ops over the FULL synthetic corpus ------
    if wanted & {"sft_pairs", "assemble_convs"}:
        from islamic_ner_spark.operators.sft import (
            assemble_conversations,
            sft_pairs,
        )

        corpus = spark.read.parquet(staging)

        def sft_sink():
            # aggregate sink that touches every output column, so column
            # pruning cannot skip the prompt/response window computation
            return sft_pairs(corpus).select(
                F.count(F.lit(1)),
                F.sum(F.length("prompt") + F.length("response")),
                F.sum("n_trace_tool_turns"),
            )

        def assemble_sink():
            return assemble_conversations(corpus).select(
                F.count(F.lit(1)), F.sum(F.length("conversation"))
            )

        timed("sft_pairs", lambda: sft_sink().collect(), plan=sft_sink)
        timed("assemble_convs", lambda: assemble_sink().collect(), plan=assemble_sink)

    # --- relational / text / similarity headliners ------------------------
    for name in SQL_HEADLINERS:
        timed(
            name,
            lambda name=name: dq.QUERIES[name](spark, sf_dir).collect(),
            plan=lambda name=name: dq.QUERIES[name](spark, sf_dir),
            repeats=best_of,
        )

    shutil.rmtree(staging, ignore_errors=True)
    total = round(sum(clock.timings.values()), 3)

    # contended-window self-flag: cpu_s is the steal-immune
    # work-conservation signal, so comparing the measured kg_build burn
    # against the committed reference (scaled by turn count) says
    # directly whether this run's walls are trustworthy.
    contended = None
    kg_cpu = clock.cpu_s.get("kg_build_e2e")
    ref_cpu = KG_BUILD_REF_CPU_S * (n_turns / KG_BUILD_REF_TURNS)
    # linear cpu_s scaling only holds once per-run fixed costs (JVM
    # startup ~50 CPU-s) are amortized; below ~1/10 of the reference
    # workload the flag has no calibrated baseline and stays null
    if kg_cpu is not None and n_turns >= KG_BUILD_REF_TURNS // 10:
        contended = kg_cpu > CONTENTION_TOLERANCE * ref_cpu
        if contended:
            print(
                f"[bench] CONTENDED WINDOW: kg_build_e2e burned {kg_cpu:.0f} "
                f"CPU-s vs committed reference {ref_cpu:.0f} "
                f"(>{CONTENTION_TOLERANCE}x) — walls in this run are "
                "inflated by host interference, compare cpu_s not wall",
                file=sys.stderr, flush=True,
            )

    NOISE_FILE.write_text(
        json.dumps({"load1": clock.load1, "foreign_jvm": clock.foreign_jvm}, indent=1)
    )
    payload = {
        "metric": "kg-build e2e + headline query suite wall time",
        "value": total,
        "unit": "sec",
        "queries": clock.timings,
        "cpu_s": clock.cpu_s,
        "foreign_jvm": [name for name, hit in clock.foreign_jvm.items() if hit],
        "contended": contended,
        "kg_build_ref_cpu_s": round(ref_cpu, 1),
        "best_of_sql": best_of,
        "sf": sf_dir,
        "cpus": cpus,
        # how many queries()/oracle_sql() entries exist, so a truncated
        # correctness harness run is self-describing (round-4 verdict
        # next #1: the r04 artifact silently attested 50 of 70)
        "queries_total": len(dq.QUERIES),
        "oracles_total": len(dq.ORACLE_SQL),
        "turns": n_turns,
    }
    if counts:
        kg_seconds = clock.timings["kg_build_e2e"]
        payload.update(
            triples=counts["triples"],
            edges=counts["edges"],
            nodes=counts["nodes"],
            turns_per_sec=round(n_turns / kg_seconds, 1),
            triples_per_sec=round(counts["triples"] / kg_seconds, 1),
        )
    if model_docs:
        payload["model_docs"] = model_docs
        payload["model_docs_per_sec"] = round(
            model_docs / clock.timings["model_ner_e2e"], 1
        )
    print(driver_line(payload))


if __name__ == "__main__":
    main()
