"""Two-cluster-size scaling evidence: local[N] vs local[4N].

The north rule requires throughput scaling efficiency >= 0.8 from N to 4N
executors; with no real cluster in the sandbox, the same KG-build job
(``bench.py`` with SPARK_GRAFT_KG_ONLY=1) runs at two parallelism levels
on identical input (seeded generator => byte-identical) in separate
JVMs, and a pair's efficiency = (triples/s at 4N / triples/s at N) / 4.

``repeats`` pairs run with their legs alternating (N, 4N, N, 4N, ...),
so the host's minutes-scale load swings hit both sizes alike.  Each leg
is taskset-pinned to its core count, and an in-flight monitor records
whether a foreign Spark process overlapped it plus the container CPU it
burned.  Nothing waits for a quiet window or retries a leg; a leg only
waits (at most 60 s) for the previous leg's exiting Spark processes.
The statistic is fixed in advance: the median (and quartiles) of the
efficiencies of the pairs no foreign Spark process overlapped; every
pair is reported.

Writes BENCH.md and prints a JSON summary.

Usage: python scripts/scaling_run.py [convs_per_doc] [turns]
Env: SPARK_GRAFT_SCALE_N (default 4), SPARK_GRAFT_SCALE_REPEATS
(default 2), SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from islamic_ner_spark import hostguard  # noqa: E402

GATE = 0.8


def run_bench(cpus: int, convs_per_doc: int, turns: int, sf_dir: str) -> dict:
    """One leg: bench.py's KG_ONLY suite pinned to ``cpus`` cores, with
    the leg's container CPU and foreign-Spark evidence attached."""
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_SF_DIR": sf_dir,
            "SPARK_GRAFT_CONVS_PER_DOC": str(convs_per_doc),
            "SPARK_GRAFT_TURNS": str(turns),
            "SPARK_GRAFT_KG_ONLY": "1",
        }
    )
    # Pin the whole process tree (JVM threads + Python UDF workers) to
    # exactly `cpus` cores: in local mode Spark's Python workers run in
    # separate processes, so an unpinned local[8] would silently consume
    # up to 2x8 cores and overstate small-cluster throughput.
    cmd = [sys.executable, str(REPO / "bench.py")]
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["/usr/bin/taskset", "-c", f"0-{cpus - 1}"] + cmd

    # drain (<= 60 s) the previous leg's JVM and Python daemons: bench.py
    # exits before they do, and reparented to init they read as foreign
    deadline = time.time() + 60
    while hostguard.spark_processes() and time.time() < deadline:
        time.sleep(1)
    before = hostguard.container_cpu_ns()
    # child stdout goes to a FILE, not a pipe: the monitor loop below
    # does not drain pipes, and a leg whose Spark output exceeded the
    # pipe buffer would block forever and die as a bogus timeout
    with tempfile.TemporaryFile(mode="w+t") as out_file:
        proc = subprocess.Popen(
            cmd,
            env=env,
            stdout=out_file,
            stderr=subprocess.DEVNULL,
            text=True,
            cwd=str(REPO),
        )
        # in-flight contamination monitor (round-3 verdict next #1): poll
        # for Spark processes not descended from THIS script (the leg's
        # own JVM and workers are children of `proc`, hence of us).  A
        # leg any foreign JVM overlaps shared the container's CPU quota
        # and cores; the flag keeps its pair out of the median.
        started = time.time()
        foreign_seen: list[str] = []
        max_load = 0.0
        while proc.poll() is None:
            if time.time() - started > 3600:
                proc.kill()
                raise TimeoutError(f"leg local[{cpus}] exceeded 3600s")
            for _pid, cmdline in hostguard.foreign_spark_processes()[:2]:
                if cmdline not in foreign_seen:
                    foreign_seen.append(cmdline)
            load_now = hostguard.load1()
            if load_now is not None:
                max_load = max(max_load, load_now)
            time.sleep(5)
        out_file.seek(0)
        out_text = out_file.read()
    after = hostguard.container_cpu_ns()
    line = [l for l in out_text.strip().splitlines() if l.startswith("{")][-1]
    run = json.loads(line)
    # total CPU-seconds the container burned during the leg (JVM + Python
    # workers; valid while nothing else runs in the container) —
    # steal/contention-immune evidence of work conservation: if cpu_total
    # at 4N ~= cpu_total at N, the plan does the same work at both sizes
    # and any wall-clock sub-linearity is host noise or scheduling gaps,
    # not algorithmic inflation
    if before is not None and after is not None:
        run["cpu_total_s"] = round((after - before) / 1e9, 1)
    run["cpus"] = cpus
    run["contaminated"] = bool(foreign_seen)
    run["foreign_jvm_cmds"] = foreign_seen[:3]
    run["max_load1_during"] = round(max_load, 1)
    return run


def pair_efficiency(pair: dict) -> float:
    return round(
        pair["large"]["triples_per_sec"] / pair["small"]["triples_per_sec"] / 4.0, 3
    )


def pair_clean(pair: dict) -> bool:
    """No foreign Spark process overlapped either leg."""
    return not (pair["small"]["contaminated"] or pair["large"]["contaminated"])


def scaling_report(pairs: list[dict]) -> dict:
    """Every pair's efficiency, plus the median and quartiles over the
    clean pairs; the gate is judged on that median alone."""
    effs = [pair_efficiency(p) for p in pairs]
    clean = [e for p, e in zip(pairs, effs) if pair_clean(p)]
    median = quartiles = None
    if clean:
        median = round(statistics.median(clean), 3)
        if len(clean) > 1:
            q1, _, q3 = statistics.quantiles(clean, n=4, method="inclusive")
        else:
            q1 = q3 = clean[0]
        quartiles = [round(q1, 3), round(q3, 3)]
    return {
        "pair_efficiency": effs,
        "pair_clean": [pair_clean(p) for p in pairs],
        "n_pairs": len(pairs),
        "n_clean": len(clean),
        "median": median,
        "quartiles": quartiles,
        "gate_met": median is not None and median >= GATE,
    }


def main() -> None:
    convs_per_doc = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    turns = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    n_small = int(os.environ.get("SPARK_GRAFT_SCALE_N", "4"))
    n_large = n_small * 4
    repeats = int(os.environ.get("SPARK_GRAFT_SCALE_REPEATS", "2"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    pairs: list[dict] = []
    for attempt in range(repeats):
        pair = {}
        for side, cpus in (("small", n_small), ("large", n_large)):
            run = run_bench(cpus, convs_per_doc, turns, sf_dir)
            print(
                f"local[{cpus}] pair {attempt + 1}/{repeats}: "
                f"kg_build={run['queries']['kg_build_e2e']}s "
                f"triples/s={run['triples_per_sec']} "
                f"cpu_total={run.get('cpu_total_s', '?')}s "
                f"(max load1 {run['max_load1_during']} during, "
                f"contaminated={run['contaminated']})",
                flush=True,
            )
            pair[side] = run
        pairs.append(pair)

    report = scaling_report(pairs)
    summary = {
        "sf_dir": sf_dir,
        "convs_per_doc": convs_per_doc,
        "turns_per_conv": turns,
        "n_small": n_small,
        **report,
        "pairs": pairs,
    }
    print(json.dumps(summary))
    if not report["n_clean"]:
        raise SystemExit(
            "no pair free of foreign Spark processes — BENCH.md not "
            "rewritten; stop the other Spark jobs and re-run"
        )

    # the two-leg table shows the clean pair at the (lower) median
    clean_pairs = sorted(filter(pair_clean, pairs), key=pair_efficiency)
    shown = clean_pairs[(len(clean_pairs) - 1) // 2]
    small, large = shown["small"], shown["large"]
    pair_rows = "\n".join(
        f"| {i + 1} | {p['small']['queries']['kg_build_e2e']} | "
        f"{p['large']['queries']['kg_build_e2e']} | "
        f"{p['small'].get('cpu_total_s', 'n/a')} | "
        f"{p['large'].get('cpu_total_s', 'n/a')} | {eff} | "
        f"{'clean' if clean else 'foreign Spark process'} |"
        for i, (p, eff, clean) in enumerate(
            zip(pairs, report["pair_efficiency"], report["pair_clean"])
        )
    )
    q1, q3 = report["quartiles"]

    bench_md = REPO / "BENCH.md"
    bench_md.write_text(
        f"""# BENCH — measured throughput and scaling

## End-to-end KG construction (synthetic transcripts, seed=42)

Same input at two parallelism levels, each JVM + its Python workers
pinned with taskset to exactly N cores (the in-sandbox proxy for N vs 4N
executors per BASELINE.json).  {report['n_pairs']} pairs ran with their
legs alternating N, 4N, N, 4N, ...; a monitor polled every 5 s for
Spark processes foreign to the leg.  The statistic was fixed before the
run: the median of the pair efficiencies over the {report['n_clean']}
pairs no foreign Spark process overlapped.  The table gives the two
legs of the clean pair at the (lower) median.

| cluster size | turns | kg-build wall (s) | turns/s | triples/s | leg CPU-s total |
|---|---|---|---|---|---|
| local[{n_small}]  (N)  | {small['turns']:,} | {small['queries']['kg_build_e2e']} | {small['turns_per_sec']:,} | {small['triples_per_sec']:,} | {small.get('cpu_total_s', 'n/a')} |
| local[{n_large}] (4N) | {large['turns']:,} | {large['queries']['kg_build_e2e']} | {large['turns_per_sec']:,} | {large['triples_per_sec']:,} | {large.get('cpu_total_s', 'n/a')} |

**Scaling efficiency (N -> 4N), median of {report['n_clean']} clean pairs: {report['median']:.3f}**
(quartiles {q1:.3f}-{q3:.3f}; gate: median >= {GATE} — {
    'met' if report['gate_met'] else 'NOT met'})

Every pair (efficiency = (triples/s at 4N / triples/s at N) / 4):

| pair | local[{n_small}] wall (s) | local[{n_large}] wall (s) | local[{n_small}] CPU-s | local[{n_large}] CPU-s | efficiency | legs |
|---|---|---|---|---|---|---|
{pair_rows}

The CPU-s columns are container CPU burned during the leg (cgroup
cpuacct delta; covers the JVM + Python workers while nothing else runs
in the container) — a steal-immune work-conservation check: when it is
~equal at N and 4N, the plan does the same total work at both sizes and
wall-clock sub-linearity is host interference (this sandbox's external
load swings the machine's effective speed up to 2x within minutes), not
algorithmic inflation.  Host load is recorded per leg
(`max_load1_during` in the JSON summary), never waited out.

Triples emitted: {large['triples']:,}; nodes {large['nodes']:,};
edges {large['edges']:,}.

## How the plan scales (per-layer evidence: `perfbench/run.py --trace 1`)

The dominant stage — fused annotate (normalize + AC gazetteer + pattern
NER + extraction, one narrow mapInPandas, zero shuffle) — scales at
~1.0 efficiency (measured 4.19x from 4 -> 16 cores at equal load).  The
engineering work went into making everything else either narrow or
vocabulary-sized:

* graph materialize: every unique-turn build — in memory and the staged
  `work_dir` job alike — runs ONE fused Arrow pass over the extraction
  (the resolution rides along as a broadcast dict).  It emits
  first-writer-wins edges with no exchange (the edge key contains the
  per-turn doc_id, so a global exchange is provably unnecessary) and
  per-batch pre-aggregated vocabulary-node candidates.  Spark event logs
  showed the global SortAggregate+Exchange inflating per-record CPU ~5x
  at 16 threads on this single box (shared-LLC/allocator contention —
  stalled cycles, not more work); on a real multi-node cluster that
  exchange would scale, but removing it is strictly better there too.
* node MERGE: doc-scoped (Hadith) nodes are a narrow per-row
  projection; only the vocabulary candidates reach a global agg, at
  ~|vocabulary| rows per Arrow batch.
* fallback: the global groupBy (`build_nodes` / `build_edges`) serves
  labeled input that may repeat a turn and resolutions above
  `FUSED_VOCAB_LIMIT`; map-side partial aggregation collapses its
  vocabulary-keyed rows to ~|vocabulary| rows per partition before the
  exchange.
* resolution: computed over DISTINCT (text, type) strings (vocabulary-
  sized, not corpus-sized); exact = broadcast join, fuzzy = batched
  Arrow UDF, canonicalization = size-adaptive connected components
  (single probing job + driver union-find under 2M edges, iterative
  large-star/small-star above).
* ANN machinery (round 4): the IVF k-means trainer accumulates partial
  (cell, count, sum) INSIDE the assignment Arrow pass — <= n_cells rows
  per task, zero corpus shuffles per Lloyd round (the corpus join +
  posexplode per iteration is gone; plan asserted join-free in tests);
  hyperplane LSH signatures are batch-vectorized (packbits + XOR flip
  masks — byte-identical digests, ~2.9x kernel speedup measured).

Residual sub-linearity is the ~10-15 s of parallelism-independent work
(Spark session+job scheduling, the vocabulary resolution ladder, AQE
stage materialization) plus external host load; it shrinks relative to
input size — the efficiency number above improves with corpus scale,
exactly the property that matters at 10^12 turns.

## sf1 headroom

The one 10x-scale kg-build leg (60,000,000 turns, round 6) is recorded
in [BENCH_sf1.md](BENCH_sf1.md).  `scripts/scaling_run.py` rewrites
this file but never that one.

## Reference comparison

The reference processes 1.55 docs/s (~5 relations/s inserted) single-
threaded, model-bound (BASELINE.md). This engine's model-free path at
local[{n_large}] (the median pair's wide leg): {large['turns_per_sec']:,} turns/s /
{large['triples_per_sec']:,} triples/s — roughly
{int(large['turns_per_sec'] / 1.55):,}x the reference document rate.

The MODEL path (the reference's bottleneck) is measured separately:
bench.py's `model_ner_e2e` phase runs the chunked word-window /
first-subword / max-seq NER core end-to-end distributed (Arrow-batched
mapInPandas over tripled-text documents, deterministic numpy encoder —
the same chunk logic a torch checkpoint would drive) and reports
`model_docs_per_sec` in the per-round BENCH_r{{N}}.json; thousands of
docs/s against the reference's 1.55 docs/s, and the phase carries the
same cpu_s/foreign_jvm evidence as every other phase.

Every plan property claimed above is an executable assertion:
`python scripts/plan_audit.py` checks pushed filters, column pruning,
broadcast joins, partial aggregation, the zero-shuffle edge path, and
the shuffle-free IVF refinement against the actual Catalyst plans and
exits non-zero on any regression.

Regenerate: `python scripts/scaling_run.py` (writes this file).
Per-round driver numbers: BENCH_r{{N}}.json (bench.py at sf0.1 defaults).
"""
    )
    print(f"wrote {bench_md}")


if __name__ == "__main__":
    main()
