#!/usr/bin/env python3
"""KG-build benchmark: end-to-end metrics, or a traced per-layer replay.

Run from the repository root:

    python3 perfbench/run.py --workload chat_repeat --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0``
reports the end-to-end metrics of untraced builds; ``--trace 1`` reports
the per-layer metrics of a traced replay (see perfbench/README.md).  The
line before it holds the run's context: host, versions, seed and input
sizes.  ``--smoke`` shrinks every input to toy size.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import uuid
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = BENCH_DIR / ".work"

from ops import (
    PINNED,
    Gate,
    check_pinned,
    check_sample,
    graph_digest,
    materialize,
    pin_key,
    pinned_record,
    run_queries,
    sample_precision_recall,
    setup,
)

WORKLOADS = ("chat_repeat", "longtail_vocab")
# Builds keep getting faster for several builds after the warm-up, by
# about a tenth each on a 4-vCPU host (also after a warm-up on the full
# corpus), so a run times at least three and reports their median.  The
# run's window (20 s in BENCHMARK.json) is shorter than three builds of
# either workload there, so every run times the same three builds.
MIN_BUILDS = 3


def parse_args(argv=None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, default=20.0,
                        help="how long the timed build loop runs")
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--smoke", action="store_true", help="toy-size inputs")
    parser.add_argument("--pin", action="store_true",
                        help="record the pinned outputs of every input of --workload and exit")
    return parser.parse_args(argv)


# --------------------------------------------------------------------------
# host and session sizing


def _ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def size_environment(run_dir: Path) -> dict:
    """Size Spark for this host before the JVM starts: driver heap well
    below physical RAM (the session default is 32g), scratch dirs inside
    the checkout, and the repo importable by the Python workers."""
    cores = len(os.sched_getaffinity(0))
    ram_gib = _ram_bytes() / 2**30
    local = run_dir / "local"
    tmp = run_dir / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, min(4, int(ram_gib) // 4))}g"
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    return {"nproc": cores, "ram_gib": round(ram_gib, 1),
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"]}


def container_cpu_s() -> float:
    """Cumulative CPU of the whole container: cgroup v1 ``cpuacct.usage``,
    else cgroup v2 ``cpu.stat``."""
    v1 = Path("/sys/fs/cgroup/cpuacct/cpuacct.usage")
    if v1.exists():
        return int(v1.read_text()) / 1e9
    for line in Path("/sys/fs/cgroup/cpu.stat").read_text().splitlines():
        key, value = line.split()
        if key == "usage_usec":
            return int(value) / 1e6
    raise RuntimeError("no cgroup CPU accounting found")


def _children(pid: int) -> list[int]:
    out = []
    for task in Path(f"/proc/{pid}/task").glob("*"):
        try:
            out += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            continue
    return out


def process_tree(pid: int) -> list[int]:
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        tree.append(p)
        todo += _children(p)
    return tree


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def start_session(run_dir: Path, event_log: Path | None):
    from islamic_ner_spark.session import build_session

    # The whole heap is committed and touched at start: with a heap that
    # grows on demand, peak_rss_mb read anywhere from 2.0 to 3.2 GB in runs
    # of the same build.
    heap = os.environ["SPARK_DRIVER_MEMORY"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -Xms{heap} -XX:+AlwaysPreTouch",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
        })
    cores = os.environ["SPARK_GRAFT_CPUS"]
    return build_session("perfbench", master=f"local[{cores}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait until it and its Python
    workers have exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    tree = process_tree(proc.pid)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    for pid in tree[1:]:
        while Path(f"/proc/{pid}").exists() and time.time() < deadline:
            time.sleep(0.05)
        if Path(f"/proc/{pid}").exists():
            os.kill(pid, 9)


# --------------------------------------------------------------------------
# trace 0: set-up, timed builds, then the query suite as an output check


def measure_builds(spark, corpus, gazetteer, seconds: float, gate: Gate):
    """Closed loop, one build at a time: build, then materialize nodes and
    edges in one action; at least MIN_BUILDS builds, and more while
    another fits in ``seconds``.  Returns (per-build records, the last
    build's result)."""
    from islamic_ner_spark.plans.pipeline import build_graph

    builds, result = [], None
    started = time.time()
    while True:
        # every build runs alone: the previous one's cache is freed first
        if result is not None:
            result.unpersist()
        cpu0, t0 = container_cpu_s(), time.time()
        result = build_graph(spark, spark.read.parquet(corpus.path), gazetteer=gazetteer)
        counts = materialize(result.nodes, result.edges)
        builds.append({"build_s": time.time() - t0, "cpu_s": container_cpu_s() - cpu0,
                       "counts": counts})
        gate.op()
        if len(builds) > 1:
            gate.check(f"build{len(builds)}_counts", counts == builds[0]["counts"])
        elapsed = time.time() - started
        if len(builds) >= MIN_BUILDS and elapsed + builds[-1]["build_s"] > seconds:
            return builds, result


def end_to_end(args, ctx: dict, spark, corpus, warm_corpus, gaz_dir,
               session_s: float) -> tuple[Gate, dict]:
    gate = Gate()
    gazetteer, setup_s = setup(session_s, spark, warm_corpus, gaz_dir)
    builds, result = measure_builds(spark, corpus, gazetteer, args.seconds, gate)
    jvm = spark.sparkContext._gateway.proc.pid
    rss = peak_rss_mb(process_tree(jvm))
    ctx["jvm_peak_rss_mb"] = peak_rss_mb([jvm])
    _, answers = run_queries(result.edges)
    gate.attempted += len(answers)

    counts = builds[-1]["counts"]
    digest = graph_digest(result.nodes, result.edges)
    check_pinned(gate, corpus, pinned_record(corpus, counts, digest, answers))
    check_sample(gate, sample_precision_recall(spark, result.triples, corpus, gazetteer, args.seed))
    result.unpersist()

    build_s = statistics.median(b["build_s"] for b in builds)
    ctx.update({"builds": builds, "counts": counts, "digest": digest})
    metrics = {
        "setup_s": (setup_s, "s"),
        "build_s": (build_s, "s"),
        "triples_per_s": (counts["triples"] / build_s, "1/s"),
        "cpu_s_per_mturn": (statistics.median(b["cpu_s"] for b in builds)
                            / corpus.turns * 1e6, "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    return gate, metrics


# --------------------------------------------------------------------------
# driver


def main(argv=None) -> int:
    args = parse_args(argv)
    run_id = uuid.uuid4().hex[:12]
    run_dir = WORK / "runs" / run_id
    ctx = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "smoke": args.smoke, "run_id": run_id, **size_environment(run_dir)}
    sys.path.insert(0, str(ROOT))

    from islamic_ner_spark import hostguard
    from islamic_ner_spark.plans.pipeline import DEFAULT_GAZETTEER_DIR

    import workloads

    ctx.update({
        "load1_start": hostguard.load1(),
        "foreign_spark_processes": bool(hostguard.foreign_spark_processes()),
        "python": platform.python_version(),
    })
    event_log = run_dir / "eventlog" if args.trace else None
    started = time.time()
    spark = start_session(run_dir, event_log)
    session_s = time.time() - started
    ctx.update({"spark": spark.version, "phase_s": {"session": session_s}})
    try:
        sizes = workloads.SMOKE_SIZES if args.smoke else workloads.SIZES
        size = sizes[args.workload]
        if args.pin:
            return pin_seeds(spark, args, size)
        seed = args.seed % workloads.INPUTS
        corpus = workloads.write_corpus(spark, args.workload, seed, size, size.turns,
                                        size.files, WORK / "inputs")
        warm_corpus = workloads.write_corpus(spark, args.workload, workloads.WARM_SEED,
                                             size, size.warmup_turns, size.files,
                                             WORK / "inputs")
        ctx["input"] = corpus.to_dict()
        ctx["phase_s"]["inputs"] = time.time() - started - session_s
        if args.trace:
            from layers import traced_run

            gate, metrics = traced_run(args, ctx, spark, corpus, warm_corpus,
                                       DEFAULT_GAZETTEER_DIR, run_dir, session_s)
        else:
            gate, metrics = end_to_end(args, ctx, spark, corpus, warm_corpus,
                                       DEFAULT_GAZETTEER_DIR, session_s)
    finally:
        stopping = time.time()
        stop_session(spark)
        ctx["phase_s"].update({"stop": time.time() - stopping, "total": time.time() - started})
    if args.trace:
        from layers import finish_trace

        metrics = finish_trace(ctx, metrics, event_log)
    ctx.update({"checks": gate.checks, "failed_frac": gate.failed_frac})
    shutil.rmtree(run_dir, ignore_errors=True)
    (WORK / "results").mkdir(parents=True, exist_ok=True)
    (WORK / "results" / f"{args.workload}-s{args.seed}-t{args.trace}-{run_id}.json").write_text(
        json.dumps(ctx, indent=1, default=str))
    print(json.dumps({"context": {k: v for k, v in ctx.items()
                                  if k not in ("builds", "spans", "layers")}}, default=str))
    print(json.dumps({
        "correct": gate.correct, "attempted": gate.attempted, "failed": gate.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def pin_seeds(spark, args, size) -> int:
    """Record the pinned outputs (counts, digest, query answers) of every
    input of ``--workload`` at this size, and of its warm-up slice, into
    pinned.json."""
    from islamic_ner_spark.plans.pipeline import DEFAULT_GAZETTEER_DIR, build_graph
    from islamic_ner_spark.sources.gazetteer import Gazetteer

    import workloads

    gazetteer = Gazetteer.from_dir(DEFAULT_GAZETTEER_DIR)
    pins = json.loads(PINNED.read_text()) if PINNED.exists() else {}
    inputs = [(seed, size.turns) for seed in range(workloads.INPUTS)]
    for seed, turns in inputs + [(workloads.WARM_SEED, size.warmup_turns)]:
        corpus = workloads.write_corpus(spark, args.workload, seed, size, turns,
                                        size.files, WORK / "inputs")
        result = build_graph(spark, spark.read.parquet(corpus.path), gazetteer=gazetteer)
        counts = materialize(result.nodes, result.edges)
        _, answers = run_queries(result.edges)
        pins.setdefault(pin_key(corpus), {})[str(seed)] = pinned_record(
            corpus, counts, graph_digest(result.nodes, result.edges), answers)
        result.unpersist()
        print(f"pinned {pin_key(corpus)} seed {seed}: {counts}", flush=True)
    PINNED.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
