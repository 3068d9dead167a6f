"""The engine's one lineage cut and one cache (operators/materialize.py).

- No module cuts lineage or caches on its own: every ``checkpoint`` /
  ``localCheckpoint`` and every ``persist`` / ``cache`` call lives in
  the helper.
- Under ``plan_capture()`` building a kernel's plan runs no Spark job.
- With ``spark.checkpoint.dir`` set, the kernels take reliable
  checkpoints (files appear under the dir) and return exactly what the
  default local-checkpoint session returns.  That session runs in a
  subprocess (this file is its script), so the shared test session
  never gets a checkpoint dir.
"""

from __future__ import annotations

import ast
import json
import os
import random
import subprocess
import sys
from pathlib import Path

from pyspark.sql import functions as F

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "islamic_ner_spark"
HELPER = PACKAGE / "operators" / "materialize.py"

EDGE_SCHEMA = (
    "pred string, src_label string, src_key string, "
    "tgt_label string, tgt_key string"
)
CORPUS = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest widest widest widest",
    "the lowest newest widest low, the lowest!",
]


def _scholar_edges(spark):
    rng = random.Random(11)
    names = [f"s{i:02d}" for i in range(14)]
    pairs = sorted({(rng.choice(names), rng.choice(names)) for _ in range(30)})
    # a second component the first never reaches
    pairs += [("t1", "t2"), ("t2", "t3"), ("t3", "t1")]
    rows = [("NARRATED_FROM", "Scholar", s, "Scholar", t) for s, t in pairs]
    return spark.createDataFrame(rows, EDGE_SCHEMA)


def kernel_results(spark) -> dict:
    """Every iterative kernel's output on one small graph and corpus, as
    sorted JSON-ready rows."""
    from islamic_ner_spark.operators.bpe import encode_corpus, learn_bpe
    from islamic_ner_spark.operators.components import connected_components
    from islamic_ner_spark.operators.graph_analytics import (
        pagerank_integer,
        personalized_pagerank,
        triangles,
    )
    from islamic_ner_spark.operators.queries import bfs_distances, shortest_path

    edges = _scholar_edges(spark)
    pairs = edges.select(F.col("src_key").alias("src"), F.col("tgt_key").alias("dst"))
    docs = spark.createDataFrame(
        [(f"d{i}", t) for i, t in enumerate(CORPUS)], "doc_id STRING, text STRING"
    )

    def rows(df):
        return sorted([list(r) for r in df.collect()])

    return {
        "components": rows(connected_components(pairs, local_threshold=0)),
        "pagerank": rows(pagerank_integer(edges)),
        "ppr": rows(personalized_pagerank(edges)),
        "triangles": rows(triangles(edges)),
        "bfs": rows(bfs_distances(edges)),
        "path": shortest_path(edges, "t1", "t3"),
        "bpe": rows(learn_bpe(docs, n_merges=4)),
        "encode": rows(encode_corpus(docs, n_merges=4)),
    }


def _calls_outside_helper(attrs: tuple[str, ...]) -> list[str]:
    """``path:line`` of every ``.<attr>(`` call in the package outside
    operators/materialize.py."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == HELPER:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in attrs
            ):
                offenders.append(f"{path.relative_to(REPO)}:{node.lineno}")
    return offenders


def test_no_lineage_cut_outside_materialize() -> None:
    offenders = _calls_outside_helper(("checkpoint", "localCheckpoint"))
    assert offenders == [], "cut lineage with operators.materialize.materialize"


def test_no_cache_outside_materialize() -> None:
    offenders = _calls_outside_helper(("persist", "cache"))
    assert offenders == [], "cache into an owner with operators.materialize.cache"


def test_plan_capture_runs_no_job(spark) -> None:
    from islamic_ner_spark.operators.graph_analytics import (
        pagerank_integer,
        personalized_pagerank,
        triangles,
    )
    from islamic_ner_spark.operators.materialize import plan_capture

    sc = spark.sparkContext
    edges = _scholar_edges(spark)

    def jobs_to_build(group, build) -> int:
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    # outside the switch the eager cuts run jobs: the counter sees them
    assert jobs_to_build("materialize_eager", lambda: triangles(edges)) > 0
    for kernel in (pagerank_integer, personalized_pagerank, triangles):
        with plan_capture():
            n = jobs_to_build(f"materialize_capture_{kernel.__name__}",
                              lambda: kernel(edges))
        assert n == 0, kernel.__name__


def test_reliable_checkpoints_match_local(spark, tmp_path) -> None:
    assert not spark.sparkContext.getCheckpointDir()
    ckpt = tmp_path / "ckpt"
    out = tmp_path / "reliable.json"
    proc = subprocess.run(
        [sys.executable, str(Path(__file__).resolve()), str(ckpt), str(out)],
        cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": str(REPO)},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    reliable = json.loads(out.read_text())
    assert reliable == kernel_results(spark)
    written = [f for _, _, files in os.walk(ckpt) for f in files if f.startswith("part-")]
    assert written, "reliable mode wrote no checkpoint files"


if __name__ == "__main__":
    from islamic_ner_spark.session import build_session

    session = build_session(
        "materialize_reliable",
        master="local[2]",
        shuffle_partitions=4,
        extra_conf={"spark.checkpoint.dir": sys.argv[1], "spark.driver.memory": "1g"},
    )
    assert session.sparkContext.getCheckpointDir()
    Path(sys.argv[2]).write_text(json.dumps(kernel_results(session)))
    session.stop()
