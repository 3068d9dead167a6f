"""Operations shared by the untraced and the traced run: materializing
the graph, the query suite, output digests and the output gate."""

from __future__ import annotations

import json
import random
import time
from pathlib import Path

PINNED = Path(__file__).resolve().parent / "pinned.json"
PR_SAMPLE_TURNS = 200
QUERY_NAMES = ("top_narrators", "pagerank", "triangles", "components")
TRIPLE_KEYS = (
    "doc_id", "pred", "subj_text", "subj_type", "subj_start", "subj_end",
    "obj_text", "obj_type", "obj_start", "obj_end", "confidence",
)


def materialize(nodes, edges) -> dict:
    """One action over both output tables: edge count, resolved-triple
    count (sum of merge_count) and node count."""
    from pyspark.sql import functions as F

    rows = (
        edges.agg(F.count(F.lit(1)).alias("n"), F.sum("merge_count").alias("m"))
        .select(F.lit("edges").alias("k"), "n", "m")
        .unionByName(
            nodes.agg(F.count(F.lit(1)).alias("n")).select(
                F.lit("nodes").alias("k"), "n", F.lit(0).cast("long").alias("m")
            )
        )
        .collect()
    )
    by = {r["k"]: r for r in rows}
    return {"edges": int(by["edges"]["n"]), "triples": int(by["edges"]["m"] or 0),
            "nodes": int(by["nodes"]["n"])}


def query_suite():
    """The four graph queries, each forced by one action; every one
    returns a small answer the output gate can pin."""
    from pyspark.sql import functions as F

    from islamic_ner_spark.operators.components import connected_components
    from islamic_ner_spark.operators.graph_analytics import (
        pagerank_integer,
        scholar_digraph,
        triangles,
    )
    from islamic_ner_spark.operators.queries import top_narrators

    def top(edges):
        return [[r["src_key"], int(r["n"])] for r in top_narrators(edges, k=20).collect()]

    def pagerank(edges):
        row = pagerank_integer(edges).agg(
            F.count(F.lit(1)).alias("n"), F.sum("rank_x1e9").alias("s")
        ).collect()[0]
        return [int(row["n"]), int(row["s"] or 0)]

    def tri(edges):
        return triangles(edges).count()

    def components(edges):
        pairs = scholar_digraph(edges).withColumnRenamed("tgt", "dst")
        sizes = connected_components(pairs).groupBy("component").count().collect()
        return sorted(int(r["count"]) for r in sizes)[-5:] + [len(sizes)]

    return dict(zip(QUERY_NAMES, (top, pagerank, tri, components)))


def run_queries(edges, tracer=None) -> tuple[dict, dict]:
    """One pass of the query suite; returns (seconds per query, answers)."""
    import contextlib

    seconds, answers = {}, {}
    for name, fn in query_suite().items():
        ctx = tracer.span(f"queries.{name}") if tracer else contextlib.nullcontext()
        start = time.time()
        with ctx:
            answers[name] = fn(edges)
        seconds[name] = time.time() - start
    return seconds, answers


def table_digest(df) -> str:
    """Order-independent digest: row count and the sum of per-row
    xxhash64 over every column (by name, so column order is irrelevant)."""
    from pyspark.sql import functions as F

    cols = sorted(c for c in df.columns if c != "bucket")
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return f"{row['n']}:{row['s'] or 0}"


def graph_digest(nodes, edges) -> str:
    return f"nodes={table_digest(nodes)};edges={table_digest(edges)}"


def sample_precision_recall(spark, triples, corpus, gazetteer, seed: int) -> dict:
    """Re-extract a seeded sample of turns with the pure-Python semantic
    core (as ``expected_triples`` does) and compare with the build's
    triples for the same turns."""
    from pyspark.sql import functions as F

    from islamic_ner_spark.functions.annotate import annotate_raw
    from islamic_ner_spark.functions.normalize import normalize
    from islamic_ner_spark.functions.relations import extract_relations
    from workloads import TURNS_PER_CONV

    rng = random.Random(f"pr-sample:{seed}")
    n_convs = corpus.turns // TURNS_PER_CONV
    picks = {
        f"conv_{c:09d}:{t}"
        for c, t in ((rng.randrange(n_convs), rng.randrange(TURNS_PER_CONV))
                     for _ in range(PR_SAMPLE_TURNS))
    }
    doc_id = F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string"))
    texts = (
        spark.read.parquet(corpus.path).select(doc_id.alias("doc_id"), "text")
        .where(F.col("doc_id").isin(sorted(picks))).collect()
    )
    expected = set()
    for row in texts:
        tokens, labels = annotate_raw(normalize(row["text"]), gazetteer, is_normalized=True)
        for rel in extract_relations(tokens, labels, metadata={"hadith_id": row["doc_id"]}):
            s, t = rel["source"], rel["target"]
            expected.add((row["doc_id"], rel["type"], s["text"], s["type"], s["start"],
                          s["end"], t["text"], t["type"], t["start"], t["end"],
                          float(rel["confidence"])))
    actual = {
        tuple(r) for r in
        triples.where(F.col("doc_id").isin(sorted(picks))).select(*TRIPLE_KEYS).collect()
    }
    hit = len(actual & expected)
    return {
        "turns": len(texts), "expected": len(expected), "actual": len(actual),
        "precision": hit / len(actual) if actual else 1.0,
        "recall": hit / len(expected) if expected else 1.0,
    }


class Gate:
    """Counts operations attempted and failed, and the checks behind them."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, object] = {}

    def op(self, ok: bool = True) -> None:
        self.attempted += 1
        self.failed += not ok

    def check(self, name: str, ok: bool, detail: object = None) -> None:
        self.op(ok)
        self.checks[name] = {"ok": ok, "detail": detail}

    @property
    def correct(self) -> bool:
        return self.failed == 0

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def pin_key(corpus) -> str:
    """The pinned.json table of a corpus: every input of one workload and
    size, keyed by seed inside it."""
    return f"{corpus.workload}-t{corpus.turns}-f{corpus.files}-v{corpus.vocab}-p{corpus.pool}"


def pinned_record(corpus, counts: dict, digest: str, answers: dict) -> dict:
    return {"turns": corpus.turns, "distinct_texts": corpus.distinct_texts,
            **counts, "digest": digest, "answers": answers}


def pinned(corpus) -> dict | None:
    """The committed record of this input, if there is one."""
    pins = json.loads(PINNED.read_text()) if PINNED.exists() else {}
    return pins.get(pin_key(corpus), {}).get(str(corpus.seed))


def check_pinned(gate: Gate, corpus, record: dict, name: str = "pinned") -> None:
    """Compare every key of ``record`` with the committed record of this
    input; an input without one fails the check."""
    want = pinned(corpus)
    if want is None:
        gate.check(name, False, f"{pin_key(corpus)} seed {corpus.seed} is not pinned")
        return
    diff = sorted(k for k in record if want.get(k) != record[k])
    gate.check(name, not diff, diff)


def check_sample(gate: Gate, pr: dict) -> None:
    gate.check("sample_pr", pr["precision"] == 1.0 and pr["recall"] == 1.0
               and pr["expected"] > 0, pr)


def setup(spark_start_s: float, spark, warm_corpus, gaz_dir: str):
    """Set-up as a user pays it: gazetteer load and one untimed warm-up
    build on a small slice.  Returns (gazetteer, setup seconds including
    the session start)."""
    from islamic_ner_spark.plans.pipeline import build_graph
    from islamic_ner_spark.sources.gazetteer import Gazetteer

    start = time.time()
    gazetteer = Gazetteer.from_dir(gaz_dir)
    warm = build_graph(spark, spark.read.parquet(warm_corpus.path), gazetteer=gazetteer)
    materialize(warm.nodes, warm.edges)
    warm.unpersist()
    return gazetteer, spark_start_s + time.time() - start
