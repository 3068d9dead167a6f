"""The north-rule deployment shape, actually executed: zip the package,
ship it with ``spark-submit --py-files``, build the graph from a
transcripts parquet, and resume from the work dir on a second run.

The entry script is COPIED outside the repo before submission so its
repo-root sys.path fallback cannot mask a broken zip — the executors and
driver must import ``islamic_ner_spark`` from the shipped archive alone.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import zipfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_py_files_build_and_resume(spark, tmp_path):
    from islamic_ner_spark.sources.transcripts import synthetic_transcripts

    input_dir = str(tmp_path / "transcripts")
    synthetic_transcripts(spark, 20, turns_per_conv=3).write.parquet(input_dir)

    # package zip, as a cluster deployment would build it
    zip_path = tmp_path / "islamic_ner_spark.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for path in sorted((REPO / "islamic_ner_spark").rglob("*.py")):
            zf.write(path, path.relative_to(REPO))
        for path in sorted((REPO / "islamic_ner_spark" / "data").rglob("*")):
            if path.is_file():
                zf.write(path, path.relative_to(REPO))

    # entry script moved OUT of the repo: its parents[1] fallback then
    # points at tmp, so only the --py-files archive can satisfy imports
    job_script = tmp_path / "kg_build_job.py"
    job_script.write_text((REPO / "scripts" / "kg_build_job.py").read_text())

    out_dir = tmp_path / "kg_workdir"
    stats_json = tmp_path / "stats.json"

    def submit() -> dict:
        cmd = [
            SPARK_SUBMIT,
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", str(zip_path),
            str(job_script),
            "--input", input_dir,
            "--output", str(out_dir),
            "--n-buckets", "4",
            "--stats-json", str(stats_json),
        ]
        proc = subprocess.run(
            cmd, cwd=str(tmp_path), capture_output=True, text=True, timeout=600
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        return json.loads(stats_json.read_text())

    stats1 = submit()
    assert stats1["triples"] > 0
    assert stats1["edges"] > 0 and stats1["nodes"] > 0

    # the job's triples are the resolved triples the edges merged, as an
    # in-memory build of the same input counts them
    from pyspark.sql import functions as F

    from islamic_ner_spark.plans.pipeline import build_graph

    result = build_graph(spark, spark.read.parquet(input_dir))
    in_memory = result.edges.agg(F.sum("merge_count")).collect()[0][0]
    result.unpersist()
    assert stats1["triples"] == in_memory

    edges_manifest = next(out_dir.rglob("_manifest.json"), None)
    assert edges_manifest is not None, "staged tables must carry lineage manifests"

    # second run resumes from the completed work dir: identical outputs,
    # and the annotate stage skips its completed buckets (resume makes
    # the second run cheaper, but wall time is host-noisy — assert the
    # contract on outputs, not seconds)
    stats2 = submit()
    assert (stats2["triples"], stats2["edges"], stats2["nodes"]) == (
        stats1["triples"], stats1["edges"], stats1["nodes"]
    )
