"""The measurement harness: bench.py's driver contract, its --plans
surface, and the pre-chosen statistic behind the scaling report."""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SF_DIR = "/root/testdata/sf0.001"
# the driver keeps the last 2,000 bytes of stdout; the line keeps a margin
LINE_LIMIT = 1500


def _run_bench(workdir: Path, *args: str) -> dict:
    """Run a copy of bench.py from ``workdir``: its side file lands next
    to the copy, so a test run leaves the repo's ``bench_noise.json`` (a
    real run's evidence) alone."""
    script = workdir / "bench.py"
    shutil.copy(REPO / "bench.py", script)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            filter(None, [str(REPO), os.environ.get("PYTHONPATH")])
        ),
        SPARK_GRAFT_SF_DIR=SF_DIR,
        SPARK_GRAFT_CONVS_PER_DOC="3",
        SPARK_GRAFT_TURNS="3",
        SPARK_GRAFT_BEST_OF="1",
        SPARK_GRAFT_MODEL_REPL="1",
        SPARK_DRIVER_MEMORY="2g",
    )
    env.pop("SPARK_GRAFT_KG_ONLY", None)
    done = subprocess.run(
        [sys.executable, str(script), *args],
        env=env, cwd=str(workdir), capture_output=True, text=True, timeout=900,
    )
    assert done.returncode == 0, done.stderr[-4000:]
    json_lines = [l for l in done.stdout.splitlines() if l.startswith("{")]
    assert len(json_lines) == 1, done.stdout[-4000:]
    assert done.stdout.rstrip().splitlines()[-1] == json_lines[0]
    return {"line": json_lines[0], "payload": json.loads(json_lines[0])}


def _bench_module():
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _r06_keys() -> dict:
    return json.loads((REPO / "BENCH_r06.json").read_text())["parsed"]


def test_driver_line_fits_with_every_phase_overlapped() -> None:
    """The widest line bench.py can print for the round-6 sf0.1 run:
    the same keys and values, with a foreign Spark process overlapping
    every phase (e.g. bench.py run while another Spark job is live)."""
    payload = _r06_keys()
    del payload["load1"]
    payload["foreign_jvm"] = list(payload["queries"])
    bench = _bench_module()
    payload["kg_build_ref_cpu_s"] = bench.KG_BUILD_REF_CPU_S
    line = bench.driver_line(payload)
    assert json.loads(line) == payload
    assert len(line.encode()) < LINE_LIMIT, len(line.encode())


@pytest.mark.skipif(not Path(SF_DIR).exists(), reason="sf0.001 test data absent")
def test_bench_driver_contract(tmp_path) -> None:
    """No-argument bench.py: one JSON line that fits the driver's tail
    capture, every key of the round-6 line except ``load1``, and the
    per-phase noise maps in the side file."""
    out = _run_bench(tmp_path)
    line, payload = out["line"], out["payload"]
    assert len(line.encode()) < LINE_LIMIT, (len(line.encode()), payload["foreign_jvm"])

    r06 = _r06_keys()
    missing = set(r06) - {"load1"} - set(payload)
    assert not missing, missing
    assert list(payload["queries"]) == list(r06["queries"])
    assert payload["triples"] > 0 and payload["nodes"] > 0
    assert isinstance(payload["foreign_jvm"], list)

    noise = json.loads((tmp_path / "bench_noise.json").read_text())
    assert set(noise["load1"]) == set(payload["queries"])
    assert set(noise["foreign_jvm"]) == set(payload["queries"])
    assert sorted(payload["foreign_jvm"]) == sorted(
        name for name, hit in noise["foreign_jvm"].items() if hit
    )


@pytest.mark.skipif(not Path(SF_DIR).exists(), reason="sf0.001 test data absent")
def test_bench_named_phases_write_plans(tmp_path) -> None:
    plans = tmp_path / "plans"
    out = _run_bench(tmp_path, "--plans", str(plans), "kg_triangles", "model_ner", "kg_pagerank")
    # a graph phase pulls in kg_build; phases keep suite order
    assert list(out["payload"]["queries"]) == [
        "kg_build_e2e", "kg_pagerank", "kg_triangles", "model_ner_e2e",
    ]
    for name in ("kg_build_edges", "kg_build_nodes", "kg_pagerank",
                 "kg_triangles", "model_ner"):
        assert "Physical Plan" in (plans / f"{name}.txt").read_text(), name


def test_bench_rejects_unknown_phase() -> None:
    done = subprocess.run(
        [sys.executable, str(REPO / "bench.py"), "kg_nope"],
        cwd=str(REPO), capture_output=True, text=True, timeout=120,
    )
    assert done.returncode == 2
    assert "kg_nope" in done.stderr


# --- scaling report statistic (no Spark) ---------------------------------

def _scaling_run():
    spec = importlib.util.spec_from_file_location(
        "scaling_run", REPO / "scripts" / "scaling_run.py"
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _pair(large_tps: float, contaminated: str = "") -> dict:
    leg = {"triples_per_sec": 100.0, "contaminated": False}
    return {
        "small": dict(leg, contaminated=contaminated == "small"),
        "large": dict(leg, triples_per_sec=large_tps,
                      contaminated=contaminated == "large"),
    }


def test_scaling_report_median_over_clean_pairs() -> None:
    report = _scaling_run().scaling_report([
        _pair(360.0),
        _pair(280.0),
        _pair(400.0, contaminated="large"),
        _pair(320.0),
        _pair(520.0, contaminated="small"),
        _pair(240.0),
    ])
    # every pair is reported, contaminated ones included
    assert report["pair_efficiency"] == pytest.approx([0.9, 0.7, 1.0, 0.8, 1.3, 0.6])
    assert report["pair_clean"] == [True, True, False, True, False, True]
    assert (report["n_pairs"], report["n_clean"]) == (6, 4)
    # the median and quartiles cover the four clean pairs only; with the
    # two contaminated pairs the median would read 0.85 and pass the gate
    assert report["median"] == pytest.approx(0.75)
    assert report["quartiles"] == pytest.approx([0.675, 0.825])
    assert report["gate_met"] is False


def test_scaling_report_edge_cases() -> None:
    scaling_run = _scaling_run()
    one = scaling_run.scaling_report([_pair(340.0), _pair(400.0, contaminated="small")])
    assert one["median"] == pytest.approx(0.85)
    assert one["quartiles"] == pytest.approx([0.85, 0.85])
    assert one["gate_met"] is True

    none = scaling_run.scaling_report([_pair(400.0, contaminated="large")])
    assert (none["n_clean"], none["median"], none["quartiles"]) == (0, None, None)
    assert none["gate_met"] is False
