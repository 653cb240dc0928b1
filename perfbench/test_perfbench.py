"""The benchmark's own tests: a tiny-size pass of each workload, untraced
and traced, checking the output JSON, metric names and units, the span
file and the output checks. Run from the root of a checkout:

    python -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layer_metrics  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(workload: str, trace: int, seed: int = 3, cwd: str = ROOT, size: str = "tiny"):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--size", size]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int)
    return out


def test_benchmark_json_schema():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert BENCH["paths"] == ["perfbench"]
    assert 2 <= len(WORKLOADS) <= 8
    for w in BENCH["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in BENCH["end_to_end"])
    # the per-layer list is exactly what the traced run reports
    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == layer_metrics.names_and_units()
    assert 1 <= BENCH["run_seconds"] <= 60


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_tiny_pass(workload):
    out = _result(_run(workload, trace=0))
    assert out["correct"] and out["failed"] == 0
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_tiny_pass_writes_spans(workload):
    out = _result(_run(workload, trace=1))
    assert out["correct"]
    want = dict(layer_metrics.names_and_units())
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["session.start_s"] > 0 and m["trace.build_s"] > 0
    for k, v in m.items():
        if k.endswith(("_ratio",)):
            assert 0.0 <= v <= 1.0, k
    with open(os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-seed3.json")) as fh:
        spans = json.load(fh)["spans"]
    layers = {s["layer"] for s in spans}
    expected_layers = {
        "scene_dataset": {"pipeline", "scenes", "sampling", "tiler", "multimodal",
                          "materialize", "grids", "tables", "asof", "binning"},
        "doc_curation": {"pipeline", "tables", "corpus", "dedup", "persist"},
    }[workload]
    assert expected_layers <= layers
    for s in spans:
        assert {"name", "start", "end", "parent", "build_id", "self_s", "jobs", "tasks"} <= set(s)
        assert s["end"] >= s["start"] and s["self_s"] <= s["duration_s"] + 1e-9
    assert any(s["jobs"] > 0 for s in spans if s["name"].endswith(".exec"))
    if workload == "scene_dataset":
        assert m["tiler.hit_ratio"] == 1.0 and m["multimodal.images"] > 0
        assert m["materialize.bytes_written"] > 0 and m["materialize.files_written"] > 0


def test_wrong_checksum_is_a_failed_build():
    import workloads

    wl = workloads.SceneRegrid.__new__(workloads.SceneRegrid)
    wl.size = workloads.SIZES["scene_dataset"]["tiny"]["regrid"]
    cells = 2 * 20 * 20
    good = {"nearest": {"n": cells, "s": 10.0}, "bilinear": {"n": cells, "s": 5.0}}
    assert wl.check(good, good) == []
    bad = {"nearest": {"n": cells, "s": 10.5}, "bilinear": good["bilinear"]}
    assert wl.check(bad, good)

    cur = workloads.DocCuration.__new__(workloads.DocCuration)
    replay = {"n": 2, "ids": 3, "tokens": 10, "pos": 4}
    packed = dict(replay, pos_min=0, pos_end=10)
    assert cur.check(packed, replay) == []
    assert cur.check(dict(packed, ids=4), replay)
    assert cur.check(dict(packed, pos_end=9), replay)


def test_png_dims_reads_stub_and_real_headers():
    import workloads

    stub = b"STUBPNG" + (4).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes(8)
    assert workloads.png_dims(stub) == (4, 2)
    assert workloads.png_dims(stub[:-1]) is None
    real = b"\x89PNG\r\n\x1a\n" + bytes(8) + (32).to_bytes(4, "big") + (32).to_bytes(4, "big")
    assert workloads.png_dims(real) == (32, 32)


def test_fails_without_the_engine(tmp_path):
    """Run from a directory holding only the benchmark: non-zero exit and no result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("scene_dataset", trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0 and proc.stdout.strip() == ""
