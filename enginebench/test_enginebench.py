"""Tests of the engine benchmark itself: ``python3 -m pytest enginebench -q``
from the checkout root.  The two end-to-end tests start Spark and take
about a minute each."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from enginebench import inputs as I  # noqa: E402
from enginebench.trace import Tracer  # noqa: E402


def run_bench(*args: str, cwd: str = ROOT, timeout: int = 300):
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                          capture_output=True, text=True, cwd=cwd, timeout=timeout)


def test_inputs_are_a_function_of_the_seed():
    a, b, c = I.make_images(5, 400), I.make_images(5, 400), I.make_images(6, 400)
    assert a.equals(b)
    assert not a["phash"].equals(c["phash"])
    assert list(a.columns) == ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    assert 1 - a["phash"].nunique() / len(a) == pytest.approx(I.DUP_SHARE, abs=0.02)
    lon, lat = I.lonlat_from_phash(a["phash"].to_numpy())
    from xutil_spark.kernels import tiles as K_tiles

    hot = np.isin(K_tiles.cell_encode(lon, lat, I.HOT_ZOOM), I.hot_cells()).mean()
    assert hot == pytest.approx(I.HOT_SHARE, abs=0.07)


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer(True)
    top = tr.add("top", "a", None, 0.0, 10.0)
    tr.add("kid1", "b", top, 1.0, 4.0)
    tr.add("kid2", "b", top, 3.0, 5.0)  # overlaps kid1: union is 1..5
    tr.add("late", "c", top, 9.0, 12.0)  # clipped to the parent: 9..10
    st = tr.self_times()
    assert st["a"] == pytest.approx(10 - 4 - 1)
    assert st["b"] == pytest.approx(3 + 2)
    assert st["c"] == pytest.approx(3)


def test_end_descendants_waits_for_orphans():
    # A shell starts a long sleep in the background and exits at once: the
    # sleep is orphaned and must be re-parented to the run and ended.
    code = """if True:
        import os, subprocess
        from enginebench.procs import adopt_orphans, descendants, end_descendants
        adopt_orphans()
        pid = int(subprocess.run(["sh", "-c", "sleep 300 >/dev/null 2>&1 & echo $!"],
                                 capture_output=True, text=True).stdout)
        assert descendants(os.getpid()) == {pid}
        end_descendants()
        assert not os.path.exists(f"/proc/{pid}")
        print("ok")
    """
    p = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                       cwd=ROOT, env=dict(os.environ, PYTHONPATH=ROOT), timeout=60)
    assert p.stdout.strip() == "ok", p.stderr


def test_knn_check_rejects_wrong_ids_with_right_distances():
    import pandas as pd

    from enginebench.workloads import Refs

    # r0 and r1 share a location, so they tie at every distance.
    refs = Refs(pd.DataFrame({"ref_id": ["r0", "r1", "r2", "r3", "r4"],
                              "lon": [100.0, 100.0, 100.02, 100.03, 101.0],
                              "lat": [30.0, 30.0, 30.0, 30.0, 31.0]}))
    want_ids, want_d = refs.knn(100.001, 30.0, 3)
    assert list(want_ids) == ["r0", "r1", "r2"]
    assert refs.matches(100.001, 30.0, want_ids.tolist(), want_d, 3)
    assert refs.matches(100.001, 30.0, ["r1", "r0", "r2"], want_d, 3)  # a real tie
    assert not refs.matches(100.001, 30.0, ["r0", "r2", "r1"], want_d, 3)  # swapped
    assert not refs.matches(100.001, 30.0, ["r0", "r1", "r3"], want_d, 3)  # wrong ref
    assert not refs.matches(100.001, 30.0, ["r0", "r1", "rX"], want_d, 3)  # unknown ref
    assert not refs.matches(100.001, 30.0, ["r0", "r0", "r2"], want_d, 3)  # repeated
    assert not refs.matches(100.001, 30.0, want_ids.tolist(), want_d + 0.01, 3)


def test_tiny_mode_runs_every_workload_and_check():
    t0 = time.perf_counter()
    p = run_bench("--workload", "all", "--tiny", "--seed", "3", "--seconds", "0",
                  "--trace", "0")
    elapsed = time.perf_counter() - t0
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert set(out["metrics"]) == {"image_tile_knn.wall_s",
                                   "point_pip_knn_skewed.wall_s",
                                   "snapshot_resize_resume.wall_s"}
    assert elapsed < 60, f"tiny mode took {elapsed:.0f}s"


def test_traced_run_reports_every_layer_with_linked_spans():
    from enginebench.run import LAYERS, PER_LAYER

    p = run_bench("--workload", "image_tile_knn", "--tiny", "--seed", "4",
                  "--seconds", "0", "--trace", "1")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"]
    assert list(out["metrics"]) == list(PER_LAYER)
    with open(os.path.join(I.cache_dir(ROOT), "trace-image_tile_knn-s4.json")) as fh:
        spans = json.load(fh)["spans"]
    ids = {s["id"] for s in spans}
    roots = [s for s in spans if s["parent"] is None]
    assert len(roots) == 1 and roots[0]["name"] == "workload image_tile_knn"
    assert all(s["parent"] in ids for s in spans if s["parent"] is not None)
    assert all(s["start"] <= s["end"] for s in spans)
    assert {s["layer"] for s in spans} >= set(LAYERS)


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "enginebench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "enginebench/run.py", "--workload",
                        "image_tile_knn", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], capture_output=True, text=True,
                       cwd=tmp_path, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
