"""The benchmark's own tests.

Fast tests check the oracles and show that corrupted results trip the
output checks.  The smoke tests run every workload end to end at a tiny
size through the command line (each starts a Spark JVM: minutes).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pytest

from perfbench import harness, inputs, oracle, workloads
from perfbench.workloads import PassResult

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = {"geo_join": 2000, "zone_join": 2000, "raster_halo": 1024, "tile_ingest": 2000}

SQUARE = np.array([[0, 0], [2, 0], [2, 2], [0, 2]], dtype=np.float64)


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def test_point_in_polygon_square():
    px = np.array([1.0, 3.0, 1.0, -0.5])
    py = np.array([1.0, 1.0, 2.5, 1.0])
    assert oracle.point_in_polygon(px, py, SQUARE).tolist() == [True, False, False, False]


def test_first_zone_prefers_lowest_id():
    polys = {7: SQUARE, 3: SQUARE + 1.0}
    got = oracle.first_zone(np.array([1.5, 0.5, 5.0]), np.array([1.5, 0.5, 5.0]), polys)
    assert got[0] == 3.0 and got[1] == 7.0 and math.isnan(got[2])


def test_great_circle_quarter_meridian():
    d = oracle.great_circle(np.array([0.0]), np.array([0.0]), np.array([0.0]), np.array([90.0]))
    assert d[0, 0] == pytest.approx(math.pi / 2 * oracle.EARTH_RADIUS, rel=1e-12)


def test_raster_kernels_on_known_surfaces():
    x = np.tile(np.arange(8, dtype=np.float32), (8, 1))  # z = x: unit gradient
    ref = oracle.raster_reference(x)
    assert np.allclose(ref["slope"][1:-1, 1:-1], 45.0, atol=1e-4)
    assert np.isnan(ref["slope"][0]).all()  # NaN halo at the raster border
    flat = oracle.raster_reference(np.full((6, 6), 3.0, np.float32))
    assert np.allclose(flat["mean"], 3.0)
    assert np.allclose(flat["hillshade"][1:-1, 1:-1], (math.sin(math.radians(25)) + 1) / 2, atol=1e-6)


# ---------------------------------------------------------------------------
# corrupted results trip the checks
# ---------------------------------------------------------------------------

def test_wrong_zone_is_flagged():
    px, py = np.array([1.0, 5.0]), np.array([1.0, 5.0])
    polys = {1: SQUARE}
    assert workloads._check_zones(px, py, np.array([1.0, np.nan]), polys) == []
    assert workloads._check_zones(px, py, np.array([np.nan, np.nan]), polys)
    assert workloads._check_zones(px, py, np.array([1.0, 1.0]), polys)


def test_wrong_nearest_is_flagged():
    targets = np.array([[0.0, 0.0, 0.0], [10.0, 0.0, 1.0]])
    px, py = np.array([1.0]), np.array([0.0])
    d, p, _ = oracle.nearest(px, py, targets)
    assert workloads._check_nearest(px, py, d, p, targets) == []
    assert workloads._check_nearest(px, py, d, np.array([1.0]), targets)
    assert workloads._check_nearest(px, py, d * 1.001, p, targets)
    # beyond max_distance the engine must return NULL
    assert workloads._check_nearest(px, py, d, p, targets, max_distance=1.0)


def test_corrupted_raster_tile_is_flagged():
    rng = np.random.default_rng(0)
    a = rng.uniform(0, 100, (1024, 1024)).astype(np.float32)
    wl = workloads.RasterHalo(0, 1024, Path("."))
    wl.sample_tiles = [(0, 0), (1, 1)]
    ref = oracle.raster_reference(a)
    wl.expected = {op: {t: arr[t[0] * 512:(t[0] + 1) * 512, t[1] * 512:(t[1] + 1) * 512]
                        for t in wl.sample_tiles} for op, arr in ref.items()}
    sample = {op: {t: v.copy() for t, v in tiles.items()} for op, tiles in wl.expected.items()}
    assert wl.check_pass(None, PassResult("d", sample)) == []
    sample["slope"][(1, 1)][0, 0] += 1.0  # a seam cell
    assert wl.check_pass(None, PassResult("d", sample))
    del sample["mean"][(0, 0)]
    assert len(wl.check_pass(None, PassResult("d", sample))) == 2


def test_oracle_window_matches_whole_raster():
    a = inputs.fractal_terrain(3, 2048)
    tiles = workloads.SAMPLE_TILES
    reach = workloads.oracle_reach(tiles, 2048)
    assert reach < 2048
    whole, cut = oracle.raster_reference(a), oracle.raster_reference(a[:reach, :reach])
    for op in whole:
        for ty, tx in tiles:
            win = np.s_[ty * 512:(ty + 1) * 512, tx * 512:(tx + 1) * 512]
            np.testing.assert_array_equal(cut[op][win], whole[op][win])


def test_failed_lineage_or_resume_is_flagged():
    wl = workloads.TileIngest(0, 10, Path("."))
    ok = {"lineage_ok": True, "resumed": True}
    assert wl.check_pass(None, PassResult("d", ok)) == []
    assert wl.check_pass(None, PassResult("d", dict(ok, lineage_ok=False)))
    assert wl.check_pass(None, PassResult("d", dict(ok, resumed=False)))


class _FakeWorkload:
    """Returns a different digest on its second pass."""
    items = 10

    def __init__(self):
        self.n = 0

    def run_pass(self, spark, tracer):
        self.n += 1
        return PassResult("ref" if self.n != 2 else "corrupt")

    def check_pass(self, spark, res):
        return []


def test_digest_mismatch_counts_as_failed_pass(monkeypatch):
    monkeypatch.setattr(harness.probes, "heap_used_mb", lambda spark: 1.0)
    sc = SimpleNamespace(setJobGroup=lambda *a: None)
    sess = SimpleNamespace(spark=SimpleNamespace(sparkContext=sc))
    tree = SimpleNamespace(sample=lambda: {"jvm_cpu_s": 0.0, "python_cpu_s": 0.0})
    wl = _FakeWorkload()
    # seconds=0: each loop call runs exactly one pass
    passes = [harness._loop(sess, wl, tree, 0.0, "ref", harness._off, "g")[0][0]
              for _ in range(3)]
    summary = harness.summarize(passes)
    assert summary["attempted"] == 3 and summary["failed"] == 1
    assert "digest" in passes[1]["errors"][0]


def test_tail_is_highest_percentile_with_ten_beyond():
    v, info = harness.tail([float(i) for i in range(1, 31)])
    assert v == 20.0 and info["rank"] == 20 and not info["is_max"]
    v, info = harness.tail([3.0, 1.0, 2.0])
    assert v == 3.0 and info["is_max"]


def test_input_cache_key_and_digest(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "CACHE_DIR", tmp_path)
    calls = []

    def build(out):
        calls.append(out)
        out.mkdir(parents=True)
        (out / "part.parquet").write_bytes(b"abc")
        return {"rows": 3}

    path, meta = inputs.cached_input("k", 5, 3, build)
    assert meta["key"].startswith("k-s5-n3-") and len(calls) == 1
    path2, meta2 = inputs.cached_input("k", 5, 3, build)
    assert path2 == path and len(calls) == 1 and not meta2["built_now"]
    (path / "part.parquet").write_bytes(b"abd")  # corrupt the stored input
    _, meta3 = inputs.cached_input("k", 5, 3, build)
    assert len(calls) == 2 and meta3["built_now"]


# ---------------------------------------------------------------------------
# end to end
# ---------------------------------------------------------------------------

def _run(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", str(TINY[workload])]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", sorted(TINY))
def test_smoke_every_workload(workload):
    p = _run(workload, 0)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    for m in BENCH["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0


def test_smoke_traced_run_reports_every_layer_metric():
    p = _run("geo_join", 1)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result, detail = json.loads(lines[-1]), json.loads(lines[-2])
    assert result["correct"] is True
    assert set(result["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    layers = detail["layers"]
    assert layers["zone_join.check_errors"] == 0 and layers["tile_ingest.check_errors"] == 0
    for name in ("sources.scan_s", "tiling.assign_s", "pip.expr_s", "proximity.nearest_expr_s",
                 "zonal.agg_s", "pip.join_s", "pip.index_build_s", "pip.candidates_per_doc",
                 "pip.hit_ratio", "proximity.nearest_join_s", "sources.gen_s",
                 "manifest.write_s", "manifest.lineage_s", "manifest.resume_s",
                 "manifest.files_written"):
        assert name in layers, name
    assert 0.0 < detail["per_layer"]["trace.overhead"] < 0.05
    assert detail["probe_errors"] == {"zone_join": [], "tile_ingest": []}


# Each script corrupts one traced probe's output before running the
# command line in-process: geo_join's traced run must then fail.
_CORRUPT = {
    "zone_join": """
orig = workloads.ZoneJoin.prepare
def prepare(self, spark):
    from pyspark.sql import functions as F
    orig(self, spark)
    name, fn = self.layers[0]
    self.layers[0] = (name, lambda df: fn(df).withColumn("zone", F.col("zone") + 1))
workloads.ZoneJoin.prepare = prepare
""",
    "tile_ingest": """
orig = workloads.TileIngest.extract_assign
def extract_assign(self, spark):
    from pyspark.sql import functions as F
    return orig(self, spark).withColumn("body", F.concat("body", F.lit("!")))
workloads.TileIngest.extract_assign = extract_assign
""",
}


@pytest.mark.parametrize("probe", sorted(_CORRUPT))
def test_corrupted_probe_fails_the_traced_run(probe):
    argv = ["--workload", "geo_join", "--seed", "7", "--seconds", "1", "--trace", "1",
            "--size", str(TINY["geo_join"])]
    script = (f"import sys\nsys.path.insert(0, {str(ROOT)!r})\n"
              "from perfbench import run, workloads\n" + _CORRUPT[probe]
              + f"sys.exit(run.main({argv!r}))\n")
    p = subprocess.run([sys.executable, "-c", script], cwd=ROOT, capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result, detail = json.loads(lines[-1]), json.loads(lines[-2])
    assert result["correct"] is False and result["failed"] >= 1
    assert detail["probe_errors"][probe]


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".run", ".traces", "__pycache__"))
    p = _run("geo_join", 0, cwd=tmp_path)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
