"""Seeded inputs and the benchmark-owned input cache.

Everything the engine sees is derived from the workload seed here:
the vector geometry (cities, zones, admin polygons, POIs) is built in
numpy on the driver, the stored tables are written through the
engine's own sources and writer.  Stored inputs live under
``perfbench/.cache/<key>/`` where the key names the workload input,
seed, size and a digest of the generating source (this file plus the
engine package), so a cache built by other code is never reused.  The
stored files' digest is recorded when the input is built and checked
again before every timed run.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import time
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE_DIR = HERE / ".cache"
PKG_DIR = ROOT / "xarray_spatial_spark"

N_CITIES = 40
HOT_SHARE = 0.5       # share of docs placed around a zipf-chosen city
HOT_JITTER_DEG = 1.5  # half-width of the box around a city
TILE = 512            # stored raster tile side
ZONE_VERTS = 8        # continent-scale zones, inlined into generated code
ADMIN_VERTS = 8       # admin-scale polygons, broadcast index path


def tree_digest(paths: list[Path], pattern: str = "*") -> str:
    """sha256 over (relative name, bytes) of every file under ``paths``."""
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(
            p for p in base.rglob(pattern) if p.is_file())
        for p in files:
            rel = p.name if base.is_file() else str(p.relative_to(base))
            h.update(rel.encode())
            h.update(b"\0")
            h.update(p.read_bytes())
    return h.hexdigest()


def generator_digest() -> str:
    return tree_digest([Path(__file__).resolve(), PKG_DIR], "*.py")[:16]


# ---------------------------------------------------------------------------
# vector geometry (driver-side numpy, seeded)
# ---------------------------------------------------------------------------

def cities(seed: int, k: int = N_CITIES) -> np.ndarray:
    """(k, 2) lon/lat city centres; row order is the zipf rank."""
    rng = np.random.default_rng([seed, 1])
    return np.c_[rng.uniform(-170, 170, k), rng.uniform(-55, 65, k)]


def _star(rng, cx: float, cy: float, r_lo: float, r_hi: float, n: int) -> np.ndarray:
    """Simple star-shaped polygon of ``n`` vertices (sorted by angle).
    Vertex counts are fixed so per-seed cost differs only by layout."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(r_lo, r_hi, n)
    x = np.clip(cx + rad * np.cos(ang), -179.9, 179.9)
    y = np.clip(cy + rad * np.sin(ang), -84.9, 84.9)
    return np.c_[x, y]


def _zipf_pick(rng, k: int, n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, k + 1)
    return rng.choice(k, size=n, p=w / w.sum())


def geo_zones(seed: int, n: int = 12) -> dict[int, np.ndarray]:
    """Continent-scale zones around the top-ranked cities."""
    rng = np.random.default_rng([seed, 2])
    c = cities(seed)
    return {z + 1: _star(rng, c[z, 0], c[z, 1], 8.0, 25.0, ZONE_VERTS)
            for z in range(n)}


def admin_polygons(seed: int, n: int = 2000) -> dict[int, np.ndarray]:
    """Admin-scale polygons, most of them clustered around cities."""
    rng = np.random.default_rng([seed, 3])
    c = cities(seed)
    n_near = int(n * 0.7)
    near = c[_zipf_pick(rng, len(c), n_near)] + rng.uniform(-4, 4, (n_near, 2))
    far = np.c_[rng.uniform(-170, 170, n - n_near),
                rng.uniform(-60, 70, n - n_near)]
    centres = np.r_[near, far]
    return {i + 1: _star(rng, x, y, 0.3, 1.5, ADMIN_VERTS)
            for i, (x, y) in enumerate(centres)}


def pois(seed: int, n: int = 10_000) -> np.ndarray:
    """(n, 3) lon, lat, poi id; 80% cluster around cities."""
    rng = np.random.default_rng([seed, 4])
    c = cities(seed)
    n_near = int(n * 0.8)
    near = c[_zipf_pick(rng, len(c), n_near)] + rng.normal(0, 1.0, (n_near, 2))
    far = np.c_[rng.uniform(-170, 170, n - n_near),
                rng.uniform(-60, 70, n - n_near)]
    xy = np.r_[near, far]
    xy[:, 1] = np.clip(xy[:, 1], -84.0, 84.0)
    return np.c_[xy, np.arange(n, dtype=np.float64)]


# ---------------------------------------------------------------------------
# Spark-side seeded selections
# ---------------------------------------------------------------------------

def seeded_unit(col, seed: int, salt: int):
    """Uniform [0, 1) Column from a hash of ``col`` — partition-independent."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(col, F.lit(seed * 16 + salt)),
                  F.lit(1 << 30)) / float(1 << 30)


def seeded_keep(col, seed: int):
    """Keep ~7/8 of the ids; which ones depends on the seed."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(col, F.lit(seed * 16)), F.lit(8)) != 0


def span_for(n: int) -> int:
    """Id span whose seeded 7/8 selection holds about ``n`` rows."""
    return n + n // 7 + 1


def docs_frame(spark, n: int, seed: int):
    """About ``n`` synthesized pages (``sources.documents``), a seeded
    7/8 of them, with HOT_SHARE of the rows moved around a city picked
    with zipf-like (log-uniform) rank weights.  Four columns."""
    from pyspark.sql import functions as F

    from xarray_spatial_spark.sources.documents import documents

    c = cities(seed)
    d = documents(spark, span_for(n)).where(seeded_keep(F.col("doc_id"), seed))
    idx = F.least(
        F.floor(F.exp(seeded_unit(F.col("doc_id"), seed, 2) * float(np.log(len(c) + 1)))) - 1,
        F.lit(len(c) - 1),
    ).cast("int") + 1
    hot = seeded_unit(F.col("doc_id"), seed, 1) < HOT_SHARE
    clon = F.array(*[F.lit(float(v)) for v in c[:, 0]])
    clat = F.array(*[F.lit(float(v)) for v in c[:, 1]])
    jit = 2 * HOT_JITTER_DEG
    lon = F.when(hot, F.element_at(clon, idx)
                 + (seeded_unit(F.col("doc_id"), seed, 3) - 0.5) * jit
                 ).otherwise(F.col("lon"))
    lat = F.when(hot, F.element_at(clat, idx)
                 + (seeded_unit(F.col("doc_id"), seed, 4) - 0.5) * jit
                 ).otherwise(F.col("lat"))
    return d.select("doc_id", lon.alias("lon"), lat.alias("lat"), "lang")


# ---------------------------------------------------------------------------
# the cache
# ---------------------------------------------------------------------------

class InputError(RuntimeError):
    """A stored input is missing or does not match its recorded digest."""


def cached_input(kind: str, seed: int, size: int, build) -> tuple[Path, dict]:
    """Return (data dir, meta) of a stored input, building it with
    ``build(data_dir) -> dict`` when absent.  The data digest is
    verified on every call; a mismatch rebuilds the input once."""
    key = f"{kind}-s{seed}-n{size}-{generator_digest()}"
    entry = CACHE_DIR / key
    data = entry / "data"
    meta_path = entry / "meta.json"
    for attempt in range(2):
        if meta_path.is_file():
            meta = json.loads(meta_path.read_text())
            t0 = time.perf_counter()
            digest = tree_digest([data])
            meta["verify_s"] = time.perf_counter() - t0
            if digest == meta["digest"]:
                meta["built_now"] = attempt > 0
                return data, meta
            shutil.rmtree(entry)
        tmp = CACHE_DIR / f"{key}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        t0 = time.perf_counter()
        meta = build(tmp / "data")
        meta["gen_s"] = time.perf_counter() - t0
        meta["digest"] = tree_digest([tmp / "data"])
        meta["bytes"] = sum(p.stat().st_size for p in (tmp / "data").rglob("*.parquet"))
        meta["key"] = key
        (tmp / "meta.json").write_text(json.dumps(meta))
        shutil.rmtree(entry, ignore_errors=True)
        tmp.rename(entry)
    raise InputError(f"stored input {key} does not match its digest after a rebuild")


def stored_docs(spark, n: int, seed: int) -> tuple[Path, dict]:
    def build(out: Path) -> dict:
        docs_frame(spark, n, seed).write.parquet(str(out))
        rows = spark.read.parquet(str(out)).count()
        return {"rows": rows}

    return cached_input("docs", seed, n, build)


def fractal_terrain(seed: int, side: int) -> np.ndarray:
    """Elevation 0..4000 m as 1/f^1.6 noise: every seed draws a
    surface with the same spectrum, so seeds differ in layout but not
    in how much flat or rough ground the kernels and codecs see."""
    rng = np.random.default_rng([seed, 5])
    f = np.fft.fftfreq(side)
    k = np.hypot(f[:, None], f[None, :])
    k[0, 0] = 1.0
    spec = np.fft.fft2(rng.standard_normal((side, side))) / k ** 1.6
    spec[0, 0] = 0.0
    z = np.fft.ifft2(spec).real
    return ((z - z.min()) / (z.max() - z.min()) * 4000.0).astype(np.float32)


def stored_terrain(spark, side: int, seed: int) -> tuple[Path, dict]:
    """The terrain as a stored tiled raster: one row per TILE² block,
    whose halo edge blobs ``tiled.map_tiles`` fills in."""
    def build(out: Path) -> dict:
        import pandas as pd

        from xarray_spatial_spark import tiled

        arr = fractal_terrain(seed, side)
        rows = [
            {"ty": ty, "tx": tx, "h": min(TILE, side - ty * TILE),
             "w": min(TILE, side - tx * TILE), "th": TILE, "tw": TILE,
             "value": np.ascontiguousarray(
                 arr[ty * TILE:(ty + 1) * TILE, tx * TILE:(tx + 1) * TILE]).tobytes()}
            for ty in range(-(-side // TILE)) for tx in range(-(-side // TILE))
        ]
        blocks = spark.createDataFrame(
            pd.DataFrame(rows), "ty long, tx long, h int, w int, th int, tw int, value binary")
        tiled.map_tiles(blocks, lambda arrs: arrs).write.parquet(str(out))
        return {"rows": side * side, "side": side}

    return cached_input("terrain", seed, side, build)
