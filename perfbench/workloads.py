"""The four workloads.  Each drives the engine only through its public
functions and exposes the same small interface to the harness:

- ``prepare(spark)``: load (or build) the seeded inputs, once per run;
- ``bind(spark, tracer)``: build per-session plans, after the last
  session (re)start;
- ``run_pass(spark, tracer)``: one closed-loop job, returning its result;
- ``check_pass(spark, result)``: errors found without running a job;
- ``check_oracle(spark, result)``: errors found against ``oracle`` on
  the deterministic sample (may run a Spark job);
- ``trace_layers(spark, tracer, passes, stage)``: layer times and
  counts for the traced run, mostly from ``prefixes()``: (layer,
  builder, base layer) triples where ``builder`` returns the pipeline
  cut after that layer, run to a noop sink (see ``prefix_layers``).

A pass's result carries a digest that must be identical on every pass.
The reference pass (the last warm-up) and the last measured pass are
also checked against the oracle, so every pass reproduces an
oracle-checked output.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

import numpy as np
import pandas as pd

from perfbench import inputs, oracle
from perfbench.trace import Tracer

_OFF = Tracer(False)
EDGE_TOL_DEG = 1e-9   # a point this close to an edge may fall either way
DIST_ATOL_M = 1e-3
INGEST_PROBE_DOCS = 25_000  # tile_ingest size when traced on geo_join
PREFIX_REPS = 3  # timed executions of each prefix, after one warm-up


@dataclass
class PassResult:
    digest: str
    sample: object = None
    info: dict = field(default_factory=dict)


def _digest(rows) -> str:
    return hashlib.sha256("\n".join(sorted(map(repr, rows))).encode()).hexdigest()[:16]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def prefix_layers(spark, prefixes, tracer, measured=None) -> tuple[dict, dict, list]:
    """Execute each prefix once to warm it (the first execution compiles
    its generated code), then PREFIX_REPS more times.  A prefix's time
    is the median of those; a layer's time is its prefix's time minus
    its base prefix's (Spark is lazy, so only differences of executed
    prefixes separate the layers of one job).  ``build(spark, built)``
    may extend an earlier prefix's DataFrame from ``built``.  Plan
    building is not in these times; its spans are.  A prefix named in
    ``measured`` (name -> times) is the measured pass itself: its times
    are taken from there instead of running it again.

    Also returns the layers the timing does not resolve: those whose
    difference is smaller than the range of the two prefixes' repeats."""
    took, spread, layers, built, unresolved = {}, {}, {}, {}, []
    measured = measured or {}
    for name, build, base in prefixes:
        group = f"prefix:{name}"
        spark.sparkContext.setJobGroup(group, group)
        with tracer.span(group):
            df = built[name] = build(spark, built)
            times = measured.get(name)
            if times is None:
                _noop(df)
                times = []
                for _ in range(PREFIX_REPS):
                    t0 = time.perf_counter()
                    _noop(df)
                    times.append(time.perf_counter() - t0)
        took[name], spread[name] = median(times), max(times) - min(times)
        layers[name] = took[name] - (took[base] if base else 0.0)
        if abs(layers[name]) < spread[name] + (spread[base] if base else 0.0):
            unresolved.append(name)
    return layers, took, unresolved


def _check_zones(px, py, got, polygons) -> list[str]:
    want = oracle.first_zone(px, py, polygons)
    bad = np.flatnonzero(~((got == want) | (np.isnan(got) & np.isnan(want))))
    errors = []
    for i in bad:
        near = [oracle.edge_distance(px[i:i + 1], py[i:i + 1], polygons[int(z)])[0]
                for z in (got[i], want[i]) if z == z]
        if not near or min(near) > EDGE_TOL_DEG:
            errors.append(f"doc at ({px[i]:.6f}, {py[i]:.6f}): zone {got[i]} != oracle {want[i]}")
    return errors


def _check_nearest(px, py, got_d, got_p, targets, max_distance=np.inf) -> list[str]:
    want_d, want_p, full = oracle.nearest(px, py, targets, max_distance)
    errors = []
    for i in range(len(px)):
        if np.isnan(want_d[i]) and np.isnan(got_d[i]):
            continue
        if np.isnan(want_d[i]) != np.isnan(got_d[i]):
            # only a point at the radius itself may fall either way
            if abs(full[i].min() - max_distance) > DIST_ATOL_M:
                errors.append(f"doc {i}: nearest {got_d[i]} != oracle {want_d[i]}")
            continue
        if abs(got_d[i] - want_d[i]) > DIST_ATOL_M + 1e-9 * want_d[i]:
            errors.append(f"doc {i}: nearest distance {got_d[i]} != oracle {want_d[i]}")
        elif got_p[i] != want_p[i]:
            # a tie: the engine's target must be as near as the oracle's
            alt = full[i, int(got_p[i])]
            if abs(alt - want_d[i]) > DIST_ATOL_M + 1e-9 * want_d[i]:
                errors.append(f"doc {i}: nearest target {got_p[i]} != oracle {want_p[i]}")
    return errors


class Workload:
    name = ""
    item = "doc"

    def __init__(self, seed: int, size: int, run_dir: Path):
        self.seed = seed
        self.size = size
        self.run_dir = run_dir
        self.meta: dict = {}
        self.strategies: dict = {}
        # (workload, errors) of other workloads' passes checked while
        # tracing this one; the harness counts them as attempted passes
        self.probe_checks: list[tuple[str, list[str]]] = []

    def bind(self, spark, tracer) -> None:
        """Per-session plan building; nothing by default."""

    def stored_bytes_per_item(self) -> float:
        return self.meta["bytes"] / self.meta["rows"]


# ---------------------------------------------------------------------------
# doc-table workloads
# ---------------------------------------------------------------------------

class _DocJoin(Workload):
    """Shared shape of geo_join and zone_join: stored docs -> spatial
    joins -> per-key integer aggregate (integer sums keep the digest
    independent of the order partial aggregates are merged in)."""

    key = "tile_id"

    def prepare(self, spark) -> None:
        self.path, self.meta = inputs.stored_docs(spark, self.size, self.seed)
        self.items = self.meta["rows"]
        self.sample_mod = max(1, self.items // 1000)

    def scan(self, spark):
        return spark.read.parquet(str(self.path))

    def _aggregate(self, df):
        from pyspark.sql import functions as F

        return df.groupBy(self.key).agg(
            F.count(F.lit(1)).alias("docs"),
            F.count("zone").alias("zoned"),
            F.sum(F.col("zone").cast("long")).alias("zone_sum"),
            F.count(self.payload).alias("near"),
            F.sum(F.col(self.payload).cast("long")).alias("payload_sum"),
            F.sum(F.round("nearest_dist").cast("long")).alias("dist_m"),
        )

    def pipeline(self, spark, tracer, upto: int = 99, docs=None):
        layers = self.layers
        df = self.scan(spark) if docs is None else docs
        for i, (name, fn) in enumerate(layers):
            if i >= upto:
                break
            with tracer.span(name):
                df = fn(df)
        return df

    def bind(self, spark, tracer) -> None:
        """Build the join plan once per session: every pass re-runs it
        under a fresh aggregate, so the pass is one Spark job and the
        plan building (driver-side, seconds for the inlined
        expressions) is paid in set-up.  The joined plan holds no
        shuffle, so no pass reuses another pass's shuffle output."""
        self.joined = self.pipeline(spark, tracer, upto=len(self.layers) - 1)

    def run_pass(self, spark, tracer) -> PassResult:
        with tracer.span("zonal.agg"):
            df = self._aggregate(self.joined)
        with tracer.span("action"):
            rows = [tuple(r) for r in df.collect()]
        return PassResult(_digest(rows), info={"groups": len(rows)})

    def _sample(self, spark):
        from pyspark.sql import functions as F

        out = self.joined.where(
            inputs.seeded_unit(F.col("doc_id"), self.seed, 9) * self.sample_mod < 1)
        pdf = out.select("doc_id", "lon", "lat", "zone", "nearest_dist",
                         self.payload).toPandas().sort_values("doc_id")
        return {c: pdf[c].to_numpy(np.float64) for c in pdf.columns}

    def check_pass(self, spark, result: PassResult) -> list[str]:
        return []

    def check_oracle(self, spark, result: PassResult) -> list[str]:
        s = self._sample(spark)
        if not len(s["doc_id"]):
            return ["check sample is empty"]
        errors = _check_zones(s["lon"], s["lat"], s["zone"], self.polygons)
        errors += _check_nearest(s["lon"], s["lat"], s["nearest_dist"],
                                 s[self.payload], self.targets, self.max_distance)
        return errors

    def prefixes(self):
        """Each cut keeps only the columns the final aggregate reads, so
        a prefix computes no more than the full job does (the noop sink
        would otherwise evaluate columns the aggregate prunes)."""
        cols = dict.fromkeys(("lon", "lat", self.key, "zone", "nearest_dist", self.payload))

        def cut(df, final):
            return df if final else df.select(*[c for c in cols if c in df.columns])

        out = [("sources.scan", lambda spark, built: cut(self.scan(spark), False), None)]
        prev = "sources.scan"
        for i, (name, fn) in enumerate(self.layers):
            final = i == len(self.layers) - 1
            out.append((name, lambda spark, built, fn=fn, prev=prev, final=final:
                        cut(fn(built[prev]), final), prev))
            prev = name
        return out

    def trace_layers(self, spark, tracer, passes, stage) -> tuple[dict, dict]:
        """The last prefix (joins + aggregate) is the pass: its time is
        the median of the traced passes."""
        layers, _, unresolved = prefix_layers(
            spark, self.prefixes(), tracer,
            measured={self.layers[-1][0]: [p["wall_s"] for p in passes]})
        # every stored column is read, so the scan reads every stored byte
        counts = {"sources.scan_bytes_per_doc": self.stored_bytes_per_item(),
                  "unresolved_layers": unresolved}
        if stage is not None:
            counts["zonal.shuffle_write_bytes"] = stage["shuffle_write_bytes"] / len(passes)
        return layers, counts


class GeoJoin(_DocJoin):
    """Everything inlines into whole-stage codegen: no Python workers."""

    name = "geo_join"
    payload = "nearest_payload"
    max_distance = np.inf

    def prepare(self, spark) -> None:
        super().prepare(spark)
        from xarray_spatial_spark.operators import pip, proximity, tiling
        from xarray_spatial_spark.plans import joins

        self.polygons = inputs.geo_zones(self.seed)
        c = inputs.cities(self.seed)
        self.targets = np.c_[c, np.arange(len(c), dtype=np.float64)]
        tlist = [tuple(map(float, t)) for t in self.targets]
        self.strategies = {"nearest": joins.nearest_plan(len(tlist))}
        self.layers = [
            ("tiling.assign", lambda df: tiling.assign_cells(df, zoom=12, tile_zoom=5)),
            ("pip.expr", lambda df: pip.pip_join_expr(df, self.polygons)),
            ("proximity.nearest_expr", lambda df: proximity.nearest_expr(
                df, tlist, metric="GREAT_CIRCLE")),
            ("zonal.agg", self._aggregate),
        ]

    def trace_layers(self, spark, tracer, passes, stage) -> tuple[dict, dict]:
        """Also traces the doc-side workloads the benchmark does not
        time (zone_join's Arrow path, tile_ingest's write side): one
        warm-up and one traced pass each, their output checked (the
        errors go to ``probe_checks``), their layers merged in
        (prefixed by the workload where a name repeats)."""
        layers, counts = super().trace_layers(spark, tracer, passes, stage)
        for cls, size in ((ZoneJoin, self.size), (TileIngest, INGEST_PROBE_DOCS)):
            probe = cls(self.seed, size, self.run_dir)
            try:
                p_layers, p_counts = self._probe(spark, tracer, probe)
            except Exception as e:  # a failed probe pass is counted, not fatal
                self.probe_checks.append(
                    (probe.name, [f"{type(e).__name__}: {e}"[:500]]))
                continue
            for src, dst in ((p_layers, layers), (p_counts, counts)):
                for k, v in src.items():
                    dst[f"{probe.name}.{k}" if k in dst else k] = v
        return layers, counts

    def _probe(self, spark, tracer, probe) -> tuple[dict, dict]:
        with tracer.span(f"probe:{probe.name}"):
            probe.prepare(spark)
            probe.bind(spark, tracer)
            warm = probe.run_pass(spark, _OFF)
            t0 = time.perf_counter()
            res = probe.run_pass(spark, tracer)
            pass_s = time.perf_counter() - t0
        errors = [] if res.digest == warm.digest else [
            f"digest {res.digest} != warm-up {warm.digest}"]
        errors += probe.check_pass(spark, res) + probe.check_oracle(spark, res)
        self.probe_checks.append((probe.name, errors))
        p_layers, p_counts = probe.trace_layers(
            spark, tracer, [dict(res.info, wall_s=pass_s)], stage=None)
        p_counts.update({f"{probe.name}.{k}": v for k, v in (
            ("pass_s", pass_s), ("check_errors", len(errors)),
            ("items_per_pass", probe.items),
            ("stored_bytes_per_doc", probe.stored_bytes_per_item()))})
        return p_layers, p_counts


class ZoneJoin(_DocJoin):
    """Above the inlining caps: PolygonSet broadcast index and the
    broadcast nearest join, both through mapInPandas."""

    name = "zone_join"
    key = "zone"
    payload = "nearest_poi"
    max_distance = 50_000.0

    def prepare(self, spark) -> None:
        super().prepare(spark)
        from xarray_spatial_spark.operators import pip
        from xarray_spatial_spark.plans import joins

        self.polygons = inputs.admin_polygons(self.seed)
        self.targets = inputs.pois(self.seed)
        tpdf = pd.DataFrame(self.targets, columns=["lon", "lat", "poi"])
        self.strategies = {"nearest": joins.nearest_plan(len(self.targets), max_distance=self.max_distance)}
        self.layers = [
            ("pip.join", lambda df: pip.pip_join_expr(df, self.polygons)),
            ("proximity.nearest_join", lambda df: joins.nearest_join(
                df, df.sparkSession.createDataFrame(tpdf), target_payload="poi",
                metric="GREAT_CIRCLE", max_distance=self.max_distance,
                n_targets=len(self.targets))),
            ("zonal.agg", self._aggregate),
        ]

    def trace_layers(self, spark, tracer, passes, stage) -> tuple[dict, dict]:
        """Adds candidates per doc and hit ratio of the public
        PolygonSet index, counted on the check sample."""
        from xarray_spatial_spark import grid
        from xarray_spatial_spark.operators.pip import PolygonSet

        t0 = time.perf_counter()
        ps = PolygonSet(self.polygons)
        build_s = time.perf_counter() - t0
        s = self._sample(spark)
        px, py = s["lon"], s["lat"]
        if ps.rtree is not None:
            cand = len(ps.rtree.query_pairs(px, py)[0])
        else:
            xt, yt = grid.lnglat_to_tile(px, py, ps.index_zoom)
            keys = xt * (1 << ps.index_zoom) + yt
            cand = sum(len(ps.index.get(int(k), ())) for k in keys)
        hits = int(np.count_nonzero(~np.isnan(s["zone"])))
        layers, counts = super().trace_layers(spark, tracer, passes, stage)
        layers["pip.index_build"] = build_s
        counts.update({"pip.candidates_per_doc": cand / max(1, len(px)),
                       "pip.hit_ratio": hits / max(1, cand),
                       "pip.index": ps.method,
                       "proximity.strategy": self.strategies["nearest"]})
        return layers, counts


# ---------------------------------------------------------------------------
# raster
# ---------------------------------------------------------------------------

SAMPLE_TILES = ((0, 0), (1, 1), (1, 2), (2, 1))  # corner + two seams
RASTER_TOL = {  # (rtol, atol) for float32 kernels vs the float32 oracle
    "slope": (1e-5, 1e-3), "hillshade": (1e-5, 1e-5),
    "mean": (1e-5, 1e-2), "chain": (1e-4, 1e-2),
}


def oracle_reach(sample_tiles, side: int) -> int:
    """Side of the top-left square the raster oracle needs: the sample
    tiles plus the fused chain's 3-cell reach.  Cells beyond it cannot
    change a sample tile."""
    return min(side, (1 + max(max(t) for t in sample_tiles)) * inputs.TILE + 3)


class RasterHalo(Workload):
    """Binary tile transfer, halo exchange and numpy kernels."""

    name = "raster_halo"
    item = "cell"

    def prepare(self, spark) -> None:
        from xarray_spatial_spark import tiled
        from xarray_spatial_spark.operators import focal, surface

        self.path, self.meta = inputs.stored_terrain(spark, self.size, self.seed)
        side = self.meta["side"]
        self.tile_bytes = inputs.TILE * inputs.TILE * 4
        self.items = side * side * 4  # four operators per pass
        n_tiles = -(-side // inputs.TILE)
        self.sample_tiles = [t for t in SAMPLE_TILES if max(t) < n_tiles] or [(0, 0)]
        # halo_map_tiled's auto-dispatch: no super-tile key -> shuffle
        self.strategies = {"halo": spark.conf.get("spark.xrspatial.halo.strategy", None)
                           or ("bucket" if "bk" in self.read(spark).columns else "shuffle")}
        chain_fn, chain_r = tiled.fuse_stencils(
            [focal.mean_stencil(), surface.slope_stencil(), focal.mean_stencil()])
        self.ops = [  # (layer, oracle key, operator)
            ("surface.slope", "slope", surface.slope),
            ("surface.hillshade", "hillshade", surface.hillshade),
            ("focal.mean", "mean", focal.mean),
            ("tiled.fused_chain", "chain",
             lambda t: tiled.apply_stencil_tiled(t, chain_fn, chain_r)),
        ]
        T = inputs.TILE
        ref = oracle.raster_reference(
            self._collect_input(spark, oracle_reach(self.sample_tiles, side)))
        self.expected = {
            op: {(ty, tx): arr[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T]
                 for ty, tx in self.sample_tiles}
            for op, arr in ref.items()
        }

    def _collect_input(self, spark, reach: int) -> np.ndarray:
        """The stored raster's top-left ``reach`` x ``reach`` cells."""
        from pyspark.sql import functions as F

        T = inputs.TILE
        n = -(-reach // T)
        out = np.full((n * T, n * T), np.nan, np.float32)
        rows = (self.read(spark).where((F.col("ty") < n) & (F.col("tx") < n))
                .select("ty", "tx", "h", "w", "value").collect())
        for r in rows:
            a = np.frombuffer(r["value"], np.float32).reshape(r["h"], r["w"])
            out[r["ty"] * T:r["ty"] * T + r["h"], r["tx"] * T:r["tx"] * T + r["w"]] = a
        return out[:reach, :reach]

    def read(self, spark):
        from xarray_spatial_spark import tiled

        return tiled.read(spark, str(self.path), tile_bytes=self.tile_bytes)

    def bind(self, spark, tracer) -> None:
        """Build the four operators' plan once per session: a union of
        their outputs, each reduced to per-tile hashes plus the sample
        tiles' bytes.  Building it is driver-side work of about a second
        per operator, paid in set-up; a pass then times tile transfer,
        halo exchange and the kernels."""
        from functools import reduce

        from pyspark.sql import functions as F

        sampled = reduce(lambda a, b: a | b, [
            (F.col("ty") == ty) & (F.col("tx") == tx) for ty, tx in self.sample_tiles])
        with tracer.span("tiled.read"):
            t = self.read(spark)
        outs = []
        for name, key, op in self.ops:
            with tracer.span(name):
                outs.append(op(t).select(
                    F.lit(key).alias("op"), "ty", "tx", "h", "w",
                    F.xxhash64("value").alias("hash"),
                    F.when(sampled, F.col("value")).alias("blob")))
        self.union = reduce(lambda a, b: a.unionByName(b), outs)

    def run_pass(self, spark, tracer) -> PassResult:
        """All four operators in one Spark job.  Each pass plans a fresh
        query over the bound plan, so its halo shuffles run again rather
        than reuse an earlier pass's output."""
        with tracer.span("action"):
            rows = self.union.select("*").collect()
        hashes = [(r["op"], r["ty"], r["tx"], r["hash"]) for r in rows]
        samples = {key: {} for _, key, _ in self.ops}
        for r in rows:
            if r["blob"] is not None:
                samples[r["op"]][(r["ty"], r["tx"])] = np.frombuffer(
                    r["blob"], np.float32).reshape(r["h"], r["w"])
        return PassResult(_digest(hashes), samples, {"tiles": len(rows) // len(self.ops)})

    def check_oracle(self, spark, result: PassResult) -> list[str]:
        return self.check_pass(spark, result)

    def check_pass(self, spark, result: PassResult) -> list[str]:
        errors = []
        for op, tiles in self.expected.items():
            for key, want in tiles.items():
                got = result.sample[op].get(key)
                if got is None:
                    errors.append(f"{op}: sample tile {key} missing")
                    continue
                rtol, atol = RASTER_TOL[op]
                try:
                    np.testing.assert_allclose(got, want, rtol=rtol, atol=atol, equal_nan=True)
                except AssertionError as e:
                    errors.append(f"{op} tile {key}: {str(e).strip().splitlines()[2]}")
        return errors

    def prefixes(self):
        from xarray_spatial_spark import tiled

        ident = lambda arrs: {"value": arrs["value"][1:-1, 1:-1]}  # noqa: E731
        out = [
            ("tiled.read", lambda spark, built: self.read(spark), None),
            ("halo.exchange", lambda spark, built: tiled.apply_stencil_tiled(
                built["tiled.read"], ident, 1), "tiled.read"),
        ]
        for name, _, op in self.ops:
            out.append((name, lambda spark, built, op=op: op(built["tiled.read"]),
                        "halo.exchange"))
        return out

    def trace_layers(self, spark, tracer, passes, stage) -> tuple[dict, dict]:
        layers, _, unresolved = prefix_layers(spark, self.prefixes(), tracer)
        return layers, {"halo.shuffle_write_bytes": stage["shuffle_write_bytes"] / len(passes),
                        "halo.strategy": self.strategies["halo"],
                        "unresolved_layers": unresolved}


# ---------------------------------------------------------------------------
# write side
# ---------------------------------------------------------------------------

class TileIngest(Workload):
    """Synthesize, extract, tile, write partitioned by tile with a
    manifest, verify lineage, resume."""

    name = "tile_ingest"
    TILE_ZOOM = 3  # 64 tile partitions

    def prepare(self, spark) -> None:
        self.items = None
        self.passes = 0
        self.out_root = self.run_dir / "ingest"
        self.params = {"seed": self.seed, "n": self.size, "tile_zoom": self.TILE_ZOOM}
        self.meta = {}

    def generate(self, spark):
        from pyspark.sql import functions as F

        from xarray_spatial_spark.sources.documents import documents

        return documents(spark, inputs.span_for(self.size), skew=True).where(
            inputs.seeded_keep(F.col("doc_id"), self.seed))

    def extract_assign(self, spark):
        from pyspark.sql import functions as F

        from xarray_spatial_spark.operators import tiling
        from xarray_spatial_spark.sources.documents import extract_text

        df = self.generate(spark).withColumn("body", extract_text(F.col("html")))
        return tiling.assign_cells(df, zoom=12, tile_zoom=self.TILE_ZOOM)

    def run_pass(self, spark, tracer) -> PassResult:
        from xarray_spatial_spark.plans import manifest

        if self.passes:
            shutil.rmtree(self.out_root / f"p{self.passes - 1}", ignore_errors=True)
        stage = self.out_root / f"p{self.passes}"
        self.passes += 1
        with tracer.span("manifest.write"):
            manifest.run_stage(spark, stage, lambda: self.extract_assign(spark),
                               key="tile_id", params=self.params)
        with tracer.span("manifest.lineage"):
            lineage_ok = manifest.verify_lineage(spark, stage)
        mpath = manifest.manifest_path(stage)
        before = mpath.stat().st_mtime_ns
        with tracer.span("manifest.resume"):
            manifest.run_stage(spark, stage, lambda: self.extract_assign(spark),
                               key="tile_id", params=self.params)
        m = json.loads(mpath.read_text())
        rows = [(r["tile_id"], r["row_count"], r["content_hash"]) for r in m["lineage"]]
        data = stage / "data"
        files = list(data.rglob("*.parquet"))
        self.items = m["metrics"]["rows"]
        self.meta = {"rows": self.items, "bytes": sum(p.stat().st_size for p in files)}
        return PassResult(_digest(rows), {
            "stage": stage, "lineage_ok": lineage_ok,
            "resumed": mpath.stat().st_mtime_ns == before,
        }, {"files_written": len(files), "partitions": len(rows)})

    def check_pass(self, spark, result: PassResult) -> list[str]:
        s = result.sample
        errors = []
        if not s["lineage_ok"]:
            errors.append("verify_lineage is false")
        if not s["resumed"]:
            errors.append("resume call rewrote the stage")
        return errors

    def check_oracle(self, spark, result: PassResult) -> list[str]:
        from pyspark.sql import functions as F

        from xarray_spatial_spark.sources.documents import extract_text

        s = result.sample
        errors = self.check_pass(spark, result)
        stored = spark.read.parquet(str(s["stage"] / "data"))
        bad = stored.where((extract_text(F.col("html")) != F.col("text"))
                           | (F.col("body") != F.col("text"))).count()
        if bad:
            errors.append(f"{bad} rows where extract_text(html) != text")
        return errors

    def prefixes(self):
        return [
            ("sources.gen", lambda spark, built: self.generate(spark), None),
            ("tiling.assign", lambda spark, built: self.extract_assign(spark), "sources.gen"),
        ]

    def trace_layers(self, spark, tracer, passes, stage) -> tuple[dict, dict]:
        """Prefix times for generation and extract+assign; the manifest
        layers from the traced passes' spans (write = run_stage minus
        the extract+assign prefix it contains)."""
        layers, took, unresolved = prefix_layers(spark, self.prefixes(), tracer)
        spans = lambda name: [s["end"] - s["start"] for s in tracer.spans  # noqa: E731
                              if s["name"] == name]
        layers["manifest.write"] = median(spans("manifest.write")) - took["tiling.assign"]
        layers["manifest.lineage"] = median(spans("manifest.lineage"))
        layers["manifest.resume"] = median(spans("manifest.resume"))
        return layers, {"manifest.files_written": median(p["files_written"] for p in passes),
                        "unresolved_layers": unresolved}


WORKLOADS = {w.name: w for w in (GeoJoin, ZoneJoin, RasterHalo, TileIngest)}
