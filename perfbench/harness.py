"""Session set-up, the closed measurement loop, and the traced run.

One driver thread submits one job at a time on ``local[<cores>]``; the
next pass starts only after the previous one has returned and been
checked.  Pass times cover the job only; the output check runs after
the clock stops.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import tempfile
import time
from pathlib import Path

from perfbench import probes
from perfbench.trace import Tracer, span_cost_s
from perfbench.workloads import WORKLOADS, PassResult

# the first pass after a cold JVM start runs 2-3x slower; raster_halo's
# short passes keep getting faster for a few more
WARMUP_PASSES = {"raster_halo": 3}
TAIL_BEYOND = 10

# default input sizes: docs per pass, or raster side in cells
SIZES = {"geo_join": 100_000, "zone_join": 100_000,
         "raster_halo": 3072, "tile_ingest": 25_000}

# which issue-named layers make up each role metric, per workload
ROLES = {
    "geo_join": {"source": ["sources.scan"], "locate": ["tiling.assign"],
                 "compute": ["pip.expr", "proximity.nearest_expr"], "finish": ["zonal.agg"]},
    "zone_join": {"source": ["sources.scan"], "locate": ["pip.join"],
                  "compute": ["proximity.nearest_join"], "finish": ["zonal.agg"]},
    "raster_halo": {"source": ["tiled.read"], "locate": ["halo.exchange"],
                    "compute": ["surface.slope", "surface.hillshade", "focal.mean"],
                    "finish": ["tiled.fused_chain"]},
    "tile_ingest": {"source": ["sources.gen"], "locate": ["tiling.assign"],
                    "compute": ["manifest.write"],
                    "finish": ["manifest.lineage", "manifest.resume"]},
}


class Session:
    """Owns the SparkSession; its start gets a fresh temp dir, so
    ``session.ship_package`` builds its zip from this checkout."""

    def __init__(self, run_dir: Path, cores: int):
        self.run_dir = run_dir
        self.cores = cores
        self.starts = 0
        self.spark = None

    def start(self) -> float:
        from xarray_spatial_spark.session import get_spark

        tmp = self.run_dir / f"tmp{self.starts}"
        tmp.mkdir(parents=True)
        tempfile.tempdir = str(tmp)
        self.starts += 1
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]",
            extra_conf={"spark.sql.warehouse.dir": str(self.run_dir / "warehouse")})
        return time.perf_counter() - t0

    def zip_digest(self) -> str:
        z = Path(tempfile.gettempdir()) / "xarray_spatial_spark_pyfiles.zip"
        return hashlib.sha256(z.read_bytes()).hexdigest()[:16]

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop the session, then the JVM itself, and wait for it: the
        gateway JVM exits when its stdin closes."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def tail(values: list[float]) -> tuple[float, dict]:
    """Highest percentile with at least TAIL_BEYOND samples beyond it;
    the maximum when there are too few samples."""
    xs = sorted(values)
    n = len(xs)
    rank = max(1, n - TAIL_BEYOND) if n > TAIL_BEYOND else n
    return xs[rank - 1], {"rank": rank, "passes": n,
                          "percentile": round(100.0 * rank / n, 1),
                          "is_max": rank == n}


def _loop(sess: Session, wl, tree, seconds: float, ref: str, tracer: Tracer,
          group: str) -> tuple[list[dict], PassResult | None]:
    """Closed loop for ``seconds`` of wall time (at least one pass).
    Returns the pass records and the last successful result."""
    sc = sess.spark.sparkContext
    out, last = [], None
    deadline = time.perf_counter() + seconds
    while not out or time.perf_counter() < deadline:
        rec = {"load": probes.loadavg()}
        sc.setJobGroup(group, group)
        c0 = tree.sample()
        t0 = time.perf_counter()
        try:
            with tracer.span("pass"):
                res = wl.run_pass(sess.spark, tracer)
        except Exception as e:  # a failed pass is counted, not fatal
            res = PassResult("", None, {"error": f"{type(e).__name__}: {e}"[:500]})
        rec["wall_s"] = time.perf_counter() - t0
        cpu = probes.cpu_delta(c0, tree.sample())
        rec.update(cpu)
        rec["cores"] = (cpu["jvm_cpu_s"] + cpu["python_cpu_s"]) / rec["wall_s"]
        errors = [res.info["error"]] if "error" in res.info else []
        if not errors:
            if res.digest != ref:
                errors.append(f"digest {res.digest} != {ref}")
            errors += wl.check_pass(sess.spark, res)
        if not errors:
            last = res
        rec["items"] = wl.items
        rec["heap_used_mb"] = probes.heap_used_mb(sess.spark)
        rec["errors"] = errors[:5]
        rec.update({k: v for k, v in res.info.items() if k != "error"})
        out.append(rec)
    return out, last


def _oracle(sess: Session, wl, res: PassResult) -> list[str]:
    sess.spark.sparkContext.setJobGroup("check", "check")
    try:
        return wl.check_oracle(sess.spark, res)
    except Exception as e:
        return [f"oracle check raised {type(e).__name__}: {e}"[:500]]


_off = Tracer(False)


def setup(sess: Session, wl, tracer: Tracer) -> tuple[dict, str]:
    """Cold start, input load, plan building, then the workload's
    WARMUP_PASSES (default 2) warm-up passes that fix the reference
    digest; the last is checked against the oracle.

    setup_s = cold start + plan build + warm-up passes: what a user pays
    from launching the session to a first finished job on a warm JVM.
    The input load is not in it (one-time generation, reported apart)."""
    cold = sess.start()
    zip_digest = sess.zip_digest()
    t0 = time.perf_counter()
    wl.prepare(sess.spark)
    prepare_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tracer.span("plan"):
        wl.bind(sess.spark, tracer)
    plan = time.perf_counter() - t0
    warm, digests = [], []
    for _ in range(WARMUP_PASSES.get(wl.name, 2)):
        t0 = time.perf_counter()
        res = wl.run_pass(sess.spark, _off)
        warm.append(time.perf_counter() - t0)
        digests.append(res.digest)
    warm_errors = wl.check_pass(sess.spark, res) + _oracle(sess, wl, res)
    if len(set(digests)) != 1:
        warm_errors.append(f"warm-up digests differ: {digests}")
    info = {
        "setup_s": cold + plan + sum(warm),
        "session.start_s": cold,
        "plan.build_s": plan,
        "warmup_passes_s": warm,
        "input.prepare_s": prepare_s,
        "input.gen_s": wl.meta.get("gen_s", 0.0) if wl.meta.get("built_now", True) else 0.0,
        "input.verify_s": wl.meta.get("verify_s", 0.0),
        "input.key": wl.meta.get("key"),
        "input.digest": wl.meta.get("digest"),
        "pyfiles_zip_sha256": zip_digest,
        "warmup_errors": warm_errors[:5],
    }
    return info, res.digest


def summarize(passes: list[dict]) -> dict:
    ok = [p for p in passes if not p["errors"]]
    walls = [p["wall_s"] for p in ok] or [float("nan")]
    p50 = statistics.median(walls)
    tail_v, tail_info = tail(walls)
    items = statistics.median(p["items"] for p in ok) if ok else 0
    cpu = [(p["jvm_cpu_s"] + p["python_cpu_s"]) / p["items"] * 1e6 for p in ok]
    return {
        "items_per_pass": items,
        "items_per_s": items / p50 if ok else 0.0,
        "pass_s_p50": p50,
        "pass_s_tail": tail_v,
        "tail": tail_info,
        "cpu_s_per_mitem": statistics.median(cpu) if cpu else float("nan"),
        "attempted": len(passes),
        "failed": len(passes) - len(ok),
    }


def run(workload: str, seed: int, seconds: float, traced: bool, run_dir: Path,
        size: int | None = None, cores: int | None = None) -> dict:
    cores = cores or len(os.sched_getaffinity(0))
    wl = WORKLOADS[workload](seed, size or SIZES[workload], run_dir)
    sess = Session(run_dir, cores)
    tracer = Tracer(traced)
    try:
        info, ref = setup(sess, wl, tracer)
        tree = probes.ProcessTree(sess.jvm_pid())
        rss = probes.RssSampler(tree)
        tree.sample()
        if traced:
            result = _traced(sess, wl, tree, rss, seconds, ref, info, tracer)
        else:
            with rss:
                passes, last = _loop(sess, wl, tree, seconds, ref, _off, "pass")
            result = {"passes": passes}
            final_errors = _oracle(sess, wl, last) if last else []
            if final_errors:  # the last good pass failed the oracle
                next(p for p in reversed(passes) if not p["errors"])["errors"] = final_errors[:5]
            result.update(summarize(passes))
        result["peak_rss_mb"] = rss.peak_mb
        result["rss_samples"] = rss.samples
        result["python_workers"] = len(rss.pids) - 1
        result["heap_used_mb_max"] = max(p["heap_used_mb"] for p in result["passes"])
    finally:
        sess.stop()
    result.update(info)
    result["stored_bytes_per_item"] = wl.stored_bytes_per_item()
    result["strategies"] = wl.strategies
    result["cores"] = cores
    result["driver_memory"] = os.environ.get("SPARK_DRIVER_MEMORY")
    result["item"] = wl.item
    return result


def _traced(sess: Session, wl, tree, rss, seconds: float, ref: str, info: dict,
            tracer: Tracer) -> dict:
    """Untraced then traced halves of the loop, the workload's layer
    times and counts, and Spark stage metrics of the traced passes.

    ``trace.overhead`` is the spans a traced pass records times the
    measured cost of one span, over the traced pass time.  The
    throughput difference of the two halves is reported beside it; at a
    few passes per half it is within pass-to-pass noise.

    Passes the workload runs while tracing other workloads
    (``wl.probe_checks``) count in ``attempted``, and in ``failed``
    when their output check found errors."""
    spark = sess.spark
    with rss:
        plain, _ = _loop(sess, wl, tree, seconds / 2, ref, _off, "pass")
        n_spans = len(tracer.spans)
        traced, _ = _loop(sess, wl, tree, seconds / 2, ref, tracer, "traced")
        n_spans = len(tracer.spans) - n_spans
    s_plain, s_traced = summarize(plain), summarize(traced)
    traced_wall = sum(p["wall_s"] for p in traced)
    stage = probes.stage_metrics(spark, "traced", sess.cores, traced_wall)
    n = len(traced)
    layers, counts = wl.trace_layers(spark, tracer, traced, stage)
    span_cost = span_cost_s()

    roles = {f"layer.{role}_s": sum(layers[name] for name in names)
             for role, names in ROLES[wl.name].items()}
    per_layer = {
        "session.start_s": info["session.start_s"],
        **roles,
        "spark.tasks": stage["tasks"] / n,
        "spark.task_skew": stage["task_skew"],
        "spark.slot_util": stage["slot_util"],
        "spark.failed_tasks": stage["failed_tasks"],
        "spark.spill_bytes": stage["spill_bytes"] / n,
        "spark.shuffle_write_bytes": stage["shuffle_write_bytes"] / n,
        "spark.gc_s": stage["gc_s"] / n,  # detail only: often exactly 0
        "spark.jvm_cpu_s": statistics.median(p["jvm_cpu_s"] for p in traced),
        # detail only: exactly 0 where no Python worker runs (geo_join)
        "spark.python_cpu_s": statistics.median(p["python_cpu_s"] for p in traced),
        "trace.overhead": n_spans / n * span_cost / s_traced["pass_s_p50"],
    }
    named = {f"{k}_s": v for k, v in layers.items()}
    named.update(counts)
    summary = summarize(plain + traced)
    summary["attempted"] += len(wl.probe_checks)
    summary["failed"] += sum(1 for _, errors in wl.probe_checks if errors)
    return {
        "passes": plain + traced,
        **summary,
        "probe_errors": {name: errors[:5] for name, errors in wl.probe_checks},
        "untraced_items_per_s": s_plain["items_per_s"],
        "traced_items_per_s": s_traced["items_per_s"],
        "trace.overhead_measured": 1.0 - s_traced["items_per_s"] / s_plain["items_per_s"],
        "trace.spans_per_pass": n_spans / n,
        "trace.span_cost_s": span_cost,
        "per_layer": per_layer,
        "layers": named,
        "span_self_s": tracer.self_times(),
        "stage_metrics": stage,
        "tracer": tracer,
    }
