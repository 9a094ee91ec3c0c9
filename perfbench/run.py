#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload geo_join --seed 1 --seconds 15 --trace 0

Prints a detail line (JSON, every metric by its workload-specific name)
and, last, the result line:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of BENCHMARK.json (``--trace 0``) or its per-layer metrics
(``--trace 1``).  Exits non-zero without a result line when the engine
package is missing or the run cannot complete.

Every file the run writes stays inside the checkout: a per-run
directory under ``perfbench/.run/`` (temp dirs, Spark scratch, the
write-side workload's output; removed at exit), the input cache under
``perfbench/.cache/`` and traced runs' spans under ``perfbench/.traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_MEMORY = "4g"  # fits a 15 GB host next to other tenants
WORKLOAD_NAMES = ("geo_join", "zone_join", "raster_halo", "tile_ingest")

END_TO_END = {  # name -> (unit, result key)
    "setup_s": ("s", "setup_s"),
    "items_per_s": ("1/s", "items_per_s"),
    "pass_s_p50": ("s", "pass_s_p50"),
    "cpu_s_per_mitem": ("s", "cpu_s_per_mitem"),
    "peak_rss_mb": ("MB", "peak_rss_mb"),
}
PER_LAYER_UNITS = {
    "session.start_s": "s", "layer.source_s": "s", "layer.locate_s": "s",
    "layer.compute_s": "s", "layer.finish_s": "s", "spark.tasks": "count",
    "spark.task_skew": "ratio", "spark.slot_util": "ratio",
    "spark.failed_tasks": "count", "spark.spill_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.jvm_cpu_s": "s",
    "trace.overhead": "ratio",
}


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", type=int, default=None,
                   help="input size (docs, or raster side); default per workload")
    return p.parse_args(argv)


def _isolate(run_dir: Path) -> None:
    """Point every temp and scratch location at the run directory before
    pyspark is imported, so nothing is shared with other checkouts."""
    for d in ("tmp", "local"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    # -UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _metrics(res: dict, traced: bool) -> dict:
    if traced:
        return {k: {"value": res["per_layer"][k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    return {k: {"value": res[key], "unit": u} for k, (u, key) in END_TO_END.items()}


def _detail(args, res: dict) -> dict:
    """Every end-to-end metric under its workload-specific name."""
    mega = "mdoc" if res["item"] == "doc" else "mcell"
    d = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        f"{res['item']}s_per_s": res["items_per_s"],
        f"cpu_s_per_{mega}": res["cpu_s_per_mitem"],
        f"stored_bytes_per_{res['item']}": res["stored_bytes_per_item"],
        "failed_ratio": res["failed"] / res["attempted"],
    }
    skip = {"passes", "tracer"}
    d.update({k: v for k, v in res.items() if k not in skip})
    d["passes"] = res["passes"]
    return d


def main(argv=None) -> int:
    args = parse(argv)
    if not (ROOT / "xarray_spatial_spark" / "__init__.py").is_file():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = HERE / ".run" / f"{args.workload}-{os.getpid()}-{time.time_ns()}"
    _isolate(run_dir)
    sys.path.insert(0, str(ROOT))
    try:
        from perfbench import harness

        # numpy seeds must be in [0, 2**32); the terrain adds up to 16
        res = harness.run(args.workload, args.seed % (1 << 31), args.seconds,
                          bool(args.trace), run_dir, size=args.size)
        if args.trace:
            trace_path = HERE / ".traces" / f"{args.workload}-s{args.seed}.json"
            res.pop("tracer").write(trace_path, {"layers": res["layers"],
                                                 "per_layer": res["per_layer"]})
            res["trace_file"] = str(trace_path.relative_to(ROOT))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(_detail(args, res), default=str))
    correct = res["failed"] == 0 and not res["warmup_errors"]
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": _metrics(res, bool(args.trace))}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
