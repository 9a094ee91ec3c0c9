"""SparkSession factory tuned for this engine.

Local-mode settings mirror what we would set on a real cluster:
AQE on (runtime re-plan + skew-join), Arrow on (every Python-side
kernel is a vectorized pandas UDF), shuffle partitions sized to
cores rather than the 200 default.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

_PKG_DIR = Path(__file__).resolve().parent


def _package_digest(files: list[Path]) -> bytes:
    h = hashlib.sha256()
    for p in files:
        for part in (p.relative_to(_PKG_DIR).as_posix().encode(), p.read_bytes()):
            h.update(len(part).to_bytes(8, "little"))
            h.update(part)
    return h.hexdigest().encode()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors — the programmatic
    equivalent of ``spark-submit --py-files pkg.zip`` (north rule's
    deployment mode).  Local mode still needs it: Python workers are
    separate processes that do not inherit the driver's sys.path.

    The zip is shared through the temp dir and carries a digest of the
    package sources as its comment; it is rebuilt whenever the sources
    differ (another checkout, or edited code)."""
    files = sorted(_PKG_DIR.rglob("*.py"))
    digest = _package_digest(files)
    zpath = Path(tempfile.gettempdir()) / "xarray_spatial_spark_pyfiles.zip"
    try:
        with zipfile.ZipFile(zpath) as z:
            current = z.comment
    except (OSError, zipfile.BadZipFile):
        current = None
    if current != digest:
        tmp = zpath.with_name(f"{zpath.stem}.{os.getpid()}.tmp.zip")
        with zipfile.ZipFile(tmp, "w") as z:
            z.comment = digest
            for p in files:
                z.write(p, Path(_PKG_DIR.name) / p.relative_to(_PKG_DIR))
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(str(zpath))


def _driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY``, else 16g capped at half the host's
    physical memory (whole GiB, at least 1g): the heap is committed
    up front (``-Xms`` + ``AlwaysPreTouch``), so a heap the host cannot
    back fails the JVM at startup."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(16, total // 2 // 2**30))}g"


def get_spark(
    app_name: str = "xarray_spatial_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] or local[*]
        n = master[master.index("[") + 1: -1] if "[" in master else "32"
        shuffle_partitions = os.cpu_count() if n == "*" else int(n)
    heap = _driver_memory()

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize per-batch Python overhead in
        # mapInPandas/applyInPandas hot paths (rows here are narrow)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # the default 100-entry whole-stage-codegen class cache
        # thrashes under a many-query workload (each query compiles
        # 10-20 units; an interleaved 60-query suite recompiles
        # EVERYTHING every pass — measured +20-45% on small pure-
        # Catalyst queries).  Cached classes are tiny; hold thousands.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # at most 16g: an oversized heap collapses 32-thread
        # throughput ~7x (first-touch page faults across a huge young
        # gen dominate; measured sha2-100M: 48g->24s, 16g->2.8s at
        # local[32]). Real clusters size executors the same way:
        # several smaller JVMs beat one giant heap.
        .config("spark.driver.memory", heap)
        # -Xms = -Xmx + AlwaysPreTouch: commit the whole heap at
        # startup.  Lazy heap growth page-faults DURING jobs (measured:
        # 60%+ kernel time bursts and 2-5x run-to-run variance on the
        # tiled stencil bench); pre-touching moves that cost to session
        # startup.  32m G1 regions keep multi-MB tile blobs out of the
        # humongous-allocation path.
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+AlwaysPreTouch -XX:+UseG1GC -Xms{heap}"
            " -XX:G1HeapRegionSize=32m",
        )
        # NOTE on spark.sql.parquet.columnarReaderBatchSize: the 4096
        # default is right for narrow tables (8-row batches cost a
        # 12x slowdown on the documents scan) but overflows/OOMs the
        # vectorized reader on dense-tile rasters (4096 x multi-MB
        # binary cells).  The conf is captured at ACTION time, so
        # ``tiled.read`` sets a tile-sized value on the session; use
        # ``tiled.table_scan_conf(spark)`` to flip back in mixed
        # pipelines.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # wide tables + pruned scans: 128m splits create 8x more tasks
        # than the pruned bytes warrant; 512m keeps task count ~ cores
        .config("spark.sql.files.maxPartitionBytes", "512m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
