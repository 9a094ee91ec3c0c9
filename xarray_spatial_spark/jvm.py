"""Compiled JVM kernels (``jvm/xss_kernels.jar``, built by
``scripts/build_jvm_kernels.sh`` from ``jvm/xss/*.java``).

The jar is added to a session lazily, once, on the first kernel use,
so any SparkSession works (``get_spark`` or one built elsewhere).
Kernels that carry driver-side data (a polygon or target set) are
constructed on the driver through py4j and registered as a Java UDF
under a name derived from a digest of that data: the same set reuses
one name, and different sets never collide.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql.types import DataType

_JAR = Path(__file__).resolve().parent.parent / "jvm" / "xss_kernels.jar"
_LOADED = "spark.xrspatial.jvmkernels.loaded"


def kernels_jar() -> str | None:
    """Path to the compiled kernel jar, or None when it hasn't been
    built."""
    return str(_JAR) if _JAR.exists() else None


def load_kernels(spark: SparkSession) -> None:
    """``ADD JAR`` the kernel jar, once per session."""
    if spark.conf.get(_LOADED, None):
        return
    jar = kernels_jar()
    if jar is None:
        raise RuntimeError(
            "JVM kernels not built; run scripts/build_jvm_kernels.sh"
        )
    spark.sql(f"ADD JAR '{jar}'")
    spark.conf.set(_LOADED, "true")


def register_kernel(spark: SparkSession, cls: str, args: tuple,
                    return_type: DataType) -> str:
    """Construct ``xss.<cls>(*args)`` on the driver and register it as
    a Java UDF; returns the registered name for ``F.call_function``.
    ``args`` are str or bytes (py4j passes bytes as ``byte[]``)."""
    load_kernels(spark)
    h = hashlib.sha256(cls.encode())
    for a in args:
        b = a.encode() if isinstance(a, str) else bytes(a)
        h.update(len(b).to_bytes(8, "little"))
        h.update(b)
    name = f"xss_{cls.lower()}_{h.hexdigest()[:16]}"
    # reflection through the session's jar class loader: py4j's own
    # lookup only sees the jar on the thread that ran ADD JAR
    jss = spark._jsparkSession
    jcls = spark._jvm.java.lang.Class.forName(
        f"xss.{cls}", True, jss.sharedState().jarClassLoader())
    gw = spark.sparkContext._gateway
    jargs = gw.new_array(gw.jvm.java.lang.Object, len(args))
    for i, a in enumerate(args):
        jargs[i] = a
    kernel = jcls.getConstructors()[0].newInstance(jargs)
    jss.udf().register(name, kernel, jss.parseDataType(return_type.json()))
    return name
