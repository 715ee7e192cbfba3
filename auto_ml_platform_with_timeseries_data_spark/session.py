"""SparkSession factory tuned for this engine.

Local-mode testing runs in one JVM (``local[N]``), but every conf here is
chosen to also be correct on a multi-executor cluster: AQE handles runtime
partition coalescing and skew joins, Arrow is enabled for every pandas
boundary, and the session timezone is pinned to UTC so results are
byte-comparable with the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os
import warnings

from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# Confs that are safe to (re)apply to an existing session at runtime.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    # Fixture parquet stores naive timestamp[us]; read it as TIMESTAMP_LTZ
    # (not NTZ) so epoch arithmetic (cast to double, unix_timestamp) works
    # and matches DuckDB's epoch() of naive timestamps under the UTC
    # session timezone above. load_table() also normalizes defensively.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Streaming state-store stages take their partition count from this
    # (AQE never coalesces them), so a default-200 driver session runs
    # 200-task micro-batches over fixture-sized state. Runtime-settable,
    # perf-only — results are identical either way.
    "spark.sql.shuffle.partitions": str(os.environ.get("SPARK_GRAFT_CPUS", 32)),
    # Align whole-stage-codegen fallback with what HotSpot will actually
    # JIT: methods over 8000 bytecode are never compiled
    # (-XX:DontCompileHugeMethods), so a fused stage between 8 KB and
    # Spark's 64 KB default runs INTERPRETED bytecode — slower than the
    # non-fused path it replaced. Measured r16 (sf0.1, warm, min-of-2):
    # q309 3.92→1.76 s, q343 2.45→1.94, q217 4.28→3.41, q268 2.42→2.05,
    # everything else neutral. Scale-independent (a property of the
    # generated code size, not the data); the wide-aggregate forecast
    # kernels are exactly the shape that trips it.
    "spark.sql.codegen.hugeMethodLimit": "8000",
    # events.parquet stores TIMESTAMP(NANOS), which the vectorized reader
    # rejects: read it as long; load_table() truncates it as DuckDB does.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

_WARNED: set[str] = set()


def warn_once(key: str, message: str) -> None:
    """A fallback that keeps the engine running still says so, once."""
    if key not in _WARNED:
        _WARNED.add(key)
        warnings.warn(message, RuntimeWarning, stacklevel=3)


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally created session,
    once: later changes by its owner (get_spark's shuffle_partitions)
    stand. Flagged on the session, where runtime confs live.

    The correctness driver hands us its own SparkSession; pinning the
    timezone + AQE + Arrow here keeps engine semantics independent of how
    the session was built.
    """
    if getattr(spark, "_sparkgraft_tuned", False):
        return spark
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except (AnalysisException, Py4JError) as exc:
            warn_once(f"conf {k}", f"tune: could not set {k}={v} "
                      f"({type(exc).__name__}: {exc}); leaving it as-is")
    _ship_package(spark)
    spark._sparkgraft_tuned = True
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable inside Python workers.

    Module-level pandas-UDF kernels (mapInPandas/applyInPandas) are
    cloudpickled BY REFERENCE (module + qualname), so the worker process
    must be able to `import` the package. When the driver process was
    started from a different cwd (the correctness driver's session, a
    notebook), the repo dir is only on the driver's sys.path — workers
    fail with ModuleNotFoundError. Shipping a zip via addPyFile puts the
    package on every executor's python path, exactly how the engine
    would be deployed to a real cluster (--py-files).
    """
    sc = spark.sparkContext
    if getattr(sc, "_sparkgraft_pkg_shipped", False):
        return
    if os.environ.get("SPARK_GRAFT_NO_SHIP"):
        sc._sparkgraft_pkg_shipped = True
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = None
    try:
        base = tempfile.mkdtemp(prefix="sparkgraft_pyfiles_")
        zip_path = shutil.make_archive(
            os.path.join(base, os.path.basename(pkg_dir)), "zip",
            root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir),
        )
        sc.addPyFile(zip_path)
    except (OSError, Py4JError) as exc:
        # local imports still work; only remote workers are affected
        warn_once("ship package",
                  f"could not ship {zip_path or pkg_dir} to Python "
                  f"workers ({type(exc).__name__}: {exc})")
    sc._sparkgraft_pkg_shipped = True


def get_spark(app_name: str = "auto_ml_platform_with_timeseries_data_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. Shuffle
    partitions default to the core count — correct for local mode; on a
    real cluster AQE coalescing makes the initial number non-critical.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        # Static conf (builder-only; tune() cannot retrofit it onto a
        # foreign session): skip PySpark's per-API-call call-site
        # capture — it stack-walks + py4j-ships an error-origin string
        # on EVERY functions/DataFrame call, costing 0.3-1.4 s of pure
        # driver time per query BUILD at this plan width (measured r16:
        # q17 build 1.84→0.46 s, q309 0.83→0.50 s). Only error-message
        # origin decoration is lost; results and plans are unchanged.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    # explicit argument wins over the _RUNTIME_CONFS default
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tuned = tune(spark)
    tuned.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return tuned
