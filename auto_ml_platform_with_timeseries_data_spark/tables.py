"""Canonical access to the driver-generated parquet tables (TESTDATA.md).

All fixtures are columnar parquet; reading through here guarantees the
session is tuned (UTC timezone, AQE, Arrow) before any plan is built, so
oracle comparisons are deterministic regardless of who built the session.

``keep`` is the one place the engine persists or checkpoints a frame. A
registered query's caches are released once its result is garbage
(README "Caching"): derive from a result only while holding it.
"""

from __future__ import annotations

import collections
import contextvars
import functools
import os
import queue
import re
import threading
import weakref

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from auto_ml_platform_with_timeseries_data_spark.session import tune, warn_once

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Numeric lineitem columns used as the "feature matrix" stand-in
# (FIXTURES.md §3: label=l_extendedprice, features=quantity/discount/tax/...).
LINEITEM_LABEL = "l_extendedprice"
LINEITEM_FEATURES = ("l_quantity", "l_discount", "l_tax",
                     "l_partkey", "l_suppkey", "l_linenumber")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            # integer `div`, NOT `/` — nanos (~1.7e18) overflow a double's
            # 53-bit mantissa, so float division would corrupt low digits
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.dataType.simpleString() == "timestamp_ntz":
            # Session built before tune() could apply inferTimestampNTZ=false
            # (static conf): normalize NTZ → LTZ. Under the UTC session tz
            # this is value-preserving and matches the oracle's naive epoch.
            df = df.withColumn(field.name,
                               F.col(field.name).cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


# Size gate for ``keep(frame, source=...)``, in MB of source. Below it the
# cache barrier costs more than the re-scans it saves (sf0.1, events ≈ 3
# MB: friedman/cochran_q ~2x slower with the persist, paired A/B r15);
# 256 MB is the guide §2.2/§6 band where scan I/O starts to matter.
PERSIST_SRC_MB = 256.0

# What keep() created in the calling query: (SparkContext, Dataset, plan
# hash) or (SparkContext, persisted RDD id, None); None outside a query.
_SCOPE: contextvars.ContextVar[list | None] = contextvars.ContextVar(
    "sparkgraft_cache_scope", default=None)
# Live scopes per cached plan: Spark caches by plan, so two live results of
# one query share an entry, and it must outlive the first of them.
_HOLDERS: collections.Counter = collections.Counter()
# A finalizer may fire inside any py4j call, so it only queues (put is
# reentrant) and a daemon thread unpersists, as py4j defers its own.
_RELEASES: queue.SimpleQueue = queue.SimpleQueue()
_releaser: threading.Thread | None = None
_lock = threading.Lock()


def keep(frame: DataFrame, *, source: DataFrame | None = None,
         eager: bool = False, checkpoint: bool = False) -> DataFrame:
    """Persist `frame` (materialized now if `eager`), or with `checkpoint`
    local-checkpoint it eagerly; with `source`, persist only when that
    source is at least PERSIST_SRC_MB. Inside a registered query the
    cache belongs to the query's scope; outside one, to the caller."""
    held = _SCOPE.get()
    sc = frame.sparkSession.sparkContext
    if checkpoint:
        before = _persistent_rdd_ids(sc) if held is not None else set()
        frame = frame.localCheckpoint(eager=True)
        if held is not None:
            held += [(sc, i, None) for i in _persistent_rdd_ids(sc) - before]
        return frame
    if source is not None and not _scan_heavy(source):
        return frame
    frame = frame.persist()
    if held is not None:
        plan = frame._jdf.queryExecution().analyzed().semanticHash()
        with _lock:
            _HOLDERS[plan] += 1
        held.append((sc, frame._jdf, plan))
    if eager:
        frame.count()
    return frame


def _persistent_rdd_ids(sc: SparkContext) -> set[int]:
    keys = sc._jsc.getPersistentRDDs().keySet().toString()  # one round trip
    return {int(i) for i in re.findall(r"\d+", keys)}


def _scan_heavy(source: DataFrame) -> bool:
    """`source` ≥ PERSIST_SRC_MB by the optimizer's statistics (unknown
    statistics report Long.MaxValue, so persist — safe at scale)."""
    try:
        size = int(str(source._jdf.queryExecution().optimizedPlan()
                       .stats().sizeInBytes()))
    except (AttributeError, TypeError, ValueError, Py4JError) as exc:
        # No _jdf (Spark Connect) or a probe-shape change: persist, as at
        # scale, but say so — the gate is off for every call site.
        warn_once("size probe", "keep: source-size probe unavailable "
                  f"({type(exc).__name__}: {exc}); persisting "
                  "unconditionally from now on")
        return True
    return size >= PERSIST_SRC_MB * 1024 * 1024


def scoped(fn):
    """`fn` run in a cache scope: what ``keep`` creates while it builds is
    released once the DataFrame it returns is garbage (at once if it
    raises). A call inside a scope — a registered query calling another
    — joins it, so an inner result cannot release what the outer reads."""

    @functools.wraps(fn)
    def run(*args, **kwargs):
        if _SCOPE.get() is not None:
            return fn(*args, **kwargs)
        held: list = []
        token = _SCOPE.set(held)
        _start_releaser()
        try:
            out = fn(*args, **kwargs)
        except BaseException:
            _RELEASES.put(held)   # no result to outlive
            raise
        finally:
            _SCOPE.reset(token)
        if held:
            weakref.finalize(out, _RELEASES.put, held).atexit = False
        return out

    return run


def in_scope(fn):
    """`fn` bound to the calling query's cache scope, for frames kept on
    another thread (a thread pool, a foreachBatch callback)."""
    held = _SCOPE.get()

    def run(*args, **kwargs):
        token = _SCOPE.set(held)
        try:
            return fn(*args, **kwargs)
        finally:
            _SCOPE.reset(token)

    return run


def _start_releaser() -> None:
    global _releaser
    with _lock:
        if _releaser is None or not _releaser.is_alive():
            _releaser = threading.Thread(target=_drain, daemon=True,
                                         name="sparkgraft-cache-release")
            _releaser.start()


def _drain() -> None:
    while True:
        _release(_RELEASES.get())


def _release(held: list) -> None:
    """Unpersist a scope's frames without blocking, a cached plan only
    once no live scope holds it; a stopped (or replaced) context took
    its caches with it."""
    for sc, handle, plan in held:
        if plan is not None:
            with _lock:
                _HOLDERS[plan] -= 1
                if _HOLDERS[plan] > 0:
                    continue
                del _HOLDERS[plan]
        jsc = sc._jsc if SparkContext._active_spark_context is sc else None
        if jsc is None:
            continue
        try:
            if plan is None:   # a checkpoint's RDD id, as ContextCleaner does
                jsc.sc().unpersistRDD(handle, False)
            else:
                handle.unpersist(False)
        except Py4JError as exc:
            warn_once("cache release", "could not release a query's "
                      f"cache ({type(exc).__name__}: {exc})")
