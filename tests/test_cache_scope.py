"""Query-scoped caching: every persist/checkpoint goes through
``tables.keep``, and a registered query's caches are released once its
result is garbage — a long-lived session (the API's, a notebook's)
keeps no residue from queries it has finished with."""

from __future__ import annotations

import collections
import gc
import pathlib
import re
import sys
import time
import warnings
from concurrent.futures import ThreadPoolExecutor

import pytest
from py4j.protocol import Py4JError

from auto_ml_platform_with_timeseries_data_spark import registry, tables
from auto_ml_platform_with_timeseries_data_spark.tables import keep, scoped

PKG = pathlib.Path(tables.__file__).parent

# Queries that left cached data behind once their result was dropped,
# before caches were query-scoped: Dataset caches, then checkpointed
# RDDs only.
_LEAKED_DATASETS = (
    "q17", "q18", "q55", "q85", "q97", "q128", "q130", "q169", "q177",
    "q179", "q183", "q192", "q199", "q200", "q202", "q214", "q217",
    "q239", "q241", "q243", "q245", "q250", "q256", "q263", "q267",
    "q268", "q270", "q329", "q335", "q338",
)
_LEAKED_RDDS = ("q230", "q237", "q238", "q240", "q248", "q251", "q330",
                "q341", "q342", "q350")
# perfbench's ops_mix pool: the long-lived session the benchmark times
_OPS_POOL = ("q27", "q154", "q296", "q03", "q19", "q230", "q311", "q06",
             "q232")


def _names(ids) -> list[str]:
    by_id = {n.split("_")[0]: n for n in registry.queries()}
    return sorted({by_id[i] for i in ids})


def _persistent_rdd_ids(spark) -> set[int]:
    keys = spark.sparkContext._jsc.getPersistentRDDs().keySet().toString()
    return {int(i) for i in re.findall(r"\d+", keys)}


def _residue(spark, rdds_before: set[int]) -> tuple[int, set[int]]:
    """(cached Datasets, RDDs persisted since `rdds_before`) once Python
    and JVM garbage has settled: Python GC, py4j's deferred reference
    releases, one JVM GC, then up to 5 s for the count to reach zero."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    client = spark.sparkContext._gateway._gateway_client
    pending = getattr(client, "finalizer_deque", ())
    gc.collect()
    deadline = time.time() + 5
    while pending and time.time() < deadline:
        time.sleep(0.01)
    spark.sparkContext._jvm.System.gc()
    while True:
        cached = int(cache_manager.numCachedEntries())
        rdds = _persistent_rdd_ids(spark) - rdds_before
        if (cached == 0 and not rdds) or time.time() > deadline:
            return cached, rdds
        time.sleep(0.1)


@pytest.mark.parametrize(
    "name", _names(_LEAKED_DATASETS + _LEAKED_RDDS + _OPS_POOL))
def test_query_leaves_no_cache_behind(spark, sf_dir, name):
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    df = registry.queries()[name](spark, sf_dir)
    df.count()
    del df
    assert _residue(spark, before) == (0, set())


def test_only_tables_persists_or_checkpoints():
    pattern = re.compile(r"\.(persist\(|cache\(\)|localCheckpoint\()")
    offenders = [
        f"{path.relative_to(PKG)}:{i}"
        for path in sorted(PKG.rglob("*.py")) if path.name != "tables.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert offenders == []


def test_nested_scoped_call_joins_the_outer_scope(spark):
    """An inner registered query's result may be garbage long before the
    outer query's action runs; its frames must live as long as the
    outer result."""
    @scoped
    def inner():
        return keep(spark.range(50).selectExpr("id", "id % 7 AS k"))

    @scoped
    def outer():
        return inner().groupBy("k").count()

    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    out = outer()
    gc.collect()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert int(cache_manager.numCachedEntries()) == 1
    assert out.count() == 7
    del out
    assert _residue(spark, before) == (0, set())


def test_cache_shared_by_two_live_results_outlives_the_first(spark):
    """Spark caches by plan: two live results of one query share the
    entry, which goes only when the last of them is dropped."""
    @scoped
    def build():
        return keep(spark.range(40).selectExpr("id % 5 AS m"), eager=True)

    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    first, second = build(), build()
    del first
    gc.collect()
    time.sleep(0.5)
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert int(cache_manager.numCachedEntries()) == 1
    del second
    assert _residue(spark, before) == (0, set())


def test_concurrent_scopes_sharing_a_plan_release_it_once(spark):
    """Scopes on 8 threads keep and drop the same plan; the holder count
    is shared, so a lost update would leave the entry behind or drop it
    early."""
    @scoped
    def build():
        return keep(spark.range(30).selectExpr("id % 3 AS t"), eager=True)

    def round_trip(_):
        out = build()
        assert out.count() == 30
        del out

    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    holders = collections.Counter(tables._HOLDERS)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            for f in [pool.submit(round_trip, i) for i in range(24)]:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert _residue(spark, before) == (0, set())
    assert tables._HOLDERS == holders


def test_keep_outside_a_query_only_persists(spark):
    """No scope, no release: the caller owns the cache (ml.automl's
    train frame on the Task path unpersists it itself)."""
    spark.catalog.clearCache()
    df = keep(spark.range(10).selectExpr("id * 3 AS x"), eager=True)
    try:
        gc.collect()
        time.sleep(0.2)
        assert df.storageLevel.useMemory
    finally:
        df.unpersist()


def test_scope_releases_checkpoints_of_a_failed_build(spark):
    @scoped
    def broken():
        keep(spark.range(20).selectExpr("id + 1 AS y"), checkpoint=True)
        raise ValueError("boom")

    before = _persistent_rdd_ids(spark)
    with pytest.raises(ValueError):
        broken()
    assert _residue(spark, before) == (0, set())


def test_size_gate_keys_on_the_source(spark, monkeypatch):
    frame = spark.range(5).selectExpr("id AS z")
    monkeypatch.setattr(tables, "PERSIST_SRC_MB", 1e9)
    assert not keep(frame, source=frame).storageLevel.useMemory
    monkeypatch.setattr(tables, "PERSIST_SRC_MB", 0)
    kept = keep(frame, source=frame)
    try:
        assert kept.storageLevel.useMemory
    finally:
        kept.unpersist()


class _Handle:
    def __init__(self, exc=None):
        self.exc, self.calls = exc, 0

    def unpersist(self, blocking):
        self.calls += 1
        if self.exc:
            raise self.exc


def test_release_skips_a_stopped_context_and_never_throws(
        spark, monkeypatch):
    monkeypatch.setattr(tables, "_HOLDERS",
                        collections.Counter(stale=1, a=1, b=1))
    stale = _Handle()
    tables._release([(object(), stale, "stale")])   # not the active context
    assert stale.calls == 0

    monkeypatch.setattr("auto_ml_platform_with_timeseries_data_spark"
                        ".session._WARNED", set())
    failing = _Handle(Py4JError("gateway gone"))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        tables._release([(spark.sparkContext, failing, "a"),
                         (spark.sparkContext, failing, "b")])
    assert failing.calls == 2
    assert [str(w.message) for w in caught
            if issubclass(w.category, RuntimeWarning)] == [
        "could not release a query's cache (Py4JError: gateway gone)"]
