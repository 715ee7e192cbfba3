"""Session-conf contract: the confs the engine's speed and oracle parity
rest on are set on every session it builds or is handed, set once, and
a conf that cannot be set says so."""

from __future__ import annotations

import warnings
from types import SimpleNamespace

from py4j.protocol import Py4JError

from auto_ml_platform_with_timeseries_data_spark import session
from auto_ml_platform_with_timeseries_data_spark.session import get_spark, tune
from auto_ml_platform_with_timeseries_data_spark.tables import load_table

HUGE = "spark.sql.codegen.hugeMethodLimit"
SHUFFLE = "spark.sql.shuffle.partitions"
TZ = "spark.sql.session.timeZone"


def test_get_spark_session_confs(spark):
    assert spark.conf.get(HUGE) == "8000"
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_tune_sets_huge_method_limit_on_a_vanilla_session(spark):
    vanilla = spark.newSession()
    vanilla.conf.unset(HUGE)
    assert vanilla.conf.get(HUGE) != "8000"
    tune(vanilla)
    assert vanilla.conf.get(HUGE) == "8000"


def test_load_table_keeps_the_sessions_shuffle_partitions(spark, sf_dir):
    """tune() runs once per session, so a load_table cannot reset
    get_spark's shuffle_partitions to $SPARK_GRAFT_CPUS."""
    old = spark.conf.get(SHUFFLE)
    try:
        s = get_spark("tests", cores=8, shuffle_partitions=3)
        assert s.conf.get(SHUFFLE) == "3"
        load_table(s, sf_dir, "region")
        assert s.conf.get(SHUFFLE) == "3"
    finally:
        spark.conf.set(SHUFFLE, old)


def test_foreign_session_is_tuned_on_its_first_load(spark, sf_dir):
    foreign = spark.newSession()
    foreign.conf.set(TZ, "America/New_York")
    load_table(foreign, sf_dir, "region")
    assert foreign.conf.get(TZ) == "UTC"
    assert foreign.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    # tuned once: a later change by the session's owner stands
    foreign.conf.set(TZ, "Asia/Tokyo")
    load_table(foreign, sf_dir, "region")
    assert foreign.conf.get(TZ) == "Asia/Tokyo"


class _Conf:
    def __init__(self, bad: str) -> None:
        self.bad, self.values = bad, {}

    def set(self, key, value):
        if key == self.bad:
            raise Py4JError(f"cannot set {key}")
        self.values[key] = value


def _fake_session(bad_conf: str = "", add_py_file=None):
    sc = SimpleNamespace(addPyFile=add_py_file or (lambda path: None))
    return SimpleNamespace(conf=_Conf(bad_conf), sparkContext=sc)


def _runtime_warnings(caught) -> list[str]:
    return [str(w.message) for w in caught
            if issubclass(w.category, RuntimeWarning)]


def test_tune_warns_once_for_a_conf_it_cannot_set(monkeypatch):
    monkeypatch.setattr(session, "_WARNED", set())
    monkeypatch.setenv("SPARK_GRAFT_NO_SHIP", "1")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        for _ in range(3):
            fake = _fake_session(bad_conf=HUGE)
            tune(fake)
            tune(fake)
    msgs = _runtime_warnings(caught)
    assert len(msgs) == 1 and HUGE in msgs[0]
    assert fake.conf.values[TZ] == "UTC"   # the other confs still applied


def test_ship_package_failure_warns_with_the_zip_path(monkeypatch):
    monkeypatch.setattr(session, "_WARNED", set())
    monkeypatch.delenv("SPARK_GRAFT_NO_SHIP", raising=False)

    def refuse(path):
        raise Py4JError("addPyFile refused")

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        tune(_fake_session(add_py_file=refuse))
    msgs = _runtime_warnings(caught)
    assert len(msgs) == 1
    assert ".zip" in msgs[0] and "addPyFile refused" in msgs[0]

