"""Tracing from outside the program: spans around calls into each layer.

The benchmark never edits the package. In a traced run it wraps the public
functions of the layers it measures (``Probes.install``), records a span for
every call (name, start, end, parent, operation id), counts py4j round trips,
and attributes Spark jobs and stages to a span by diffing the DAG scheduler's
job and stage id counters around the call. Diffing ids, unlike job groups,
also catches jobs that a layer fires from its own threads (``ml.automl``'s
family thread pool, CrossValidator's fit threads).

Stage metrics come from the status store (``sc.statusStore()``), which is
populated with ``spark.ui.enabled=false``. Spans stay in memory and are
written out once, at exit.
"""

from __future__ import annotations

import contextlib
import functools
import gc
import inspect
import json
import re
import sys
import threading
import time

PKG = "auto_ml_platform_with_timeseries_data_spark"


class Tracer:
    """In-memory span recorder; while disabled, spans record nothing."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.op_id: int | None = None
        # parent for spans opened on threads with no open span of their own
        # (HTTP handler threads serving the closed-loop client's request)
        self.root: int | None = None
        self.spark: SparkProbe | None = None
        self.py4j_calls = 0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        rec = {"id": sid, "name": name, "op": self.op_id,
               "parent": stack[-1] if stack else self.root}
        if jobs and self.spark is not None:
            rec["job0"], rec["stage0"] = self.spark.marks()
        rec["py4j0"] = self.py4j_calls
        rec["start"] = time.perf_counter()
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            rec["py4j"] = self.py4j_calls - rec.pop("py4j0")
            if "job0" in rec:
                rec["job1"], rec["stage1"] = self.spark.marks()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    # -- py4j round trips ----------------------------------------------------

    def count_py4j(self, gateway_client) -> None:
        """Count every command sent over ``gateway_client``'s class, except
        the tracer's own (made under ``SparkProbe.quiet``) and the release
        of Python-side references, which Python's garbage collector times."""
        cls = type(gateway_client)
        orig = cls.send_command
        tracer = self
        from py4j import protocol

        release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

        def send_command(client, command, *args, **kwargs):
            if (tracer.enabled and not getattr(tracer._local, "quiet", False)
                    and not command.startswith(release)):
                with tracer._lock:
                    tracer.py4j_calls += 1
            return orig(client, command, *args, **kwargs)

        cls.send_command = send_command

    @contextlib.contextmanager
    def quiet(self):
        self._local.quiet = True
        try:
            yield
        finally:
            self._local.quiet = False

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class SparkProbe:
    """Job/stage id counters, stage metrics and cache residue, read through
    py4j without counting as the program's own round trips."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self._tracer = tracer
        with tracer.quiet():
            jsc = spark.sparkContext._jsc
            self._jsc = jsc
            self._sc = jsc.sc()
            self._dag = self._sc.dagScheduler()
            self._store = self._sc.statusStore()
            jvm = self._jvm = spark.sparkContext._jvm
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$")
            self._mapper.registerModule(getattr(scala, "MODULE$"))
            cm = spark._jsparkSession.sharedState().cacheManager()
            field = cm.getClass().getDeclaredField("cachedData")
            field.setAccessible(True)
            self._cache_manager, self._cached_field = cm, field
            self._next_rdd_field = self._sc.getClass().getDeclaredField("nextRddId")
            self._next_rdd_field.setAccessible(True)
        client = spark.sparkContext._gateway._gateway_client
        self._finalizer_queue = getattr(client, "finalizer_deque", ())
        self.stages: dict[int, dict] = {}

    def marks(self) -> tuple[int, int]:
        with self._tracer.quiet():
            return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def _cached(self) -> int:
        return int(self._cached_field.get(self._cache_manager).size())

    def cache_mark(self) -> tuple[int, int]:
        """(next RDD id, cached Dataset count): RDD ids only grow, so the
        first marks which persistent RDDs an operation created."""
        with self._tracer.quiet():
            return int(self._next_rdd_field.get(self._sc)), self._cached()

    def cache_left(self, mark: tuple[int, int]) -> int:
        """Datasets cached and RDDs persisted since ``mark`` that are still
        held. Garbage is collected on both sides first, so an RDD that only
        unreachable objects hold does not count: py4j releases Python-side
        references from a finalizer thread, and Spark's ContextCleaner
        unpersists RDDs on the JVM's collection schedule, so both are
        waited for."""
        rdd0, cached0 = mark
        with self._tracer.quiet():
            gc.collect()
            deadline = time.time() + 10
            while self._finalizer_queue and time.time() < deadline:
                time.sleep(0.01)
            time.sleep(0.05)   # the release popped last may still be in flight
            self._jvm.System.gc()
            reads = []
            while time.time() < deadline:
                ids = json.loads(self._mapper.writeValueAsString(
                    self._jsc.getPersistentRDDs().keySet()))
                reads.append(self._cached() - cached0
                             + sum(1 for i in ids if int(i) >= rdd0))
                if len(reads) >= 3 and len(set(reads[-3:])) == 1:
                    break
                time.sleep(0.1)
            return reads[-1]

    def fetch_stages(self, stage0: int, stage1: int) -> None:
        """Read the metrics of stages [stage0, stage1) before the status
        store's retention limit can evict them."""
        from py4j.protocol import Py4JJavaError

        with self._tracer.quiet():
            self._sc.listenerBus().waitUntilEmpty(30_000)
            for sid in range(stage0, stage1):
                if sid in self.stages:
                    continue
                try:
                    raw = self._mapper.writeValueAsString(
                        self._store.lastStageAttempt(sid))
                except Py4JJavaError:  # id allocated, stage never submitted
                    continue
                d = json.loads(raw)
                self.stages[sid] = {
                    "complete": d["status"] == "COMPLETE",
                    "run_s": d["executorRunTime"] / 1e3,
                    "cpu_s": d["executorCpuTime"] / 1e9,
                    "input_b": d["inputBytes"],
                    "shuffle_read_b": d["shuffleReadBytes"],
                    "shuffle_write_b": d["shuffleWriteBytes"],
                    "spill_b": d["memoryBytesSpilled"] + d["diskBytesSpilled"],
                }

    def stage_totals(self, spans: list[dict]) -> dict:
        """Sum stage metrics over the union of the spans' stage ranges."""
        ids = set()
        for s in spans:
            if "stage0" in s:
                ids.update(range(s["stage0"], s["stage1"]))
        done = [self.stages[i] for i in sorted(ids)
                if i in self.stages and self.stages[i]["complete"]]
        out = {"stages": len(done)}
        for key in ("run_s", "cpu_s", "input_b", "shuffle_read_b",
                    "shuffle_write_b", "spill_b"):
            out[key] = sum(st[key] for st in done)
        return out


def public_functions(module) -> list[str]:
    """Public functions a module defines, registered query bodies excluded."""
    return [n for n, v in vars(module).items()
            if inspect.isfunction(v) and v.__module__ == module.__name__
            and not n.startswith("_") and not re.match(r"q\d+_", n)]


def patch_function(module_name: str, attr: str, wrapper_for) -> None:
    """Replace ``module.attr`` and every ``from module import attr`` binding
    of it across the package with ``wrapper_for(original)``."""
    orig = getattr(sys.modules[module_name], attr)
    wrapped = wrapper_for(orig)
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PKG or name.startswith(PKG + ".")):
            continue
        for key, value in list(vars(mod).items()):
            if value is orig:
                setattr(mod, key, wrapped)


class Probes:
    """The layer boundaries a traced run wraps. Span names are the metric
    prefixes used by ``worker.layer_metrics``."""

    FUNCTIONS = (
        (f"{PKG}.tables", ["load_table"], "tables.load"),
        (f"{PKG}.operators.profile", None, "operators.profile"),
        (f"{PKG}.operators.timeseries", None, "operators.timeseries"),
        (f"{PKG}.sources.readers", None, "sources.readers"),
        (f"{PKG}.ml.automl", ["automl"], "ml.automl"),
    )
    TASK_METHODS = ("ingest", "ingest_test", "preview", "pre_analyze",
                    "set_supervised_options", "histogram", "correlation",
                    "acf", "ts_lines", "train", "evaluate")

    @staticmethod
    def install(tracer: Tracer, server=None) -> None:
        import importlib

        for module_name, attrs, span in Probes.FUNCTIONS:
            mod = importlib.import_module(module_name)
            for attr in attrs or public_functions(mod):
                patch_function(module_name, attr,
                               lambda fn, s=span: tracer.wrap(fn, s))
        task_cls = importlib.import_module(f"{PKG}.catalog").Task
        for meth in Probes.TASK_METHODS:
            setattr(task_cls, meth,
                    tracer.wrap(getattr(task_cls, meth), f"catalog.{meth}"))
        if server is not None:
            for meth in list(server._GET.values()) + list(server._POST.values()):
                setattr(server, meth,
                        tracer.wrap(getattr(server, meth), f"api.{meth}"))
