"""One benchmark run, in the fresh process ``run.py`` starts.

Usage (from run.py): python3 perfbench/worker.py <config.json>

Phases, in order:
1. Set-up, ``N_SETUPS`` times: session, registry import, the workload's
   server and warm-up. The first set-up runs from process start; before each
   later one the session is stopped and the package is dropped from
   ``sys.modules`` and imported again, on the same JVM.
2. One checked, untimed pass (correctness checks; warms every code path),
   then the workload's ``warm_passes`` untimed passes (JIT warm-up).
3. Timed passes, whole passes until ``seconds`` have elapsed.
4. Traced runs only: one more untraced pass (the overhead baseline), then
   the probes are installed and one more pass runs traced.
5. Off-the-clock checks of what the timed passes returned.

The result goes to the JSON file named in the config; spans, in a traced
run, next to it.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts"), HERE]

import stats  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

N_SETUPS = 3


def setup(cfg: dict, tracer: tracing.Tracer):
    """Session, registry, workload server and warm-up; returns
    (spark, workload, {phase: seconds})."""
    t = time.perf_counter()
    from auto_ml_platform_with_timeseries_data_spark import session

    spark = session.get_spark(app_name="perfbench")
    t_spark = time.perf_counter()
    from auto_ml_platform_with_timeseries_data_spark import registry

    registry.load_all()
    t_registry = time.perf_counter()
    wl = WORKLOADS[cfg["workload"]](spark, cfg, tracer)
    wl.start()
    return spark, wl, {"session.get_spark": t_spark - t,
                       "registry.load": t_registry - t_spark}


def teardown(spark, wl) -> None:
    wl.stop()
    spark.stop()
    for name in list(sys.modules):
        if (name == tracing.PKG or name.startswith(tracing.PKG + ".")
                or name in ("bench", "check_oracle")):
            del sys.modules[name]


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident set (VmHWM) of this process and of its JVM."""
    out = {}
    for part, pid in (("python", os.getpid()),
                      ("jvm", spark.sparkContext._gateway.proc.pid)):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    out[part] = int(line.split()[1]) / 1024.0
    return out


def end_to_end(ops, setups: list[float], rss: dict[str, float]) -> dict:
    s = stats.summarize_kinds([(o.name, o.latency_s) for o in ops
                               if o.error is None])
    return {
        "latency_p50_ms": s["p50"] * 1e3,
        "latency_p90_ms": s["p90"] * 1e3,
        "throughput_per_s": s["per_s"],
        "setup_s": statistics.median(setups),
        "peak_rss_mb": sum(rss.values()),
    }, s


def _layer(name: str) -> str:
    if name.startswith("api.") or name.startswith("catalog."):
        return name.split(".", 1)[0]
    return name


def layer_metrics(tracer: tracing.Tracer, phases: list[dict], cores: int,
                  baseline_ops, traced_ops) -> dict:
    """Per-layer metrics of the traced pass. A layer's time, calls and jobs
    count its outermost spans only (a layer function calling another of
    the same layer is not counted twice); jobs are inclusive of layers
    nested below."""
    spans = tracer.spans
    probe = tracer.spark
    by_id = {s["id"]: s for s in spans}

    def outer(prefix: str) -> list[dict]:
        out = []
        for s in spans:
            if not (s["name"] == prefix or s["name"].startswith(prefix + ".")):
                continue
            p = by_id.get(s["parent"])
            if p is None or _layer(p["name"]) != _layer(s["name"]):
                out.append(s)
        return out

    def dur(ss):
        return float(sum(s["end"] - s["start"] for s in ss))

    def jobs(ss):
        return sum(s["job1"] - s["job0"] for s in ss if "job0" in s)

    def mean_ms(ss):
        return dur(ss) / len(ss) * 1e3 if ss else 0.0

    m: dict[str, float] = {}
    for phase in ("session.get_spark", "registry.load"):
        m[f"{phase}_s"] = statistics.median(p[phase] for p in phases)

    loads = outer("tables.load")
    m["tables.load_calls"] = len(loads)
    m["tables.load_s"] = dur(loads)
    m["tables.load_jobs"] = jobs(loads)

    build, plan, execs = (outer("operators.build"), outer("operators.plan"),
                          outer("operators.exec"))
    m["operators.build_s"] = dur(build)
    m["operators.build_jobs"] = jobs(build)
    m["operators.py4j_calls"] = sum(s["py4j"] for s in build)
    m["operators.plan_s"] = dur(plan)
    m["operators.exec_s"] = dur(execs)
    m["operators.exec_jobs"] = jobs(execs)
    st = probe.stage_totals(build + plan + execs)
    m["operators.stages"] = st["stages"]
    m["operators.executor_cpu_s"] = float(st["cpu_s"])
    m["operators.input_mb"] = st["input_b"] / 1e6
    m["operators.shuffle_read_mb"] = st["shuffle_read_b"] / 1e6
    m["operators.shuffle_write_mb"] = st["shuffle_write_b"] / 1e6
    m["operators.spill_mb"] = st["spill_b"] / 1e6
    clients = [s for s in spans if s["name"] == "client"]
    m["operators.cache_left"] = sum(s.get("cache_left", 0) for s in clients)

    automl = outer("ml.automl")
    train_s = dur(automl)
    st = probe.stage_totals(automl)
    m["ml.automl.train_s"] = train_s
    m["ml.automl.jobs"] = jobs(automl)
    m["ml.automl.executor_cpu_s"] = float(st["cpu_s"])
    m["ml.automl.core_util"] = st["run_s"] / (train_s * cores) if train_s else 0.0

    m["catalog.ingest_s"] = dur(outer("catalog.ingest") + outer("catalog.ingest_test"))
    m["catalog.pre_analyze_s"] = dur(outer("catalog.pre_analyze"))
    m["catalog.evaluate_s"] = dur(outer("catalog.evaluate"))

    readers = outer("sources.readers")
    m["sources.readers.read_s"] = dur(readers)
    m["sources.readers.jobs"] = jobs(readers)
    m["operators.profile.build_ms"] = mean_ms(outer("operators.profile"))
    m["operators.timeseries.build_ms"] = mean_ms(outer("operators.timeseries"))

    # a request's overhead: client-side latency minus its handler's time
    handlers = [s for s in outer("api")
                if by_id.get(s["parent"], {}).get("name") == "http"]
    m["api.exec_jobs_per_req"] = jobs(handlers) / len(handlers) if handlers else 0.0
    over = [(by_id[h["parent"]]["end"] - by_id[h["parent"]]["start"])
            - (h["end"] - h["start"]) for h in handlers]
    m["api.overhead_ms"] = statistics.median(over) * 1e3 if over else 0.0

    self_t = stats.self_times(spans)
    layers = ("client", "http", "api", "catalog", "operators.build", "operators.plan",
              "operators.exec", "operators.profile", "operators.timeseries",
              "tables.load", "sources.readers", "ml.automl")
    for layer in layers:
        m[f"self.{layer}_s"] = float(sum(self_t[s["id"]] for s in spans
                                         if _layer(s["name"]) == layer))

    base = [o.latency_s for o in baseline_ops]
    traced = [o.latency_s for o in traced_ops]
    diff = statistics.mean(traced) - statistics.mean(base)
    m["trace.overhead_ms"] = diff * 1e3
    m["trace.overhead_pct"] = 100.0 * diff / statistics.mean(base)
    m["trace.spans"] = len(spans)
    return m


def main(config_path: str) -> int:
    with open(config_path) as fh:
        cfg = json.load(fh)
    tracer = tracing.Tracer()
    setups, phases = [], []
    spark = wl = None
    for i in range(N_SETUPS):
        if i:
            teardown(spark, wl)
        t0 = time.perf_counter()
        spark, wl, phase = setup(cfg, tracer)
        # the first set-up runs from process start (wall clock of run.py's
        # spawn); later ones from the start of their own re-import
        setups.append(time.time() - cfg["spawned_at"] if i == 0
                      else time.perf_counter() - t0)
        phases.append(phase)

    t_check = time.perf_counter()
    ops = wl.check_pass()
    check_s = time.perf_counter() - t_check
    for _ in range(wl.warm_passes):
        ops += wl.run_pass()
    timed = []
    passes = 0
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < cfg["seconds"]:
        timed += wl.run_pass()
        passes += 1
    elapsed = time.perf_counter() - t_start
    ops += timed

    result: dict = {"passes": passes, "elapsed_s": elapsed,
                    "setups_s": setups, "check_s": check_s}
    if cfg["trace"]:
        # the overhead baseline: one more untraced pass, as warm as the traced one
        baseline = wl.run_pass()
        ops += baseline
        tracing.Probes.install(tracer, getattr(wl, "server", None))
        tracer.spark = tracing.SparkProbe(spark, tracer)
        tracer.count_py4j(spark.sparkContext._gateway._gateway_client)
        tracer.enabled = True
        traced = wl.run_pass()
        tracer.enabled = False
        ops += traced
        result["metrics"] = layer_metrics(
            tracer, phases, spark.sparkContext.defaultParallelism,
            baseline, traced)
        tracer.dump(cfg["spans_path"])
    ops += wl.verify()
    rss = peak_rss_mb(spark)
    metrics, summary = end_to_end(timed, setups, rss)
    result["peak_rss_parts_mb"] = rss
    result.setdefault("metrics", metrics)
    result["end_to_end"] = metrics
    result["latency_summary"] = summary
    result["timed_ops"] = [(o.name, o.latency_s, o.error) for o in timed]
    failed = [o for o in ops if o.error is not None]
    result["attempted"] = len(ops)
    result["failed"] = len(failed)
    result["errors"] = [f"{o.name}: {o.error}" for o in failed[:10]]
    teardown(spark, wl)
    with open(cfg["result_path"], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1]))
