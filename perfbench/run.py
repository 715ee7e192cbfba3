"""Benchmark launcher: one run of one workload.

    python3 perfbench/run.py --workload ops_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The launcher makes the workload's inputs from
the seed (under ``.perfbench_work/``, which it empties first), pins the box
(``SPARK_GRAFT_CPUS`` = usable cores, a driver heap that fits a small
machine, Spark local and temp directories inside the work directory), then
starts one fresh worker process and waits for it. It prints a summary line
with every metric's sample count and the error rate, then, as its last line,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
``end_to_end`` metrics of BENCHMARK.json, or with ``--trace 1`` its
``per_layer`` metrics). Exit code 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# survives across runs (WORK is emptied): the automl RMSE of each seed
STATE = os.path.join(ROOT, ".perfbench_state")
PKG_INIT = os.path.join(ROOT, "auto_ml_platform_with_timeseries_data_spark",
                        "__init__.py")
DRIVER_MEMORY = "3g"
# generated table scale (lineitem rows = 6M x SF)
TABLES_SF = 0.01
WORKER_TIMEOUT_S = 170


def make_inputs(workload: str, seed: int, dest: str) -> dict:
    sys.path.insert(0, HERE)
    import gen

    if workload == "ops_mix":
        return {"tables": gen.write_tables(os.path.join(dest, "tables"),
                                           seed, TABLES_SF)}
    train, test = gen.write_cmapss(dest, seed)
    if workload == "automl_task":
        with open(test) as fh:
            test_rows = sum(1 for _ in fh) - 1
        return {"train": train, "test": test, "test_rows": test_rows}
    return {"tabular": train, "ts": gen.write_grouped_ts(dest, seed)}


def box() -> dict:
    return {"cpus": len(os.sched_getaffinity(0)),
            "driver_memory": DRIVER_MEMORY,
            "machine": platform.machine(),
            "python": platform.python_version()}


def worker_env(cpus: int) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT,
        "PYTHONHASHSEED": "0",
        # JVM temp files and no /tmp/hsperfdata; warehouse inside WORK
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"
            f" --driver-java-options \"-Xms{DRIVER_MEMORY} -Xmn256m\""
            f" pyspark-shell"),
    })
    env.pop("OMP_NUM_THREADS", None)
    return env


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group (its JVM, Python
    workers) and wait until none of it remains."""
    pgid = proc.pid
    if _group_alive(pgid):
        os.killpg(pgid, signal.SIGKILL)
    proc.wait()
    deadline = time.time() + 10
    while _group_alive(pgid) and time.time() < deadline:
        time.sleep(0.05)


def run_worker(cfg: dict, cfg_path: str) -> bool:
    cfg["spawned_at"] = time.time()
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
        cwd=ROOT, env=worker_env(cfg["box"]["cpus"]), stdin=subprocess.DEVNULL,
        stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"worker exceeded {WORKER_TIMEOUT_S}s", file=sys.stderr)
        code = None
    finally:
        stop_group(proc)
    return code == 0


def load_metric_specs(trace: bool) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ops_mix", "automl_task", "profile_session"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.exists(PKG_INIT):
        print(f"package not found under {ROOT}", file=sys.stderr)
        return 2
    units = load_metric_specs(bool(args.trace))

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(STATE, exist_ok=True)
    inputs_dir = os.path.join(WORK, "inputs")
    cfg = {"workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": args.trace, "box": box(),
           "work": WORK, "inputs": make_inputs(args.workload, args.seed,
                                                inputs_dir),
           "result_path": os.path.join(WORK, "result.json"),
           "rmse_ledger": os.path.join(STATE, "automl_rmse.json"),
           "spans_path": os.path.join(
               WORK, f"spans-{args.workload}-{args.seed}.json")}
    if not run_worker(cfg, os.path.join(WORK, "config.json")):
        return 1
    with open(cfg["result_path"]) as fh:
        res = json.load(fh)

    missing = sorted(set(units) - set(res["metrics"]))
    if missing:
        print(f"metrics not produced: {missing}", file=sys.stderr)
        return 1
    for err in res["errors"]:
        print(f"FAILED {err}", file=sys.stderr)
    lat = res["latency_summary"]
    summary = {
        "workload": args.workload, "seed": args.seed, "box": cfg["box"],
        "error_rate": f"{res['failed']}/{res['attempted']}",
        "latency_samples": lat["n"], "kinds": lat["kinds"],
        "samples_per_kind": lat["min_per_kind"],
        "kinds_beyond_p90": lat["beyond_p90"],
        "p90_supported": lat["p90_supported"], "passes": res["passes"],
        "measured_s": res["elapsed_s"], "check_s": res["check_s"],
        "setup_samples": len(res["setups_s"]),
        "setup_first_s": res["setups_s"][0],
        "peak_rss_parts_mb": res["peak_rss_parts_mb"],
        "end_to_end": res["end_to_end"],
    }
    print("summary " + json.dumps(summary))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {name: {"value": res["metrics"][name], "unit": unit}
                    for name, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
