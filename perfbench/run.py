"""Benchmark of the spark-graft engine: hourly mart loads and a cold
LLM-corpus pass.

Usage (from the repository root):

    python3 perfbench/run.py --workload mart_hourly --seed 1 --seconds 6 --trace 0

Each run generates its input once (cached under ``.perfbench_work/``),
starts the workload in a fresh Spark process on ``local[<cores>]``,
checks its outputs against DuckDB, and prints every metric with its unit.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the workload twice, untraced
and then with Spark's event log on, and reports the per-layer metrics.
See ``perfbench/README.md`` for the definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.spec import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
# JVM launches timed per untraced run, the workload's own included. One
# launch takes 5-11 s on 4 cores; a third would push a comparison of two
# commits (ten runs per workload and side) past an hour when the machine
# is slow.
SETUP_SAMPLES = 2
# every worker of one run must end within this many seconds of the run's
# start (data generation excluded)
RUN_BUDGET_S = 165


def repo_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in (
        "yougile_etl_pipeline_spark/session.py",
        "yougile_etl_pipeline_spark/registry.py",
        "tests/oracle_compare.py",
    ))


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap(proc: subprocess.Popen) -> None:
    """Kill whatever the worker left in its process group (a JVM, Python
    daemons) and wait until all of it has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 20
    while _group_alive(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.05)


def run_worker(workload: str, seed: int, seconds: float, trace: bool,
               sf_dir: str, run_dir: str, deadline: float,
               setup_samples: int = 1) -> dict:
    """Run ``perfbench.worker`` in a fresh process and return its result.
    The worker is killed at ``deadline`` (``time.monotonic()``)."""
    os.makedirs(run_dir, exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
    })
    env.pop("OMP_NUM_THREADS", None)
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(int(trace)), "--sf-dir", sf_dir,
           "--work-dir", run_dir, "--out", out,
           "--setup-samples", str(setup_samples)]
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            _reap(proc)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        raise RuntimeError(
            f"worker for {workload} failed (exit {proc.returncode}):\n{tail}")
    with open(out) as f:
        return json.load(f)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def untraced(workload: str, seed: int, seconds: float, sf_dir: str,
             deadline: float) -> dict:
    res = run_worker(workload, seed, seconds, False, sf_dir,
                     os.path.join(WORK, "run", "main"), deadline,
                     setup_samples=SETUP_SAMPLES)
    setups = res["setup_samples"]
    values = {
        "setup_s": statistics.median(cpu for _, cpu in setups),
        "job_cpu_s": res["job_cpu_s"],
        "op_cpu_s": res["op_cpu_s"],
    }
    print("# set-up samples (wall/cpu s): " + ", ".join(
        f"{wall:.3f}/{cpu:.3f}" for wall, cpu in setups))
    print(f"# wall: job_wall_s {res['job_wall_s']:.3f} s, op_geomean_s "
          f"{res['op_geomean_s']:.3f} s over {res['ops_steady']} steady "
          "operations")
    print("# operations (wall/cpu s): " + ", ".join(
        f"{name} {wall:.3f}/{cpu:.3f}" for name, wall, cpu in res["ops_s"]))
    return {"res": res,
            "metrics": {k: _metric(values[k], u)
                        for k, u in END_TO_END.items()}}


def traced(workload: str, seed: int, seconds: float, sf_dir: str,
           deadline: float) -> dict:
    base = run_worker(workload, seed, seconds, False, sf_dir,
                      os.path.join(WORK, "run", "untraced"), deadline)
    run_dir = os.path.join(WORK, "run", "traced")
    res = run_worker(workload, seed, seconds, True, sf_dir, run_dir, deadline)
    layers = dict(res["layers"])
    layers["trace.overhead_s"] = res["job_wall_s"] - base["job_wall_s"]
    layers["job_wall_s"] = base["job_wall_s"]
    layers["op_geomean_s"] = base["op_geomean_s"]
    layers["memory.peak_rss_mb"] = base["peak_rss_mb"]
    keep = os.path.join(WORK, "last_trace", workload)
    os.makedirs(keep, exist_ok=True)
    with open(os.path.join(keep, "trace.json"), "w") as f:
        json.dump({"seed": seed, "ops": res["ops"], "spans": res["spans"],
                   "layers": layers}, f)
    print(f"# reconcile: sum(build+plan+action+sink+readback) over the cold "
          f"pass = {layers['trace.layer_sum_s']:.3f} s, traced job_wall_s = "
          f"{res['job_wall_s']:.3f} s, untraced job_wall_s = "
          f"{base['job_wall_s']:.3f} s")
    print(f"# spans and per-operation phases: {keep}/trace.json")
    res["attempted"] += base["attempted"]
    res["failed"] += base["failed"]
    res["errors"] = base["errors"] + res["errors"]
    return {"res": res,
            "metrics": {k: _metric(layers[k], u)
                        for k, u in PER_LAYER.items()}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not repo_present():
        print("perfbench: the engine package and tests/oracle_compare.py "
              f"are not under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    # every workload's input, so that only a checkout's first run pays
    sf_dirs = {sf: datagen.ensure_data(os.path.join(WORK, "data"), sf)
               for sf, _ in WORKLOADS.values()}
    sf_dir = sf_dirs[WORKLOADS[args.workload][0]]
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    try:
        run = (traced if args.trace else untraced)(
            args.workload, args.seed, args.seconds, sf_dir,
            time.monotonic() + RUN_BUDGET_S)
    finally:
        shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    res = run["res"]
    for name, m in run["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} failed_frac = "
          f"{res['failed'] / max(res['attempted'], 1):.6g} ratio "
          f"({res['failed']} of {res['attempted']} operations)")
    for err in res["errors"]:
        print(f"# error: {err}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": run["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
