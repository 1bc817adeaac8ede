"""Benchmark for the signs ETL and the iterative query catalog.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It makes the seed's inputs and expected
outputs (cached under .perfbench_work/), starts the loopback sink (signs_etl
only), runs one Spark process (worker.py) that sets up, warms up once and
runs closed-loop passes for --seconds, checks the outputs, and prints one
detail line and then the result line, both JSON. With --trace 0 the result
carries the end-to-end metrics; with --trace 1 the per-layer metrics of a
traced pass. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("signs_etl", "catalog_iterative")
DEADLINE_S = 170  # the whole run, generation and oracle included, ends within this


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of a child's process group and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    for _ in range(100):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def _start_sink(run_dir: str, spool: str) -> tuple[subprocess.Popen, str]:
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "sink_server.py"), "--spool", spool],
        stdout=subprocess.PIPE,
        text=True,
        cwd=run_dir,
        start_new_session=True,
    )
    line = proc.stdout.readline().split()
    if len(line) != 2 or line[0] != "port":
        _stop_group(proc)
        raise RuntimeError("sink server did not start")
    return proc, f"http://127.0.0.1:{line[1]}"


def _stop_sink(proc: subprocess.Popen, url: str) -> None:
    import urllib.request

    try:
        urllib.request.urlopen(urllib.request.Request(url + "/shutdown", method="POST"), timeout=5)
        proc.wait(timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        pass
    _stop_group(proc)


def _worker_env(run_dir: str, cpus: int, trace: int) -> dict:
    """Keep every file Spark, the JVM and the Python workers write inside
    the run directory; cap the driver heap so the run stays small."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = [
        "--driver-java-options", f'"{java_opts}"',
        "--conf", f"spark.local.dir={tmp}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
    ]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update(
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        SPARK_LAUNCHER_OPTS=java_opts,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM="2g",
        PYTHONPATH=os.pathsep.join([ROOT, HERE, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        PYTHONHASHSEED="0",
    )
    return env


def metrics(res: dict, trace: int) -> dict:
    """The result's metrics, named and ordered as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if trace else "end_to_end"]
    if trace:
        values = res["per_layer"]
    else:
        values = {
            "setup_s": res["setup_s"],
            "wall_s": res["wall_s"],
            "items_per_s": res["items"] / res["measured_wall_s"],
            "ok_share": 1 - res["failed"] / res["attempted"],
            "live_heap_mb": res["live_heap_mb"],
        }
    if set(values) != {m["name"] for m in declared}:
        raise RuntimeError(f"metrics {sorted(values)} do not match BENCHMARK.json")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "etl_cotrip_signs_spark", "registry.py")):
        return _fail(f"engine package etl_cotrip_signs_spark not found under {ROOT}")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import inputs

    work = os.path.join(ROOT, ".perfbench_work")
    inputs_dir = inputs.prepare(work, args.workload, args.seed)
    run_dir = os.path.join(work, "runs", f"{args.workload}-{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpus = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cpus = len(os.sched_getaffinity(0))

    # a SIGTERM from whoever runs the benchmark unwinds through the finally
    # below, so the sink and the Spark process never outlive this process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--inputs", inputs_dir,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", run_dir, "--out", out, "--cpus", str(cpus),
    ]
    sink = worker = spool = None
    try:
        if args.workload == "signs_etl":
            spool = os.path.join(run_dir, "spool.jsonl")
            sink, url = _start_sink(run_dir, spool)
            cmd += ["--sink-url", url, "--spool", spool]
        with open(log_path, "w") as log:
            worker = subprocess.Popen(
                cmd, cwd=run_dir, env=_worker_env(run_dir, cpus, args.trace),
                stdout=subprocess.DEVNULL, stderr=log, start_new_session=True,
            )
            code = worker.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - t_start)))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if worker:
            _stop_group(worker)
        if sink:
            _stop_sink(sink, url)
    if code != 0:
        with open(log_path) as fh:
            tail = fh.read()[-2000:]
        return _fail(f"Spark process {'timed out' if code is None else f'exited {code}'}:\n{tail}")

    with open(out) as fh:
        res = json.load(fh)
    if spool and res["failed"] == 0:
        os.remove(spool)  # about 10 MB a pass; kept only when a check failed
    detail = {
        "detail": {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": cpus,
            "passes": len(res["pass_walls"]),
            "window_s": round(res["timed_wall_s"], 3),
            "pass_walls_s": [round(w, 4) for w in res["pass_walls"]],
            "query_medians_s": {q: round(w, 4) for q, w in res.get("query_medians", {}).items()},
            "host_kernel_ms_before_after": [round(x, 2) for x in res["host_kernel_ms"]],
            "failures": res["failures"],
        }
    }
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics(res, args.trace),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
