#!/usr/bin/env python3
"""perfbench — the repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload etl_bulk --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md): `etl_bulk`, `analytics_mix`. With `--trace 0` the last line of standard output is one
JSON object holding every end-to-end metric named in BENCHMARK.json;
with `--trace 1`, every per-layer metric. Earlier lines give the same
run under the workload tables' own metric names, and the environment.

This process prepares inputs (untimed), starts a fresh Spark driver
process (`worker.py`), waits for it, and reports. Exit code 0 only when
every operation completed and every output check passed.
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
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from worker import WORKLOADS  # noqa: E402

ETL_K = 100  # 30k events in 32 files, 1.2k songs
RUN_LIMIT_S = 170.0  # one run's budget, preparation excluded


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1])


def prepare(workload: str, seed: int, work: str) -> dict:
    """Inputs for one run (untimed); for etl_bulk, the seeded corpus."""
    ctx = {
        "work": work,
        "oracle_cache": os.path.join(STATE, "oracle-cache"),
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": mem_total_kb(),
    }
    if workload == "etl_bulk":
        log_dir, song_dir, n_events = datagen.write_sparkify_corpus(
            os.path.join(work, "corpus"), ETL_K, seed
        )
        size = sum(
            os.path.getsize(os.path.join(d, f))
            for d in (log_dir, song_dir)
            for f in os.listdir(d)
        )
        ctx.update(log_dir=log_dir, song_dir=song_dir, n_events=n_events, corpus_mb=size / 1e6)
    return ctx


def worker_env(work: str, nproc: int) -> dict:
    env = dict(os.environ)
    # Python UDF workers are forked by the JVM and must import the
    # package too, wherever the benchmark is launched from.
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    env["SPARK_GRAFT_CPUS"] = str(nproc)
    # keep every file Spark, the JVMs (spark-submit's launcher and the
    # driver) and Python write inside the run dir
    for key, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        env[key] = os.path.join(work, sub)
        os.makedirs(env[key], exist_ok=True)
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    return env


def run_worker(args, ctx: dict) -> dict | None:
    work = ctx["work"]
    ctx_file = os.path.join(work, "ctx.json")
    out = os.path.join(work, "result.json")
    with open(ctx_file, "w") as f:
        json.dump(ctx, f)
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--ctx", ctx_file,
        "--out", out,
        "--t0", repr(time.time()),
    ]
    proc = subprocess.Popen(
        cmd, cwd=work, env=worker_env(work, ctx["nproc"]), stdout=sys.stderr, start_new_session=True
    )
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        return None
    finally:
        # the worker's whole session: the JVM and its Python workers
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: worker exited with code {code}", file=sys.stderr)
        return None
    with open(out) as f:
        result = json.load(f)
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    shutil.copy(
        out,
        os.path.join(STATE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
    )
    if args.trace and "spans_file" in result:
        os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
        shutil.copy(
            result["spans_file"],
            os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json"),
        )
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # turn SIGTERM into SystemExit so the `finally` blocks stop the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seconds < 1:
        return fail("--seconds must be at least 1")
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_file):
        return fail(f"{spec_file} not found")
    for needed in ("sparkifydb_datawarehouse_spark/__init__.py", "tools/validate.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            return fail(f"{needed} not found under {ROOT}: run from a full checkout")
    with open(spec_file) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run_worker(args, prepare(args.workload, args.seed, work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1

    metrics = result["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        return fail(f"worker did not report {missing}")
    for name, (value, unit) in result["report"].items():
        print(f"{args.workload} {name} = {value} {unit}")
    print(f"{args.workload} env = {json.dumps(result['env'], sort_keys=True)}")
    for err in result["errors"]:
        print(f"{args.workload} FAILED {err}")
    correct = result["failed"] == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted
                },
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
