"""The benchmark's Spark driver process: one fresh process per run.

Started by `run.py`, which passes the wall-clock time just before the
process was spawned (`--t0`), so `setup_s` covers interpreter start,
imports, `get_spark` and `registry.load_all_modules` — everything before
the first operation can be issued.

An operation is one call into the program's public entry points: a
registry query (`registry.QUERIES[qid](spark, sf_dir)` then
`toPandas()`), or one `run_pipeline` load. Every operation is recorded
with its phase (`cold` and `warmup` before the measured window, `timed`
inside it); outputs are checked against DuckDB after the window closes,
so checking never overlaps measurement.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# The analytics_mix query set: read-only BI queries and LLM data-prep
# queries, all DuckDB-oracled at sf0.1, sized to the run budget (README.md,
# Sizing). q_sessionize_gap stays out while it mismatches its oracle at
# sf0.1 (README.md, Known defect).
BI_QUERIES = (
    "q_flagship_revenue_by_region",
    "q_tpch_q3_shipping_priority",
    "q_tpch_q5_local_supplier",
    "q_tpch_q18_large_customers",
    "q_window_rank",
    "q_keyset_pagination",
    "q_dq_referential",
)
LLM_QUERIES = (
    "q_dedup_fuzzy_minhash",
    "q_similarity_ivf",
    "q_multimodal_decode_png",
)
MIX_QUERIES = BI_QUERIES + LLM_QUERIES
# A round takes 6-12 s on the reference host, close to run_seconds; a
# floor of two keeps host speed from flipping a run between one and two
# rounds (the second round is warmer than the first).
MIN_TIMED_ROUNDS = 2
# etl_bulk's warm loads run from `nproc` closed-loop clients, like the
# analytics clients: a lone load leaves half the cores idle and its
# latency swings with the host's scheduling delays far more than a
# saturated session does. Each client makes ETL_WARMUP_LOADS untimed
# loads (the JIT is still warming over the first few), then timed loads
# until `seconds` have passed and it has made MIN_TIMED_LOADS.
ETL_WARMUP_LOADS = 1
MIN_TIMED_LOADS = 2
ETL_STAGES = ("songplays", "users", "songs", "artists", "time")


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 1]); 0.0 when empty."""
    if not xs:
        return 0.0
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Run:
    """One run's session, optional tracer and operation records."""

    def __init__(self, spark, tracer, seed: int, seconds: float, sf_dir: str) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.ops: list[dict] = []
        self._lock = threading.Lock()

    def op(self, name: str, phase: str, build, action=None) -> dict:
        """Run `build()` (the call into the program) and then
        `action(built)`; record both times, or the exception."""
        group = self.tracer.begin(name) if self.tracer else None
        start = time.time()
        t0 = time.perf_counter()
        rec = {"name": name, "phase": phase}
        try:
            built = build()
            t1 = time.perf_counter()
            rec["result"] = action(built) if action else built
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, action_s=t2 - t1, latency_s=t2 - t0)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
        rec["done"] = time.perf_counter()
        if self.tracer:
            rec["span"] = self.tracer.end(group, name, start, time.time())
        with self._lock:
            self.ops.append(rec)
        return rec

    def phase(self, phase: str) -> list[dict]:
        return [r for r in self.ops if r["phase"] == phase]


def _threads(target, n: int) -> None:
    from pyspark import InheritableThread

    threads = [InheritableThread(target=target, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


# ---------------------------------------------------------------------------
# Workloads. Each returns (cold_s, window_s): the wall time of the cold
# first pass and of the measured window.
# ---------------------------------------------------------------------------


def _query_op(run: Run, registry, qid: str, phase: str) -> dict:
    return run.op(
        qid,
        phase,
        lambda: registry.QUERIES[qid](run.spark, run.sf_dir),
        lambda df: df.toPandas(),
    )


def analytics_mix(run: Run, registry, ctx: dict) -> tuple[float, float]:
    """`nproc` closed-loop clients in one session, pulling from a shared
    queue of rounds; a round is every query once. Round 0 is the cold
    pass, in a fixed order. Timed rounds, each in a fresh seeded order,
    follow until `seconds` have passed and at least MIN_TIMED_ROUNDS
    have run, always finishing the round in progress, so every query
    runs equally often in the window and only order and interleaving
    change with the seed."""
    lock = threading.Lock()
    state = {"round": -1, "queue": [], "start": 0.0}

    def next_query(phase: str) -> str | None:
        with lock:
            if not state["queue"]:
                if phase == "cold":
                    done = state["round"] >= 0
                else:
                    done = (
                        state["round"] >= MIN_TIMED_ROUNDS
                        and time.perf_counter() - state["start"] >= run.seconds
                    )
                if done:
                    return None
                state["round"] += 1
                order = list(MIX_QUERIES)
                # the cold round's order is fixed, so cold_s does not
                # depend on the seed
                seed = f"{run.seed}:{state['round']}" if phase == "timed" else "cold"
                random.Random(seed).shuffle(order)
                state["queue"] = order
            return state["queue"].pop()

    def clients(phase: str) -> float:
        def client(_: int) -> None:
            while (qid := next_query(phase)) is not None:
                _query_op(run, registry, qid, phase)

        state["start"] = t0 = time.perf_counter()
        _threads(client, ctx["nproc"])
        return time.perf_counter() - t0

    cold_s = clients("cold")
    return cold_s, clients("timed")


def etl_bulk(run: Run, registry, ctx: dict) -> tuple[float, float]:
    """The Sparkify ETL. The first load in the process, alone, is the
    cold one. Then `nproc` clients each make ETL_WARMUP_LOADS untimed
    loads, and timed loads until `seconds` have passed and each has made
    MIN_TIMED_LOADS (whole loads). Every load writes its own warehouse."""
    from sparkifydb_datawarehouse_spark.pipelines.sparkify import run_pipeline

    lock = threading.Lock()
    n_loads = [0]

    def load(phase: str) -> dict:
        with lock:
            wh = os.path.join(ctx["work"], f"wh-{n_loads[0]}")
            n_loads[0] += 1
        timings: dict[str, float] = {}
        rec = run.op(
            "etl_load",
            phase,
            lambda: run_pipeline(
                run.spark,
                wh,
                timings=timings,
                log_dir=ctx["log_dir"],
                song_dir=ctx["song_dir"],
            ),
        )
        rec.update(timings=timings, warehouse=wh)
        return rec

    cold_s = load("cold").get("latency_s", 0.0)

    def warmup(_: int) -> None:
        for _ in range(ETL_WARMUP_LOADS):
            load("warmup")

    def timed(_: int) -> None:
        made = 0
        while made < MIN_TIMED_LOADS or time.perf_counter() - start < run.seconds:
            load("timed")
            made += 1

    _threads(warmup, ctx["nproc"])
    start = time.perf_counter()
    _threads(timed, ctx["nproc"])
    return cold_s, time.perf_counter() - start


WORKLOADS = {"etl_bulk": etl_bulk, "analytics_mix": analytics_mix}


# ---------------------------------------------------------------------------
# Output checks (after the window; untimed).
# ---------------------------------------------------------------------------


def check_queries(run: Run, query_oracles) -> None:
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
    from validate import compare

    expected: dict = {}
    for rec in run.ops:
        if "error" in rec:
            continue
        qid = rec["name"]
        if qid not in expected:
            expected[qid] = query_oracles.expected(qid)
        problems = compare(qid, rec.pop("result"), expected[qid])
        if problems:
            rec["error"] = "output mismatch: " + "; ".join(problems[:3])


def check_etl(run: Run, ctx: dict) -> None:
    import shutil

    import oracles

    want = oracles.etl_expected(ctx["log_dir"], ctx["song_dir"])
    for rec in run.ops:
        if "error" not in rec:
            got = {"counts": rec["result"], **oracles.etl_actual(rec["warehouse"])}
            bad = [k for k in want if got[k] != want[k]]
            if bad:
                rec["error"] = "output mismatch: " + ", ".join(
                    f"{k} {got[k]} vs {want[k]}" for k in bad
                )
        shutil.rmtree(rec["warehouse"], ignore_errors=True)


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def end_to_end(run: Run, setup_s: float, cold_s: float, window_s: float) -> dict:
    ok = [r for r in run.phase("timed") if "error" not in r]
    return {
        "setup_s": setup_s,
        "cold_s": cold_s,
        "ops_per_s": len(ok) / window_s if window_s > 0 else 0.0,
        "op_p50_s": median([r["latency_s"] for r in ok]),
    }


def per_layer(run: Run, setup: dict, e2e: dict, ctx: dict, times: dict) -> dict:
    timed = [r for r in run.phase("timed") if "error" not in r]
    window_s = times["window_s"]
    m = {
        "session.get_spark_s": setup["get_spark_s"],
        "registry.load_all_modules_s": setup["load_all_modules_s"],
        "warmup_s": times["warmup_s"],
        "driver.peak_rss_mb": times["peak_rss_mb"],
        "ops.p90_s": percentile([r["latency_s"] for r in timed], 0.9),
    }
    # sources / pipelines: the package's own per-stage timings (etl_bulk)
    stage = lambda key: median([r["timings"].get(key, 0.0) for r in timed if "timings" in r])  # noqa: E731
    staging_s = stage("copy_staging_events") + stage("copy_staging_songs")
    m["sources.staging_events_s"] = stage("copy_staging_events")
    m["sources.staging_songs_s"] = stage("copy_staging_songs")
    m["sources.json_mb_per_s"] = ctx.get("corpus_mb", 0.0) / staging_s if staging_s else 0.0
    for table in ETL_STAGES:
        m[f"pipelines.insert_{table}_s"] = stage(f"insert_{table}")
    m["pipelines.rows_written"] = median(
        [float(sum(r["result"].values())) for r in timed if isinstance(r.get("result"), dict)]
    )
    # operators (BI) and llm: time inside the registry function vs the action
    for layer, qids in (("operators", BI_QUERIES), ("llm", LLM_QUERIES)):
        mine = [r for r in timed if r["name"] in qids]
        m[f"{layer}.build_s"] = median([r["build_s"] for r in mine])
        m[f"{layer}.action_s"] = median([r["action_s"] for r in mine])
        prefix = "bi" if layer == "operators" else "llm"
        for qid in qids:
            m[f"{prefix}.{qid}.p50_s"] = median([r["latency_s"] for r in mine if r["name"] == qid])
    # Spark's status store: per-operation means over the timed window
    from status_trace import COUNTERS

    spans = [r["span"] for r in timed]
    for key in COUNTERS:
        m[f"spark.{key}"] = statistics.fmean([s[key] for s in spans]) if spans else 0.0
    busy = sum(s["executor_run_s"] for s in spans)
    m["spark.slot_busy_ratio"] = busy / (window_s * ctx["cores"]) if window_s else 0.0
    m["spark.cold_executor_cpu_s"] = sum(r["span"]["executor_cpu_s"] for r in run.phase("cold"))
    m["driver.self_s"] = median([s["driver_self_s"] for s in spans])
    m["trace.op_p50_s"] = e2e["op_p50_s"]
    m["trace.ops_per_s"] = e2e["ops_per_s"]
    m["trace.harvest_s"] = run.tracer.harvest_s / max(len(run.ops), 1)
    return m


def report(workload: str, e2e: dict, run: Run, ctx: dict, times: dict) -> dict:
    """The run under the user-facing names of the workload tables."""
    attempted = len(run.ops)
    failed = sum("error" in r for r in run.ops)
    lat = [r["latency_s"] for r in run.phase("timed") if "error" not in r]
    out = {
        "setup_s": (e2e["setup_s"], "s"),
        "peak_rss_mb": (times["peak_rss_mb"], "MB"),
        "error_ratio": (failed / attempted if attempted else 1.0, "ratio"),
    }
    if workload == "etl_bulk":
        out["etl_cold_s"] = (e2e["cold_s"], "s")
        out["etl_events_per_s"] = (ctx["n_events"] * e2e["ops_per_s"], "events/s")
        out["warm_loads"] = (len(lat), "count")
    else:
        out["queries_per_s"] = (e2e["ops_per_s"], "1/s")
        out["query_p50_s"] = (e2e["op_p50_s"], "s")
        out["query_p90_s"] = (percentile(lat, 0.9), "s")
        out["queries_timed"] = (len(lat), "count")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--ctx", required=True, help="JSON file with run inputs")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(args.ctx) as f:
        ctx = json.load(f)

    from sparkifydb_datawarehouse_spark import registry
    from sparkifydb_datawarehouse_spark.session import get_spark

    t_import = time.time()
    spark = get_spark(f"perfbench-{args.workload}")
    t_spark = time.time()
    registry.load_all_modules()
    t_ready = time.time()
    setup = {
        "setup_s": t_ready - args.t0,
        "get_spark_s": t_spark - t_import,
        "load_all_modules_s": t_ready - t_spark,
    }
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        ctx["cores"] = sc.defaultParallelism
        tracer = None
        if args.trace:
            from status_trace import Tracer

            tracer = Tracer(spark)
        import oracles  # after setup: its imports are the benchmark's, not setup_s

        run = Run(spark, tracer, args.seed, args.seconds, oracles.SF_DIR)
        query_oracles = oracles.QueryOracles(registry, ctx["oracle_cache"])
        if args.workload == "analytics_mix":
            query_oracles.ensure(MIX_QUERIES)  # untimed; a no-op once cached
        t_work = time.perf_counter()
        cold_s, window_s = WORKLOADS[args.workload](run, registry, ctx)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        times = {
            "window_s": window_s,
            "warmup_s": time.perf_counter() - t_work - window_s,
            "peak_rss_mb": vm_hwm_mb(jvm_pid) + vm_hwm_mb("self"),
        }
        env = {
            "master": sc.master,
            "spark.driver.memory": sc.getConf().get("spark.driver.memory", "<default>"),
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark_version": spark.version,
            "nproc": ctx["nproc"],
            "mem_total_kb": ctx["mem_total_kb"],
            "loadavg": os.getloadavg(),
        }
    finally:
        spark.stop()

    if args.workload == "etl_bulk":
        check_etl(run, ctx)
    else:
        check_queries(run, query_oracles)
    e2e = end_to_end(run, setup["setup_s"], cold_s, window_s)
    result = {
        "end_to_end": e2e,
        "per_layer": per_layer(run, setup, e2e, ctx, times) if tracer else {},
        "report": report(args.workload, e2e, run, ctx, times),
        "attempted": len(run.ops),
        "failed": sum("error" in r for r in run.ops),
        "errors": [f"{r['name']}: {r['error']}" for r in run.ops if "error" in r][:10],
        "env": env,
        "setup": setup,
        **times,
        "ops": [
            {k: r[k] for k in ("name", "phase", "latency_s", "build_s", "action_s", "error") if k in r}
            for r in run.ops
        ],
    }
    if tracer:
        result["spans_file"] = args.out + ".spans.json"
        with open(result["spans_file"], "w") as f:
            json.dump(tracer.spans, f)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
