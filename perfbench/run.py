"""Benchmark entry point.

    python3 perfbench/run.py --workload dashboard_refresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints progress to stderr and, as the last
line of stdout, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The full record of the run, with its
environment, input digests, latency sample and spans, goes to
``.perfbench_work/artifacts/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import harness  # noqa: E402
from harness import log  # noqa: E402

# local[N]: at most this many cores, so hosts with more cores measure alike.
MAX_CORES = 4

END_TO_END = {
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_per_s": "1/s",
    "setup_s": "s",
}

# Input sizes; SMOKE is the self-test's tiny variant of each.
DASHBOARD_VOTERS = {"full": 50_000, "smoke": 1_000}
# events per batch file, batch files staged, of which warm-up batches
LIVE = {"full": (1_000, 16, 4), "smoke": (200, 4, 1)}
SMOKE_REGISTRY_QUERIES = ("text_tfidf",)


def make_workload(name: str, seed: int, smoke: bool):
    import workloads

    size = "smoke" if smoke else "full"
    if name == "dashboard_refresh":
        return workloads.DashboardRefresh(seed, DASHBOARD_VOTERS[size])
    if name == "live_votes":
        return workloads.LiveVotes(seed, *LIVE[size])
    if smoke:
        return workloads.RegistrySample(seed, queries=SMOKE_REGISTRY_QUERIES)
    return workloads.RegistrySample(seed)


def layer_metric_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    from realtime_voting_system_spark.plans.voting import VOTING_QUERIES
    from workloads import REGISTRY_SAMPLE

    units = {"catalog.load_s": "s", "voting.build_s": "s", "voting.exec_s": "s"}
    units.update({f"voting.{q}.exec_s": "s" for q in VOTING_QUERIES})
    units.update({f"spark.{k}": "count" for k in ("jobs", "stages", "tasks")})
    units.update({f"spark.{k}": "s" for k in ("task_run_s", "task_cpu_s", "gc_s")})
    units.update({"spark.shuffle_bytes": "bytes", "spark.spill_bytes": "bytes"})
    units["generator.stage_s"] = "s"
    units.update({f"stream.{k}": "s" for k in ("offsets_s", "planning_s", "add_batch_s", "log_commit_s")})
    units["state.commit_s"] = "s"
    units["stream.batches_per_op"] = "count"
    units["state.rows_total"] = "count"
    units["state.memory_bytes"] = "bytes"
    units["dedup.unique_ratio"] = "ratio"
    for q in REGISTRY_SAMPLE:
        units[f"parity.{q}.call_s"] = "s"
        units[f"parity.{q}.action_s"] = "s"
    units["parity.retries"] = "count"
    units["process.peak_rss_mb"] = "MB"
    units["host.steal_s"] = "s"
    return units


def configure_environment(work: str, cores: int, traced: bool) -> None:
    """Keep every file the run writes inside ``work`` (in the checkout) and
    pin the engine's core count. Must run before pyspark is imported."""
    for d in ("tmp", "local", "scratch", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEM": "2g",
            "PYSPARK_PYTHON": sys.executable,
            # Python workers import the package from the checkout too
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        }
    )
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if traced:
        conf.update(harness.EVENTLOG_CONF)
        conf["spark.eventLog.dir"] = os.path.join(work, "eventlog")
    args = [f"--driver-java-options=-Djava.io.tmpdir={tmp}"]
    args += [f"--conf={k}={v}" for k, v in conf.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def new_session():
    from realtime_voting_system_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
    }


def run(args, base: str, work: str) -> int:
    cores = min(MAX_CORES, harness.cpu_count())
    configure_environment(work, cores, bool(args.trace))
    host_before = harness.host_snapshot()

    wl = make_workload(args.workload, args.seed, args.smoke)
    wl.perturb = args.perturb
    tracer = harness.Tracer(enabled=bool(args.trace))
    problems: list[str] = []

    # --- set-up: session, inputs, warm-up
    spark = new_session()
    root = os.path.join(work, "input")
    os.makedirs(root)
    t0 = time.perf_counter()
    wl.stage(spark, root)
    stage_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    digest = wl.digest()
    digest_s = time.perf_counter() - t0
    env = {"nproc": harness.cpu_count(), "cores_used": cores, **versions(spark)}
    digest_key = f"{args.workload}|seed={args.seed}|N={cores}|{wl.size}"
    prior = harness.DigestBook(os.path.join(base, "digests.json")).check(digest_key, digest)
    if prior is not None:
        problems.append(f"input digest {digest} differs from an earlier run's {prior}")

    t0 = time.perf_counter()
    checking_s = wl.warm_up(spark, tracer)
    warm_up_s = time.perf_counter() - t0 - checking_s
    # from process start (interpreter, imports, JVM and session launch,
    # staging, warm-up), less the benchmark's own digest and result checks
    setup_s = harness.process_age_s() - digest_s - checking_s
    log(f"staging {stage_s:.2f} s; warm-up {warm_up_s:.2f} s; setup_s {setup_s:.2f} s")

    # --- timed phase: closed loop, one client
    latencies, intervals, failed = [], [], set()
    units = 0
    timed_start = time.perf_counter()
    i = 0
    while True:
        tracer.op = i
        if args.trace:
            spark.sparkContext.setJobGroup(f"{harness.OP_GROUP}{i}", "timed operation")
        w0, t0 = time.time(), time.perf_counter()
        try:
            units += wl.op(spark, tracer, i)
        except Exception:  # a failed operation is counted, and the loop goes on
            traceback.print_exc()
            failed.add(i)
        latencies.append(time.perf_counter() - t0)
        tracer.op = None
        if args.trace:
            spark.sparkContext.setJobGroup(harness.UNTIMED_GROUP, "untimed check")
        if not wl.after_op(spark, i):
            failed.add(i)
        intervals.append((w0, time.time()))
        i += 1
        if wl.stop(i, time.perf_counter() - timed_start >= args.seconds):
            break
    timed_s = time.perf_counter() - timed_start
    ops = list(range(i))

    # --- untimed checks
    for idx, msg in wl.verify(spark).items():
        problems.append(msg)
        if idx >= 0:
            failed.add(idx)
    jvm_pid = getattr(spark.sparkContext._gateway, "proc", None)
    peak_rss = harness.peak_rss_mb() + (harness.peak_rss_mb(jvm_pid.pid) if jvm_pid else 0.0)
    wl.close()
    harness.stop_jvm()
    host_after = harness.host_snapshot()

    lat = harness.latency_summary(latencies)
    e2e = {
        "latency_p50_s": lat["p50_s"],
        "latency_tail_s": lat["tail_s"],
        "throughput_per_s": units / (sum(latencies) + sum(wl.drain_s.values())),
        "setup_s": setup_s,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": wl.size,
        "env": env,
        "host_before": host_before,
        "host_after": host_after,
        "host_steal_s": host_after["steal_s"] - host_before["steal_s"],
        "input_digest": digest,
        "setup": {"setup_s": setup_s, "stage_s": stage_s, "digest_s": digest_s,
                  "warm_up_s": warm_up_s, "checking_s": checking_s},
        "latency": lat,
        "latencies_s": latencies,
        "timed_s": timed_s,
        "units": units,
        "attempted": len(ops),
        "failed": len(failed),
        "error_rate": len(failed) / len(ops),
        "problems": problems,
        "end_to_end": e2e,
        "stream_progress": wl.batches,
    }

    if args.trace:
        layers = {k: 0.0 for k in layer_metric_units()}
        layers.update(wl.layers(tracer, ops))
        records = harness.eventlog_records(os.path.join(work, "eventlog"))
        per_op = harness.per_op_totals(records, intervals)
        for k in harness.JOB_KEYS:
            layers[f"spark.{k}"] = statistics.median(p[k] for p in per_op)
        record["spark_per_op"] = per_op
        if wl.uses_generator:
            layers["generator.stage_s"] = stage_s
        layers["process.peak_rss_mb"] = peak_rss
        layers["host.steal_s"] = record["host_steal_s"]
        record["layers"] = layers
        record["spans"] = tracer.dump()
        record["tracing_overhead"] = tracing_overhead(base, args, e2e)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in layer_metric_units().items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    art_dir = os.path.join(base, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = os.path.join(art_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(art, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for p in problems:
        log(f"problem: {p}")
    log(f"artifact {art}")
    print(json.dumps({
        "correct": not problems and not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }), flush=True)
    return 0


def tracing_overhead(base: str, args, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end values, against the newest untraced
    artifact of the same workload and seed in this checkout."""
    art_dir = os.path.join(base, "artifacts")
    prefix = f"{args.workload}-seed{args.seed}-trace0-"
    names = sorted(n for n in os.listdir(art_dir) if n.startswith(prefix)) if os.path.isdir(art_dir) else []
    if not names:
        return None
    with open(os.path.join(art_dir, names[-1])) as f:
        plain = json.load(f)["end_to_end"]
    return {k: traced[k] - plain[k] for k in traced}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["dashboard_refresh", "live_votes", "registry_sample"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (self-test)")
    ap.add_argument("--perturb", action="store_true",
                    help="corrupt one result before it is checked (self-test)")
    args = ap.parse_args(argv)
    import realtime_voting_system_spark  # noqa: F401  (fails fast outside a checkout)

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    try:
        return run(args, base, work)
    finally:
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
