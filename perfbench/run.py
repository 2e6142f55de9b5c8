"""Link-graph benchmark: one workload per run, checked against a NumPy oracle.

    python3 perfbench/run.py --workload {pages_etl,rmat_kernels} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. A run starts Spark, materializes the
workload's input (set-up, repeated), runs an untimed warm-up pass, then
timed passes until ``--seconds`` of them have been measured, checking every
pass against the oracle outside its timed region, and last the calls a
workload makes once for their per-layer counters only. The last line of
standard output is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer ones (Spark event log on). The line before it is a report with
sizes, host load and CPU steal, every span's wall, CPU and steal seconds,
and status-tracker counters. All files
a run writes live in ``.perfbench_work/`` under the root and are removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

import tracing
import workloads as W

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
DRIVER_MEM = "2g"
YOUNG_GEN = "512m"
END_TO_END = ("setup_s", "pipeline_cpu_s", "peak_rss_mb")
CALLS = ("extract", "edges", "pagerank", "pagerank_csr", "cc", "lp", "tc")
KERNELS = ("pagerank", "pagerank_csr", "cc", "lp", "tc")
ITERATIVE = ("pagerank", "pagerank_csr", "cc")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def pin_environment(work: str, cores: int) -> dict[str, str]:
    """Set the environment the numbers depend on and return the extra Spark
    conf. Must run before the JVM starts."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    # Python workers import llama_spark, so they need the root on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # below physical memory; get_spark's default is 16g
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = os.environ["SPARK_GRAFT_SHUFFLE"] = str(cores)
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed young generation, so the JVM's peak RSS follows the data
        # it retains rather than the collector's adaptive sizing
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseParallelGC -Xmn{YOUNG_GEN}",
        # the status tracker must keep every job of the run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def stop(spark) -> None:
    """Stop Spark and wait for its JVM, which takes its Python workers along."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def summarize(out: dict) -> dict:
    """The numbers of one timed pass; drops the pass's DataFrames."""
    fix = out.get("fixpoint", {})
    iters = {call: [m.seconds for r in fix.get(call, []) for m in r.metrics] for call in ITERATIVE}
    resume = out.get("resume_span")
    return {
        "pipeline_s": out.get("pipeline_s"),
        "pipeline_cpu_s": out.get("pipeline_cpu_s"),
        "iters": iters,
        "cc_rounds": fix["cc"][0].iterations if fix.get("cc") else 0,
        # the restarted leg of a resumed PageRank: its span and its iterations
        "resume": (resume, sum(m.seconds for m in fix["pagerank"][-1].metrics)) if resume else None,
        "resume_bit_mismatches": out.get("resume_bit_mismatches", 0),
    }


def run_figures(setup_s: float, passes: list[dict], n_edges: int, peak_rss_mb: float) -> dict:
    """The run's figures, medians over its timed passes. ``END_TO_END``
    names the gated ones; the wall-clock pipeline figures are reported per
    layer, because CPU time stolen by other guests of a shared host moved
    them by more than a quarter between runs of the same code."""
    # steady-state throughput: the median of every PageRank iteration of
    # the run, so a contention burst on the host moves it less than the
    # call's wall
    iter_s = median(t for p in passes for t in p["iters"]["pagerank"])
    return {
        "setup_s": (setup_s, "s"),
        "pipeline_s": (median(p["pipeline_s"] for p in passes), "s"),
        "pipeline_cpu_s": (median(p["pipeline_cpu_s"] for p in passes), "s"),
        "pagerank_edges_per_s_iter": (n_edges / iter_s if iter_s else 0.0, "1/s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def per_layer(rec, logs, passes: list[dict], tail: list[dict], session_s: float, figures: dict) -> dict:
    metrics = {"session.start_s": (session_s, "s"), "pipeline_s": figures["pipeline_s"]}
    for call in CALLS:
        for k, v in tracing.call_counters(rec, call, logs).items():
            if k.endswith("_joins") and call not in KERNELS:
                continue
            metrics[f"{call}.{k}"] = (v, tracing.UNITS.get(k, "count"))
    for call in ITERATIVE:
        runs = [p["iters"][call] for p in passes + tail if p["iters"][call]]
        metrics[f"{call}.iter_s_first"] = (median(r[0] for r in runs), "s")
        metrics[f"{call}.iter_s_p50"] = (median(median(r) for r in runs), "s")
    metrics["cc.rounds"] = (median(p["cc_rounds"] for p in passes if p["iters"]["cc"]), "count")

    def write_s(span) -> float:
        return logs.get(span.group, tracing.GroupLog()).write_s

    metrics["fixpoint.checkpoint_s"] = (
        median(sum(write_s(s) for s in rec.spans if s.pass_no == i and s.call == "pagerank") for i in range(len(passes))),
        "s",
    )
    resumed = [p["resume"] for p in passes if p["resume"]]
    metrics["fixpoint.resume_s"] = (median(span.seconds - it_s - write_s(span) for span, it_s in resumed), "s")
    metrics["fixpoint.resume_bit_mismatches"] = (median(p["resume_bit_mismatches"] for p in passes), "count")
    metrics["pagerank.edges_per_s_iter"] = figures["pagerank_edges_per_s_iter"]
    return metrics


def run(name: str, seed: int, seconds: float, trace: bool, work: str) -> tuple[dict, dict]:
    cores = len(os.sched_getaffinity(0))
    conf = pin_environment(work, cores)
    log_dir = os.path.join(work, "eventlog")
    if trace:
        os.makedirs(log_dir)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        }
    sys.path.insert(0, ROOT)
    from llama_spark.session import get_spark

    load_before, steal_before = loadavg(), tracing.host_cpu_s()[1]
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{name}", cores=cores, shuffle_partitions=cores, extra_conf=conf)
    session_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
        rec = tracing.Recorder(sc)
        wl = W.WORKLOADS[name](seed, work)
        outcome = W.Outcome()

        materialize_s = []
        for k in range(SETUP_REPEATS):
            dest = os.path.join(work, f"input{k}")
            os.makedirs(dest)
            t = time.perf_counter()
            wl.materialize(spark, dest)
            materialize_s.append(time.perf_counter() - t)
        setup_s = session_s + median(materialize_s)
        phases = {"setup": time.perf_counter() - t0}

        wl.warm_up(spark, rec)
        W.nudge_gc(spark)
        phases["warm_up"] = time.perf_counter() - t0

        passes: list[dict] = []
        measured = 0.0
        while not passes or measured < seconds:
            rec.pass_no = len(passes)
            t = time.perf_counter()
            out = wl.run_pass(spark, rec)
            measured += time.perf_counter() - t
            wl.check(out, outcome)
            passes.append(summarize(out))
            del out
            W.nudge_gc(spark)
        phases["passes"] = time.perf_counter() - t0
        tail: list[dict] = []
        if wl.tail_kernels:
            rec.pass_no = len(passes)
            out = wl.run_tail(spark, rec)
            wl.check_tail(out, outcome)
            tail.append(summarize(out))
            del out
            phases["tail"] = time.perf_counter() - t0
        peak_rss_mb = vm_hwm_mb(jvm_pid)
        rec.collect_status()
    finally:
        stop(spark)
    phases["stopped"] = time.perf_counter() - t0

    figures = run_figures(setup_s, passes, wl.n_edges, peak_rss_mb)
    if trace:
        metrics = per_layer(rec, tracing.read_event_log(log_dir), passes, tail, session_s, figures)
    else:
        metrics = {k: figures[k] for k in END_TO_END}
    result = {
        "correct": not outcome.failed,
        "attempted": outcome.attempted,
        "failed": len(outcome.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    report = {
        "workload": name,
        "seed": seed,
        "cores": cores,
        "sizes": wl.sizes(),
        "passes": len(passes),
        "loadavg_before": load_before,
        "loadavg_after": loadavg(),
        "cpu_steal_s": tracing.host_cpu_s()[1] - steal_before,
        "session_start_s": session_s,
        "materialize_s": materialize_s,
        "phases_end_s": phases,
        "pipeline_s": [p["pipeline_s"] for p in passes],
        "pagerank_iter_s": [median(p["iters"]["pagerank"]) for p in passes],
        "spans": [(s.call, s.pass_no, round(s.seconds, 3), round(s.cpu_s, 2), round(s.steal_s, 2)) for s in rec.spans],
        "status_counters": {call: tracing.call_counters(rec, call) for call in CALLS},
        "failed_checks": outcome.failed,
    }
    return result, report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "llama_spark", "session.py")):
        print(f"perfbench: no llama_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    # on SIGTERM unwind normally, so Spark is stopped and the files removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, report = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
