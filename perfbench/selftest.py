"""Self-test of the benchmark's oracle and event-log parser on micro-graphs.

    python3 perfbench/selftest.py

Run from the repository root; exits 0 when every check passes.

1. The vectorized oracle equals the reference loops of ``tests/oracle.py``
   on random micro-graphs with self-loops, duplicates and isolated pairs.
2. A traced micro Spark run: the parser finds the span's job group, its
   job count equals the status tracker's, and it sees the forced broadcast
   join, the shuffle, the task time and the parquet write.
3. The five kernels, called as the workloads call them, agree with the
   oracle on a micro R-MAT graph.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np

import oracle_np
import run as R
import tracing
import workloads as W


def check_oracle() -> None:
    sys.path.insert(0, R.ROOT)
    from tests import oracle as ref

    for seed in range(40):
        rng = np.random.default_rng(seed)
        n, m = int(rng.integers(2, 40)), int(rng.integers(1, 120))
        src = rng.integers(0, n, m) * 3 + 5  # sparse, non-zero-based ids
        dst = rng.integers(0, n, m) * 3 + 5
        pairs = list(zip(src.tolist(), dst.tolist()))
        ids, rank = oracle_np.pagerank(src, dst)
        exp = ref.pagerank(pairs)
        assert np.allclose(rank, [exp[i] for i in ids.tolist()], rtol=1e-12, atol=0), ("pagerank", seed)
        ids, comp, _ = oracle_np.connected_components(src, dst)
        exp = ref.connected_components(pairs)
        assert comp.tolist() == [exp[i] for i in ids.tolist()], ("cc", seed)
        ids, label = oracle_np.label_propagation(src, dst)
        exp = ref.label_propagation(pairs)
        assert label.tolist() == [exp[i] for i in ids.tolist()], ("lp", seed)
        want = ref.triangle_count(pairs)
        assert oracle_np.triangle_count(src, dst) == want, ("tc", seed)
        assert oracle_np.triangle_count(src, dst, chunk_wedges=7) == want, ("tc chunked", seed)
    print("selftest: oracle agrees with tests/oracle.py on 40 micro-graphs")


def check_spark(work: str) -> None:
    conf = R.pin_environment(work, 2)
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    conf |= {"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir, "spark.eventLog.compress": "false"}
    sys.path.insert(0, R.ROOT)
    from pyspark.sql import functions as F

    from llama_spark.session import get_spark
    from llama_spark.sources.pages import rmat_endpoints

    spark = get_spark(app_name="perfbench-selftest", cores=2, shuffle_partitions=2, extra_conf=conf)
    try:
        rec = tracing.Recorder(spark.sparkContext)
        rec.pass_no = 0
        with rec.span("probe"):
            big = spark.range(20_000).select((F.col("id") % 97).alias("k"), "id")
            small = spark.range(97).withColumnRenamed("id", "k")
            counts = big.join(F.broadcast(small), "k").groupBy("k").count()
            counts.write.parquet(os.path.join(work, "probe.parquet"))

        src, dst = W.dedup_pairs(*rmat_endpoints(np.arange(600, dtype=np.int64), 7, seed=3))
        edges = spark.createDataFrame([(int(s), int(d)) for s, d in zip(src, dst)], "src long, dst long")
        kernels = ("pagerank", "pagerank_csr", "cc", "lp", "tc")
        out = W.run_kernels(spark, rec, edges, kernels)
        outcome = W.Outcome()
        W.check_kernels(out, W.expected_kernels(src, dst, kernels), kernels, outcome)
        rec.collect_status()
    finally:
        R.stop(spark)

    logs = tracing.read_event_log(log_dir)
    span = rec.spans[0]
    g = logs[span.group]
    assert len(g.job_intervals) == span.status["jobs"] >= 2, (len(g.job_intervals), span.status)
    assert span.status["tasks"] > 0 and span.status["failed_tasks"] == 0, span.status
    assert g.broadcast_joins >= 1 and g.shuffled_hash_joins == 0, g
    assert g.shuffle_write_bytes > 0 and g.shuffle_read_bytes > 0, g
    assert g.executor_run_s > 0 and g.executor_cpu_s > 0, g
    assert 0 < g.write_s <= span.seconds and 0 < g.job_s() <= span.seconds, g
    counters = tracing.call_counters(rec, "probe", logs)
    assert counters["jobs"] == span.status["jobs"] and counters["s"] == span.seconds, counters
    assert outcome.attempted == len(kernels) and not outcome.failed, outcome.failed
    print(f"selftest: event log parsed ({len(logs)} job groups); {', '.join(kernels)} agree with the oracle")


def main() -> int:
    check_oracle()
    work = os.path.join(R.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    try:
        check_spark(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
