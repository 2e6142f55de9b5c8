"""Generic iterative fixpoint driver with lineage truncation and
checkpoint/resume.

This is the Spark analog of LLAMA's level-synchronized traversal loop
(ll_bfs_template.h:170-292) and the streaming batch loop
(benchmark.cc:1786-1893): the state is a DataFrame keyed by node id, each
iteration is one declarative plan (join + groupBy shuffle), and the driver
loop is the only sequential point.

Scale notes (the two things that kill naive iterative Spark jobs):
- **lineage blowup** — every iteration's plan references the previous one;
  after ~20 iterations analysis time dominates. We truncate with
  ``localCheckpoint(eager=True)`` each iteration and a durable parquet
  checkpoint every ``checkpoint_every`` iterations.
- **resume** — the durable checkpoint is a parquet snapshot of the state
  plus a JSON manifest carrying lineage (iteration number, parent pointer)
  and per-iteration / per-partition metrics, so an interrupted run resumes
  bit-identically (north-rule resumability; LLAMA analog: snapshot levels,
  ll_mlcsr_sp.h:624-713).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

MANIFEST = "manifest.json"

# see iterate(): unique observation names across driver threads
# (itertools.count.__next__ is atomic under the GIL)
from itertools import count as _obs_count

_OBS_SEQ = _obs_count()

# Join-side policy for per-round state, LLAMA's adaptive small-frontier
# mode (ll_bfs_template.h:170-292): broadcast the state while it is tiny so
# the cached edge table streams with no exchange. Past about 100k rows the
# driver-serial broadcast build dominates (measured on betweenness: a
# 550k-row broadcast state took 25.8 s for 3 iterations, shuffled-hash
# 11.9 s), so the state side gets a shuffled-hash join instead: the cached
# edge table streams unsorted (sort-merge would re-sort every edge each
# round) and only the state side shuffles. Operators go through
# ``tiny_state`` / ``state_side``, which read this at call time.
TINY_STATE_ROWS = 100_000


def tiny_state(rows: int) -> bool:
    """True while a state of ``rows`` rows takes the broadcast side."""
    return rows <= TINY_STATE_ROWS


def state_side(df: DataFrame, rows: int) -> DataFrame:
    """``df`` hinted for its join: broadcast when ``rows`` is tiny, else
    shuffled-hash."""
    return F.broadcast(df) if tiny_state(rows) else df.hint("shuffle_hash")


@dataclass
class IterationMetrics:
    iteration: int
    seconds: float
    rows: int | None  # None on a truncation iteration without a checkpoint
    updated: int | None = None  # convergence delta, if the kernel tracks one
    checkpoint_path: str | None = None
    partition_rows: list[int] | None = None  # per-partition state sizes


@dataclass
class FixpointResult:
    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[IterationMetrics] = field(default_factory=list)
    # node count the kernel already materialized (e.g. pagerank's 1/N) —
    # callers that need |V| read it here instead of paying a count() job
    n_nodes: int | None = None


def _write_manifest(checkpoint_dir: str, entries: list[dict]) -> None:
    tmp = os.path.join(checkpoint_dir, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump({"version": 1, "iterations": entries}, f, indent=1)
    os.replace(tmp, os.path.join(checkpoint_dir, MANIFEST))


def read_manifest(checkpoint_dir: str) -> list[dict]:
    path = os.path.join(checkpoint_dir, MANIFEST)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)["iterations"]


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iter: int,
    updated_count: Callable[[DataFrame, DataFrame], int] | None = None,
    updated_metric=None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    truncate_every: int = 4,
    resume: bool = False,
    name: str = "fixpoint",
) -> FixpointResult:
    """Run ``state ← step(state, i)`` until convergence or ``max_iter``.

    Convergence probes (0 changed rows stops the loop), in preference order:

    ``updated_metric`` — an aggregate *Column* over the new state (e.g.
    ``F.sum(F.col("changed").cast("long"))``), evaluated via
    ``DataFrame.observe`` **inside the eager-checkpoint job** — the probe
    is free: one Spark job per iteration total. This matters at sandbox /
    small-input sizes where per-job overhead (scheduling + barriers +
    driver round-trip) is a measurable per-iteration floor; a separate
    count() job doubles it.

    ``updated_count(prev, new)`` — arbitrary-Python probe (extra job per
    iteration); for probes that need prev AND new, e.g. an L1-delta.

    When both are None the loop always runs exactly ``max_iter`` iterations
    (LLAMA's fixed-iteration PageRank mode, pagerank.h:117:
    ``while (cnt < max)``).

    ``truncate_every`` — lineage-truncation cadence. ``localCheckpoint`` in
    this Spark build drops the materialized frame's output partitioning
    (measured: a join on the checkpointed side re-inserts an
    ENSURE_REQUIREMENTS exchange), so checkpointing EVERY iteration costs
    one avoidable V-row shuffle + stage barrier per iteration. Instead the
    state is persisted (InMemoryTableScan preserves partitioning, so the
    next iteration's id-keyed join needs no exchange) and materialized by
    the probe/count job; only every ``truncate_every``-th iteration pays a
    ``localCheckpoint`` to keep the logical plan flat. Either way it is ONE
    Spark job per iteration.
    """
    spark = state.sparkSession
    entries: list[dict] = []
    start_iter = 0

    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)
        if resume:
            entries = read_manifest(checkpoint_dir)
            done = [e for e in entries if e.get("checkpoint_path")]
            if done:
                last = done[-1]
                state = spark.read.parquet(last["checkpoint_path"])
                start_iter = last["iteration"] + 1
                entries = [e for e in entries if e["iteration"] < start_iter]

    # The state snapshot lives in the localCheckpoint blocks (MEMORY_AND_DISK)
    # — no extra persist layer, or every iteration double-stores the state
    # and the stale blocks pile up faster than the ContextCleaner drops them.
    state = state.localCheckpoint(eager=True)
    metrics: list[IterationMetrics] = []
    converged = False
    it = start_iter - 1

    for it in range(start_iter, max_iter):
        t0 = time.time()
        new_state = step(state, it)
        # Materialize this iteration's plan now — ONE job: either the eager
        # localCheckpoint (truncation iterations) or a count() that builds
        # the persisted cache. The convergence probe rides that same job
        # via observe; a persist iteration's count() is its row count.
        obs = None
        if updated_metric is not None:
            from pyspark.sql import Observation

            # process-unique suffix: two instances of the same kernel may
            # run concurrently from driver threads (plans/overlap.py) and
            # must not collide on observation names
            obs = Observation(f"{name}_it{it}_{next(_OBS_SEQ)}")
            new_state = new_state.observe(obs, updated_metric.alias("updated"))
        if (it - start_iter) % truncate_every == truncate_every - 1:
            new_state = new_state.localCheckpoint(eager=True)
            state_is_persisted = False
            rows = None
        else:
            new_state = new_state.persist(StorageLevel.MEMORY_AND_DISK)
            rows = new_state.count()
            state_is_persisted = True

        updated = None
        if obs is not None:
            # metrics fired during the materialization job — no extra job
            updated = int(obs.get["updated"] or 0)
        elif updated_count is not None:
            updated = updated_count(state, new_state)

        m = IterationMetrics(iteration=it, seconds=time.time() - t0, rows=rows, updated=updated)

        if checkpoint_dir and (it % checkpoint_every == checkpoint_every - 1 or it == max_iter - 1):
            if m.rows is None:
                m.rows = new_state.count()
            path = os.path.join(checkpoint_dir, f"iter_{it:05d}")
            new_state.write.mode("overwrite").parquet(path)
            # durable state replaces the in-memory one (also frees executor mem)
            new_state.unpersist()
            new_state = spark.read.parquet(path)
            state_is_persisted = False
            m.checkpoint_path = path
            m.partition_rows = [
                r["count"]
                for r in new_state.groupBy(F.spark_partition_id().alias("pid"))
                .count()
                .orderBy("pid")
                .collect()
            ]

        state.unpersist()  # drop the previous iteration's blocks
        state = new_state
        metrics.append(m)
        entries.append({k: v for k, v in asdict(m).items() if v is not None} | {"name": name})
        if checkpoint_dir:
            _write_manifest(checkpoint_dir, entries)

        if updated is not None and updated == 0:
            converged = True
            break

    # Hand back a checkpointed frame, never a live CacheManager entry: a
    # persisted final state would outlive the call (callers can't know to
    # unpersist it) — one extra copy job at the END of the loop, not per
    # iteration.
    if metrics and state_is_persisted:
        final = state.localCheckpoint(eager=True)
        state.unpersist()
        state = final

    return FixpointResult(
        state=state, iterations=it + 1, converged=converged, metrics=metrics
    )
