"""Checkpointed, resumable iterative supersteps — the engine's iteration spine.

Generalizes the reference's A-direction peeling loop (frontier rounds of
degree updates, edge_directing/A-direction.cpp:84-146; SURVEY.md G2) into a
reusable `iterate()` that PageRank / connected components / label
propagation / k-core all share.

Scale/correctness posture:
- every superstep's state is persisted (parquet dir per iteration — the
  sandbox stand-in for an Iceberg snapshot; the write is atomic via Spark's
  _SUCCESS marker) so any run is resumable mid-iteration,
- a `lineage` metrics file records per-iteration row counts, per-partition
  row distribution (spark_partition_id), wall time, and the convergence
  delta — the "per-partition lineage + metrics" of the north rule,
- lineage is cut every round (checkpoint read-back, else a LineageCutter
  cut; unmetered fixed-round loops only every `checkpoint_every` rounds) so
  plans don't grow with the iteration count — the classic Spark failure.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import warnings
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import snapshots

# Broadcast-state fast path cap for iterative vertex programs (labelprop,
# components): when the graph is small enough that the per-round vertex
# state comfortably broadcasts (|V| <= 2|E|, ~16-24 B/row), the loop
# relation is partitioned by dst and the state shipped as an explicit
# broadcast — every per-round aggregate then runs exchange-free. Above the
# cap the classic plan (relation partitioned by src, state shuffled to the
# join) is used unchanged. The default 64 MiB mirrors the session's
# autoBroadcastJoinThreshold; override with
# SPARK_GRAFT_STATE_BROADCAST_MAX_MB (0 disables the fast path). Only safe
# for ORDER-INSENSITIVE (integer min/count) per-round aggregates — float
# sums would reassociate.
STATE_BROADCAST_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_STATE_BROADCAST_MAX_MB", "64")
) << 20


def broadcast_state_ok(n_edges: int | None) -> bool:
    return n_edges is not None and 32 * n_edges <= STATE_BROADCAST_MAX_BYTES


@dataclass
class IterationMetrics:
    iteration: int
    # None unless a checkpoint dir asked for durable lineage (not measured)
    rows: int | None
    n_partitions: int | None
    partition_rows: dict[str, int] | None
    wall_s: float
    delta: float | None


@dataclass
class SuperstepRun:
    state: DataFrame
    iterations: int
    converged: bool
    metrics: list[IterationMetrics] = field(default_factory=list)
    # True when `state` is already lineage-cut AND materialized (an eager
    # localCheckpoint or a parquet snapshot produced it) — finalize() can
    # then skip its re-anchoring checkpoint, saving one job per run.
    state_is_cut: bool = False


def finalize(run: SuperstepRun, *helpers: DataFrame) -> SuperstepRun:
    """Pin `run.state` independent of loop-helper relations, then release
    the helpers' caches.

    Iterative operators cache per-loop relations (edge+degree tables etc.)
    that the returned state may still reference lazily (rounds after the
    last lineage cut). Without this, every call leaks one cached helper
    set for the session's lifetime — a repeated-pass caller (bench
    protocol, notebook) accumulates them. The eager localCheckpoint
    materializes the (vertex-sized, small) state once so the unpersist
    cannot force a recompute from cold sources later. When the loop
    already left the state cut+materialized (`state_is_cut`, the common
    case: the last round of every mode ends in an eager localCheckpoint or
    a snapshot read-back), that checkpoint would be a redundant extra job
    per run and is skipped (r7)."""
    state = run.state if run.state_is_cut else run.state.localCheckpoint(eager=True)
    for h in helpers:
        h.unpersist()
    return SuperstepRun(
        state=state,
        iterations=run.iterations,
        converged=run.converged,
        metrics=run.metrics,
        state_is_cut=True,
    )


def _partition_histogram(df: DataFrame) -> dict[str, int]:
    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return {str(r["pid"]): r["n"] for r in rows}


def latest_checkpoint(checkpoint_dir: str) -> int | None:
    """Highest completed iteration in a checkpoint dir, or None.

    Thin wrapper over the table-format seam (sources/snapshots) kept for
    API stability — resuming drivers call this before building a session
    state."""
    if not checkpoint_dir:
        return None
    return snapshots.ParquetIterationLog(None, checkpoint_dir).latest()


# Every CUT_CHAIN_BOUND-th LineageCutter cut in a row is a parquet hard cut,
# so at most CUT_CHAIN_BOUND - 1 localCheckpoints chain. Longer chains
# degrade GEOMETRICALLY on Spark 4.1 (BENCH.md §6a: a 100k-edge k-core loop
# ran flat 0.65-1.7 s rounds for 19 chained cuts, then each round took ~2.5x
# the last, 3.1 s to 39 s in four rounds; parquet cuts stay flat for 100+
# rounds). Without a `root` hard cuts land in a process-local tempdir — on a
# multi-node cluster give long `iterate` loops a `checkpoint_dir` on shared
# storage so every executor and a resuming driver can read the cut back.
CUT_CHAIN_BOUND = 8


class LineageCutter:
    """The engine's one lineage-cut implementation: localCheckpoint chains
    broken by a parquet hard cut every CUT_CHAIN_BOUND cuts.

    Hard-cut slots live in `root` when given (created on the first hard
    cut, removed by `close()` — the cutter owns it), else in a fresh
    tempdir. Slots get UNIQUE names and live until `close()`, so callers
    may hold lazy references to any cut state (e.g. the truss cascade's
    per-round dropped frames); a loop that holds none (`iterate`) calls
    `drop_stale_slots()` to keep scratch at two states. `close(final_df)`
    re-anchors the final result in block storage before removing the
    scratch dir, so the returned DataFrame outlives the cleanup."""

    def __init__(self, spark: SparkSession, root: str | None = None):
        self.spark = spark
        self.root = root
        self.chain = 0  # consecutive localCheckpoint cuts since a hard cut
        self.n_cuts = 0
        self.scratch: str | None = None
        self.slots: list[str] = []

    def cut(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """`eager=False` leaves a localCheckpoint cut unmaterialized until
        the caller's next action on it; a hard cut is always written."""
        self.n_cuts += 1
        if self.chain + 1 >= CUT_CHAIN_BOUND:
            if self.scratch is None:
                self.scratch = self.root or tempfile.mkdtemp(prefix="lineage-cut-")
                os.makedirs(self.scratch, exist_ok=True)
            slot = os.path.join(self.scratch, f"slot{self.n_cuts:05d}")
            df.write.mode("overwrite").parquet(slot)
            self.slots.append(slot)
            self.chain = 0
            return self.spark.read.parquet(slot)
        self.chain += 1
        return df.localCheckpoint(eager=eager)

    def drop_stale_slots(self) -> None:
        """Remove all hard-cut slots but the two newest (the current state
        and the one a convergence probe compares it with) — only for loops
        that hold no other reference to earlier cut states."""
        while len(self.slots) > 2:
            shutil.rmtree(self.slots.pop(0), ignore_errors=True)

    def close(self, final_df: DataFrame | None = None) -> DataFrame | None:
        out = final_df
        if self.scratch is not None:
            if final_df is not None:
                # the final result may read scratch slots: materialize it
                # into block storage (a fresh 1-link chain) before cleanup
                out = final_df.localCheckpoint(eager=True)
            shutil.rmtree(self.scratch, ignore_errors=True)
            self.scratch = None
            self.slots = []
        return out

    # context-manager form: `with LineageCutter(...) as cutter:` guarantees
    # the scratch dir is removed on exception paths (a failed deep cascade
    # must not leak parquet scratch on disk). Callers still call
    # close(final_df) on the success path — close() is idempotent, so the
    # __exit__ close() is then a no-op.
    def __enter__(self) -> "LineageCutter":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.close()


def iterate(
    spark: SparkSession,
    initial: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iterations: int,
    delta_fn: Callable[[DataFrame, DataFrame], float] | None = None,
    tolerance: float = 0.0,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume: bool = True,
    on_nonconverged: str = "warn",
    keep_checkpoints: int | None = None,
) -> SuperstepRun:
    """Run `state <- step(state, i)` with checkpointing, lineage metrics, resume.

    - `delta_fn(old, new) -> float`: convergence measure; iteration stops when
      it is <= tolerance. None -> always run max_iterations (deterministic
      fixed-round mode, used when an unrolled SQL oracle must match).
    - `checkpoint_dir`: parquet snapshot per kept iteration + lineage.jsonl.
      With resume=True a rerun continues from the latest complete snapshot.
    - `on_nonconverged`: what to do when max_iterations is hit with a delta_fn
      still above tolerance — "warn" (default), "raise" (exact-semantics
      operators: returning a non-fixpoint state would be silently wrong), or
      "ignore".
    - lineage between commits is cut through one LineageCutter, whose
      hard cuts land under `<checkpoint_dir>/_scratch` when a checkpoint
      dir is given (see CUT_CHAIN_BOUND); its scratch holds at most two
      states and is removed when the loop ends.
    - `keep_checkpoints`: retention bound for the checkpoint dir (>= 2) —
      after each committed round, iteration snapshots older than the newest
      `keep_checkpoints` are dropped (snapshots.ParquetIterationLog.prune;
      Iceberg's expire_snapshots in the swap). None keeps every round.
      Resume still works: it continues from the newest surviving snapshot."""
    metrics: list[IterationMetrics] = []
    start_iter = 0
    state = initial
    state_cut = False  # True while `state` is lineage-cut AND materialized

    ckpt_log = None
    if checkpoint_dir:
        os.makedirs(checkpoint_dir, exist_ok=True)
        # checkpoint mechanics live in the table-format seam: swapping
        # parquet-iter-dirs for Iceberg snapshots replaces this log class
        ckpt_log = snapshots.ParquetIterationLog(spark, checkpoint_dir)
        last = ckpt_log.latest() if resume else None
        if last is not None:
            state = ckpt_log.read(last)
            state_cut = True
            start_iter = last + 1

    converged = False
    lineage_path = os.path.join(checkpoint_dir, "lineage.jsonl") if checkpoint_dir else None
    # with a checkpoint_dir the hard-cut slots live under it (shared storage
    # on a cluster — executors must be able to read the cut back); only
    # dir-less in-memory loops fall back to a local tempdir
    scratch_root = os.path.join(checkpoint_dir, "_scratch") if checkpoint_dir else None

    with LineageCutter(spark, root=scratch_root) as cutter:
        for i in range(start_iter, max_iterations):
            t0 = time.time()
            new_state = step(state, i)

            state_cut = True
            if ckpt_log and (i % checkpoint_every == 0 or i == max_iterations - 1):
                # durable commit + lineage cut: read back the written snapshot
                persisted = ckpt_log.write(new_state, i)
                cutter.chain = 0
            elif (
                delta_fn is None
                and checkpoint_dir is None
                and i % checkpoint_every != checkpoint_every - 1
                and i != max_iterations - 1
            ):
                # unmetered fixed-round mode: rounds between lineage cuts stay
                # lazy-chained — skipping the eager materialization removes a
                # full job per skipped round (the dominant per-round constant
                # for small states); the plan depth is bounded by
                # checkpoint_every so Catalyst analysis stays O(1) per round
                persisted = new_state
                state_cut = False
            else:
                # convergence mode: the delta probe below runs an action on
                # `persisted` right away, so a LAZY checkpoint lets that single
                # action materialize the blocks — one job per round instead of
                # an eager-materialize job plus the probe job (r7; measured on
                # the SCC inner loop, whose many short rounds are job-overhead
                # bound). Without a probe the eager cut keeps its job.
                persisted = cutter.cut(new_state, eager=delta_fn is None)
                cutter.drop_stale_slots()

            delta = delta_fn(state, persisted) if delta_fn is not None else None
            # per-partition lineage histogram: one extra job per round,
            # recorded only when a checkpoint dir asked for durable lineage —
            # unmetered in-memory loops (bench hot paths) skip the pass
            hist = _partition_histogram(persisted) if lineage_path else None
            m = IterationMetrics(
                iteration=i,
                rows=None if hist is None else sum(hist.values()),
                n_partitions=None if hist is None else len(hist),
                partition_rows=hist,
                wall_s=round(time.time() - t0, 3),
                delta=delta,
            )
            metrics.append(m)
            if lineage_path:
                with open(lineage_path, "a") as fh:
                    fh.write(json.dumps(m.__dict__) + "\n")

            state = persisted
            if ckpt_log and keep_checkpoints:
                # prune AFTER delta_fn ran and `state` was rebound: the old
                # state frame (previous round's snapshot) is no longer read
                ckpt_log.prune(keep_checkpoints)
            if delta is not None and delta <= tolerance:
                converged = True
                break

        if delta_fn is not None and not converged and metrics:
            msg = (
                f"superstep loop hit max_iterations={max_iterations} with "
                f"delta={metrics[-1].delta} > tolerance={tolerance}; state is NOT a fixpoint"
            )
            if on_nonconverged == "raise":
                raise RuntimeError(msg)
            if on_nonconverged == "warn":
                warnings.warn(msg, RuntimeWarning, stacklevel=2)

        if cutter.scratch is not None:
            # close() re-anchors a state that may read a scratch slot in
            # block storage (a 1-link localCheckpoint chain is safe)
            state_cut = True
        state = cutter.close(state)

    return SuperstepRun(
        state=state,
        iterations=len(metrics) + start_iter,
        converged=converged,
        metrics=metrics,
        state_is_cut=state_cut,
    )
