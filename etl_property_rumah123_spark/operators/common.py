"""Shared-plan materialization for diamond-shaped pipelines.

Several operators build a subtree that TWO downstream branches read (an
LSH bucket table self-joined, a signature table joined across
rotations, an exploded bigram table feeding both a frequency aggregate
and a scoring join). Spark does not deduplicate common subtrees across
branches, so without materialization the upstream pipeline executes
once per branch.

Two strategies, selected by ``SPARK_GRAFT_MATERIALIZE``:

- ``localcheckpoint`` (default): fastest — blocks live in executor
  storage and the plan above them is truncated. Executors holding the
  blocks are pinned (dynamic allocation will not reclaim an executor
  with cached blocks), but the blocks are NOT recoverable if an
  executor is LOST (preemption, spot reclaim, hardware) — the job
  fails and retries from the start.
- ``persist``: ``MEMORY_AND_DISK`` caching that keeps lineage, so a
  lost partition recomputes instead of failing the job. Slightly
  slower and keeps the upstream plan alive. Use this on
  preemptible/spot clusters (set it alongside configs/cluster.yaml).

``connected_components`` intentionally does NOT route through this
helper: its per-round checkpoint exists to CUT LINEAGE GROWTH of an
iterative plan, which persist() does not do.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Row-count envelope for EXPLICIT broadcast hints on the sinks'
#: "small by contract" join sides (merge batch keys, matview dirty
#: groups, partition-merge carry keys). The hint is load-bearing at
#: scale — without it Spark's unknown-size estimate can shuffle the
#: table side — but an UNGATED hint turns a contract violation (a
#: genuinely huge batch) into an 8 GB broadcast failure or a driver
#: OOM instead of a slow-but-correct shuffle join. Past the cap the
#: hint is DROPPED with a loud warning and Spark plans the join by
#: its own estimates. ~32 B/key at the default cap is a ~160 MB
#: broadcast table — comfortably inside executor memory, far from
#: the 8 GB hard limit. Env-tunable for big drivers.
MAX_BROADCAST_KEYS = int(
    os.environ.get("SPARK_GRAFT_MAX_BROADCAST_KEYS", "5000000")
)

#: Planning-time fast path for the gate: when Catalyst's own size
#: estimate of the (pruned, filtered) small side is already under this
#: many bytes, the hint is applied with ZERO extra jobs. The estimate
#: errs large for opaque plans (unknown-size defaults), which routes
#: exactly those to the bounded count probe — the fast path can only
#: be taken when the optimizer has real file-size evidence.
MAX_BROADCAST_BYTES = int(
    os.environ.get(
        "SPARK_GRAFT_MAX_BROADCAST_BYTES", str(512 * 1024 * 1024)
    )
)


def gated_broadcast(
    small: DataFrame,
    count_frame: DataFrame | None = None,
    what: str = "small join side",
) -> DataFrame:
    """``F.broadcast(small)`` gated against contract-violating sizes.

    Two tiers, cheapest first:

    1. **Planning-time estimate** — ``optimizedPlan().stats()``'s
       sizeInBytes under ``MAX_BROADCAST_BYTES`` applies the hint with
       no job at all (the common case: merge batches and dirty-key
       frames trace back to file scans the optimizer can size).
    2. **Bounded count probe** — otherwise ``limit(cap + 1).count()``
       (at most cap+1 rows gathered, whatever the frame's true size)
       decides: under ``MAX_BROADCAST_KEYS`` rows the hint is applied;
       past it the hint is DROPPED with a loud warning and Spark plans
       by its own estimates — a shuffle join instead of an 8 GB
       broadcast failure or driver OOM.

    ``count_frame`` is an optional CHEAPER frame whose row count
    upper-bounds ``small``'s (e.g. the un-distinct batch for a
    ``batch.select(key).distinct()`` side — counting the batch skips
    the distinct's shuffle; distinct keys <= rows, so an under-cap
    batch can never hide an over-cap key set).

    The fast path is only trusted when the plan contains no
    OUTPUT-INFLATING operators: without CBO, Catalyst's size visitor
    passes a Generate (explode), Expand (rollup/cube), or Join node's
    estimate through from its inputs, so a tiny scan exploded into
    millions of rows still *estimates* tiny — trusting it would
    broadcast something huge. Those plans route to the count probe,
    whose limit(cap + 1) bounds the work regardless of true size.
    (Filters/projects only shrink relative to their scan-based
    estimate, so the common merge-batch shape keeps the zero-job
    path.)"""
    try:
        plan = small._jdf.queryExecution().optimizedPlan()
        est = int(str(plan.stats().sizeInBytes()))
        tree = plan.treeString()
    except Exception:  # estimate unavailable -> fall through to probe
        est, tree = None, ""
    inflating = any(
        marker in tree for marker in ("Generate ", "Expand", "Join ")
    )
    if (
        est is not None
        and not inflating
        and 0 <= est <= MAX_BROADCAST_BYTES
    ):
        return F.broadcast(small)
    probe = count_frame if count_frame is not None else small
    n = probe.limit(MAX_BROADCAST_KEYS + 1).count()
    if n > MAX_BROADCAST_KEYS:
        warnings.warn(
            f"{what} exceeds SPARK_GRAFT_MAX_BROADCAST_KEYS="
            f"{MAX_BROADCAST_KEYS} rows; dropping the broadcast hint "
            "so Spark plans a shuffle join instead of risking the "
            "8 GB broadcast limit / driver OOM. Correctness is "
            "unaffected; split the batch or raise the env knob to "
            "restore the hinted plan.",
            stacklevel=3,
        )
        return small
    return F.broadcast(small)


from contextlib import contextmanager


@contextmanager
def scoped_conf(spark, **pairs):
    """Temporarily set runtime SQL confs (underscores -> dots), always
    restoring on exit. The shuffle-partition use case: maintenance
    jobs over SMALL tables (snapshot-log lifecycle commits, matview
    refreshes) pay per-task scheduling on every shuffle — 32 tasks
    for a 100-row join is pure overhead, and AQE's coalescing only
    merges partitions AFTER launch planning. At 100 TB the same knob
    goes the other way (more partitions); either way the right value
    is data-sized, not session-global."""
    keys = {k.replace("__", "."): v for k, v in pairs.items()}
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, str(v))
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def materialize(df: DataFrame, eager: bool = False) -> DataFrame:
    mode = os.environ.get("SPARK_GRAFT_MATERIALIZE", "localcheckpoint").lower()
    if mode == "persist":
        from pyspark import StorageLevel

        return df.persist(StorageLevel.MEMORY_AND_DISK)
    if mode != "localcheckpoint":
        raise ValueError(
            f"SPARK_GRAFT_MATERIALIZE={mode!r}: expected "
            "'localcheckpoint' or 'persist'"
        )
    return df.localCheckpoint(eager=eager)


@contextmanager
def materialized(df: DataFrame):
    """:func:`materialize` for the span of a ``with`` block, released
    on every exit. Neither form frees itself: a ``persist``ed frame
    stays in Spark's CacheManager until it is unpersisted, and a local
    checkpoint's blocks stay pinned while anything still references
    the checkpointed RDD, so a long-lived caller (a streaming sink
    merging every micro-batch) would pile up one batch per call. A
    frame already cached on entry keeps its cache: that entry is the
    caller's."""
    level = df.storageLevel  # one CacheManager lookup
    was_cached = level.useMemory or level.useDisk
    out = materialize(df)
    try:
        yield out
    finally:
        if out is not df:  # local checkpoint: a new frame over a LogicalRDD
            out._jdf.queryExecution().logical().rdd().unpersist(False)
        elif not was_cached:
            out.unpersist()


def scratch_base() -> str:
    """Base directory for EPHEMERAL part-local tables (the snapshot
    lifecycle and matview parts rebuild a throwaway table_log table
    per run). Prefers a tmpfs (/dev/shm) when one exists — the data
    is by definition disposable, and the parts' cost is commit I/O,
    not compute, so skipping the disk round-trip is a pure win on
    the local bench — with /tmp as the portable fallback.
    ``SPARK_GRAFT_SCRATCH`` overrides both (point it at real disk if
    the box's shm is tight)."""
    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        return env
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        return "/dev/shm/spark_graft_scratch"
    return "/tmp/spark_graft_scratch"
