"""Incrementally maintained aggregates (materialized views) over the
snapshot table log — the "don't re-aggregate 100 TB because 0.1%
changed" layer composed from the log's own primitives: change data
feed (:func:`table_log.read_changes`) for the delta, file-grain CoW
merge (:func:`table_log.merge_snapshot`) for the write-back, and the
atomically published manifest for the refresh watermark.

Maintenance strategy (the textbook hybrid):

- groups touched ONLY by inserts are folded ADDITIVELY into the view:
  count/sum add, min/max are insert-monotone (``least``/``greatest``
  against the stored value) — no source re-read at all;
- groups touched by any DELETE are recomputed EXACTLY from the
  current snapshot via a semi join on just those group keys — deletes
  break additivity for min/max (the deleted row may have been the
  extreme) and tombstone-accounting for sums is strictly worse than a
  key-pruned re-aggregate;
- a group whose rows all vanished keeps a ``_mv_n = 0`` tombstone row
  (filtered by :func:`read_aggregate`) — removal stays fully
  distributed with no driver-side key lists.

Scale shape: the refresh touches (a) the CDF rows of the step — not
the table, (b) the view rows for changed groups via the CoW merge's
file-grain rewrite, and (c) source rows of delete-dirty groups via a
semi join that the scan can prune on. Nothing is proportional to
table size except the unavoidable dirty-group re-read.

The reference repo has no analog (its pipeline is truncate-and-
reload, src/load.py); this is north-star lakehouse capability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_property_rumah123_spark.sinks import table_log

#: Supported aggregate functions: additive or insert-monotone, each
#: with an exact recompute form for delete-dirty groups.
#: ``approx_distinct`` stores a Datasketches HLL sketch (binary):
#: insert deltas MERGE (sketch union is the insert-monotone fold),
#: deletes recompute the sketch from the dirty groups' source rows —
#: sketches cannot subtract, which is exactly what the hybrid already
#: handles. Read the estimate via :func:`read_aggregate`'s
#: ``estimate_sketches`` flag.
#: ``avg`` is NOT stored directly — averages don't fold (old_avg and
#: delta_avg can't combine without their weights), so the view stores
#: the classic sum/count decomposition (``__avg_sum__/__avg_cnt__``
#: internal columns, both additive) and :func:`read_aggregate`
#: projects the ratio. Exact, including all-NULL groups (0/0 -> NULL,
#: matching SQL AVG).
_FNS = ("count", "sum", "min", "max", "approx_distinct", "avg")

#: Internal column prefixes for the avg decomposition.
_AVG_SUM = "__avg_sum__"
_AVG_CNT = "__avg_cnt__"


def _expand_spec(agg_spec: dict) -> dict:
    """Rewrite ``avg`` entries into their stored sum/count pair; all
    other entries pass through. The refresh pipeline then only ever
    sees additive/monotone functions."""
    out: dict = {}
    for name, (fn, src) in agg_spec.items():
        if fn == "avg":
            # F.count(src) is non-null count, exactly AVG's denominator
            out[f"{_AVG_SUM}{name}"] = ("sum", src)
            out[f"{_AVG_CNT}{name}"] = ("count", src)
        else:
            out[name] = (fn, src)
    return out

#: Internal columns: composite merge key, group row count (tombstone
#: marker), refresh watermark manifest key.
_KEY = "_mv_key"
_N = "_mv_n"
_META_VERSION = "mv_source_version"


def _check_spec(group_cols: list[str], agg_spec: dict) -> None:
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    for out, (fn, _src) in agg_spec.items():
        if fn not in _FNS:
            raise ValueError(
                f"agg_spec[{out!r}]: fn must be one of {_FNS}, got {fn!r}"
            )
        if out in (_KEY, _N) or out in group_cols:
            raise ValueError(f"agg_spec output {out!r} collides")


def _key_col(group_cols: list[str]):
    # unit separator keeps composite keys unambiguous for any text
    # that does not itself contain \x1f
    return F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in group_cols]
    )


def _dirty_probe(
    source_now: DataFrame, dirty: DataFrame, group_cols: list[str]
) -> DataFrame:
    """The refresh's dirty-group semi join, exposed for plan pinning:
    ``dirty`` is a handful of group keys while ``source_now`` is the
    TABLE-sized scan — the keys carry an explicit broadcast hint, or
    Spark's unknown-size estimate may shuffle the whole source on the
    group columns. The hint is GATED (operators/common.py:
    gated_broadcast): a pathological backlog delta with more dirty
    groups than SPARK_GRAFT_MAX_BROADCAST_KEYS degrades loudly to a
    shuffle join instead of an 8 GB broadcast failure."""
    from etl_property_rumah123_spark.operators.common import gated_broadcast

    return source_now.join(
        gated_broadcast(dirty, what="matview dirty-group key set"),
        group_cols,
        "left_semi",
    )


def _aggregate(df: DataFrame, group_cols: list[str], agg_spec: dict) -> DataFrame:
    aggs = [F.count(F.lit(1)).alias(_N)]
    for out, (fn, src) in agg_spec.items():
        if fn == "approx_distinct":
            aggs.append(F.hll_sketch_agg(src).alias(out))
        else:
            aggs.append(getattr(F, fn)(src).alias(out))
    return df.groupBy(*group_cols).agg(*aggs)


def refresh_aggregate(
    spark: SparkSession,
    source_path: str,
    view_path: str,
    group_cols: list[str],
    agg_spec: dict[str, tuple[str, str]],
) -> int:
    """Bring the materialized aggregate at ``view_path`` up to the
    CURRENT version of the snapshot table at ``source_path``.

    ``agg_spec``: ``{out_col: (fn, src_col)}`` with fn in
    count/sum/min/max/avg/approx_distinct (count counts non-null
    src_col rows; avg is stored as its additive sum/count pair and
    surfaced by :func:`read_aggregate`). Returns the source version
    the view now reflects. First call (no view yet) runs the full
    aggregate once; every later call processes only the change feed
    since the recorded watermark. Idempotent: a refresh at an
    unchanged watermark is a no-op.
    """
    _check_spec(group_cols, agg_spec)
    agg_spec = _expand_spec(agg_spec)
    src_versions = table_log._list_versions(spark, source_path)
    if not src_versions:
        raise ValueError(f"no snapshots at {source_path}")
    cur = src_versions[-1]

    view_versions = table_log._list_versions(spark, view_path)
    if not view_versions:
        full = _aggregate(
            table_log.read_snapshot(spark, source_path, cur),
            group_cols,
            agg_spec,
        ).withColumn(_KEY, _key_col(group_cols))
        table_log.commit_snapshot(
            full, view_path, mode="overwrite",
            extra_meta={_META_VERSION: cur},
        )
        return cur

    last = table_log._manifest(spark, view_path, view_versions[-1]).get(
        _META_VERSION
    )
    if last is None:
        raise ValueError(
            f"{view_path} latest manifest has no {_META_VERSION} "
            "watermark — not a maintained view"
        )
    if last == cur:
        return cur
    if last not in src_versions:
        raise ValueError(
            f"view watermark v{last} was vacuumed from {source_path}; "
            "rebuild the view (drop + refresh)"
        )

    changes = table_log.read_changes(spark, source_path, last, cur)
    # The feed is consumed FOUR times below (insert fold, dirty-group
    # distinct, bounds collection, tombstone join) and its diff steps
    # (exceptAll over rewritten files) are the expensive part of a
    # catch-up spanning merges/deletes — materialize it once. The
    # footprint is DELTA-sized by definition, never table-sized.
    from etl_property_rumah123_spark.operators.common import materialize

    changes = materialize(changes)
    inserts = changes.filter(F.col("_change_type") == "insert").drop(
        "_change_type"
    )
    deletes = changes.filter(F.col("_change_type") == "delete").drop(
        "_change_type"
    )
    dirty = deletes.select(*group_cols).distinct()

    view = table_log.read_snapshot(spark, view_path)

    # --- insert-only groups: additive fold against the stored row ---
    ins_delta = _aggregate(inserts, group_cols, agg_spec).join(
        F.broadcast(dirty), group_cols, "left_anti"
    )
    old = view.select(
        *group_cols,
        F.col(_N).alias(f"__old_{_N}"),
        *[F.col(out).alias(f"__old_{out}") for out in agg_spec],
    )
    combined_cols = [
        (F.coalesce(F.col(f"__old_{_N}"), F.lit(0)) + F.col(_N)).alias(_N)
    ]
    for out, (fn, _src) in agg_spec.items():
        o, d = F.col(f"__old_{out}"), F.col(out)
        if fn in ("count", "sum"):
            # coalesce keeps all-null sum groups honest: null + x = x
            c = F.when(
                o.isNull(), d
            ).otherwise(F.when(d.isNull(), o).otherwise(o + d))
        elif fn == "min":
            c = F.least(o, d)  # least/greatest skip nulls
        elif fn == "max":
            c = F.greatest(o, d)
        else:  # approx_distinct: sketch union is the additive fold
            c = F.when(o.isNull(), d).otherwise(
                F.when(d.isNull(), o).otherwise(F.hll_union(o, d))
            )
        combined_cols.append(c.alias(out))
    additive = ins_delta.join(old, group_cols, "left").select(
        *group_cols, *combined_cols
    )

    # (probe construction lives in _dirty_probe so tests can pin the
    # join strategy without running a refresh)

    # --- delete-dirty groups: exact key-pruned recompute ------------
    # The semi join is the ONLY table-size-proportional read in a
    # refresh — compose it with manifest data skipping: one tiny agg
    # collects the dirty keys' per-column bounds (2 scalars per
    # stats-eligible group column) and prunes source files whose
    # committed [min, max] cannot hold any dirty group. Conservative
    # like every pruning path: non-stats columns contribute nothing,
    # and the semi join still decides membership exactly.
    source_now = table_log.read_snapshot(
        spark, source_path, cur,
        predicates=_dirty_bounds_predicates(
            spark, source_path, dirty, group_cols
        ),
    )
    recomputed = _aggregate(
        _dirty_probe(source_now, dirty, group_cols), group_cols, agg_spec
    )
    # vanished groups keep a tombstone row (count 0, aggregates null)
    dirty_rows = dirty.join(recomputed, group_cols, "left").select(
        *group_cols,
        F.coalesce(F.col(_N), F.lit(0)).alias(_N),
        *[F.col(out) for out in agg_spec],
    )

    # Pin every aggregate to the VIEW's stored type: an additive
    # decimal add widens (decimal(28,2) + delta -> decimal(29,2)), and
    # parquet files of mixed decimal widths in one snapshot fail the
    # vectorized reader's type check. The cast is loss-free for any
    # sum that already fit the bootstrap aggregate's type.
    vt = {f.name: f.dataType for f in view.schema.fields}
    updates = (
        additive.unionByName(dirty_rows)
        .select(
            *group_cols,
            F.col(_N).cast(vt[_N]).alias(_N),
            *[F.col(out).cast(vt[out]).alias(out) for out in agg_spec],
        )
        .withColumn(_KEY, _key_col(group_cols))
    )
    table_log.merge_snapshot(
        updates, view_path, key=_KEY,
        extra_meta={_META_VERSION: cur},
    )
    return cur


def _dirty_bounds_predicates(
    spark: SparkSession,
    source_path: str,
    dirty: DataFrame,
    group_cols: list[str],
) -> list[tuple] | None:
    """[(col, '>=', min), (col, '<=', max), ...] over the dirty
    groups' stats-eligible group columns — the file-skipping envelope
    for the recompute's source read. None when no group column can
    prune or the dirty set is empty (empty bounds would otherwise
    skip every file while the semi join still expects a frame)."""
    eligible = [
        f.name
        for f in dirty.schema.fields
        if f.name in group_cols
        and f.dataType.typeName() in table_log._STATS_TYPES
    ]
    if not eligible:
        return None
    aggs = []
    for i, c in enumerate(eligible):
        aggs += [
            F.min(dirty[c]).alias(f"mn_{i}"),
            F.max(dirty[c]).alias(f"mx_{i}"),
            F.sum(dirty[c].isNull().cast("long")).alias(f"nu_{i}"),
        ]
    row = dirty.agg(*aggs).first()
    preds: list[tuple] = []
    for i, c in enumerate(eligible):
        mn, mx = row[f"mn_{i}"], row[f"mx_{i}"]
        if row[f"nu_{i}"]:
            # a NULL dirty group falls outside any [min, max] envelope
            # — comparison predicates would filter its source rows out
            # before the semi join sees them, so this column cannot
            # prune
            continue
        if mn is None or mx is None:
            continue
        preds.append((c, ">=", mn))
        preds.append((c, "<=", mx))
    return preds or None


def read_aggregate(
    spark: SparkSession,
    view_path: str,
    estimate_sketches: dict[str, str] | None = None,
) -> DataFrame:
    """The maintained aggregate, tombstones filtered, internals
    hidden. Stored avg decompositions project back to their ratio
    (``sum / count``, NULL for all-NULL groups — SQL AVG semantics).
    ``estimate_sketches``: ``{sketch_col: estimate_col}`` — project
    each stored HLL sketch to its cardinality estimate."""
    v = table_log.read_snapshot(spark, view_path)
    out = v.filter(F.col(_N) > 0).drop(_KEY, _N)
    for c in out.columns:
        if c.startswith(_AVG_SUM):
            name = c[len(_AVG_SUM):]
            cnt = f"{_AVG_CNT}{name}"
            out = out.withColumn(
                name,
                F.when(
                    F.col(cnt) > 0, F.col(c) / F.col(cnt)
                ),
            ).drop(c, cnt)
    for col, alias in (estimate_sketches or {}).items():
        out = out.withColumn(
            alias, F.hll_sketch_estimate(col).cast("long")
        ).drop(col)
    return out


def matview_stream_writer(
    source_path: str,
    view_path: str,
    group_cols: list[str],
    agg_spec: dict[str, tuple[str, str]],
    key: str | None = None,
):
    """``foreachBatch`` sink that keeps a materialized aggregate live
    over a stream: each micro-batch lands in the SOURCE snapshot
    table through :func:`table_log.snapshot_stream_writer` (append,
    or CoW merge when ``key`` is set), then the view catches up via
    :func:`refresh_aggregate`.

    Exactly-once falls out of composing two idempotent layers: a
    replayed batch is skipped by the stream writer's batch-id stamp,
    and the refresh is a no-op at an unchanged watermark — so neither
    the source nor the view double-counts. A crash BETWEEN the source
    commit and the refresh only delays the view: the next batch's
    refresh spans both source versions (multi-version catch-up is the
    normal path, not a recovery mode).
    """
    _check_spec(group_cols, agg_spec)
    commit = table_log.snapshot_stream_writer(source_path, key=key)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        commit(batch_df, batch_id)
        refresh_aggregate(
            batch_df.sparkSession, source_path, view_path,
            group_cols, agg_spec,
        )

    return _apply
