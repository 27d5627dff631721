"""Merges evaluate their batch exactly once.

Every public merge that runs more than one action over its input
(gate count, touched-file probe, rewrite, key/DV write, data write)
materializes it first, so a nondeterministic batch cannot land one set
of rows in the data dir and another in the key dir, and a live source
is read once per merge."""

from __future__ import annotations

import uuid
import warnings

import pytest
from pyspark.sql import functions as F

from etl_property_rumah123_spark.sinks import table_log


def _base_table(spark, path: str) -> None:
    table_log.commit_snapshot(
        spark.createDataFrame(
            [(k, f"v{k}") for k in range(40)], "k long, v string"
        ).coalesce(2),
        path,
    )


def _counted_batch(spark, lo: int, hi: int):
    """Keys ``lo..hi-1`` through a nondeterministic Python UDF that
    bumps an accumulator once per row it evaluates."""
    acc = spark.sparkContext.accumulator(0)

    def tick(k):
        acc.add(1)
        return k

    udf = F.udf(tick, "long").asNondeterministic()
    batch = spark.range(lo, hi, numPartitions=2).select(
        udf(F.col("id")).alias("k"),
        F.concat(F.lit("b"), F.col("id").cast("string")).alias("v"),
    )
    return batch, acc


def _live(spark, path: str) -> dict:
    return {
        r["k"]: r["v"]
        for r in table_log.read_snapshot(spark, path).collect()
    }


def _expected(lo: int, hi: int) -> dict:
    want = {k: f"v{k}" for k in range(40)}
    want.update({k: f"b{k}" for k in range(lo, hi)})
    return want


def test_cow_merge_evaluates_batch_once(spark, tmp_path):
    t = str(tmp_path / "cow")
    _base_table(spark, t)
    batch, acc = _counted_batch(spark, 30, 50)
    table_log.merge_snapshot(batch, t, key="k")
    assert acc.value == 20
    assert _live(spark, t) == _expected(30, 50)


@pytest.mark.parametrize("eq", [False, True], ids=["position_dv", "eq"])
def test_mor_merge_evaluates_batch_once(spark, tmp_path, eq):
    t = str(tmp_path / f"mor_{eq}")
    _base_table(spark, t)
    batch, acc = _counted_batch(spark, 30, 50)
    table_log.merge_snapshot_mor(batch, t, key="k", eq=eq)
    assert acc.value == 20
    assert _live(spark, t) == _expected(30, 50)


def test_cow_merge_lost_race_reuses_batch(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "race")
    _base_table(spark, t)
    real = table_log._try_publish
    calls = []

    def lose_once(*args, **kwargs):
        calls.append(1)
        return len(calls) > 1 and real(*args, **kwargs)

    monkeypatch.setattr(table_log, "_try_publish", lose_once)
    batch, acc = _counted_batch(spark, 30, 50)
    v = table_log.merge_snapshot(batch, t, key="k")
    assert len(calls) == 2 and v == 1
    assert acc.value == 20
    assert _live(spark, t) == _expected(30, 50)


def test_over_cap_route_to_mor_reuses_batch(spark, tmp_path, monkeypatch):
    t = str(tmp_path / "overcap")
    _base_table(spark, t)
    monkeypatch.setattr(table_log, "MAX_TOUCHED_FILES", 0)
    batch, acc = _counted_batch(spark, 30, 50)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        v = table_log.merge_snapshot(batch, t, key="k")
    assert table_log._manifest(spark, t, v)["operation"] == "merge_mor"
    assert acc.value == 20
    assert _live(spark, t) == _expected(30, 50)


def test_nondeterministic_keys_agree_between_data_and_key_dirs(
    spark, tmp_path
):
    """A batch that updates 5 stored keys and inserts 25 rows keyed by
    a fresh uuid per evaluation: the snapshot holds exactly the old
    rows with the batch applied, and the change feed's merge_keys fast
    path (taken because the updates rewrite a stored file) reports
    exactly the batch rows as inserts. The uuid comes from a Python
    UDF: SQL ``uuid()`` is seeded once per plan, so re-running the
    same plan repeats its values and would hide a second evaluation."""
    t = str(tmp_path / "uuid")
    table_log.commit_snapshot(
        spark.createDataFrame(
            [(f"old{i}", i) for i in range(30)], "k string, x long"
        ).coalesce(2),
        t,
    )
    fresh = F.udf(lambda: uuid.uuid4().hex, "string").asNondeterministic()
    batch = spark.range(5).select(
        F.concat(F.lit("old"), F.col("id").cast("string")).alias("k"),
        (F.col("id") + 1000).alias("x"),
    ).unionByName(
        spark.range(100, 125, numPartitions=3).select(
            fresh().alias("k"), F.col("id").alias("x")
        )
    )
    v = table_log.merge_snapshot(batch, t, key="k")
    m = table_log._manifest(spark, t, v)
    assert m["merge_keys"] and m["n_rewritten_files"] > 0

    after = {
        (r["k"], r["x"]) for r in table_log.read_snapshot(spark, t).collect()
    }
    kept = {(f"old{i}", i) for i in range(5, 30)}
    updated = {(f"old{i}", i + 1000) for i in range(5)}
    inserted = after - kept - updated
    assert kept | updated <= after and len(after) == 55
    assert sorted(x for _k, x in inserted) == list(range(100, 125))
    assert len({k for k, _x in inserted}) == 25

    changes = table_log.read_changes(spark, t, v - 1, v).collect()
    by_type = {"insert": set(), "delete": set()}
    for r in changes:
        by_type[r["_change_type"]].add((r["k"], r["x"]))
    assert len(changes) == 35
    assert by_type["insert"] == updated | inserted
    assert by_type["delete"] == {(f"old{i}", i) for i in range(5)}


@pytest.mark.parametrize("mode", ["persist", "localcheckpoint"])
def test_merges_release_each_batch(spark, tmp_path, monkeypatch, mode):
    """Every merge drops its materialized batch on exit (the cache
    entry under SPARK_GRAFT_MATERIALIZE=persist, the checkpoint blocks
    by default), so a long-running sink holds no batch."""
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", mode)
    t = str(tmp_path / mode)
    _base_table(spark, t)
    jsc = spark.sparkContext._jsc
    # compared as id sets: the count alone also moves when the context
    # cleaner drops unrelated checkpoints left by earlier tests
    before = set(jsc.getPersistentRDDs().keys())
    for i, merge in enumerate(
        [
            table_log.merge_snapshot,
            lambda b, p, key: table_log.merge_snapshot_mor(b, p, key=key),
            lambda b, p, key: table_log.merge_snapshot_mor(
                b, p, key=key, eq=True
            ),
            table_log.merge_snapshot,
        ]
    ):
        batch, acc = _counted_batch(spark, 30 + i, 50 + i)
        merge(batch, t, key="k")
        assert acc.value == 20
    assert set(jsc.getPersistentRDDs().keys()) <= before
    assert _live(spark, t) == {
        **{k: f"v{k}" for k in range(30)},
        **{k: f"b{k}" for k in range(30, 53)},
    }


def test_persist_mode_keeps_a_callers_cache(spark, tmp_path, monkeypatch):
    """A batch the caller cached before the merge stays cached after
    it: the cache entry is the caller's to drop."""
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "persist")
    t = str(tmp_path / "callers")
    _base_table(spark, t)
    batch = spark.range(30, 50).select(
        F.col("id").alias("k"), F.lit("c").alias("v")
    ).persist()
    try:
        table_log.merge_snapshot(batch, t, key="k")
        assert batch.storageLevel.useMemory
    finally:
        batch.unpersist()
