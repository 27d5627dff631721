"""Sink tests (ops L1-L5): merge SQL shape, transactional orchestration
with a stub DB-API connection, idempotency accounting, dated writers
with array stringification at the boundary.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_property_rumah123_spark.sinks import jdbc_merge, writers


class StubCursor:
    def __init__(self, conn, rows):
        self.conn = conn
        self._rows = rows

    def execute(self, sql):
        self.conn.executed.append(sql)
        if self.conn.fail_on_execute:
            raise RuntimeError("boom")

    def fetchall(self):
        return self._rows


class StubConnection:
    """Minimal DB-API connection: records statements, scripted
    RETURNING rows, tracks commit/rollback/close."""

    def __init__(self, returning_rows, fail_on_execute=False):
        self.returning_rows = returning_rows
        self.executed = []
        self.committed = False
        self.rolled_back = False
        self.closed = False
        self.fail_on_execute = fail_on_execute

    def cursor(self):
        return StubCursor(self, self.returning_rows)

    def commit(self):
        self.committed = True

    def rollback(self):
        self.rolled_back = True

    def close(self):
        self.closed = True


def test_merge_sql_full_row_upsert():
    sql = jdbc_merge.build_merge_sql(
        ["link", "name", "price_rp"], "stg_property_rumah", "property_rumah", "link"
    )
    assert sql.startswith("INSERT INTO property_rumah (link, name, price_rp)")
    assert "SELECT link, name, price_rp FROM stg_property_rumah" in sql
    assert "ON CONFLICT (link) DO UPDATE SET" in sql
    # every non-key column overwritten from EXCLUDED (last-write-wins;
    # key = EXCLUDED.key would be a no-op and DuckDB rejects it)
    for c in ("name", "price_rp"):
        assert f"{c} = EXCLUDED.{c}" in sql
    assert "link = EXCLUDED.link" not in sql
    assert sql.endswith("RETURNING xmax = 0")


def test_merge_counts_fresh_inserts_and_commits():
    conn = StubConnection([(True,), (False,), (True,), (False,)])
    n = jdbc_merge.merge_staging_to_main(
        lambda: conn, ["link", "name"], "stg", "main", "link"
    )
    assert n == 2  # xmax=0 rows only (fresh inserts, not updates)
    assert conn.committed and not conn.rolled_back and conn.closed


def test_merge_rolls_back_on_error():
    conn = StubConnection([], fail_on_execute=True)
    with pytest.raises(RuntimeError):
        jdbc_merge.merge_staging_to_main(lambda: conn, ["link"], "stg", "main", "link")
    assert conn.rolled_back and not conn.committed and conn.closed


def test_load_empty_df_skips_everything(spark):
    df = spark.range(0).select(F.col("id").alias("link"))
    called = []
    n = jdbc_merge.load_to_postgres(
        df,
        jdbc_url="jdbc:postgresql://nowhere/db",
        connection_factory=lambda: called.append(1),
        stg_table="stg",
        main_table="main",
        unique_key="link",
    )
    assert n == 0 and not called  # F2 guard: no JDBC write, no merge


def test_load_rejects_bad_batch_size(spark):
    df = spark.range(1).select(F.col("id").alias("link"))
    with pytest.raises(ValueError):
        jdbc_merge.load_to_postgres(
            df, "jdbc:x", lambda: None, "stg", "main", "link", batch_size=0
        )


def test_merge_executes_and_is_idempotent_on_real_engine(tmp_path):
    """§5.4: run the staged merge twice with overlapping keys — main
    state must equal the single-run state (idempotent), and re-merging
    updated staging rows is last-write-wins."""
    import duckdb

    con = duckdb.connect(str(tmp_path / "sink.db"))
    con.execute("CREATE TABLE main (link VARCHAR PRIMARY KEY, name VARCHAR, price BIGINT)")
    con.execute("CREATE TABLE stg (link VARCHAR, name VARCHAR, price BIGINT)")
    con.execute("INSERT INTO stg VALUES ('a', 'A', 1), ('b', 'B', 2)")

    sql = jdbc_merge.build_merge_sql(
        ["link", "name", "price"], "stg", "main", "link", count_inserts=False
    )
    con.execute(sql)
    once = con.execute("SELECT * FROM main ORDER BY link").fetchall()
    con.execute(sql)  # re-run: task-retry / rerun scenario
    twice = con.execute("SELECT * FROM main ORDER BY link").fetchall()
    assert once == twice == [("a", "A", 1), ("b", "B", 2)]

    # next run: overlapping key with new values + a fresh key
    con.execute("DELETE FROM stg")
    con.execute("INSERT INTO stg VALUES ('b', 'B2', 20), ('c', 'C', 3)")
    con.execute(sql)
    final = con.execute("SELECT * FROM main ORDER BY link").fetchall()
    assert final == [("a", "A", 1), ("b", "B2", 20), ("c", "C", 3)]  # last-write-wins
    con.close()


class DuckDBAPIShim:
    """Adapt a duckdb connection to the DB-API surface
    merge_staging_to_main expects (duckdb's cursor() spawns a separate
    connection, so transactions are driven explicitly here)."""

    def __init__(self, con):
        self._con = con
        self.rolled_back = False

    def cursor(self):
        self._con.execute("BEGIN TRANSACTION")
        return self._con

    def commit(self):
        self._con.execute("COMMIT")

    def rollback(self):
        self._con.execute("ROLLBACK")
        self.rolled_back = True

    def close(self):
        pass  # caller keeps the connection for assertions


def test_load_path_end_to_end_on_real_engine(spark, tmp_path):
    """L1-L4 against a real ON CONFLICT engine (DuckDB; no Postgres /
    JDBC driver jar in this sandbox): Spark DataFrame -> Arrow ->
    staging table (the L2 write stand-in), then the REAL
    merge_staging_to_main orchestration — transaction, commit,
    rollback — run twice with overlapping keys. Asserts idempotency
    and fresh-insert accounting (count delta; xmax is Postgres-only)."""
    import duckdb

    con = duckdb.connect(str(tmp_path / "e2e.db"))
    con.execute(
        "CREATE TABLE main (link VARCHAR PRIMARY KEY, name VARCHAR, price BIGINT)"
    )
    shim = DuckDBAPIShim(con)

    def stage(df):
        con.unregister("stg_arrow") if "stg_arrow" in [
            r[0] for r in con.execute("SHOW TABLES").fetchall()
        ] else None
        con.register("stg_arrow", df.toArrow())
        con.execute("CREATE OR REPLACE TABLE stg AS SELECT * FROM stg_arrow")

    run1 = spark.createDataFrame(
        [("a", "A", 1), ("b", "B", 2)], "link string, name string, price long"
    )
    stage(run1)
    jdbc_merge.merge_staging_to_main(
        lambda: shim, ["link", "name", "price"], "stg", "main", "link",
        count_inserts=False,
    )
    n_after_1 = con.execute("SELECT COUNT(*) FROM main").fetchone()[0]
    assert n_after_1 == 2  # both rows freshly inserted

    # re-run the SAME batch: idempotent, zero fresh inserts
    jdbc_merge.merge_staging_to_main(
        lambda: shim, ["link", "name", "price"], "stg", "main", "link",
        count_inserts=False,
    )
    assert con.execute("SELECT COUNT(*) FROM main").fetchone()[0] == n_after_1
    assert con.execute("SELECT * FROM main ORDER BY link").fetchall() == [
        ("a", "A", 1), ("b", "B", 2),
    ]

    # overlapping batch: one update (last-write-wins), one fresh insert
    run2 = spark.createDataFrame(
        [("b", "B2", 20), ("c", "C", 3)], "link string, name string, price long"
    )
    stage(run2)
    jdbc_merge.merge_staging_to_main(
        lambda: shim, ["link", "name", "price"], "stg", "main", "link",
        count_inserts=False,
    )
    assert con.execute("SELECT * FROM main ORDER BY link").fetchall() == [
        ("a", "A", 1), ("b", "B2", 20), ("c", "C", 3),
    ]

    # rollback path on a real engine: a bad merge leaves main untouched
    con.execute("CREATE OR REPLACE TABLE stg AS SELECT 'x' AS wrong_col")
    with pytest.raises(Exception):
        jdbc_merge.merge_staging_to_main(
            lambda: shim, ["link", "name", "price"], "stg", "main", "link",
            count_inserts=False,
        )
    assert shim.rolled_back
    assert con.execute("SELECT COUNT(*) FROM main").fetchone()[0] == 3
    con.close()


def test_merge_count_inserts_off_returns_sentinel():
    conn = StubConnection([])
    n = jdbc_merge.merge_staging_to_main(
        lambda: conn, ["link"], "stg", "main", "link", count_inserts=False
    )
    assert n == -1 and conn.committed
    assert "RETURNING" not in conn.executed[0]


def test_dated_parquet_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", ["x", "y"]), ("b", [])], "link string, additional_features array<string>"
    )
    path = writers.save_parquet(df, "listings", str(tmp_path), "20260813")
    assert path.endswith("listings_20260813.parquet")
    back = spark.read.parquet(path)
    # parquet keeps the native array type
    assert dict(back.dtypes)["additional_features"] == "array<string>"
    assert back.count() == 2


def test_dated_csv_stringifies_arrays(spark, tmp_path):
    df = spark.createDataFrame(
        [("a", ["x", "y"])], "link string, additional_features array<string>"
    )
    path = writers.save_csv(df, "listings", str(tmp_path), "20260813")
    assert path.endswith("listings_20260813.csv")
    back = spark.read.option("header", True).csv(path)
    row = back.collect()[0]
    assert row["additional_features"] == '["x","y"]'  # JSON at the boundary


def test_partitioned_write_enables_partition_pruning(spark, tmp_path):
    """save_parquet(partition_by) -> a filter on the partition column
    must prune at planning time (PartitionFilters, not a post-scan
    filter) — the scan-cost lever for region/date-partitioned layouts."""
    df = spark.createDataFrame(
        [(i, ["jakarta", "bogor", "depok"][i % 3]) for i in range(90)],
        "id long, region string",
    )
    path = writers.save_parquet(df, "listings", str(tmp_path), "20260813",
                                partition_by=["region"])
    back = spark.read.parquet(path).filter(F.col("region") == "bogor")
    plan = back._sc._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(region" in plan
    assert back.count() == 30
    # only the bogor directory is listed
    files = [r["file"] for r in back.select(F.input_file_name().alias("file")).distinct().collect()]
    assert files and all("region=bogor" in f for f in files)


def test_dated_write_is_idempotent_per_run_date(spark, tmp_path):
    df = spark.createDataFrame([("a",)], "link string")
    p1 = writers.save_parquet(df, "listings", str(tmp_path), "20260813")
    p2 = writers.save_parquet(df, "listings", str(tmp_path), "20260813")
    assert p1 == p2
    assert spark.read.parquet(p2).count() == 1  # overwrite, not append


def test_partitioned_dataset_small_file_control(spark, tmp_path):
    """Each (split, lang) partition directory must contain exactly
    files_per_partition data files — not one per shuffle partition."""
    import glob

    df = spark.range(0, 3000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("split"),
        (F.col("id") % 2).cast("string").alias("lang"),
        F.md5(F.col("id").cast("string")).alias("text"),
    ).repartition(16)  # simulate an upstream shuffle fan-out
    path = str(tmp_path / "corpus")
    writers.write_partitioned_dataset(df, path, ["split", "lang"])
    for d in glob.glob(f"{path}/split=*/lang=*"):
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)

    # files_per_partition=3 spreads each partition over 3 tasks
    writers.write_partitioned_dataset(
        df, str(tmp_path / "c3"), ["split", "lang"], files_per_partition=3
    )
    for d in glob.glob(f"{tmp_path}/c3/split=*/lang=*"):
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert 1 <= len(files) <= 3, (d, files)


def test_partitioned_dataset_dynamic_overwrite(spark, tmp_path):
    """A rerun carrying ONLY one partition's rows must replace that
    partition and leave every other partition untouched."""
    full = spark.createDataFrame(
        [(1, "train", "v1"), (2, "val", "v1"), (3, "test", "v1")],
        "doc_id long, split string, payload string",
    )
    path = str(tmp_path / "ds")
    writers.write_partitioned_dataset(full, path, ["split"])
    fix = spark.createDataFrame(
        [(20, "val", "v2")], "doc_id long, split string, payload string"
    )
    writers.write_partitioned_dataset(fix, path, ["split"])
    got = {
        (r["split"], r["doc_id"], r["payload"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {("train", 1, "v1"), ("val", 20, "v2"), ("test", 3, "v1")}


def test_partitioned_dataset_read_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "train"), (2, "val")], "doc_id long, split string"
    )
    path = str(tmp_path / "p")
    writers.write_partitioned_dataset(df, path, ["split"])
    q = spark.read.parquet(path).filter(F.col("split") == "train")
    plan = q._sc._jvm.PythonSQLUtils.explainString(
        q._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [" in plan and "split" in plan
    assert q.count() == 1


def test_merge_into_partitioned_upserts_and_preserves_untouched(spark, tmp_path):
    """File-native L3: a batch touching one partition updates/inserts
    by key there, carries unmatched rows, and never rewrites (or even
    lists) the untouched partitions."""
    path = str(tmp_path / "lake")
    base = spark.createDataFrame(
        [(1, "jakarta", 100), (2, "jakarta", 200), (3, "bogor", 300)],
        "link long, region string, price long",
    )
    writers.write_partitioned_dataset(base, path, ["region"])
    bogor_file_before = {
        f: os.path.getmtime(os.path.join(path, "region=bogor", f))
        for f in os.listdir(os.path.join(path, "region=bogor"))
        if f.endswith(".parquet")
    }

    batch = spark.createDataFrame(
        [(2, "jakarta", 999), (9, "jakarta", 900)],
        "link long, region string, price long",
    )
    stats = writers.merge_into_partitioned(
        batch, path, key_cols=["link"], partition_cols=["region"]
    )
    assert stats["n_partitions"] == 1
    assert stats["n_upserted"] == 2
    assert stats["n_carried"] == 1  # link=1 kept
    assert stats["n_updated"] == 1  # link=2 overwritten
    assert stats["n_inserted"] == 1  # link=9 fresh

    got = {
        (r["link"], r["region"], r["price"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        (1, "jakarta", 100),
        (2, "jakarta", 999),
        (9, "jakarta", 900),
        (3, "bogor", 300),
    }
    bogor_file_after = {
        f: os.path.getmtime(os.path.join(path, "region=bogor", f))
        for f in os.listdir(os.path.join(path, "region=bogor"))
        if f.endswith(".parquet")
    }
    assert bogor_file_before == bogor_file_after


def test_merge_into_partitioned_touched_partition_guard(spark, tmp_path):
    """A batch whose partition column is high-cardinality (here: the
    key itself) trips max_touched_partitions loudly instead of
    flooding the driver with distinct tuples; raising the cap lets a
    deliberate wide backfill through."""
    path = str(tmp_path / "lake_guard")
    batch = spark.range(50).select(
        F.col("id").alias("link"),
        F.col("id").alias("region"),
        F.lit(1).alias("price"),
    )
    with pytest.raises(ValueError, match="max_touched_partitions"):
        writers.merge_into_partitioned(
            batch, path, ["link"], ["region"], max_touched_partitions=10
        )
    stats = writers.merge_into_partitioned(
        batch, path, ["link"], ["region"], max_touched_partitions=50
    )
    assert stats["n_partitions"] == 50 and stats["n_upserted"] == 50


def test_merge_into_partitioned_is_idempotent(spark, tmp_path):
    """Same batch twice == once (the retry-safety the reference gets
    from truncate-staging + ON CONFLICT)."""
    path = str(tmp_path / "lake2")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "link long, region string, price long"
    )
    writers.write_partitioned_dataset(base, path, ["region"])
    batch = spark.createDataFrame(
        [(1, "a", 11), (3, "a", 30)], "link long, region string, price long"
    )
    writers.merge_into_partitioned(batch, path, ["link"], ["region"])
    stats2 = writers.merge_into_partitioned(batch, path, ["link"], ["region"])
    assert stats2["n_updated"] == 2 and stats2["n_inserted"] == 0
    got = sorted(
        (r["link"], r["region"], r["price"])
        for r in spark.read.parquet(path).collect()
    )
    assert got == [(1, "a", 11), (2, "b", 20), (3, "a", 30)]


def test_merge_into_partitioned_null_partition_value_carries(spark, tmp_path):
    """A batch row with a NULL partition value touches the
    __HIVE_DEFAULT_PARTITION__ directory; the merge must read and
    carry that partition's unmatched existing rows (null-safe tuple
    predicate), not silently rewrite it with batch-only rows."""
    path = str(tmp_path / "lake_null")
    base = spark.createDataFrame(
        [(1, None, 10), (2, None, 20), (3, "a", 30)],
        "link long, region string, price long",
    )
    writers.write_partitioned_dataset(base, path, ["region"])
    batch = spark.createDataFrame(
        [(2, None, 99), (9, None, 90)], "link long, region string, price long"
    )
    stats = writers.merge_into_partitioned(batch, path, ["link"], ["region"])
    assert stats["n_partitions"] == 1
    assert stats["n_carried"] == 1  # link=1 in the NULL partition kept
    assert stats["n_updated"] == 1 and stats["n_inserted"] == 1
    got = sorted(
        (r["link"], r["region"], r["price"])
        for r in spark.read.parquet(path).collect()
    )
    assert got == [(1, None, 10), (2, None, 99), (3, "a", 30), (9, None, 90)]


def test_merge_into_partitioned_first_write_and_order_col(spark, tmp_path):
    """No existing dataset -> plain partitioned write; in-batch dup
    keys resolved keep-max(order_col) — the cross-run analog of T2."""
    path = str(tmp_path / "lake3")
    batch = spark.createDataFrame(
        [(1, "a", 10, 1), (1, "a", 99, 2), (2, "a", 20, 1)],
        "link long, region string, price long, seq long",
    )
    stats = writers.merge_into_partitioned(
        batch, path, ["link"], ["region"], order_col="seq"
    )
    assert stats["n_upserted"] == 2 and stats["n_carried"] == 0
    got = sorted(
        (r["link"], r["price"]) for r in spark.read.parquet(path).collect()
    )
    assert got == [(1, 99), (2, 20)]


def test_compact_partitions_reduces_files_keeps_rows(spark, tmp_path):
    """Fragment a partition with many tiny files, compact, and check
    layout changed but content did not."""
    path = str(tmp_path / "frag")
    base = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", i * 10) for i in range(40)],
        "link long, region string, price long",
    )
    # fragment the real-world way: 8 incremental appends, one file each
    for i in range(8):
        base.filter(F.col("link") % 8 == i).coalesce(1).write.mode(
            "append"
        ).partitionBy("region").parquet(path)
    import glob as _glob

    def files_of(part):
        return [
            f
            for f in _glob.glob(f"{path}/region={part}/*.parquet")
        ]

    assert len(files_of("a")) > 1
    before = {
        (r["link"], r["region"], r["price"])
        for r in spark.read.parquet(path).collect()
    }
    stats = writers.compact_partitions(path, ["region"], spark, files_per_partition=1)
    assert stats["n_rows"] == 40
    assert len(files_of("a")) == 1 and len(files_of("b")) == 1
    after = {
        (r["link"], r["region"], r["price"])
        for r in spark.read.parquet(path).collect()
    }
    assert after == before


def _file_ranges(path, col):
    """Per-file (min, max) of a column from Parquet footer statistics —
    the same numbers a scan's file-skipping consults."""
    import glob as _glob

    import pyarrow.parquet as pq

    out = []
    for f in _glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    s = c.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        if lo is not None:
            out.append((lo, hi))
    return out


def test_zorder_layout_tightens_both_dimensions(spark, tmp_path):
    """Z-order vs sort-by-x on a 64x64 grid: per-file footer ranges
    must be tight in BOTH x and y for the z-ordered layout, while the
    x-sorted layout leaves y at full domain — the data-skipping
    property the operator exists for."""
    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x long, y long")

    sorted_path = str(tmp_path / "by_x")
    (
        df.repartitionByRange(16, F.col("x"))
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(sorted_path)
    )
    z_path = str(tmp_path / "bz")
    writers.zorder_layout(df, z_path, ["x", "y"], target_files=16, bits=6)

    def mean_span_product(path):
        xs, ys = _file_ranges(path, "x"), _file_ranges(path, "y")
        assert len(xs) == len(ys) and xs
        prods = [
            ((xhi - xlo + 1) / 64.0) * ((yhi - ylo + 1) / 64.0)
            for (xlo, xhi), (ylo, yhi) in zip(xs, ys)
        ]
        return sum(prods) / len(prods)

    # x-sorted: x spans ~1/16 of domain but y spans all of it -> ~1/16.
    # z-order: both dims ~1/4 of domain -> ~1/16 of area BUT the point
    # is per-dimension skipping: assert y-ranges shrink dramatically.
    y_sorted = [(hi - lo + 1) / 64.0 for lo, hi in _file_ranges(sorted_path, "y")]
    y_z = [(hi - lo + 1) / 64.0 for lo, hi in _file_ranges(z_path, "y")]
    assert sum(y_sorted) / len(y_sorted) > 0.9  # full domain per file
    assert sum(y_z) / len(y_z) < 0.5  # tight after z-order
    # and the joint span-area must not regress
    assert mean_span_product(z_path) <= mean_span_product(sorted_path) * 1.5
    # content unchanged
    assert spark.read.parquet(z_path).count() == 64 * 64


def test_zorder_rank_scaling_survives_skew(spark, tmp_path):
    """Lognormal-skewed x: linear min-max scaling maps ~all rows into
    the bottom x-buckets, so every file's x-range covers the bulk and
    a selective mid-quantile x-predicate can skip almost nothing.
    Rank (quantile) scaling is equal-depth by construction, so the
    same predicate prunes most files from the footer stats alone."""
    import random as _r

    rng = _r.Random(42)
    rows = [
        (_i, rng.lognormvariate(0, 2.5), float(rng.uniform(0, 1000)))
        for _i in range(4096)
    ]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    lin, rnk = str(tmp_path / "zlin"), str(tmp_path / "zrank")
    writers.zorder_layout(df, lin, ["x", "y"], target_files=16, bits=8)
    writers.zorder_layout(
        df, rnk, ["x", "y"], target_files=16, scaling="rank", rank_buckets=256
    )

    # a 15%-selectivity band INSIDE one x-quartile: with 16 files the
    # Morton top bits give each file one x-quartile, so rank scaling
    # confines the band to ~1/4 of the files (+ boundary noise)
    xs = sorted(v for _, v, _ in rows)
    q55, q70 = xs[int(0.55 * len(xs))], xs[int(0.70 * len(xs))]

    def files_hit(path):
        ranges = _file_ranges(path, "x")
        assert ranges
        return sum(1 for lo, hi in ranges if hi >= q55 and lo <= q70), len(ranges)

    lin_hit, lin_n = files_hit(lin)
    rnk_hit, rnk_n = files_hit(rnk)
    # linear: the bulk sits in bucket ~0, nearly every file overlaps
    assert lin_hit >= 0.8 * lin_n
    # rank: equal-depth buckets -> the band touches a minority of files
    assert rnk_hit <= 0.5 * rnk_n
    assert rnk_hit < lin_hit
    # content identical either way
    assert spark.read.parquet(rnk).count() == 4096
    got = sorted(r["id"] for r in spark.read.parquet(rnk).collect())
    assert got == list(range(4096))


def test_merge_existing_read_partition_prunes(spark, tmp_path):
    """The merge's claim 'untouched partitions are never listed or
    read' at the plan level: the existing-side scan must carry a
    PartitionFilters entry on the touched partition values."""
    path = str(tmp_path / "lakeplan")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "link long, region string, price long",
    )
    writers.write_partitioned_dataset(base, path, ["region"])
    existing = spark.read.parquet(path).filter(F.col("region") == "a")
    plan = existing._sc._jvm.PythonSQLUtils.explainString(
        existing._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [" in plan and "region" in plan
    # and the merge itself only rewrites the touched partition
    batch = spark.createDataFrame(
        [(9, "a", 90)], "link long, region string, price long"
    )
    stats = writers.merge_into_partitioned(batch, path, ["link"], ["region"])
    assert stats["n_partitions"] == 1 and stats["n_inserted"] == 1


def test_merge_schema_evolution_adds_column_additively(spark, tmp_path):
    """A batch carrying a NEW column merges when evolution is opted
    in: carried rows get NULL for it, rewritten partitions carry it,
    and strict mode (default) fails loudly on the drift."""
    path = str(tmp_path / "lake_evo")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20)], "link long, region string, price long"
    )
    writers.write_partitioned_dataset(base, path, ["region"])
    batch = spark.createDataFrame(
        [(2, "a", 200, "agent-x"), (3, "a", 30, "agent-y")],
        "link long, region string, price long, listed_by string",
    )
    with pytest.raises(ValueError, match="schema drifted"):
        writers.merge_into_partitioned(batch, path, ["link"], ["region"])

    stats = writers.merge_into_partitioned(
        batch, path, ["link"], ["region"], allow_schema_evolution=True
    )
    assert stats["n_updated"] == 1 and stats["n_inserted"] == 1
    got = {
        r["link"]: (r["price"], r["listed_by"])
        for r in spark.read.option("mergeSchema", "true").parquet(path).collect()
    }
    assert got == {1: (10, None), 2: (200, "agent-x"), 3: (30, "agent-y")}


def test_compact_partitions_respects_partition_filter(spark, tmp_path):
    """Filtered compaction rewrites only matching partitions; others
    keep their (fragmented) files byte-for-byte."""
    path = str(tmp_path / "frag2")
    base = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", i) for i in range(20)],
        "link long, region string, price long",
    )
    for i in range(4):
        base.filter(F.col("link") % 4 == i).coalesce(1).write.mode(
            "append"
        ).partitionBy("region").parquet(path)
    import glob as _glob

    def files(part):
        return sorted(_glob.glob(f"{path}/region={part}/*.parquet"))

    b_before = [(f, os.path.getmtime(f)) for f in files("b")]
    assert len(files("a")) > 1 and len(b_before) > 1
    writers.compact_partitions(
        path, ["region"], spark,
        partition_filter=F.col("region") == "a",
    )
    assert len(files("a")) == 1  # compacted
    assert [(f, os.path.getmtime(f)) for f in files("b")] == b_before  # untouched
    got = {
        (r["link"], r["region"], r["price"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {(i, "a" if i % 2 else "b", i) for i in range(20)}


def test_snapshot_table_time_travel_and_vacuum(spark, tmp_path):
    """The snapshot log: append/overwrite commits are atomic via the
    manifest rename, every version stays readable (time travel), a
    crashed commit's orphan data is invisible, history records the
    operations, and vacuum drops exactly the unreferenced versions
    while keeping the survivors byte-identical."""
    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "snap_table")
    df1 = spark.range(0, 5).withColumnRenamed("id", "k")
    df2 = spark.range(5, 8).withColumnRenamed("id", "k")
    df3 = spark.range(100, 102).withColumnRenamed("id", "k")

    v0 = table_log.commit_snapshot(df1, t, mode="append")
    v1 = table_log.commit_snapshot(df2, t, mode="append")
    v2 = table_log.commit_snapshot(df3, t, mode="overwrite")
    assert (v0, v1, v2) == (0, 1, 2)

    def ks(df):
        return sorted(r["k"] for r in df.collect())

    # time travel: each version exactly as committed
    assert ks(table_log.read_snapshot(spark, t, 0)) == list(range(5))
    assert ks(table_log.read_snapshot(spark, t, 1)) == list(range(8))
    assert ks(table_log.read_snapshot(spark, t, 2)) == [100, 101]
    assert ks(table_log.read_snapshot(spark, t)) == [100, 101]  # latest
    assert [h["operation"] for h in table_log.history(spark, t)] == [
        "append", "append", "overwrite"
    ]

    # a "crashed commit": data dir written, no manifest -> invisible
    orphan = f"{t}/data/c99-deadbeef"
    spark.range(900, 903).withColumnRenamed("id", "k").write.parquet(orphan)
    assert ks(table_log.read_snapshot(spark, t)) == [100, 101]

    # retention guard: with the default 24h min age the first vacuum
    # drops only the expired MANIFEST (always safe) but leaves the
    # young unreferenced data dir alone — a lock-free concurrent
    # writer may be about to publish it
    first = table_log.vacuum(spark, t, keep_last=2)
    assert any("v0.json" in d for d in first)
    assert not any("c99-deadbeef" in d for d in first)
    # with the guard waived, the orphan data goes too
    deleted = table_log.vacuum(spark, t, keep_last=2, min_age_s=0)
    assert any("c99-deadbeef" in d for d in deleted)
    import pytest

    with pytest.raises(ValueError, match="not in"):
        table_log.read_snapshot(spark, t, 0)
    # survivors intact after vacuum (v1 shares commit dirs with v0!)
    assert ks(table_log.read_snapshot(spark, t, 1)) == list(range(8))
    assert ks(table_log.read_snapshot(spark, t, 2)) == [100, 101]

    # optimistic concurrency: a pre-existing winning manifest for the
    # next version forces the loser to rebase onto it
    import json

    next_v = 3
    winner_files = table_log._manifest(spark, t, 2)["files"]
    table_log._write_file(
        spark,
        f"{t}/_log/v{next_v}.json",
        json.dumps(
            {"version": next_v, "operation": "append",
             "files": winner_files, "n_files": len(winner_files)}
        ).encode(),
    )
    v4 = table_log.commit_snapshot(
        spark.range(500, 502).withColumnRenamed("id", "k"), t, mode="append"
    )
    assert v4 == 4  # rebased past the occupied version
    assert ks(table_log.read_snapshot(spark, t)) == [100, 101, 500, 501]


def test_snapshot_merge_rewrites_only_touched_files(spark, tmp_path):
    """File-grain copy-on-write MERGE: an upsert matching keys in only
    one commit's files rewrites THOSE files, carries the rest by
    reference in the new manifest, keeps last-write-wins row
    semantics, and leaves the pre-merge version time-travelable."""
    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "cow_table")
    # two separate commits = two distinct file sets
    a = spark.createDataFrame([(i, f"a{i}") for i in range(5)], "k long, v string")
    b = spark.createDataFrame([(i, f"b{i}") for i in range(100, 105)], "k long, v string")
    table_log.commit_snapshot(a.coalesce(1), t)
    table_log.commit_snapshot(b.coalesce(1), t)
    pre_files = table_log._manifest(spark, t, 1)["files"]
    v0_files = set(table_log._manifest(spark, t, 0)["files"])

    # merge touches keys 3,4 (commit A's file) + inserts key 999
    up = spark.createDataFrame(
        [(3, "NEW3"), (4, "NEW4"), (999, "NEW999")], "k long, v string"
    )
    v = table_log.merge_snapshot(up.coalesce(1), t, key="k")
    m = table_log._manifest(spark, t, v)
    assert m["operation"] == "merge"
    # commit B's file (v1 minus v0) survives by reference; A's rewritten
    b_files = [f for f in pre_files if f not in v0_files]
    assert all(f in m["files"] for f in b_files)
    assert m["n_rewritten_files"] == 1

    got = {
        r["k"]: r["v"]
        for r in table_log.read_snapshot(spark, t).collect()
    }
    want = {i: f"a{i}" for i in range(3)}
    want.update({3: "NEW3", 4: "NEW4", 999: "NEW999"})
    want.update({i: f"b{i}" for i in range(100, 105)})
    assert got == want
    # pre-merge snapshot unchanged
    pre = {
        r["k"]: r["v"]
        for r in table_log.read_snapshot(spark, t, 1).collect()
    }
    assert pre[3] == "a3" and 999 not in pre


def test_snapshot_stream_writer_exactly_once(spark, tmp_path):
    """The txn-log streaming sink: each micro-batch commits one
    snapshot version stamped with its batch id; a FULL REPLAY from a
    fresh checkpoint re-delivers the batches and the sink skips every
    one (exactly-once through the log, no dedup-on-read)."""
    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "stream_table")
    src = tmp_path / "stream_src"
    src.mkdir()
    schema = "k long, v string"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    def run(checkpoint):
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .writeStream.foreachBatch(table_log.snapshot_stream_writer(t))
            .option("checkpointLocation", str(tmp_path / checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    feed([(1, "x"), (2, "y")])
    run("cp1")
    feed([(3, "z")])
    run("cp1")
    rows1 = sorted(
        (r["k"], r["v"]) for r in table_log.read_snapshot(spark, t).collect()
    )
    assert rows1 == [(1, "x"), (2, "y"), (3, "z")]
    n_versions = len(table_log.history(spark, t))

    # fresh checkpoint: all source files re-delivered as batch 0 —
    # batch id 0 <= last committed id, so nothing is appended
    run("cp_replay")
    rows2 = sorted(
        (r["k"], r["v"]) for r in table_log.read_snapshot(spark, t).collect()
    )
    assert rows2 == rows1
    assert len(table_log.history(spark, t)) == n_versions


def test_snapshot_compaction_preserves_content(spark, tmp_path):
    """compact_snapshot folds many small commit files into
    target_files as a new content-identical version; the fragmented
    version stays time-travelable until vacuumed."""
    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "compact_table")
    for i in range(6):  # six tiny commits = six+ files
        table_log.commit_snapshot(
            spark.createDataFrame([(i, f"v{i}")], "k long, v string"), t
        )
    frag = table_log._manifest(spark, t, 5)
    assert frag["n_files"] >= 6
    v = table_log.compact_snapshot(spark, t, target_files=1)
    m = table_log._manifest(spark, t, v)
    assert m["operation"] == "compact" and m["n_files"] == 1
    rows = sorted(
        (r["k"], r["v"]) for r in table_log.read_snapshot(spark, t).collect()
    )
    assert rows == [(i, f"v{i}") for i in range(6)]
    # fragmented version still readable
    assert table_log.read_snapshot(spark, t, 5).count() == 6


def test_snapshot_delete_copy_on_write_and_purge(spark, tmp_path):
    """CoW DELETE (the takedown/PII-purge op): predicate rows vanish
    from the new version with only their containing files rewritten;
    the pre-delete version stays time-travelable (the documented
    retention contract) until vacuum makes the purge durable — after
    which the deleted rows are unreachable at ANY version."""
    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "del_table")
    a = spark.createDataFrame(
        [(i, f"user{i % 3}") for i in range(6)], "k long, owner string"
    )
    b = spark.createDataFrame(
        [(i, "user9") for i in range(100, 103)], "k long, owner string"
    )
    table_log.commit_snapshot(a.coalesce(1), t)
    table_log.commit_snapshot(b.coalesce(1), t)

    v = table_log.delete_snapshot(spark, t, "owner = 'user1'")
    m = table_log._manifest(spark, t, v)
    assert m["operation"] == "delete" and m["condition"] == "owner = 'user1'"
    assert m["n_rewritten_files"] == 1  # only commit A held user1 rows
    got = sorted(r["k"] for r in table_log.read_snapshot(spark, t).collect())
    assert got == [0, 2, 3, 5, 100, 101, 102]  # k=1,4 (user1) gone
    # audit trail + retention: pre-delete version still shows the rows
    assert [h["operation"] for h in table_log.history(spark, t)][-1] == "delete"
    assert table_log.read_snapshot(spark, t, 1).count() == 9
    # no-match delete commits an audit version carrying files untouched
    v2 = table_log.delete_snapshot(spark, t, "owner = 'nobody'")
    assert table_log._manifest(spark, t, v2)["n_rewritten_files"] == 0
    assert table_log.read_snapshot(spark, t).count() == 7
    # the purge: vacuum to the latest version only -> user1 rows are
    # unreachable everywhere
    table_log.vacuum(spark, t, keep_last=1, min_age_s=0)
    import pytest

    with pytest.raises(ValueError):
        table_log.read_snapshot(spark, t, 1)
    remaining = table_log.read_snapshot(spark, t)
    assert remaining.filter("owner = 'user1'").count() == 0


def test_snapshot_change_data_feed(spark, tmp_path):
    """read_changes: appends emit pure inserts, a CoW merge emits the
    delete+insert pair for updated keys plus inserts for new ones, a
    CoW delete emits deletes, and a compact step emits nothing —
    incremental consumption instead of full re-reads."""
    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "cdf_table")
    table_log.commit_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1), t
    )  # v0
    table_log.commit_snapshot(
        spark.createDataFrame([(3, "c")], "k long, v string").coalesce(1), t
    )  # v1 append
    table_log.merge_snapshot(
        spark.createDataFrame([(2, "B2"), (9, "i")], "k long, v string").coalesce(1),
        t, key="k",
    )  # v2 merge: update k=2, insert k=9
    table_log.delete_snapshot(spark, t, "k = 1")  # v3
    table_log.compact_snapshot(spark, t, target_files=1)  # v4

    def changes(lo, hi=None):
        return sorted(
            (r["k"], r["v"], r["_change_type"])
            for r in table_log.read_changes(spark, t, lo, hi).collect()
        )

    assert changes(0, 1) == [(3, "c", "insert")]
    assert changes(1, 2) == [
        (2, "B2", "insert"), (2, "b", "delete"), (9, "i", "insert")
    ]
    assert changes(2, 3) == [(1, "a", "delete")]
    assert changes(3, 4) == []  # compaction changes nothing logically
    # cumulative feed composes the steps
    assert changes(0, 4) == [
        (1, "a", "delete"), (2, "B2", "insert"), (2, "b", "delete"),
        (3, "c", "insert"), (9, "i", "insert"),
    ]


def test_snapshot_schema_evolution(spark, tmp_path):
    """Appends may add columns over time; merge_schema=True reads the
    union schema with NULLs where older commits lack the column, while
    plain reads and old-version time travel keep working."""
    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "evo_table")
    table_log.commit_snapshot(
        spark.createDataFrame([(1, "a")], "k long, v string").coalesce(1), t
    )
    table_log.commit_snapshot(
        spark.createDataFrame(
            [(2, "b", "en")], "k long, v string, lang string"
        ).coalesce(1),
        t,
    )
    evolved = table_log.read_snapshot(spark, t, merge_schema=True)
    assert set(evolved.columns) == {"k", "v", "lang"}
    rows = {r["k"]: r["lang"] for r in evolved.collect()}
    assert rows == {1: None, 2: "en"}
    # v0 time travel: the original two-column schema
    assert set(table_log.read_snapshot(spark, t, 0).columns) == {"k", "v"}


def test_snapshot_concurrent_appenders_lose_nothing(spark, tmp_path):
    """The optimistic-concurrency claim under REAL contention: eight
    threads append simultaneously with no coordination; every commit
    must land as a distinct version, the final version must contain
    every thread's rows exactly once, and losers must have reused
    their token-named data dirs (no duplicate data dirs per writer)."""
    import threading

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "race_table")
    errors = []
    versions = []
    lock = threading.Lock()

    def writer(wid):
        try:
            df = spark.createDataFrame(
                [(wid * 100 + i, f"w{wid}") for i in range(5)],
                "k long, owner string",
            ).coalesce(1)
            v = table_log.commit_snapshot(df, t, mode="append", max_retries=20)
            with lock:
                versions.append(v)
        except Exception as exc:  # noqa: BLE001
            with lock:
                errors.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert sorted(versions) == list(range(8))  # distinct versions, no gaps
    rows = table_log.read_snapshot(spark, t).collect()
    assert len(rows) == 40  # every writer's 5 rows exactly once
    owners = {r["owner"] for r in rows}
    assert owners == {f"w{w}" for w in range(8)}
    # one data dir per writer (losers reused theirs across retries)
    import os

    assert len(os.listdir(os.path.join(t, "data"))) == 8


def test_snapshot_compaction_with_zorder_skips_files(spark, tmp_path):
    """OPTIMIZE ZORDER BY on the snapshot log: compaction lays files
    along the Morton curve so a selective predicate on EITHER key
    column prunes files via footer ranges — measured as fewer files
    overlapping a narrow band than the unordered layout — while
    content stays identical."""
    import itertools

    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "zopt_table")
    rng = list(itertools.product(range(32), range(32)))
    df = spark.createDataFrame(
        [(x, y, x * 32 + y) for x, y in rng], "x long, y long, payload long"
    ).repartition(8)  # scrambled layout
    table_log.commit_snapshot(df, t)
    v = table_log.compact_snapshot(
        spark, t, target_files=8, zorder_by=["x", "y"]
    )
    m = table_log._manifest(spark, t, v)
    assert m["zorder_by"] == ["x", "y"] and m["n_files"] == 8
    # content identical
    assert table_log.read_snapshot(spark, t).count() == 1024
    assert (
        table_log.read_snapshot(spark, t)
        .agg(F.sum("payload"))
        .first()[0]
        == sum(p for _, _, p in [(x, y, x * 32 + y) for x, y in rng])
    )

    def files_overlapping(version, col, lo, hi):
        man = table_log._manifest(spark, t, version)
        n = 0
        for rel in man["files"]:
            stats = (
                spark.read.parquet(f"{t}/{rel}")
                .agg(F.min(col), F.max(col))
                .first()
            )
            if stats[0] is not None and not (stats[1] < lo or stats[0] > hi):
                n += 1
        return n

    # a narrow band on each dimension touches FEWER z-ordered files
    # than scrambled ones (which overlap everywhere)
    for col in ("x", "y"):
        assert files_overlapping(v, col, 3, 4) < files_overlapping(0, col, 3, 4)


def test_merge_snapshot_first_commit_forwards_extra_meta(spark, tmp_path):
    """merge_snapshot on an EMPTY table degenerates to append but must
    still forward extra_meta into the v0 manifest — a stream_batch_id
    stamp dropped on the first commit would break the exactly-once
    replay-skip contract for direct merge callers."""
    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "fresh_merge")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    v = table_log.merge_snapshot(
        df.coalesce(1), t, key="k", extra_meta={"stream_batch_id": 7}
    )
    assert v == 0
    m = table_log._manifest(spark, t, 0)
    assert m["stream_batch_id"] == 7


def test_snapshot_stats_data_skipping(spark, tmp_path):
    """Manifest-level data skipping: commits record per-file
    [min, max, nulls] for numeric/string columns, and read_snapshot
    with predicates drops provably-excluded files BEFORE the parquet
    scan — fewer inputFiles, identical rows."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "tbl")
    # three disjoint-range commits -> three files with disjoint stats
    for lo in (0, 100, 200):
        df = spark.range(lo, lo + 100).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("v"),
            F.concat(F.lit("s"), F.lpad(F.col("id").cast("string"), 5, "0")).alias("tag"),
        ).coalesce(1)
        table_log.commit_snapshot(df, t, mode="append")

    full = table_log.read_snapshot(spark, t)
    assert len(full.inputFiles()) == 3

    pruned = table_log.read_snapshot(spark, t, predicates=[("k", ">=", 250)])
    assert len(pruned.inputFiles()) == 1  # only the 200-299 file
    assert sorted(r["k"] for r in pruned.collect()) == list(range(250, 300))

    # equality + string predicates prune too
    eq = table_log.read_snapshot(spark, t, predicates=[("k", "=", 150)])
    assert len(eq.inputFiles()) == 1 and eq.count() == 1
    st = table_log.read_snapshot(spark, t, predicates=[("tag", "<", "s00100")])
    assert len(st.inputFiles()) == 1 and st.count() == 100

    # conjunction can prune everything -> empty frame, true schema
    none = table_log.read_snapshot(
        spark, t, predicates=[("k", ">", 100), ("k", "<", 50)]
    )
    assert none.count() == 0 and set(none.columns) == {"k", "v", "tag"}

    # stats never decide correctness: results equal the filtered full read
    for preds, cond in [
        ([("k", ">=", 250)], F.col("k") >= 250),
        ([("v", "<=", 2)], F.col("v") <= 2),
    ]:
        a = sorted(map(repr, table_log.read_snapshot(spark, t, predicates=preds).collect()))
        b = sorted(map(repr, full.filter(cond).collect()))
        assert a == b

    # bad predicate shapes are loud
    import pytest as _pytest

    with _pytest.raises(ValueError, match="predicate"):
        table_log.read_snapshot(spark, t, predicates=[("k", "!=", 1)])


def test_snapshot_stats_file_count_envelope(spark, tmp_path, monkeypatch):
    """MAX_STATS_FILES bounds the driver-held stats dict: an over-cap
    commit skips the per-file stats job entirely, an over-cap table
    keeps only the newest files' stats — and in both regimes commits
    succeed and reads stay value-correct (files without stats are
    never pruned, so degradation is conservative full-scan)."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    monkeypatch.setattr(table_log, "MAX_STATS_FILES", 4)

    # One commit writing MORE files than the cap: stats for that
    # commit are skipped (no million-row collect at 10^6 files), the
    # commit itself lands, and the unpruned read is still correct.
    t = str(tmp_path / "wide")
    wide = spark.range(80).select(F.col("id").alias("k")).repartition(8)
    table_log.commit_snapshot(wide, t, mode="append")
    m = table_log._manifest(spark, t, 0)
    assert m["n_files"] == 8 and m["stats"] == {}
    got = table_log.read_snapshot(spark, t, predicates=[("k", ">=", 70)])
    assert len(got.inputFiles()) == 8  # nothing pruned — conservative
    assert sorted(r["k"] for r in got.collect()) == list(range(70, 80))

    # Many small commits: the carried dict is capped at 4 entries and
    # keeps the NEWEST files (insertion order is carry-then-new).
    t2 = str(tmp_path / "tall")
    for lo in range(0, 700, 100):
        df = spark.range(lo, lo + 100).select(F.col("id").alias("k")).coalesce(1)
        table_log.commit_snapshot(df, t2, mode="append")
    m2 = table_log._manifest(spark, t2, 6)
    assert m2["n_files"] == 7 and len(m2["stats"]) == 4
    newest = m2["files"][-1]
    assert newest in m2["stats"]
    # newest files prune, stats-less older files are kept (scanned)
    pr = table_log.read_snapshot(spark, t2, predicates=[("k", ">=", 650)])
    assert len(pr.inputFiles()) == 4  # 3 stats-less + the 600-699 file
    assert sorted(r["k"] for r in pr.collect()) == list(range(650, 700))
    lo_read = table_log.read_snapshot(spark, t2, predicates=[("k", "<", 50)])
    assert sorted(r["k"] for r in lo_read.collect()) == list(range(50))


def test_snapshot_stats_survive_merge_delete_and_nulls(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "tbl2")
    lo_df = spark.range(0, 50).select(F.col("id").alias("k"), F.lit(1).alias("b")).coalesce(1)
    hi_df = spark.range(1000, 1050).select(F.col("id").alias("k"), F.lit(2).alias("b")).coalesce(1)
    table_log.commit_snapshot(lo_df, t, mode="append")
    table_log.commit_snapshot(hi_df, t, mode="append")

    # merge touches only the low file; the carried high file keeps its
    # (prev-manifest) stats and still prunes
    batch = spark.createDataFrame([(10, 99)], "k long, b int")
    table_log.merge_snapshot(batch, t, key="k")
    pruned = table_log.read_snapshot(spark, t, predicates=[("k", ">=", 1000)])
    assert len(pruned.inputFiles()) == 1 and pruned.count() == 50

    # delete rewrites the carry file; fresh + carried stats still
    # prune the high file (3 files remain: merge-batch, survivors, hi)
    table_log.delete_snapshot(spark, t, "k < 5")
    full_files = len(table_log.read_snapshot(spark, t).inputFiles())
    after = table_log.read_snapshot(spark, t, predicates=[("k", "<", 100)])
    assert len(after.inputFiles()) == full_files - 1
    assert after.count() == 45

    # an all-NULL column file is skipped for any comparison on it
    t2 = str(tmp_path / "tbl3")
    nulls = spark.createDataFrame([(1, None), (2, None)], "k long, x double").coalesce(1)
    vals = spark.createDataFrame([(3, 1.5), (4, 2.5)], "k long, x double").coalesce(1)
    table_log.commit_snapshot(nulls, t2, mode="append")
    table_log.commit_snapshot(vals, t2, mode="append")
    got = table_log.read_snapshot(spark, t2, predicates=[("x", ">", 0.0)])
    assert len(got.inputFiles()) == 1 and got.count() == 2


def test_matview_incremental_equals_full_recompute(spark, tmp_path):
    """Materialized aggregate over the snapshot log: the hybrid
    maintenance (additive for insert-only groups, key-pruned exact
    recompute for delete-dirty groups) must equal a from-scratch
    aggregate after EVERY kind of step — append, delete (including a
    deleted extreme and a vanished group), and CoW merge."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import matview, table_log

    src, mv = str(tmp_path / "src"), str(tmp_path / "mv")
    spec = {
        "n": ("count", "doc_id"),
        "tot": ("sum", "v"),
        "lo": ("min", "v"),
        "hi": ("max", "v"),
    }

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, lang string, v long")

    def check():
        got = sorted(
            map(repr, matview.read_aggregate(spark, mv).collect())
        )
        full = matview._aggregate(
            table_log.read_snapshot(spark, src), ["lang"], spec
        )
        exp = sorted(
            map(repr, full.filter(F.col("_mv_n") > 0).drop("_mv_n").collect())
        )
        assert got == exp

    table_log.commit_snapshot(mk([(1, "en", 5), (2, "en", 9), (3, "fr", 1)]), src)
    matview.refresh_aggregate(spark, src, mv, ["lang"], spec)
    check()

    table_log.commit_snapshot(mk([(4, "en", 2), (5, "de", 7)]), src, mode="append")
    matview.refresh_aggregate(spark, src, mv, ["lang"], spec)
    check()

    table_log.delete_snapshot(spark, src, "doc_id = 4")  # en's min vanishes
    matview.refresh_aggregate(spark, src, mv, ["lang"], spec)
    check()

    table_log.delete_snapshot(spark, src, "lang = 'fr'")  # whole group
    matview.refresh_aggregate(spark, src, mv, ["lang"], spec)
    check()

    table_log.merge_snapshot(mk([(1, "en", 100), (9, "zh", 3)]), src, key="doc_id")
    matview.refresh_aggregate(spark, src, mv, ["lang"], spec)
    check()

    # skipping several source versions in ONE refresh also matches
    table_log.commit_snapshot(mk([(10, "de", 1)]), src, mode="append")
    table_log.delete_snapshot(spark, src, "doc_id = 5")
    table_log.commit_snapshot(mk([(11, "fr", 4)]), src, mode="append")
    matview.refresh_aggregate(spark, src, mv, ["lang"], spec)
    check()

    # idempotent at an unchanged watermark (no new view version)
    before = table_log._list_versions(spark, mv)
    matview.refresh_aggregate(spark, src, mv, ["lang"], spec)
    assert table_log._list_versions(spark, mv) == before


def test_matview_avg_delta_refresh_equals_full_recompute(spark, tmp_path):
    """avg is stored as its additive sum/count pair and surfaced as
    the ratio by read_aggregate — pinned against a from-scratch
    F.avg after insert-only folds, a delete-dirty recompute, and an
    all-NULL group (AVG -> NULL, never 0/0)."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import matview, table_log

    src, mv = str(tmp_path / "asrc"), str(tmp_path / "amv")
    spec = {"n": ("count", "doc_id"), "mean_v": ("avg", "v")}

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, lang string, v long")

    def check():
        got = sorted(
            map(repr, matview.read_aggregate(spark, mv)
                .select("lang", "n", "mean_v").collect())
        )
        exp = sorted(
            map(repr, table_log.read_snapshot(spark, src)
                .groupBy("lang")
                .agg(F.count("doc_id").alias("n"), F.avg("v").alias("mean_v"))
                .collect())
        )
        assert got == exp

    # bootstrap incl. an all-NULL-v group (sv)
    table_log.commit_snapshot(
        mk([(1, "en", 5), (2, "en", 9), (3, "fr", 1), (4, "sv", None)]), src
    )
    matview.refresh_aggregate(spark, src, mv, ["lang"], spec)
    check()
    # additive fold: inserts only, including a NULL into a live group
    table_log.commit_snapshot(
        mk([(5, "en", 2), (6, "sv", None), (7, "fr", None)]), src, mode="append"
    )
    matview.refresh_aggregate(spark, src, mv, ["lang"], spec)
    check()
    # delete-dirty recompute path
    table_log.delete_snapshot(spark, src, "doc_id = 2")
    matview.refresh_aggregate(spark, src, mv, ["lang"], spec)
    check()


def test_matview_guards(spark, tmp_path):
    import pytest as _pytest

    from etl_property_rumah123_spark.sinks import matview, table_log

    src, mv = str(tmp_path / "s2"), str(tmp_path / "m2")
    df = spark.createDataFrame([(1, "en", 2)], "doc_id long, lang string, v long")
    table_log.commit_snapshot(df, src)
    with _pytest.raises(ValueError, match="fn must be"):
        matview.refresh_aggregate(
            spark, src, mv, ["lang"], {"a": ("median", "v")}
        )
    with _pytest.raises(ValueError, match="non-empty"):
        matview.refresh_aggregate(spark, src, mv, [], {"a": ("sum", "v")})
    with _pytest.raises(ValueError, match="collides"):
        matview.refresh_aggregate(
            spark, src, mv, ["lang"], {"lang": ("sum", "v")}
        )
    # a plain snapshot table is not a maintained view
    table_log.commit_snapshot(df, mv)
    with _pytest.raises(ValueError, match="watermark"):
        matview.refresh_aggregate(
            spark, src, mv, ["lang"], {"a": ("sum", "v")}
        )


def test_matview_stream_writer_exactly_once(spark, tmp_path):
    """Streaming materialized view: micro-batches commit to the
    source snapshot table (batch-id stamped) and the view refreshes
    per batch; a FULL REPLAY from a fresh checkpoint changes neither;
    a refresh skipped by a crash is caught up by the next batch."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import matview, table_log

    src_tbl = str(tmp_path / "src_tbl")
    mv = str(tmp_path / "mv")
    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    schema = "k long, lang string, v long"
    spec = {"n": ("count", "k"), "tot": ("sum", "v"), "hi": ("max", "v")}

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(feed_dir))

    def run(checkpoint):
        q = (
            spark.readStream.schema(schema)
            .parquet(str(feed_dir))
            .writeStream.foreachBatch(
                matview.matview_stream_writer(src_tbl, mv, ["lang"], spec)
            )
            .option("checkpointLocation", str(tmp_path / checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def view_rows():
        return sorted(map(repr, matview.read_aggregate(spark, mv).collect()))

    def expect():
        full = matview._aggregate(
            table_log.read_snapshot(spark, src_tbl), ["lang"], spec
        )
        return sorted(
            map(repr, full.filter(F.col("_mv_n") > 0).drop("_mv_n").collect())
        )

    feed([(1, "en", 5), (2, "fr", 3)])
    run("cp1")
    assert view_rows() == expect()

    feed([(3, "en", 9), (4, "de", 1)])
    run("cp1")
    assert view_rows() == expect()

    # full replay from a fresh checkpoint: both layers skip
    versions_before = len(table_log.history(spark, src_tbl))
    before = view_rows()
    run("cp_replay")
    assert view_rows() == before
    assert len(table_log.history(spark, src_tbl)) == versions_before

    # a source commit that BYPASSED the stream sink (maintenance
    # delete) is caught up by the next streamed batch's refresh
    table_log.delete_snapshot(spark, src_tbl, "lang = 'fr'")
    feed([(5, "zh", 2)])
    run("cp1")
    got = view_rows()
    assert got == expect()
    assert not any("'fr'" in r for r in got)


def test_matview_approx_distinct_hll(spark, tmp_path):
    """approx_distinct maintenance: insert deltas MERGE sketches (HLL
    union is the insert-monotone fold), deletes force the dirty-group
    sketch recompute — at these cardinalities the estimate is exact,
    so it must track COUNT(DISTINCT) through both paths."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import matview, table_log

    src, mv = str(tmp_path / "s3"), str(tmp_path / "m3")
    spec = {"nd": ("approx_distinct", "u"), "tot": ("sum", "v")}

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, lang string, u string, v long")

    def check():
        got = sorted(
            map(
                tuple,
                matview.read_aggregate(spark, mv, {"nd": "n_distinct"})
                .select("lang", "tot", "n_distinct")
                .collect(),
            )
        )
        exp = sorted(
            map(
                tuple,
                table_log.read_snapshot(spark, src)
                .groupBy("lang")
                .agg(F.sum("v").alias("tot"), F.count_distinct("u").alias("nd"))
                .collect(),
            )
        )
        assert got == exp

    table_log.commit_snapshot(mk([(1, "en", "a", 1), (2, "en", "b", 2), (3, "fr", "a", 3)]), src)
    matview.refresh_aggregate(spark, src, mv, ["lang"], spec)
    check()
    # additive path: new + repeated values union into the sketch
    table_log.commit_snapshot(mk([(4, "en", "b", 4), (5, "en", "c", 5)]), src, mode="append")
    matview.refresh_aggregate(spark, src, mv, ["lang"], spec)
    check()
    # delete path: a value vanishing entirely must DROP the estimate
    # (sketches cannot subtract — the dirty recompute handles it)
    table_log.delete_snapshot(spark, src, "u = 'b'")
    matview.refresh_aggregate(spark, src, mv, ["lang"], spec)
    check()


def test_matview_dirty_recompute_prunes_source_files(spark, tmp_path):
    """The refresh's dirty-group source re-read composes with manifest
    data skipping: dirty-key bounds become file predicates, so a
    delete confined to one band leaves the other bands' files
    unscanned — and null group keys disable pruning rather than break
    the recompute."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import matview, table_log

    src, mv = str(tmp_path / "s4"), str(tmp_path / "m4")
    spec = {"tot": ("sum", "v"), "hi": ("max", "v")}
    # three band-disjoint single-file commits: band = k // 100
    for lo in (0, 100, 200):
        df = spark.range(lo, lo + 100).select(
            (F.col("id") / 100).cast("long").alias("band"),
            F.col("id").alias("k"),
            (F.col("id") % 9).alias("v"),
        ).coalesce(1)
        table_log.commit_snapshot(df, src, mode="append")
    matview.refresh_aggregate(spark, src, mv, ["band"], spec)

    # delete inside band 2 only -> dirty = {2}; the bounds envelope
    # [2, 2] must prune the band-0/1 files from the recompute read
    table_log.delete_snapshot(spark, src, "k = 250")
    dirty = spark.createDataFrame([(2,)], "band long")
    preds = matview._dirty_bounds_predicates(spark, src, dirty, ["band"])
    assert preds == [("band", ">=", 2), ("band", "<=", 2)]
    pruned = table_log.read_snapshot(spark, src, predicates=preds)
    assert len(pruned.inputFiles()) < len(
        table_log.read_snapshot(spark, src).inputFiles()
    )
    # and the refresh using that path stays exact
    matview.refresh_aggregate(spark, src, mv, ["band"], spec)
    got = sorted(map(repr, matview.read_aggregate(spark, mv).collect()))
    full = matview._aggregate(table_log.read_snapshot(spark, src), ["band"], spec)
    exp = sorted(map(repr, full.filter(F.col("_mv_n") > 0).drop("_mv_n").collect()))
    assert got == exp

    # null group key in the dirty set -> no predicates (conservative)
    nd = spark.createDataFrame([(None,), (1,)], "band long")
    assert matview._dirty_bounds_predicates(spark, src, nd, ["band"]) is None


def test_snapshot_deletion_vectors_merge_on_read(spark, tmp_path):
    """Merge-on-read DELETE via deletion vectors: delete_snapshot_dv
    marks row positions without rewriting any data file (manifest
    carries the same files + a DV list), reads suppress exactly the
    marked rows, time travel still sees them, appends carry the DVs,
    DV deletes accumulate, CDF emits the DV'd rows as deletes, compact
    MATERIALIZES the DVs (clears the debt, content unchanged), CoW
    writers refuse while DVs are outstanding, and vacuum keeps live DV
    parquet."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "dv_table")
    df = spark.range(0, 20).withColumnRenamed("id", "k").withColumn(
        "grp", (F.col("k") % 4).cast("long")
    ).repartition(4)
    v0 = table_log.commit_snapshot(df, t, mode="append")
    m0 = table_log._manifest(spark, t, v0)

    def ks(d):
        return sorted(r["k"] for r in d.collect())

    # DV delete: rows gone from the live read, NO data file rewritten
    v1 = table_log.delete_snapshot_dv(spark, t, "grp = 1")
    m1 = table_log._manifest(spark, t, v1)
    assert m1["files"] == m0["files"]  # zero write amplification
    assert m1["operation"] == "delete_dv" and m1["n_deleted"] == 5
    assert len(m1.get("dvs", [])) >= 1
    assert ks(table_log.read_snapshot(spark, t)) == [
        k for k in range(20) if k % 4 != 1
    ]
    # time travel: the pre-delete version still has every row
    assert ks(table_log.read_snapshot(spark, t, v0)) == list(range(20))

    # predicates (manifest data skipping) compose with the DV read
    assert ks(
        table_log.read_snapshot(spark, t, predicates=[("k", "<", 8)])
    ) == [0, 2, 3, 4, 6, 7]

    # appends carry the DVs; a second DV delete accumulates
    v2 = table_log.commit_snapshot(
        spark.range(100, 104).withColumnRenamed("id", "k").withColumn(
            "grp", F.lit(1).cast("long")
        ),
        t,
        mode="append",
    )
    assert table_log._manifest(spark, t, v2)["dvs"] == m1["dvs"]
    v3 = table_log.delete_snapshot_dv(spark, t, "k >= 102")
    m3 = table_log._manifest(spark, t, v3)
    assert len(m3["dvs"]) > len(m1["dvs"]) and m3["n_deleted"] == 2
    live = [k for k in range(20) if k % 4 != 1] + [100, 101]
    assert ks(table_log.read_snapshot(spark, t)) == live

    # CDF: the DV steps surface exactly the deleted rows
    ch = table_log.read_changes(spark, t, from_version=v0, to_version=v1)
    assert sorted(
        r["k"] for r in ch.filter("_change_type = 'delete'").collect()
    ) == [1, 5, 9, 13, 17]
    assert ch.filter("_change_type = 'insert'").count() == 0

    # CoW writers are DV-AWARE: a merge while DVs are outstanding
    # rewrites from the LIVE view — the file holding k=0 also held
    # DV'd rows (k=1 etc.), and the rewrite must not resurrect them —
    # and carries the DV list (stale entries no-op)
    table_log.merge_snapshot(
        spark.createDataFrame([(0, 9)], "k long, grp long"), t, key="k"
    )
    assert ks(table_log.read_snapshot(spark, t)) == live  # 0 updated in place
    assert {
        r["grp"]
        for r in table_log.read_snapshot(spark, t).filter("k = 0").collect()
    } == {9}
    m_merge = table_log._manifest(
        spark, t, table_log._list_versions(spark, t)[-1]
    )
    assert m_merge["dvs"] == m3["dvs"]  # carried unchanged

    # compact materializes: same live content, no dvs, debt cleared
    v4 = table_log.compact_snapshot(spark, t, target_files=2)
    m4 = table_log._manifest(spark, t, v4)
    assert "dvs" not in m4 and m4["materialized_dvs"] == len(m3["dvs"])
    assert ks(table_log.read_snapshot(spark, t)) == live
    # CDF from v3 to the compact spans the DV-aware merge: exactly
    # the k=0 update pair — and NOT re-deletes of rows the DVs had
    # already suppressed in the rewritten file (the live-diff rule)
    ch_all = table_log.read_changes(spark, t, from_version=v3, to_version=v4)
    assert sorted(
        (r["k"], r["_change_type"]) for r in ch_all.collect()
    ) == [(0, "delete"), (0, "insert")]
    # CoW delete works again post-compact
    table_log.delete_snapshot(spark, t, "k = 0")
    assert ks(table_log.read_snapshot(spark, t)) == live[1:]

    # vacuum keeps the latest version readable (DV files of kept
    # versions are live; here DVs are already materialized)
    table_log.vacuum(spark, t, keep_last=1, min_age_s=0)
    assert ks(table_log.read_snapshot(spark, t)) == live[1:]


def test_snapshot_dv_files_survive_vacuum_when_live(spark, tmp_path):
    """A vacuum running while DVs are OUTSTANDING must not reap the DV
    parquet the kept manifest references (they live under data/ like
    any commit dir)."""
    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "dv_vac")
    table_log.commit_snapshot(
        spark.range(0, 10).withColumnRenamed("id", "k"), t, mode="append"
    )
    table_log.delete_snapshot_dv(spark, t, "k < 3")
    table_log.vacuum(spark, t, keep_last=1, min_age_s=0)
    assert sorted(
        r["k"] for r in table_log.read_snapshot(spark, t).collect()
    ) == list(range(3, 10))


def test_snapshot_merge_on_read_upsert(spark, tmp_path):
    """merge_snapshot_mor: matched keys' old versions are DV'd, the
    batch appends as new files, nothing is rewritten, and one atomic
    manifest carries both; the live read is a last-write-wins upsert,
    CDF emits delete+insert pairs for updated keys and pure inserts
    for new ones, and compact materializes to a clean CoW-mergeable
    table."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "mor_table")
    base = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")
    )
    v0 = table_log.commit_snapshot(base.repartition(3), t, mode="append")
    m0 = table_log._manifest(spark, t, v0)

    batch = spark.createDataFrame(
        [(3, 999), (7, 777), (100, 1)], "k long, val long"
    )
    v1 = table_log.merge_snapshot_mor(batch, t, key="k")
    m1 = table_log._manifest(spark, t, v1)
    # every v0 file carried by reference; batch files appended; DVs on
    assert set(m0["files"]) <= set(m1["files"])
    assert m1["operation"] == "merge_mor" and len(m1["dvs"]) >= 1

    got = {
        r["k"]: r["val"]
        for r in table_log.read_snapshot(spark, t).collect()
    }
    want = {k: k * 10 for k in range(10)} | {3: 999, 7: 777, 100: 1}
    assert got == want
    # time travel unaffected
    assert table_log.read_snapshot(spark, t, v0).count() == 10

    # CDF: updated keys emit delete+insert, fresh key only insert
    ch = table_log.read_changes(spark, t, from_version=v0)
    dels = {
        r["k"] for r in ch.filter("_change_type = 'delete'").collect()
    }
    ins = {r["k"] for r in ch.filter("_change_type = 'insert'").collect()}
    assert dels == {3, 7} and ins == {3, 7, 100}

    # repeated MoR merges accumulate; compact materializes the debt
    table_log.merge_snapshot_mor(
        spark.createDataFrame([(3, 1000)], "k long, val long"), t, key="k"
    )
    v3 = table_log.compact_snapshot(spark, t, target_files=2)
    m3 = table_log._manifest(spark, t, v3)
    assert "dvs" not in m3
    got3 = {
        r["k"]: r["val"]
        for r in table_log.read_snapshot(spark, t).collect()
    }
    assert got3 == want | {3: 1000}
    # post-compact the CoW merge works again
    table_log.merge_snapshot(
        spark.createDataFrame([(0, -1)], "k long, val long"), t, key="k"
    )
    assert {
        r["val"]
        for r in table_log.read_snapshot(spark, t).filter("k = 0").collect()
    } == {-1}


def test_snapshot_stream_writer_mor_upsert_exactly_once(spark, tmp_path):
    """Streaming MERGE-ON-READ sink (snapshot_stream_writer mor=True):
    each micro-batch upserts by key with zero file rewrites (DV +
    append under one stamped manifest), replay from a fresh checkpoint
    is skipped by the batch-id stamp, and a final compact retires the
    DV debt without changing the upserted content."""
    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "mor_stream_table")
    src = tmp_path / "mor_stream_src"
    src.mkdir()
    schema = "k long, v string"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    def run(checkpoint):
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .writeStream.foreachBatch(
                table_log.snapshot_stream_writer(t, key="k", mor=True)
            )
            .option("checkpointLocation", str(tmp_path / checkpoint))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    feed([(1, "a"), (2, "b")])
    run("cp1")
    feed([(2, "B"), (3, "c")])  # update + insert
    run("cp1")

    def rows():
        return sorted(
            (r["k"], r["v"])
            for r in table_log.read_snapshot(spark, t).collect()
        )

    assert rows() == [(1, "a"), (2, "B"), (3, "c")]
    hist = table_log.history(spark, t)
    m_last = table_log._manifest(spark, t, hist[-1]["version"])
    assert m_last["operation"] == "merge_mor" and m_last.get("dvs")
    n_versions = len(hist)

    # fresh checkpoint replays both batches; stamp skips them all
    run("cp_replay")
    assert rows() == [(1, "a"), (2, "B"), (3, "c")]
    assert len(table_log.history(spark, t)) == n_versions

    # compaction retires the DVs, content identical
    table_log.compact_snapshot(spark, t, target_files=1)
    assert rows() == [(1, "a"), (2, "B"), (3, "c")]
    assert "dvs" not in table_log._manifest(
        spark, t, table_log.history(spark, t)[-1]["version"]
    )


def test_matview_over_dv_and_mor_source(spark, tmp_path):
    """Materialized-aggregate maintenance composes with the
    merge-on-read source ops: a DV delete (dirty-group exact
    recompute incl. a deleted extreme), a MoR upsert (delete+insert
    pair for the updated key), and the compaction that materializes
    the DVs (a no-op for the view) must each leave the view equal to
    a from-scratch aggregate."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import matview, table_log

    src, mv = str(tmp_path / "src_dv"), str(tmp_path / "mv_dv")
    spec = {
        "n": ("count", "doc_id"),
        "tot": ("sum", "v"),
        "lo": ("min", "v"),
        "hi": ("max", "v"),
    }

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, lang string, v long")

    def check():
        got = sorted(map(repr, matview.read_aggregate(spark, mv).collect()))
        full = matview._aggregate(
            table_log.read_snapshot(spark, src), ["lang"], spec
        )
        exp = sorted(
            map(repr, full.filter(F.col("_mv_n") > 0).drop("_mv_n").collect())
        )
        assert got == exp

    table_log.commit_snapshot(
        mk([(1, "en", 5), (2, "en", 9), (3, "fr", 1), (4, "de", 7)]), src
    )
    matview.refresh_aggregate(spark, src, mv, ["lang"], spec)
    check()

    # DV delete removes en's max: dirty-group recompute must fire
    table_log.delete_snapshot_dv(spark, src, "doc_id = 2")
    matview.refresh_aggregate(spark, src, mv, ["lang"], spec)
    check()

    # MoR upsert: update en's remaining row + a fresh zh group
    table_log.merge_snapshot_mor(
        mk([(1, "en", 50), (9, "zh", 3)]), src, key="doc_id"
    )
    matview.refresh_aggregate(spark, src, mv, ["lang"], spec)
    check()

    # compaction materializes the DVs — live content unchanged, so
    # the refresh is a watermark-only step with no value change
    table_log.compact_snapshot(spark, src, target_files=1)
    matview.refresh_aggregate(spark, src, mv, ["lang"], spec)
    check()


def test_maybe_compact_dvs_governor(spark, tmp_path):
    """The DV-debt governor: dv_rows accumulates across DV deletes,
    MoR merges, and carries through appends and CoW rewrites (stale
    entries still ride the read broadcast, so they still count);
    maybe_compact_dvs is a no-op under the threshold and compacts —
    clearing the debt — above it."""
    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "gov")
    table_log.commit_snapshot(
        spark.range(0, 30).withColumnRenamed("id", "k"), t
    )
    table_log.delete_snapshot_dv(spark, t, "k < 5")  # 5 rows
    table_log.merge_snapshot_mor(
        spark.createDataFrame([(7, ), (99, )], "k long"), t, key="k"
    )  # marks 1 (k=7)
    table_log.commit_snapshot(
        spark.range(200, 205).withColumnRenamed("id", "k"), t, mode="append"
    )

    def latest():
        return table_log._manifest(
            spark, t, table_log._list_versions(spark, t)[-1]
        )

    assert latest()["dv_rows"] == 6
    assert table_log.maybe_compact_dvs(spark, t, max_dv_rows=10) is None
    assert latest()["dv_rows"] == 6  # untouched
    v = table_log.maybe_compact_dvs(
        spark, t, max_dv_rows=5, target_files=2
    )
    assert v is not None
    m = latest()
    assert "dvs" not in m and m.get("dv_rows", 0) == 0
    got = sorted(
        r["k"] for r in table_log.read_snapshot(spark, t).collect()
    )
    assert got == sorted(set(range(5, 30)) | {99} | set(range(200, 205)))


def test_snapshot_equality_deletes(spark, tmp_path):
    """Equality deletes (the Iceberg-v2 second MoR delete shape):
    O(keys) written with NO data scan at commit; suppression is
    scoped to the files present at delete time, so a later append
    re-introduces the key; reads, CDF, composition with position DVs,
    CoW-merge carry, compact materialization, and the shared dv_rows
    debt all hold."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "eq_table")
    table_log.commit_snapshot(
        spark.range(0, 12).withColumnRenamed("id", "k").withColumn(
            "v", F.col("k") * 10
        ),
        t,
    )

    def ks():
        return sorted(
            r["k"] for r in table_log.read_snapshot(spark, t).collect()
        )

    v1 = table_log.delete_snapshot_eq(
        spark, t, "k", spark.createDataFrame([(3,), (7,), (99,)], "k long")
    )
    m1 = table_log._manifest(spark, t, v1)
    assert m1["operation"] == "delete_eq" and m1["dv_rows"] == 3
    assert ks() == [0, 1, 2, 4, 5, 6, 8, 9, 10, 11]
    assert table_log.read_snapshot(spark, t, 0).count() == 12  # time travel

    # scoping: re-appending a deleted key later SURVIVES
    table_log.commit_snapshot(
        spark.createDataFrame([(3, 333)], "k long, v long"), t, mode="append"
    )
    assert 3 in ks()
    # CDF for the eq step: exactly the matched scoped rows
    ch = table_log.read_changes(spark, t, from_version=0, to_version=v1)
    assert sorted((r["k"], r["_change_type"]) for r in ch.collect()) == [
        (3, "delete"),
        (7, "delete"),
    ]

    # composes with a position DV and a DV-aware CoW merge
    table_log.delete_snapshot_dv(spark, t, "k = 5")
    table_log.merge_snapshot(
        spark.createDataFrame([(0, -1)], "k long, v long"), t, key="k"
    )
    m = table_log._manifest(spark, t, table_log._list_versions(spark, t)[-1])
    assert m.get("eq_dvs") and m.get("dvs")  # both kinds carried
    assert ks() == [0, 1, 2, 3, 4, 6, 8, 9, 10, 11]
    assert {
        r["v"]
        for r in table_log.read_snapshot(spark, t).filter("k = 0").collect()
    } == {-1}

    # compact materializes BOTH kinds; governor debt clears
    table_log.compact_snapshot(spark, t, target_files=1)
    m_c = table_log._manifest(spark, t, table_log._list_versions(spark, t)[-1])
    assert "eq_dvs" not in m_c and "dvs" not in m_c
    assert m_c["materialized_eq_dvs"] == 1
    assert ks() == [0, 1, 2, 3, 4, 6, 8, 9, 10, 11]


def test_snapshot_mor_eq_upsert_zero_read_commit(spark, tmp_path):
    """merge_snapshot_mor(eq=True): the batch's keys ARE the delete —
    commit reads NOTHING of the existing table (cost independent of
    table size). Repeated eq-upserts stay last-write-wins because each
    entry's scope covers the PRIOR version's files including earlier
    batches; compact materializes everything."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "mor_eq")
    table_log.commit_snapshot(
        spark.range(0, 8).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
        t,
    )
    table_log.merge_snapshot_mor(
        spark.createDataFrame([(2, 222), (9, 9)], "k long, v long"),
        t, key="k", eq=True,
    )

    def got():
        return {
            r["k"]: r["v"]
            for r in table_log.read_snapshot(spark, t).collect()
        }

    want = {k: k * 10 for k in range(8)} | {2: 222, 9: 9}
    assert got() == want
    # second eq-upsert updates a key the FIRST eq-batch introduced:
    # entry 2's scope includes entry 1's appended files
    table_log.merge_snapshot_mor(
        spark.createDataFrame([(9, 99)], "k long, v long"),
        t, key="k", eq=True,
    )
    want[9] = 99
    assert got() == want
    m = table_log._manifest(spark, t, table_log._list_versions(spark, t)[-1])
    assert m["operation"] == "merge_mor" and len(m["eq_dvs"]) == 2
    assert m["dv_rows"] == 3  # 2 + 1 keys marked
    # CDF of the second upsert: delete+insert pair for k=9 only
    ch = table_log.read_changes(
        spark, t, from_version=m["version"] - 1, to_version=m["version"]
    )
    assert sorted(
        (r["k"], r["_change_type"]) for r in ch.collect()
    ) == [(9, "delete"), (9, "insert")]
    table_log.compact_snapshot(spark, t, target_files=1)
    assert got() == want
    m2 = table_log._manifest(spark, t, table_log._list_versions(spark, t)[-1])
    assert "eq_dvs" not in m2


def test_snapshot_stream_writer_mor_eq(spark, tmp_path):
    """The streaming sink's cheapest upsert mode (mor=True,
    mor_eq=True): per-batch commit cost independent of table size,
    exactly-once via the batch-id stamp, correct last-write-wins
    across batches and a replay."""
    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "mor_eq_stream")
    src = tmp_path / "mor_eq_src"
    src.mkdir()
    schema = "k long, v string"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))

    def run(cp):
        q = (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .writeStream.foreachBatch(
                table_log.snapshot_stream_writer(
                    t, key="k", mor=True, mor_eq=True
                )
            )
            .option("checkpointLocation", str(tmp_path / cp))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    feed([(1, "a"), (2, "b")])
    run("cp1")
    feed([(2, "B"), (3, "c")])
    run("cp1")
    rows = sorted(
        (r["k"], r["v"]) for r in table_log.read_snapshot(spark, t).collect()
    )
    assert rows == [(1, "a"), (2, "B"), (3, "c")]
    n = len(table_log.history(spark, t))
    run("cp_replay")  # full replay: stamp skips everything
    assert len(table_log.history(spark, t)) == n
    assert sorted(
        (r["k"], r["v"]) for r in table_log.read_snapshot(spark, t).collect()
    ) == rows


def test_table_log_random_op_sequences_match_model(spark, tmp_path):
    """Model-based stateful check of the whole MoR/CoW surface: a
    random interleaving of append / CoW merge / CoW delete / position
    DV delete / equality delete / MoR upsert (both marking modes) /
    compact is mirrored on a plain dict, and after EVERY op the live
    read equals the model — the invariant that all the delete shapes,
    scopes, carries, and materializations compose in any order."""
    import random

    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    rng = random.Random(61)
    t = str(tmp_path / "model_table")
    model: dict[int, int] = {}
    next_id = 0

    def fresh(n):
        nonlocal next_id
        ids = list(range(next_id, next_id + n))
        next_id += n
        return ids

    def mkdf(pairs):
        return spark.createDataFrame(list(pairs), "k long, v long")

    def some_keys():
        pool = list(model) or [0]
        picked = rng.sample(pool, k=min(len(pool), rng.randint(1, 3)))
        if rng.random() < 0.5:
            picked += fresh(1)
        return picked

    # seed commit
    ks0 = fresh(6)
    model.update({k: k * 100 for k in ks0})
    table_log.commit_snapshot(mkdf([(k, k * 100) for k in ks0]), t)

    ops = ["append", "cow_merge", "cow_delete", "dv_delete",
           "eq_delete", "mor", "mor_eq", "compact"]
    for step in range(24):
        op = rng.choice(ops)
        if op == "append":
            ks = fresh(rng.randint(1, 3))
            rows = [(k, k * 100 + step) for k in ks]
            model.update(dict(rows))
            table_log.commit_snapshot(mkdf(rows), t, mode="append")
        elif op == "cow_merge":
            rows = [(k, step * 1000 + k) for k in some_keys()]
            model.update(dict(rows))
            table_log.merge_snapshot(mkdf(rows), t, key="k")
        elif op == "cow_delete":
            m = rng.randint(2, 5)
            r = rng.randint(0, m - 1)
            model = {k: v for k, v in model.items() if k % m != r}
            table_log.delete_snapshot(spark, t, f"k % {m} = {r}")
        elif op == "dv_delete":
            m = rng.randint(2, 5)
            r = rng.randint(0, m - 1)
            model = {k: v for k, v in model.items() if k % m != r}
            table_log.delete_snapshot_dv(spark, t, f"k % {m} = {r}")
        elif op == "eq_delete":
            ks = rng.sample(list(model) or [0], k=min(len(model), 2)) or [0]
            for k in ks:
                model.pop(k, None)
            table_log.delete_snapshot_eq(
                spark, t, "k", spark.createDataFrame([(k,) for k in ks], "k long")
            )
        elif op in ("mor", "mor_eq"):
            rows = [(k, step * 1000 + k) for k in some_keys()]
            model.update(dict(rows))
            table_log.merge_snapshot_mor(
                mkdf(rows), t, key="k", eq=(op == "mor_eq")
            )
        else:  # compact
            table_log.compact_snapshot(spark, t, target_files=2)
        got = {
            r["k"]: r["v"]
            for r in table_log.read_snapshot(spark, t).collect()
        }
        assert got == model, f"divergence after step {step} ({op})"
    # closing compact + vacuum leave the final state intact
    table_log.compact_snapshot(spark, t, target_files=1)
    table_log.vacuum(spark, t, keep_last=1, min_age_s=0)
    got = {
        r["k"]: r["v"] for r in table_log.read_snapshot(spark, t).collect()
    }
    assert got == model


def test_read_snapshot_multi_matches_per_version_reads(spark, tmp_path):
    """read_snapshot_multi (round 11): one scan serving many versions
    — each distinct file read once, rows tagged/exploded by the
    versions they are live in — must return EXACTLY the union of
    per-version read_snapshot results for every version across the
    full op surface (append, CoW merge, position-DV delete, equality
    deletes, consolidation, compact), including versions whose eq
    scopes and DV sets differ."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "multi")
    df = spark.range(0, 200).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    ).repartition(4)
    table_log.commit_snapshot(df, t)  # v0
    table_log.commit_snapshot(  # v1 append
        spark.range(200, 260).selectExpr("id AS k", "id * 10 AS v"),
        t, mode="append",
    )
    table_log.merge_snapshot(  # v2 CoW merge
        spark.createDataFrame(
            [(k, 7777) for k in range(0, 100, 5)], "k long, v long"
        ),
        t, key="k",
    )
    table_log.delete_snapshot_dv(spark, t, "k % 10 = 3")  # v3
    table_log.delete_snapshot_eq(  # v4
        spark, t, "k",
        spark.createDataFrame([(k,) for k in range(0, 50, 7)], "k long"),
    )
    table_log.commit_snapshot(  # v5: append AFTER the eq delete — its
        # new files are OUT of the eq scope, so a re-introduced key
        # must be live in v5 but dead in v4
        spark.createDataFrame([(0, 1), (7, 2)], "k long, v long"),
        t, mode="append",
    )
    table_log.delete_snapshot_eq(  # v6: second entry, different scope
        spark, t, "k",
        spark.createDataFrame([(11,), (0,)], "k long"),
    )
    table_log.compact_snapshot(spark, t, target_files=2)  # v7

    versions = table_log._list_versions(spark, t)
    assert len(versions) == 8
    multi = table_log.read_snapshot_multi(spark, t, versions)
    got: dict[int, list] = {v: [] for v in versions}
    for r in multi.collect():
        got[r["__version"]].append((r["k"], r["v"]))
    for v in versions:
        want = sorted(
            (r["k"], r["v"])
            for r in table_log.read_snapshot(spark, t, v).collect()
        )
        assert sorted(got[v]) == want, f"version {v} diverges"
    # the whole thing was ONE scan of the distinct files: the plan
    # reads each parquet file exactly once
    files = multi.inputFiles()
    data_files = [f for f in files if "/data/" in f]
    assert len(data_files) == len(set(data_files))

    # version validation stays loud
    with pytest.raises(ValueError, match="version 99"):
        table_log.read_snapshot_multi(spark, t, [0, 99])
    with pytest.raises(ValueError, match="empty"):
        table_log.read_snapshot_multi(spark, t, [])


def test_table_log_schema_evolution_fuzz_matches_model(
    spark, tmp_path, monkeypatch
):
    """ROUND 11 (VERDICT #7): the model-based op interleaving EXTENDED
    with column add / drop / rename between commits. ROUND 12
    (VERDICT #2): the TABLE-PROPERTY family (constraints, write_order,
    bloom_cols) joins the model — properties are declared/cleared on
    evolving columns, and when an evolution op drops/renames a
    referenced column, the pinned semantics are: every write fails
    loud until the properties are retired in the same commit.
    Contract under evolution: writes carry whatever columns are
    active at their step;
    a merged/upserted key takes the batch's schema (absent columns
    read NULL); carried and compacted rows keep every column they ever
    had; `read_snapshot(merge_schema=True)` surfaces the union schema.
    After EVERY op the live read equals the dict model. Then the two
    downstream surfaces must survive the same history: the change feed
    (read_changes) nets to exactly the live-minus-seed key set across
    the evolved versions, and an incrementally-maintained matview
    (refresh_aggregate, which consumes the feed) matches a direct
    recompute."""
    import random

    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import matview, table_log

    rng = random.Random(1106)
    t = str(tmp_path / "evo")
    mv = str(tmp_path / "evo_mv")
    model: dict[int, dict] = {}
    active: list[str] = []  # evolving extra columns (beyond k, v)
    counters = {"col": 0, "id": 0}

    def fresh_keys(n):
        ids = list(range(counters["id"], counters["id"] + n))
        counters["id"] += n
        return ids

    def fresh_col():
        c = f"c{counters['col']}"
        counters["col"] += 1
        return c

    def row_dict(k, step):
        d = {"v": k * 100 + step}
        for i, c in enumerate(active):
            d[c] = k * 1000 + step * 10 + i
        return d

    def mkdf(pairs):  # [(k, dict)] with the CURRENT active columns
        schema = "k long, v long" + "".join(
            f", {c} long" for c in active
        )
        data = [
            (k, d["v"], *[d[c] for c in active]) for k, d in pairs
        ]
        return spark.createDataFrame(data, schema)

    def some_keys():
        pool = list(model) or [0]
        picked = rng.sample(pool, k=min(len(pool), rng.randint(1, 3)))
        if rng.random() < 0.5:
            picked += fresh_keys(1)
        return picked

    # seed
    ks0 = fresh_keys(5)
    seed_rows = [(k, row_dict(k, 0)) for k in ks0]
    model.update(dict(seed_rows))
    table_log.commit_snapshot(mkdf(seed_rows), t)
    seed_keys = set(ks0)
    matview.refresh_aggregate(
        spark, t, mv, ["k"], {"sv": ("sum", "v"), "n": ("count", "v")}
    )

    ops = ["append", "add_col", "drop_col", "rename_col", "cow_merge",
           "mor", "dv_delete", "eq_delete", "compact", "optimize", "wap",
           "props", "props"]
    props_col: str | None = None  # column the property family references
    for step in range(1, 25):
        op = rng.choice(ops)
        if op == "add_col":
            active.append(fresh_col())
            op = "append"  # materialize it immediately
        elif op == "drop_col" and active:
            active.pop(rng.randrange(len(active)))
            op = "append"
        elif op == "rename_col" and active:
            # no in-place rename: drop + add fresh, then update keys
            active.pop(rng.randrange(len(active)))
            active.append(fresh_col())
            op = "cow_merge"
        if op in ("drop_col", "rename_col"):  # nothing active to drop
            op = "append"
        if (
            props_col is not None
            and props_col != "v"
            and props_col not in active
        ):
            # ROUND 12 (VERDICT #2): the evolution just dropped/renamed
            # a column the property family references — the DEFINED
            # semantics: any write fails loud at the evolution op until
            # the properties are retired in the same commit
            ks = fresh_keys(1)
            rows = [(k, row_dict(k, step)) for k in ks]
            with pytest.raises(ValueError, match="property"):
                table_log.commit_snapshot(mkdf(rows), t, mode="append")
            model.update(dict(rows))
            table_log.commit_snapshot(
                mkdf(rows), t, mode="append",
                constraints={}, write_order=[], bloom_cols={},
            )
            props_col = None
            op = "retired_props"  # this step's table op; skip dispatch
        if op == "props":
            # toggle the property family: declare all three on one
            # column (declaration validates EXISTING data — all
            # generated values are >= 0, so it must pass), or clear
            ks = fresh_keys(1)
            rows = [(k, row_dict(k, step)) for k in ks]
            model.update(dict(rows))
            if props_col is None:
                props_col = rng.choice(active + ["v"])
                table_log.commit_snapshot(
                    mkdf(rows), t, mode="append",
                    constraints={"nonneg": f"{props_col} >= 0"},
                    write_order=[props_col],
                    bloom_cols={props_col: 64},
                    count_matched=True,  # round 13: joins the family
                )
            else:
                table_log.commit_snapshot(
                    mkdf(rows), t, mode="append",
                    constraints={}, write_order=[], bloom_cols={},
                    count_matched=False,
                )
                props_col = None
        elif op == "append":
            ks = fresh_keys(rng.randint(1, 3))
            rows = [(k, row_dict(k, step)) for k in ks]
            model.update(dict(rows))
            table_log.commit_snapshot(mkdf(rows), t, mode="append")
        elif op in ("cow_merge", "mor"):
            rows = [(k, row_dict(k, step)) for k in some_keys()]
            model.update(dict(rows))  # batch schema replaces the dict
            if op == "cow_merge":
                table_log.merge_snapshot(mkdf(rows), t, key="k")
            else:
                # eq=True sometimes: with the count_matched PROPERTY
                # declared the entry records matched counts (metadata
                # count), without it the documented scan fallback —
                # the count invariant below must hold either way
                table_log.merge_snapshot_mor(
                    mkdf(rows), t, key="k", eq=rng.random() < 0.4
                )
        elif op == "dv_delete":
            m_, r_ = rng.randint(2, 5), 0
            r_ = rng.randint(0, m_ - 1)
            model = {k: d for k, d in model.items() if k % m_ != r_}
            table_log.delete_snapshot_dv(spark, t, f"k % {m_} = {r_}")
        elif op == "eq_delete":
            ks = rng.sample(list(model) or [0], k=min(len(model), 2)) or [0]
            for k in ks:
                model.pop(k, None)
            table_log.delete_snapshot_eq(
                spark, t, "k",
                spark.createDataFrame([(k,) for k in ks], "k long"),
            )
        elif op == "wap":
            # write-audit-publish is append-shaped for the model
            ks = fresh_keys(rng.randint(1, 2))
            rows = [(k, row_dict(k, step)) for k in ks]
            model.update(dict(rows))
            name = table_log.stage_snapshot(mkdf(rows), t)
            table_log.publish_staged(spark, t, name)
        elif op == "optimize":
            table_log.optimize_snapshot(
                spark, t,
                target_file_bytes=1 << 30, small_file_bytes=1 << 30,
            )
        elif op == "compact":
            table_log.compact_snapshot(spark, t, target_files=2)

        got_df = table_log.read_snapshot(spark, t, merge_schema=True)
        cols = [c for c in got_df.columns if c != "k"]
        got = {
            r["k"]: {c: r[c] for c in cols} for r in got_df.collect()
        }
        want = {
            k: {c: d.get(c) for c in cols} for k, d in model.items()
        }
        assert got == want, f"divergence after step {step} ({op})"
        # ROUND 14: the commit-sidecar schema derivation must be
        # indistinguishable from real footer inference at EVERY
        # evolution state — same schema (field order and types
        # included) for the merged read AND the default
        # (first-footer) read, identical default-read rows, and the
        # SAME failure when the default read is ill-posed (a DV-split
        # snapshot whose subsets evolved apart unions mismatched
        # widths without mergeSchema — a pre-existing property of the
        # default read, with inference and sidecars alike).
        def default_outcome():
            try:
                df_ = table_log.read_snapshot(spark, t)
                key_fn = lambda r: tuple(  # noqa: E731
                    (str(v) if v is not None else "") for v in r
                )
                return (
                    "ok",
                    df_.schema,
                    sorted(df_.collect(), key=key_fn),
                )
            except Exception as ex:
                return ("err", type(ex).__name__)

        got_default = default_outcome()
        # reference: the same reads with the sidecar schema path off,
        # i.e. real footer inference
        with monkeypatch.context() as mp:
            mp.setattr(
                table_log, "_rels_schema", lambda *a, **k: None
            )
            inferred_m = table_log.read_snapshot(
                spark, t, merge_schema=True
            )
            assert got_df.schema == inferred_m.schema, (
                f"merged-read schema drift after step {step} ({op}): "
                f"{got_df.schema} != {inferred_m.schema}"
            )
            inferred_default = default_outcome()
            assert got_default == inferred_default, (
                f"default-read drift after step {step} ({op}): "
                f"{got_default[:2]} != {inferred_default[:2]}"
            )
        # metadata COUNT(*) invariant across every op/evolution state
        # (pure-metadata, DV-subtraction, and eq-fallback paths alike)
        assert table_log.count_snapshot(spark, t) == len(model), (
            f"count_snapshot divergence after step {step} ({op})"
        )

    # change feed across the evolved history: every live key nets to
    # +1 insert vs its seed presence (updates emit cancelling pairs)
    cdf = table_log.read_changes(spark, t, 0)
    net: dict[int, int] = {}
    for r in cdf.select("k", "_change_type").collect():
        net[r["k"]] = net.get(r["k"], 0) + (
            1 if r["_change_type"] == "insert" else -1
        )
    for k in set(net) | set(model) | seed_keys:
        expected = (1 if k in model else 0) - (1 if k in seed_keys else 0)
        assert net.get(k, 0) == expected, (k, net.get(k), expected)

    # incrementally-maintained matview over the same feed == recompute
    matview.refresh_aggregate(
        spark, t, mv, ["k"], {"sv": ("sum", "v"), "n": ("count", "v")}
    )
    view = {
        r["k"]: (r["sv"], r["n"])
        for r in matview.read_aggregate(spark, mv).collect()
    }
    assert view == {k: (d["v"], 1) for k, d in model.items()}


def test_snapshot_schema_diff(spark, tmp_path):
    """schema_diff reads only manifests: added/removed/retyped columns
    across schema-evolving commits, the pre-upgrade audit for a
    consumer pinned to an old snapshot."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "drift")
    table_log.commit_snapshot(
        spark.range(3).select(
            F.col("id").alias("k"), F.lit("x").alias("tag")
        ),
        t,
    )
    table_log.commit_snapshot(
        spark.range(3).select(
            F.col("id").alias("k"),
            F.lit(1.5).alias("score"),  # added
            F.lit(7).alias("tag"),  # retyped string -> int
        ),
        t,
        mode="overwrite",
    )
    d = table_log.schema_diff(spark, t, 0, 1)
    assert d["added"] == {"score": "double"}
    assert d["removed"] == {}
    assert d["retyped"] == {"tag": ("string", "int")}
    assert table_log.schema_diff(spark, t, 1, 1) == {
        "added": {}, "removed": {}, "retyped": {}
    }


def test_snapshot_mor_concurrent_writers_serialize(spark, tmp_path):
    """Concurrent MoR writers (disjoint keys) plus a DV delete racing
    on one table: the manifest rename serializes them, losers retry
    against the fresh manifest, and — because merge-on-read never
    rewrites a data file — every position DV stays valid under any
    interleaving. Final state must equal all ops applied."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "mor_race")
    table_log.commit_snapshot(
        spark.range(0, 20).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
        ).repartition(4),
        t,
    )

    def upsert(lo, hi, val, eq):
        table_log.merge_snapshot_mor(
            spark.createDataFrame(
                [(k, val) for k in range(lo, hi)], "k long, v long"
            ),
            t, key="k", eq=eq,
        )

    def dv_del():
        table_log.delete_snapshot_dv(spark, t, "k = 15")

    with ThreadPoolExecutor(max_workers=4) as ex:
        futs = [
            ex.submit(upsert, 0, 5, 1, False),
            ex.submit(upsert, 5, 10, 2, True),
            ex.submit(upsert, 100, 105, 3, False),
            ex.submit(dv_del),
        ]
        for f in futs:
            f.result(timeout=300)

    got = {
        r["k"]: r["v"] for r in table_log.read_snapshot(spark, t).collect()
    }
    want = (
        {k: 0 for k in range(10, 20) if k != 15}
        | {k: 1 for k in range(0, 5)}
        | {k: 2 for k in range(5, 10)}
        | {k: 3 for k in range(100, 105)}
    )
    assert got == want
    # four distinct committed versions on top of v0, whatever the order
    assert len(table_log.history(spark, t)) == 5
    # and compaction folds the whole race into clean files
    table_log.compact_snapshot(spark, t, target_files=2)
    assert {
        r["k"]: r["v"] for r in table_log.read_snapshot(spark, t).collect()
    } == want


def test_snapshot_timestamp_as_of_dry_run_and_history_extras(spark, tmp_path):
    """Three operator utilities: TIMESTAMP-AS-OF time travel resolves
    the latest version at-or-before a wall-clock cut (commit stamps
    recorded atomically in the manifest), vacuum dry_run reports its
    would-delete list without touching anything, and history surfaces
    the per-operation audit fields."""
    import time

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "ts_travel")
    table_log.commit_snapshot(
        spark.range(0, 4).withColumnRenamed("id", "k"), t
    )
    cut = time.time()
    time.sleep(0.05)
    table_log.commit_snapshot(
        spark.range(4, 8).withColumnRenamed("id", "k"), t, mode="append"
    )
    table_log.delete_snapshot_dv(spark, t, "k = 0")

    assert table_log.version_at_timestamp(spark, t, cut) == 0
    assert table_log.read_snapshot(spark, t, timestamp=cut).count() == 4
    assert (
        table_log.read_snapshot(spark, t, timestamp=time.time()).count() == 7
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="existed at"):
        table_log.version_at_timestamp(spark, t, cut - 1e6)
    with _pytest.raises(ValueError, match="not both"):
        table_log.read_snapshot(spark, t, version=0, timestamp=cut)

    # history carries the audit fields
    h = table_log.history(spark, t)
    assert [r["operation"] for r in h] == ["append", "append", "delete_dv"]
    assert all("committed_at" in r for r in h)
    assert h[-1]["condition"] == "k = 0" and h[-1]["n_deleted"] == 1

    # dry-run vacuum: reports, touches nothing
    would = table_log.vacuum(spark, t, keep_last=1, min_age_s=0, dry_run=True)
    assert would  # old manifests + now-unreferenced dirs listed
    assert len(table_log.history(spark, t)) == 3  # nothing deleted
    assert table_log.read_snapshot(spark, t, 0).count() == 4
    # the real vacuum deletes exactly the reported set
    gone = table_log.vacuum(spark, t, keep_last=1, min_age_s=0)
    assert sorted(gone) == sorted(would)
    assert table_log.read_snapshot(spark, t).count() == 7


def test_dv_keys_recorded_in_manifest_and_legacy_fallback(spark, tmp_path):
    """dv_keys is recorded at DV-commit time (delete_snapshot_dv and
    merge_snapshot_mor), equals the distinct file_key set of the DV
    parquet, carries through appends — so reads split clean/DV'd
    files from the manifest with no job — and a manifest WITHOUT the
    field (pre-dv_keys table) still reads via the derive-on-read
    fallback."""
    import json as _json

    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "dvk")
    df = spark.range(0, 20).withColumnRenamed("id", "k").withColumn(
        "grp", (F.col("k") % 4).cast("long")
    ).repartition(4)
    table_log.commit_snapshot(df, t, mode="append")
    v1 = table_log.delete_snapshot_dv(spark, t, "grp = 1")
    m1 = table_log._manifest(spark, t, v1)
    dv_truth = {
        r["file_key"]
        for r in spark.read.parquet(
            *[f"{t}/{rel}" for rel in m1["dvs"]]
        ).select("file_key").distinct().collect()
    }
    assert sorted(dv_truth) == m1["dv_keys"]

    # MoR merge extends the key set; append carries it verbatim
    v2 = table_log.merge_snapshot_mor(
        spark.createDataFrame([(3, 99), (300, 0)], "k long, grp long"),
        t, key="k",
    )
    m2 = table_log._manifest(spark, t, v2)
    assert set(m1["dv_keys"]) <= set(m2["dv_keys"])
    v3 = table_log.commit_snapshot(
        spark.createDataFrame([(500, 0)], "k long, grp long"), t, mode="append"
    )
    assert table_log._manifest(spark, t, v3)["dv_keys"] == m2["dv_keys"]

    live = sorted(
        [k for k in range(20) if k % 4 != 1 and k != 3] + [3, 300, 500]
    )
    assert sorted(
        r["k"] for r in table_log.read_snapshot(spark, t).collect()
    ) == live

    # legacy manifest: strip dv_keys in place -> fallback derive path
    # (rewritten through the module's FS writer so the checksum
    # sidecar stays valid)
    mpath = f"{t}/_log/v{v3}.json"
    raw = _json.loads(open(mpath).read())
    del raw["dv_keys"]
    table_log._write_file(spark, mpath, _json.dumps(raw).encode())
    assert sorted(
        r["k"] for r in table_log.read_snapshot(spark, t, v3).collect()
    ) == live


def test_cow_merge_probe_is_broadcast_join(spark, tmp_path):
    """PLAN PIN for the CoW merge's scale-critical join strategy: the
    touched-file semi join and the carry anti join must probe via a
    BROADCAST of the batch-key side — with auto-broadcast disabled, so
    only the explicit hint can produce it. Without the hint, Spark's
    unknown-size estimate can shuffle the whole table on the key."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    def plan_of(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    base = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit(1).alias("v")
    ).repartition(4)
    t = str(tmp_path / "pin")
    table_log.commit_snapshot(base, t, mode="append")
    prev = table_log._manifest(spark, t, 0)
    tagged = (
        table_log._read_with_row_identity(spark, t, prev)
        .withColumnRenamed("__dv_key", "__file")
        .drop("__dv_pos")
    )
    batch = spark.createDataFrame([(1, 9), (3, 9)], "k long, v long")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        batch_keys, touched_keys = table_log._cow_merge_probe_frames(
            tagged, batch, "k"
        )
        semi_plan = plan_of(touched_keys)
        assert "BroadcastHashJoin" in semi_plan, semi_plan
        assert "SortMergeJoin" not in semi_plan
        carry = (
            tagged.filter(F.col("__file").isNotNull())
            .drop("__file")
            .join(batch_keys, "k", "left_anti")
        )
        anti_plan = plan_of(carry)
        assert "BroadcastHashJoin" in anti_plan, anti_plan
        assert "SortMergeJoin" not in anti_plan

        # same pin for the matview dirty-group recompute probe and the
        # partition-merge carry joins (the other table-sized joins
        # whose small side must broadcast by hint, not by estimate)
        from etl_property_rumah123_spark.sinks import matview, writers

        src = spark.range(0, 200).select(
            (F.col("id") % 5).alias("g"), F.col("id").alias("x")
        )
        dirty = spark.createDataFrame([(1,), (3,)], "g long")
        mv_plan = plan_of(matview._dirty_probe(src, dirty, ["g"]))
        assert "BroadcastHashJoin" in mv_plan, mv_plan
        assert "SortMergeJoin" not in mv_plan

        existing = spark.range(0, 200).select(
            F.col("id").alias("k"), F.lit(1).alias("v")
        )
        wbatch = spark.createDataFrame([(5, 2), (7, 2)], "k long, v long")
        carried, updated = writers._carry_frames(existing, wbatch, ["k"])
        for frame in (carried, updated):
            p = plan_of(frame)
            assert "BroadcastHashJoin" in p, p
            assert "SortMergeJoin" not in p
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", prev_thresh
        )


@pytest.mark.parametrize("footer_stats", [True, False])
def test_data_skipping_nan_columns_never_over_prune(
    spark, tmp_path, monkeypatch, footer_stats
):
    """REGRESSION (round 10): Spark orders NaN above every double
    (NaN >= finite is TRUE), so a naive file max over a NaN-containing
    column is NaN — and the pruner's Python `mx >= val` was then
    False, silently dropping a file that held real matches. Both stats
    paths must return exactly the right ROWS for every op; the file
    counts differ by design — the job path encodes NaN as +Infinity
    (tight: an all-NaN file is skippable for </<=/finite =), while the
    footer path omits NaN-invalidated columns (conservative: NaN
    files are never pruned on that column)."""
    from etl_property_rumah123_spark.sinks import table_log

    monkeypatch.setattr(table_log, "FOOTER_STATS", footer_stats)
    t = str(tmp_path / f"nan_{footer_stats}")
    for rows in ([(1, 1.0), (2, float("nan"))], [(3, float("nan"))], [(4, 5.0)]):
        table_log.commit_snapshot(
            spark.createDataFrame(rows, "k long, v double").coalesce(1),
            t,
            mode="append",
        )

    def got(op, val):
        pruned = table_log.read_snapshot(spark, t, predicates=[("v", op, val)])
        op_sql = "==" if op == "=" else op
        return (
            sorted(
                r["k"]
                for r in pruned.filter(F.expr(f"v {op_sql} {val}")).collect()
            ),
            len(pruned.inputFiles()),
        )

    # Spark semantics: NaN satisfies > and >= against any finite value.
    # Files: A=(1.0, NaN), B=(all NaN), C=(5.0). Footer path keeps A
    # and B on every v predicate (column omitted); job path's NaN->inf
    # encoding additionally skips B for </<=/finite = and A for <=0.5.
    assert got(">=", 0.5) == ([1, 2, 3, 4], 3)
    assert got(">", 2.0) == ([2, 3, 4], 3)  # the 1.0/NaN file must stay
    assert got("<", 2.0) == ([1], 2 if footer_stats else 1)
    assert got("=", 5.0) == ([4], 3 if footer_stats else 2)
    assert got("<=", 0.5) == ([], 2 if footer_stats else 0)
    # NaN literal: never prune (Python comparisons cannot model it)
    assert table_log._file_may_match(
        {"v": [1.0, 2.0, 0]}, "v", ">=", float("nan")
    )


def test_data_skipping_on_timestamp_and_date_predicates(spark, tmp_path):
    """Timestamp/date pruning (round 10): the footer stats path covers
    DATE (epoch-day ints) and INT64-micros TIMESTAMP columns, and the
    pruner converts datetime/date literals to the same units — the
    most common selective predicate on an event table prunes at the
    manifest, files are skipped, rows stay exact. Requires the
    engine's TIMESTAMP_MICROS writer setting (INT96 has no stats)."""
    import datetime as dt

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "ts")
    # three yearly bands, one file each
    for year in (1998, 1999, 2000):
        rows = [
            (
                i,
                dt.datetime(year, 1 + i % 12, 3, 4, 5, 6),
                dt.date(year, 1 + i % 12, 7),
            )
            for i in range(24)
        ]
        table_log.commit_snapshot(
            spark.createDataFrame(rows, "k long, ts timestamp, d date")
            .coalesce(1),
            t,
            mode="append",
        )
    total = len(table_log.read_snapshot(spark, t).inputFiles())
    assert total == 3

    def run(preds, expect_files):
        pruned = table_log.read_snapshot(spark, t, predicates=preds)
        assert len(pruned.inputFiles()) == expect_files, preds
        return pruned

    # one-year timestamp range: only that band's file is scanned
    got = run(
        [
            ("ts", ">=", dt.datetime(1999, 1, 1)),
            ("ts", "<", dt.datetime(2000, 1, 1)),
        ],
        1,
    ).count()
    assert got == 24
    # date predicate prunes the same way
    assert run([("d", ">=", dt.date(2000, 1, 1))], 1).count() == 24
    # rows identical to an unpruned filter (correctness invariant)
    want = (
        table_log.read_snapshot(spark, t)
        .filter(F.col("ts") >= F.lit(dt.datetime(2000, 1, 1)))
        .count()
    )
    assert (
        run([("ts", ">=", dt.datetime(2000, 1, 1))], 1).count() == want == 24
    )


def test_data_skipping_cross_type_temporal_literals(spark, tmp_path):
    """REGRESSION (round 11, ADVICE-high): `_file_may_match` used to
    convert predicate literals by the LITERAL's Python type, but
    manifest stats are unit-tagged ints — a datetime.date literal on a
    TIMESTAMP column became epoch-days compared against epoch-micros
    stats, so '<', '<=', '=' and 'in' silently pruned files that held
    matching rows (the very common `ts >= date(2024,1,1)` day-boundary
    shape). Stats now carry a per-column KIND; temporal literals are
    coerced to the column's unit exactly as Spark's date<->timestamp
    promotion does, and an unknowable pairing keeps the file."""
    import datetime as dt

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "xt")
    for year in (1998, 1999, 2000):  # one file per year band
        rows = [
            (
                year * 100 + i,
                dt.datetime(year, 1 + i % 12, 3, 4, 5, 6),
                dt.date(year, 1 + i % 12, 7),
            )
            for i in range(24)
        ]
        table_log.commit_snapshot(
            spark.createDataFrame(rows, "k long, ts timestamp, d date")
            .coalesce(1),
            t,
            mode="append",
        )
    full = table_log.read_snapshot(spark, t)

    def check(col, op, lit, expect_files=None):
        pruned = table_log.read_snapshot(
            spark, t, predicates=[(col, op, lit)]
        )
        if expect_files is not None:
            assert len(pruned.inputFiles()) == expect_files, (col, op, lit)
        py_op = {"<": "lt", "<=": "le", ">": "gt", ">=": "ge", "=": "eq"}
        import operator as _op

        def cond():
            return (
                F.col(col).isin(list(lit))
                if op == "in"
                else getattr(_op, py_op[op])(F.col(col), F.lit(lit))
            )

        want = sorted(r["k"] for r in full.filter(cond()).collect())
        got = sorted(r["k"] for r in pruned.filter(cond()).collect())
        assert got == want, (col, op, lit)
        return len(want)

    # DATE literal on the TIMESTAMP column (the reported shape): the
    # literal must become midnight-UTC micros. Before the fix, '<'
    # compared micros-stats < epoch-days and pruned ALL files.
    assert check("ts", "<", dt.date(1999, 1, 1), expect_files=1) == 24
    assert check("ts", "<=", dt.date(1999, 1, 4), expect_files=2) > 0
    check("ts", ">=", dt.date(2000, 1, 1), expect_files=1)
    # '=' on a date literal: no row is exactly midnight -> 0 rows, and
    # the file whose band contains that instant is still the only scan
    assert check("ts", "=", dt.date(1999, 6, 1), expect_files=1) == 0
    check("ts", "in", [dt.date(1998, 3, 3), dt.date(2000, 2, 3)])
    # DATETIME literal on the DATE column: day stats are lifted to
    # midnight micros, so a noon literal keeps exactly the right files
    assert check("d", ">=", dt.datetime(1999, 12, 31, 12), expect_files=1) == 24
    assert check("d", "<", dt.datetime(1999, 1, 1, 0), expect_files=1) == 24
    # midnight datetime '=' equals the date row exactly
    assert check("d", "=", dt.datetime(2000, 3, 7), expect_files=1) == 2
    # noon '=' provably matches no date: Spark's cast-unwrap folds the
    # whole scan to empty (don't pin a file count), rows must be 0
    assert check("d", "=", dt.datetime(2000, 3, 7, 12)) == 0
    # mixed in-list (temporal + int) is unknowable: keep the file (a
    # unit check — Spark's analyzer rejects the shape before a read)
    assert table_log._file_may_match(
        {"ts": [0, 10, 0, "ts"]}, "ts", "in", [dt.date(1998, 3, 3), 7]
    )
    # temporal literal on a NON-temporal column: keep, row filter rules
    assert table_log._file_may_match(
        {"k": [10, 20, 0, "int"]}, "k", "<", dt.date(1970, 1, 1)
    )


def test_data_skipping_in_predicate(spark, tmp_path):
    """The `in` pruner op (round 10 — the enum/bucket predicate shape,
    e.g. probing an ANN index's cells): a file is kept iff ANY listed
    value falls inside its [min, max]; an empty list provably matches
    nothing; datetime elements convert like scalar literals; NaN
    elements never prune."""
    import datetime as dt

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "inop")
    for lo in (0, 100, 200):  # three files with disjoint k bands
        table_log.commit_snapshot(
            spark.range(lo, lo + 100).selectExpr("id as k").coalesce(1),
            t,
            mode="append",
        )
    def files(preds):
        return len(table_log.read_snapshot(spark, t, predicates=preds).inputFiles())

    assert files([("k", "in", [5, 7])]) == 1
    assert files([("k", "in", [5, 150])]) == 2
    assert files([("k", "in", [])]) == 0
    rows = (
        table_log.read_snapshot(spark, t, predicates=[("k", "in", [5, 150])])
        .collect()
    )
    assert sorted(r["k"] for r in rows) == [5, 150]  # post-read isin too
    # unit checks on the comparator
    st = {"k": [10, 20, 0]}
    assert table_log._file_may_match(st, "k", "in", [15])
    assert not table_log._file_may_match(st, "k", "in", [9, 21])
    assert table_log._file_may_match(st, "k", "in", [1.0, float("nan")])
    # 2000-01-01..02 in epoch micros, kind-tagged "ts"
    ts = {"ts": [946684800000000, 946771200000000, 0, "ts"]}
    assert table_log._file_may_match(
        ts, "ts", "in", [dt.datetime(2000, 1, 1, 12)]
    )
    assert not table_log._file_may_match(
        ts, "ts", "in", [dt.datetime(1999, 1, 1)]
    )
    # kind-less (legacy-manifest) stats with a temporal literal: units
    # are unknowable -> the file is KEPT, never numerically compared
    legacy = {"ts": [946684800000000, 946771200000000, 0]}
    assert table_log._file_may_match(
        legacy, "ts", "in", [dt.datetime(1999, 1, 1)]
    )


def test_data_skipping_on_decimal_predicates(spark, tmp_path):
    """Decimal (money) pruning: footer stats decode the unscaled
    int/binary min/max into ulp-widened floats whose interval CONTAINS
    the true decimal range, so range predicates with Decimal or float
    literals skip files safely and never lose an edge row. Covers the
    INT64 physical encoding (p <= 18) and the knife-edge where the
    literal equals a file's exact boundary."""
    from decimal import Decimal

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "dec")
    # three files with price bands [0.25, 49.25], [100.25, 149.25],
    # [200.25, 249.25]
    for lo in (0, 100, 200):
        rows = [(i, Decimal(f"{lo + i}.25")) for i in range(50)]
        table_log.commit_snapshot(
            spark.createDataFrame(rows, "k long, price decimal(17,2)")
            .coalesce(1),
            t,
            mode="append",
        )

    def run(preds):
        df = table_log.read_snapshot(spark, t, predicates=preds)
        return len(df.inputFiles()), df.count()

    assert run([("price", ">=", Decimal("230.25"))]) == (1, 20)
    assert run([("price", "<", 100)]) == (1, 50)
    # knife-edge: literal equals band 2's exact max (149.25); the
    # widened interval must keep that file AND its edge row
    files, n = run([("price", ">=", Decimal("149.25"))])
    assert (files, n) == (2, 51)
    # exact-match probe inside one band
    assert run([("price", "=", Decimal("120.25"))]) == (1, 1)
    # nothing matches above every band: all three files pruned (a
    # boundary-exact literal like > 249.25 keeps the last file — the
    # ulp-widening is deliberately conservative — so probe past it)
    assert run([("price", ">", Decimal("249.26"))]) == (0, 0)


def test_pruning_never_changes_results_randomized(spark, tmp_path):
    """PROPERTY: for ANY predicate the pruner supports, a pruned read
    returns exactly the rows of an unpruned read + the same filter —
    across every stats encoding added this round (NaN->inf doubles,
    epoch-micros timestamps, epoch-day dates, ulp-widened decimals,
    `in` lists) and across both overlapping and disjoint file bands.
    Seeded-random literals include values present in the data, band
    boundaries, NaN, and misses."""
    import datetime as dt
    import random
    from decimal import Decimal

    from etl_property_rumah123_spark.sinks import table_log

    rng = random.Random(20260815)
    t = str(tmp_path / "prop")
    rows = []
    for i in range(120):
        f = rng.choice(
            [rng.uniform(-50, 50), float("nan"), float("inf"), None]
            if i % 7 == 0
            else [rng.uniform(-50, 50)]
        )
        rows.append(
            (
                i,
                f,
                rng.choice(["alpha", "beta", "gamma", "omega", None]),
                dt.datetime(2024, rng.randint(1, 12), rng.randint(1, 28)),
                dt.date(2024, rng.randint(1, 12), rng.randint(1, 28)),
                Decimal(f"{rng.randint(-999, 999)}.{rng.randint(0, 99):02d}"),
            )
        )
    schema = (
        "i long, f double, s string, ts timestamp, d date, dec decimal(9,2)"
    )
    # bands: 2 disjoint on i (pruning fires) + 2 random (overlap)
    shuffled = rows[60:]
    rng.shuffle(shuffled)
    bands = [rows[:30], rows[30:60], shuffled[:30], shuffled[30:]]
    for band in bands:
        table_log.commit_snapshot(
            spark.createDataFrame(band, schema).coalesce(1), t, mode="append"
        )
    full = table_log.read_snapshot(spark, t)

    def key(r):
        return tuple(repr(v) for v in r)

    import operator as op

    py_ops = {"<": op.lt, "<=": op.le, ">": op.gt, ">=": op.ge, "=": op.eq}

    def literals(col):
        present = [r[{"i": 0, "f": 1, "s": 2, "ts": 3, "d": 4, "dec": 5}[col]]
                   for r in rows]
        present = [v for v in present if v is not None][:40]
        extra = {
            "i": [0, 29, 30, 60, 1000, -5],
            "f": [0.0, float("nan"), 49.9, -49.9],
            "s": ["alpha", "omega", "zzz", ""],
            # CROSS-TYPE temporal literals (round 11): date literals
            # on the timestamp column and datetimes on the date column
            # exercise the stats-kind unit coercion
            "ts": [
                dt.datetime(2024, 6, 15),
                dt.datetime(2023, 1, 1),
                dt.date(2024, 6, 15),
                dt.date(2024, 1, 1),
            ],
            "d": [
                dt.date(2024, 6, 15),
                dt.date(2025, 1, 1),
                dt.datetime(2024, 6, 15, 12),
                dt.datetime(2024, 3, 1),
            ],
            "dec": [Decimal("0.00"), Decimal("999.99"), Decimal("-1000.00")],
        }[col]
        return present + extra

    checked = 0
    for col in ("i", "f", "s", "ts", "d", "dec"):
        lits = literals(col)
        for _ in range(6):
            o = rng.choice(list(py_ops) + ["in"])
            v = (
                rng.sample(lits, k=min(3, len(lits)))
                if o == "in"
                else rng.choice(lits)
            )
            preds = [(col, o, v)]
            pruned = {
                key(r)
                for r in table_log.read_snapshot(
                    spark, t, predicates=preds
                ).collect()
            }
            cond = (
                full[col].isin(list(v))
                if o == "in"
                else py_ops[o](full[col], F.lit(v))
            )
            want = {key(r) for r in full.filter(cond).collect()}
            assert pruned == want, (col, o, v)
            checked += 1
    assert checked == 36


def test_footer_stats_match_job_stats(spark, tmp_path):
    """The footer-based commit stats (zero jobs, no data re-read) must
    produce byte-identical manifest stats to the aggregate-job path on
    NaN-free data — ints (with nulls), strings, doubles, an all-null
    column — and exclude exactly the non-eligible types."""
    from etl_property_rumah123_spark.sinks import table_log

    df = spark.createDataFrame(
        [
            (1, "alpha", 1.5, None, None),
            (2, "omega", -3.25, 7, None),
            (3, "beta", 0.0, 2, None),
        ],
        "k long, s string, v double, n int, z string",
    ).coalesce(1)
    base = str(tmp_path / "fs")
    df.write.parquet(base)
    import os as _os

    rels = sorted(
        f for f in _os.listdir(base) if f.endswith(".parquet")
    )
    via_footers = table_log._stats_from_footers(spark, base, rels)
    # force the job path for the comparison
    prev = table_log.FOOTER_STATS
    try:
        table_log.FOOTER_STATS = False
        via_job = table_log._stats_for_files(spark, base, rels)
    finally:
        table_log.FOOTER_STATS = prev
    assert via_footers == via_job, (via_footers, via_job)
    stats = via_footers[rels[0]]
    assert stats["k"] == [1, 3, 0, "int"]
    assert stats["s"] == ["alpha", "omega", 0, "string"]
    assert stats["v"] == [-3.25, 1.5, 0, "float"]
    assert stats["n"] == [2, 7, 1, "int"]
    # all-null column: skippable
    assert stats["z"] == [None, None, 3, "string"]


def test_data_skipping_ratio_floor(spark, tmp_path):
    """The EFFECTIVENESS floor of manifest min/max pruning (the drill
    in tools/skipping_drill.py records the at-scale number — 96% of
    files skipped at sf10): a table ingested in 12 non-overlapping
    key bands must serve a one-band predicate from <= 1/6 of its
    files, with rows identical to the unpruned filter."""
    from etl_property_rumah123_spark.sinks import table_log

    tdir = str(tmp_path / "skip")
    df = spark.range(0, 1200).select(
        F.col("id").alias("k"), (F.col("id") % 997).alias("v")
    )
    for band in range(12):
        table_log.commit_snapshot(
            df.filter(
                (F.col("k") >= band * 100) & (F.col("k") < (band + 1) * 100)
            ).coalesce(1),
            tdir,
            mode="append",
        )
    total = len(table_log.read_snapshot(spark, tdir).inputFiles())
    preds = [("k", ">=", 400), ("k", "<=", 499)]
    pruned = table_log.read_snapshot(spark, tdir, predicates=preds)
    scanned = len(pruned.inputFiles())
    assert scanned * 6 <= total, (scanned, total)  # skip ratio >= ~83%
    want = {
        r["k"]
        for r in table_log.read_snapshot(spark, tdir)
        .filter((F.col("k") >= 400) & (F.col("k") <= 499))
        .collect()
    }
    got = {
        r["k"]
        for r in pruned.filter(
            (F.col("k") >= 400) & (F.col("k") <= 499)
        ).collect()
    }
    assert got == want and len(got) == 100


def test_observed_metrics_fall_back_under_speculation(spark, tmp_path, monkeypatch):
    """observe() metrics are accumulator-backed — a speculative
    duplicate task attempt double-counts rows, inflating the commit
    accounting (n_deleted/dv_rows/n_keys). With spark.speculation on,
    the observed write must return values=None so callers take the
    read-back path, which counts what is on disk."""
    from etl_property_rumah123_spark.sinks import table_log

    df = spark.range(0, 10).select(F.col("id").alias("k"))
    # spark.speculation is a STATIC core conf (cannot be set on a live
    # session), so the gate is exercised through its seam
    monkeypatch.setattr(table_log, "_speculation_enabled", lambda s: True)
    files, values = table_log._write_commit_dir_observed(
        df, str(tmp_path / "spec"), "c0",
        {"n": F.count(F.lit(1))},
    )
    assert files and values is None
    monkeypatch.setattr(table_log, "_speculation_enabled", lambda s: False)
    # speculation off: the same call observes on the write job
    files, values = table_log._write_commit_dir_observed(
        df, str(tmp_path / "nospec"), "c0", {"n": F.count(F.lit(1))}
    )
    assert files and values == {"n": 10}


def test_gated_broadcast_drops_hint_past_cap(spark, monkeypatch):
    """The sinks' explicit broadcast hints (merge batch keys, matview
    dirty groups, carry keys) are GATED: an over-cap small side drops
    the hint with a loud warning — Spark plans by its own estimates
    instead of risking the 8 GB broadcast limit — while an in-bound
    side keeps the hinted BroadcastHashJoin plan."""
    import warnings as _warnings

    from etl_property_rumah123_spark.operators import common

    big = spark.range(0, 50).select(F.col("id").alias("k"))
    table_side = spark.range(0, 500).select(
        F.col("id").alias("k"), F.lit(1).alias("v")
    )

    def plan_of(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # byte cap 0 disables the planning-time fast path so the
        # count-probe tier is what gets exercised
        monkeypatch.setattr(common, "MAX_BROADCAST_BYTES", -1)
        monkeypatch.setattr(common, "MAX_BROADCAST_KEYS", 10)
        with pytest.warns(UserWarning, match="MAX_BROADCAST_KEYS"):
            hinted = common.gated_broadcast(big, what="test side")
        over_plan = plan_of(table_side.join(hinted, "k", "left_semi"))
        assert "BroadcastHashJoin" not in over_plan, over_plan

        monkeypatch.setattr(common, "MAX_BROADCAST_KEYS", 1000)
        with _warnings.catch_warnings():
            _warnings.simplefilter("error")  # no warning under the cap
            hinted = common.gated_broadcast(big, what="test side")
        under_plan = plan_of(table_side.join(hinted, "k", "left_semi"))
        assert "BroadcastHashJoin" in under_plan, under_plan

        # count_frame is the probe: an over-cap probe frame drops the
        # hint even when the hinted frame itself would be small
        monkeypatch.setattr(common, "MAX_BROADCAST_KEYS", 10)
        with pytest.warns(UserWarning, match="MAX_BROADCAST_KEYS"):
            hinted = common.gated_broadcast(
                big.limit(2), count_frame=big, what="test side"
            )
        probe_plan = plan_of(table_side.join(hinted, "k", "left_semi"))
        assert "BroadcastHashJoin" not in probe_plan, probe_plan

        # planning-time fast path: a tiny estimated side is hinted
        # with no probe (and no warning) even at a 0 row cap
        monkeypatch.setattr(common, "MAX_BROADCAST_BYTES", 512 << 20)
        monkeypatch.setattr(common, "MAX_BROADCAST_KEYS", 0)
        with _warnings.catch_warnings():
            _warnings.simplefilter("error")
            hinted = common.gated_broadcast(big, what="test side")
        fast_plan = plan_of(table_side.join(hinted, "k", "left_semi"))
        assert "BroadcastHashJoin" in fast_plan, fast_plan
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", prev_thresh
        )


def test_gated_broadcast_never_trusts_underestimating_plans(
    spark, tmp_path, monkeypatch
):
    """PLANTED UNDER-ESTIMATE (round 11): without CBO, Catalyst's size
    visitor passes Generate/Expand/Join estimates through from their
    inputs — a tiny parquet scan exploded into millions of rows still
    *estimates* at file size, and a fast path that trusted it would
    broadcast something huge. The gate must route inflating plans to
    the bounded count probe, which drops the hint past the row cap —
    never a broadcast past the byte cap."""
    import warnings as _warnings

    from etl_property_rumah123_spark.operators import common

    # a genuinely tiny file on disk, so optimizedPlan stats have real
    # (small) file-size evidence...
    base = str(tmp_path / "tiny")
    spark.range(0, 4).selectExpr("id AS k").coalesce(1).write.parquet(base)
    tiny = spark.read.parquet(base)
    # ...exploded 5000x: true row count far past the planted cap while
    # the planning-time estimate stays at ~file size
    exploded = tiny.select(
        F.explode(F.sequence(F.lit(0), F.lit(4999))).alias("k")
    )
    est = int(
        str(
            exploded._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .sizeInBytes()
        )
    )
    assert est <= 512 << 20, "premise: the estimate under-reports"

    def plan_of(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    table_side = spark.range(0, 500).select(
        F.col("id").alias("k"), F.lit(1).alias("v")
    )
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        monkeypatch.setattr(common, "MAX_BROADCAST_KEYS", 1000)
        # the under-estimating plan must NOT take the zero-job fast
        # path: the probe counts past the cap, warns, drops the hint
        with pytest.warns(UserWarning, match="MAX_BROADCAST_KEYS"):
            hinted = common.gated_broadcast(exploded, what="planted side")
        over = plan_of(table_side.join(hinted, "k", "left_semi"))
        assert "BroadcastHashJoin" not in over, over

        # same inflating shape but genuinely small: the probe admits
        # it (one bounded job), so inflating plans still broadcast
        # when they truly fit
        small_exploded = tiny.select(
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("k")
        )
        with _warnings.catch_warnings():
            _warnings.simplefilter("error")
            hinted = common.gated_broadcast(
                small_exploded, what="planted side"
            )
        under = plan_of(table_side.join(hinted, "k", "left_semi"))
        assert "BroadcastHashJoin" in under, under

        # joins and grouping-set expands route to the probe too
        joined = tiny.crossJoin(tiny.selectExpr("k AS k2"))
        expanded = tiny.rollup("k").count().select(F.col("k"))
        for frame in (joined, expanded):
            t = frame._jdf.queryExecution().optimizedPlan().treeString()
            assert any(
                m in t for m in ("Generate ", "Expand", "Join ")
            ), t
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", prev_thresh
        )


def test_vacuum_vs_reader_race_fails_loud_never_partial(spark, tmp_path):
    """The reader side of the vacuum race (writer races are covered by
    the model-based stateful tests): (1) time-travel to an already-
    vacuumed version is REFUSED with a clear error (its manifest is
    gone); (2) a DataFrame resolved at version V before vacuum removed
    V's files must FAIL LOUDLY at execution — never silently return
    the rows of whichever files still exist — even when the session
    sets ignoreMissingFiles=true (the snapshot reader pins it off);
    (3) the retention guard (min_age_s) refuses to delete young files,
    so a correctly configured vacuum cannot tear an in-flight read."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "race")
    df1 = spark.range(0, 30).withColumnRenamed("id", "k").repartition(3)
    table_log.commit_snapshot(df1, t, mode="append")  # v0
    table_log.delete_snapshot(spark, t, "k < 10")  # v1 rewrites v0 files

    # capture a v0 reader BEFORE any vacuum
    v0_df = table_log.read_snapshot(spark, t, 0)

    # (3) retention guard: a keep_last=1 vacuum drops v0's MANIFEST
    # immediately (re-resolution refused below) but keeps its young
    # DATA files, so the in-flight reader still returns complete rows
    # throughout the retention window
    dropped = table_log.vacuum(spark, t, keep_last=1, min_age_s=3600)
    assert dropped == [f"{t}/_log/v0.json"]
    assert v0_df.count() == 30

    # (1) re-resolving the vacuumed version is a loud refusal
    with _pytest.raises(ValueError, match="version 0 not in"):
        table_log.read_snapshot(spark, t, 0)

    # retention off: the unreferenced v0 data files actually go
    deleted = table_log.vacuum(spark, t, keep_last=1, min_age_s=0)
    assert any("/data/" in p for p in deleted)

    # (2) the in-flight plan fails loudly even if the session opts
    # into ignoring missing files
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try:
        with _pytest.raises(Exception) as exc:
            v0_df.count()
        msg = str(exc.value)
        assert "FileNotFound" in msg or "does not exist" in msg or (
            "PATH_NOT_FOUND" in msg
        ), f"expected missing-file error, got: {msg[:300]}"
    finally:
        spark.conf.set("spark.sql.files.ignoreMissingFiles", "false")

    # the surviving version still reads clean
    assert sorted(
        r["k"] for r in table_log.read_snapshot(spark, t).collect()
    ) == list(range(10, 30))


def test_cow_touched_file_cap_degrades_to_full_rewrite(
    spark, tmp_path, monkeypatch
):
    """The CoW MERGE/DELETE touched-file collect is bounded by
    MAX_TOUCHED_FILES (the last ungated driver O(files) envelope): a
    predicate/batch touching more files than the cap degrades LOUDLY
    to a full copy-on-write rewrite — every file treated as touched —
    with results byte-identical to the uncapped path. The limit is
    applied before the collect, so at most cap+1 one-string rows ever
    reach the driver regardless of table size (the 10⁶-file case is
    this same code path with a bigger constant)."""
    import warnings as _warnings

    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    def build(path):
        df = spark.range(0, 40).withColumnRenamed("id", "k").withColumn(
            "v", (F.col("k") * 10).cast("long")
        ).repartition(8)
        table_log.commit_snapshot(df, path, mode="append")

    # ---- merge over the cap vs merge under it: identical final state
    batch = spark.createDataFrame(
        [(k, 999) for k in range(0, 40, 2)] + [(100, 1)], "k long, v long"
    )
    t_cap = str(tmp_path / "cap_m")
    t_ref = str(tmp_path / "ref_m")
    build(t_cap)
    build(t_ref)
    table_log.merge_snapshot(batch, t_ref, key="k")
    expect = sorted(
        (r["k"], r["v"])
        for r in table_log.read_snapshot(spark, t_ref).collect()
    )

    monkeypatch.setattr(table_log, "MAX_TOUCHED_FILES", 3)
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        # on_overflow='cow' pins the OLD degrade; the round-11 default
        # ('mor') is pinned by test_cow_merge_overflow_routes_to_mor
        v = table_log.merge_snapshot(
            batch, t_cap, key="k", on_overflow="cow"
        )
    assert any("MAX_TOUCHED_FILES" in str(x.message) for x in w)
    m = table_log._manifest(spark, t_cap, v)
    assert m["n_rewritten_files"] == 8  # every previous file rewritten
    got = sorted(
        (r["k"], r["v"])
        for r in table_log.read_snapshot(spark, t_cap).collect()
    )
    assert got == expect

    # ---- delete over the cap: full rewrite, same survivors
    t_capd = str(tmp_path / "cap_d")
    t_refd = str(tmp_path / "ref_d")
    monkeypatch.setattr(table_log, "MAX_TOUCHED_FILES", 100000)
    build(t_capd)
    build(t_refd)
    table_log.delete_snapshot(spark, t_refd, "k % 2 = 1")
    expect_d = sorted(
        r["k"] for r in table_log.read_snapshot(spark, t_refd).collect()
    )
    monkeypatch.setattr(table_log, "MAX_TOUCHED_FILES", 3)
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        vd = table_log.delete_snapshot(spark, t_capd, "k % 2 = 1")
    assert any("MAX_TOUCHED_FILES" in str(x.message) for x in w)
    md = table_log._manifest(spark, t_capd, vd)
    assert md["n_rewritten_files"] == 8
    got_d = sorted(
        r["k"] for r in table_log.read_snapshot(spark, t_capd).collect()
    )
    assert got_d == expect_d

    # under the cap nothing changes: partial rewrite, no warning
    monkeypatch.setattr(table_log, "MAX_TOUCHED_FILES", 100000)
    t_ok = str(tmp_path / "ok")
    build(t_ok)
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        vo = table_log.delete_snapshot(spark, t_ok, "k = 7")
    assert not any("MAX_TOUCHED_FILES" in str(x.message) for x in w)
    assert table_log._manifest(spark, t_ok, vo)["n_rewritten_files"] == 1


def test_cow_merge_overflow_routes_to_mor(spark, tmp_path, monkeypatch):
    """ROUND 11 (VERDICT #2): a merge touching more than
    MAX_TOUCHED_FILES files now degrades to MERGE-ON-READ by default —
    deletion vectors + appended batch files, O(batch + matched), ZERO
    data files rewritten — instead of a full copy-on-write rewrite
    (an entire-table write at 100 TB). Final state must be
    byte-identical to the uncapped CoW merge; the manifest must show
    the merge_mor operation with every previous file carried BY
    REFERENCE; the warning must name the MoR route."""
    import warnings as _warnings

    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    def build(path):
        df = spark.range(0, 40).withColumnRenamed("id", "k").withColumn(
            "v", (F.col("k") * 10).cast("long")
        ).repartition(8)
        table_log.commit_snapshot(df, path, mode="append")

    batch = spark.createDataFrame(
        [(k, 999) for k in range(0, 40, 2)] + [(100, 1)], "k long, v long"
    )
    t_mor = str(tmp_path / "mor")
    t_ref = str(tmp_path / "ref")
    build(t_mor)
    build(t_ref)
    table_log.merge_snapshot(batch, t_ref, key="k")  # uncapped CoW
    expect = sorted(
        (r["k"], r["v"])
        for r in table_log.read_snapshot(spark, t_ref).collect()
    )
    prev_files = set(
        table_log._manifest(
            spark, t_mor, table_log._list_versions(spark, t_mor)[-1]
        )["files"]
    )

    monkeypatch.setattr(table_log, "MAX_TOUCHED_FILES", 3)
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        v = table_log.merge_snapshot(batch, t_mor, key="k")
    msgs = [str(x.message) for x in w if "MAX_TOUCHED_FILES" in str(x.message)]
    assert msgs and "merge-on-read" in msgs[0], msgs

    m = table_log._manifest(spark, t_mor, v)
    assert m["operation"] == "merge_mor"
    # no full rewrite: every pre-merge file is still referenced
    assert prev_files <= set(m["files"])
    assert m["dv_rows"] == 20  # the matched even keys, marked not rewritten
    got = sorted(
        (r["k"], r["v"])
        for r in table_log.read_snapshot(spark, t_mor).collect()
    )
    assert got == expect

    # a later compaction retires the DV debt with the same rows
    table_log.compact_snapshot(spark, t_mor, target_files=2)
    got2 = sorted(
        (r["k"], r["v"])
        for r in table_log.read_snapshot(spark, t_mor).collect()
    )
    assert got2 == expect

    # invalid knob value fails loudly
    with pytest.raises(ValueError, match="on_overflow"):
        table_log.merge_snapshot(
            batch, t_mor, key="k", on_overflow="nope"
        )


def test_dv_keys_legacy_manifest_commit_no_resurrect(spark, tmp_path):
    """Committing ON TOP of a legacy manifest (dvs present, no
    dv_keys — written before dv_keys existed) must derive the legacy
    key set from the DV parquet, not treat it as empty: the new
    manifest carries an EXPLICIT dv_keys, so reads stop falling back
    to derive-on-read, and an incomplete set would silently resurrect
    the legacy DVs' deleted rows. Exercises every commit shape that
    writes dv_keys: DV delete, MoR merge, append, equality delete."""
    import json as _json

    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "dvk_legacy")
    df = spark.range(0, 20).withColumnRenamed("id", "k").withColumn(
        "grp", (F.col("k") % 4).cast("long")
    ).repartition(4)
    table_log.commit_snapshot(df, t, mode="append")
    v1 = table_log.delete_snapshot_dv(spark, t, "grp = 1")

    def make_legacy(version):
        mpath = f"{t}/_log/v{version}.json"
        raw = _json.loads(open(mpath).read())
        raw.pop("dv_keys", None)
        table_log._write_file(spark, mpath, _json.dumps(raw).encode())

    make_legacy(v1)
    live = sorted(k for k in range(20) if k % 4 != 1)

    # DV delete on top of legacy: no matches, but the manifest must
    # still carry the legacy keys forward
    v2 = table_log.delete_snapshot_dv(spark, t, "k = -1")
    m2 = table_log._manifest(spark, t, v2)
    truth = {
        r["file_key"]
        for r in spark.read.parquet(
            *[f"{t}/{rel}" for rel in m2["dvs"]]
        ).select("file_key").distinct().collect()
    }
    assert set(m2["dv_keys"]) == truth
    got = sorted(r["k"] for r in table_log.read_snapshot(spark, t).collect())
    assert got == live, "legacy DV'd rows resurrected after DV delete"

    # MoR merge on top of legacy
    make_legacy(v2)
    table_log.merge_snapshot_mor(
        spark.createDataFrame([(0, 99)], "k long, grp long"), t, key="k"
    )
    got = sorted(r["k"] for r in table_log.read_snapshot(spark, t).collect())
    assert got == live, "legacy DV'd rows resurrected after MoR merge"

    # append on top of legacy
    v4 = table_log._list_versions(spark, t)[-1]
    make_legacy(v4)
    table_log.commit_snapshot(
        spark.createDataFrame([(500, 0)], "k long, grp long"), t, mode="append"
    )
    got = sorted(r["k"] for r in table_log.read_snapshot(spark, t).collect())
    assert got == live + [500], "legacy DV'd rows resurrected after append"

    # equality delete on top of legacy
    v5 = table_log._list_versions(spark, t)[-1]
    make_legacy(v5)
    table_log.delete_snapshot_eq(
        spark, t, "k",
        spark.createDataFrame([(500,)], "k long"),
    )
    got = sorted(r["k"] for r in table_log.read_snapshot(spark, t).collect())
    assert got == live, "legacy DV'd rows resurrected after eq delete"


def test_consolidate_eq_dvs_merges_same_scope_entries(spark, tmp_path):
    """Equality-delete maintenance: entries sharing a normalized scope
    merge into one (distinct-union keys), entries with a different
    scope stay, entries whose scoped files all departed are dropped —
    and the live read is IDENTICAL before and after each step."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "eqc")

    def ks():
        return sorted(r["k"] for r in table_log.read_snapshot(spark, t).collect())

    def keys_df(vals):
        return spark.createDataFrame([(v,) for v in vals], "k long")

    base = spark.range(0, 10).withColumnRenamed("id", "k").withColumn(
        "grp", (F.col("k") % 2).cast("long")
    ).coalesce(2)
    table_log.commit_snapshot(base, t)
    # two purge batches, NO append between -> identical scopes
    table_log.delete_snapshot_eq(spark, t, "k", keys_df([1, 2]))
    table_log.delete_snapshot_eq(spark, t, "k", keys_df([3]))
    # append re-introduces k=1 (upsert composition), then a third
    # purge whose scope includes the appended file
    table_log.commit_snapshot(
        spark.createDataFrame([(1, 1), (20, 0)], "k long, grp long"),
        t, mode="append",
    )
    table_log.delete_snapshot_eq(spark, t, "k", keys_df([5]))
    before = ks()
    assert before == [0, 1, 4, 6, 7, 8, 9, 20]  # 1 back, 2/3/5 gone

    m = table_log._manifest(spark, t, table_log._list_versions(spark, t)[-1])
    assert len(m["eq_dvs"]) == 3
    v = table_log.consolidate_eq_dvs(spark, t)
    assert v is not None
    m2 = table_log._manifest(spark, t, v)
    assert m2["operation"] == "consolidate_eq"
    assert m2["n_entries_before"] == 3 and len(m2["eq_dvs"]) == 2
    assert ks() == before
    # idempotent: nothing left to merge
    assert table_log.consolidate_eq_dvs(spark, t) is None
    assert ks() == before

    # CoW delete rewrites every file the early entries were scoped to
    # -> their normalized scope empties -> consolidation drops them
    table_log.delete_snapshot(spark, t, "k >= 8 AND k <= 9")
    v3 = table_log.consolidate_eq_dvs(spark, t)
    if v3 is not None:  # entries whose scope died are dropped
        m3 = table_log._manifest(spark, t, v3)
        assert len(m3["eq_dvs"]) <= 2
    assert ks() == [0, 1, 4, 6, 7, 20]


# ---------------------------------------------------------------------------
# parquet bloom filters as a table property + incremental OPTIMIZE
# ---------------------------------------------------------------------------


def _bloom_present(spark, path: str, col: str) -> bool:
    """Whether the parquet file's first row group carries a bloom
    filter for ``col`` (driver-side footer read via parquet-mr)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    rd = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jvm.org.apache.hadoop.fs.Path(path), conf
        )
    )
    try:
        block = rd.getFooter().getBlocks().get(0)
        cols = block.getColumns()
        for i in range(cols.size()):
            c = cols.get(i)
            if c.getPath().toDotString() == col:
                return (
                    rd.getBloomFilterDataReader(block).readBloomFilter(c)
                    is not None
                )
        return False
    finally:
        rd.close()


def _leaf_scan_output_rows(df) -> int:
    """numOutputRows of the plan's leaf scan node AFTER executing the
    frame — rows the parquet reader actually produced, i.e. after
    row-group-level skipping but before the post-scan filter."""
    df.collect()
    node = df._jdf.queryExecution().executedPlan()
    while node.children().size() > 0:
        node = node.children().apply(0)
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return int(out["numOutputRows"])


def test_snapshot_bloom_point_lookup_skips_row_groups(spark, tmp_path):
    """A ``bloom_cols`` table answers an equality probe on a high-NDV
    unsorted column by SKIPPING row groups whose bloom excludes the
    value: the leaf scan emits (almost) no rows, where the same probe
    on a bloom-less twin decodes every row-group that min/max cannot
    exclude — which for scattered values is ALL of them. Dictionary
    encoding is disabled and row groups shrunk for the test so the
    contrast isolates the bloom tier (at production scale high-NDV
    pages overflow the dictionary on their own)."""
    from etl_property_rumah123_spark.sinks import table_log

    hconf = spark._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    old_dict = hconf.get("parquet.enable.dictionary")
    hconf.set("parquet.block.size", str(256 * 1024))
    hconf.set("parquet.enable.dictionary", "false")
    try:
        df = spark.range(120_000).select(
            F.col("id"),
            F.sha2(F.col("id").cast("string"), 256).alias("key"),
        )
        plain = str(tmp_path / "plain")
        bloomed = str(tmp_path / "bloomed")
        table_log.commit_snapshot(df.coalesce(1), plain)
        table_log.commit_snapshot(
            df.coalesce(1), bloomed, bloom_cols={"key": 120_000}
        )
        m = table_log._manifest(spark, bloomed, 0)
        assert m["bloom_cols"] == {"key": 120_000}
        assert _bloom_present(
            spark, f"{bloomed}/{m['files'][0]}", "key"
        )
        assert not _bloom_present(
            spark,
            f"{plain}/{table_log._manifest(spark, plain, 0)['files'][0]}",
            "key",
        )
        absent = "8" * 64  # mid-range: min/max can never exclude it
        probe_plain = table_log.read_snapshot(spark, plain).filter(
            F.col("key") == absent
        )
        probe_bloom = table_log.read_snapshot(spark, bloomed).filter(
            F.col("key") == absent
        )
        rows_plain = _leaf_scan_output_rows(probe_plain)
        rows_bloom = _leaf_scan_output_rows(probe_bloom)
        assert rows_plain == 120_000  # stats skip nothing: full decode
        # deterministic data + deterministic hashes: at the 1% FPP a
        # couple of false-positive groups may decode; the pin is the
        # ORDER OF MAGNITUDE, not exact zero
        assert rows_bloom < rows_plain * 0.2
    finally:
        for k, v in (
            ("parquet.block.size", old_block),
            ("parquet.enable.dictionary", old_dict),
        ):
            if v is None:
                hconf.unset(k)
            else:
                hconf.set(k, v)


def test_snapshot_bloom_property_propagates_through_lifecycle(
    spark, tmp_path
):
    """``bloom_cols`` behaves like a TABLE property: declared once at
    the first commit, every later writer — plain append, CoW merge,
    MoR merge, incremental optimize, full compaction — re-applies it
    to the data files it writes and carries it in its manifest, so
    maintenance never silently drops the skipping tier."""
    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "prop")
    mk = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(i, f"u{i:05d}") for i in range(lo, hi)], "k long, key string"
    )
    table_log.commit_snapshot(mk(0, 50), t, bloom_cols=["key"])
    table_log.commit_snapshot(mk(50, 80), t)  # inherits
    table_log.merge_snapshot(mk(40, 60), t, key="k")  # CoW rewrite
    table_log.merge_snapshot_mor(mk(10, 20), t, key="k")  # MoR append
    table_log.optimize_snapshot(
        spark, t, target_file_bytes=1 << 30, small_file_bytes=1 << 30
    )
    v = table_log.compact_snapshot(spark, t, target_files=2)
    m = table_log._manifest(spark, t, v)
    assert m["bloom_cols"] == {"key": table_log.DEFAULT_BLOOM_NDV}
    for rel in m["files"]:
        assert _bloom_present(spark, f"{t}/{rel}", "key"), rel
    # history carried the property through every operation's manifest
    for h in table_log.history(spark, t):
        assert table_log._manifest(spark, t, h["version"])[
            "bloom_cols"
        ] == {"key": table_log.DEFAULT_BLOOM_NDV}


def test_optimize_snapshot_binpacks_small_files_only(spark, tmp_path):
    """Incremental OPTIMIZE folds only the sub-threshold files: the
    big file carries BY REFERENCE (same rel path — zero bytes
    rewritten for it), the small appends merge into ~target-size
    files, content is identical, the pre-optimize version still
    time-travels, and a second run is a no-op (fixpoint)."""
    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "opt")
    big = spark.range(20_000).select(
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )
    table_log.commit_snapshot(big.coalesce(1), t)
    big_rel = table_log._manifest(spark, t, 0)["files"][0]
    for lo in (100_000, 100_010, 100_020, 100_030):
        table_log.commit_snapshot(
            spark.createDataFrame(
                [(lo + j, "y") for j in range(10)], "k long, pad string"
            ).coalesce(1),
            t,
        )
    before = sorted(
        r["k"] for r in table_log.read_snapshot(spark, t).collect()
    )
    pre_version = len(table_log.history(spark, t)) - 1
    v = table_log.optimize_snapshot(
        spark, t, target_file_bytes=64 * 1024, small_file_bytes=32 * 1024
    )
    assert v == pre_version + 1
    m = table_log._manifest(spark, t, v)
    assert m["operation"] == "optimize"
    assert big_rel in m["files"]  # untouched: carried by reference
    assert m["optimized_files"] == 4 and m["kept_files"] == 1
    new_rels = [rel for rel in m["files"] if rel != big_rel]
    assert len(new_rels) == 1  # 4 tiny files fold into one
    after = sorted(
        r["k"] for r in table_log.read_snapshot(spark, t).collect()
    )
    assert after == before
    assert sorted(
        r["k"] for r in table_log.read_snapshot(spark, t, pre_version).collect()
    ) == before  # time travel across the optimize
    assert (
        table_log.optimize_snapshot(
            spark, t, target_file_bytes=64 * 1024,
            small_file_bytes=32 * 1024,
        )
        is None
    )
    # the replaced small commit dirs become vacuumable
    deleted = table_log.vacuum(spark, t, keep_last=1, min_age_s=0)
    assert len([d for d in deleted if "/data/" in d]) == 4
    assert sorted(
        r["k"] for r in table_log.read_snapshot(spark, t).collect()
    ) == before


def test_optimize_snapshot_materializes_dvs_and_trims_eq_scope(
    spark, tmp_path
):
    """OPTIMIZE under outstanding MoR state: position DVs and equality
    deletes targeting the rewritten small files are MATERIALIZED (the
    packed files hold only live rows), entries for the kept big file
    carry, eq scopes lose the rewritten keys (a re-inserted key stays
    alive — scope semantics survive), and an entry whose scope dies
    is dropped."""
    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "optdv")
    big = spark.range(20_000).select(
        F.col("id").alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )
    table_log.commit_snapshot(big.coalesce(1), t)
    big_key = table_log._dv_rel_key(
        table_log._manifest(spark, t, 0)["files"][0]
    )
    table_log.commit_snapshot(
        spark.createDataFrame(
            [(100_000 + j, "y") for j in range(10)], "k long, pad string"
        ).coalesce(1),
        t,
    )
    # position DV hitting BOTH the big file (k=7) and the small (k=100001)
    table_log.delete_snapshot_dv(spark, t, "k in (7, 100001)")
    # eq delete scoped to current files; k=100002 lives in the small file
    table_log.delete_snapshot_eq(
        spark, t, "k",
        spark.createDataFrame([(100_002,)], "k long"),
    )
    # re-insert the eq-deleted key AFTER the delete: out of scope, alive
    table_log.commit_snapshot(
        spark.createDataFrame([(100_002, "reborn")], "k long, pad string")
        .coalesce(1),
        t,
    )
    def live_keys():
        return {
            r["k"]
            for r in table_log.read_snapshot(spark, t)
            .filter("k >= 99999 or k in (6, 7, 8)")
            .collect()
        }

    expect = {6, 8} | {100_000 + j for j in range(10)} - {100_001}
    assert live_keys() == expect  # 100_002 is the reborn row
    v = table_log.optimize_snapshot(
        spark, t, target_file_bytes=64 * 1024, small_file_bytes=32 * 1024
    )
    m = table_log._manifest(spark, t, v)
    assert m["operation"] == "optimize"
    assert live_keys() == expect  # content identical
    # big file's DV entry (k=7) survives; small files' keys are gone
    assert m["dv_keys"] == [big_key]
    assert m["dvs"]  # still needed for the big file
    # eq scope lost the rewritten small-file keys but kept the big one
    for entry in m["eq_dvs"]:
        assert big_key in entry["scope"]
        assert all(k == big_key for k in entry["scope"])
    # the reborn row is still alive through a compaction as well
    table_log.compact_snapshot(spark, t, target_files=1)
    assert live_keys() == expect


def test_read_changes_skips_optimize_like_compact(spark, tmp_path):
    """The change feed across an OPTIMIZE emits nothing for it: the
    rewrite is content-identical, so the net feed over a history
    containing appends, a delete, and an optimize equals exactly the
    logical changes."""
    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "optcdf")
    table_log.commit_snapshot(
        spark.createDataFrame(
            [(i, "v") for i in range(2000)], "k long, s string"
        ).coalesce(1),
        t,
    )
    for lo in (5000, 5010):
        table_log.commit_snapshot(
            spark.createDataFrame(
                [(lo + j, "w") for j in range(10)], "k long, s string"
            ).coalesce(1),
            t,
        )
    table_log.delete_snapshot_dv(spark, t, "k = 5003")
    v = table_log.optimize_snapshot(
        spark, t, target_file_bytes=64 * 1024, small_file_bytes=32 * 1024
    )
    assert v is not None
    ch = table_log.read_changes(spark, t, from_version=0, to_version=v)
    by_type = {
        r["_change_type"]: r["n"]
        for r in ch.groupBy("_change_type").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert by_type == {"insert": 20, "delete": 1}


def test_write_audit_publish_gate(spark, tmp_path):
    """WRITE-AUDIT-PUBLISH: a staged batch is invisible to readers and
    the version log, auditable in place (alone and unioned with the
    table), protected from vacuum while pending, atomically visible on
    publish (files enter by reference), and a dropped stage's data is
    swept by the next vacuum."""
    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "wap")
    table_log.commit_snapshot(
        spark.createDataFrame([(i, "ok") for i in range(10)],
                              "k long, v string"), t
    )
    name = table_log.stage_snapshot(
        spark.createDataFrame([(100, "new"), (101, "new")],
                              "k long, v string"), t, name="batch1"
    )
    assert name == "batch1"
    assert table_log.list_staged(spark, t) == ["batch1"]
    # invisible: no new version, read unchanged
    assert len(table_log.history(spark, t)) == 1
    assert table_log.read_snapshot(spark, t).count() == 10
    # auditable: the batch alone, and as-if-published
    assert table_log.read_staged(spark, t, "batch1").count() == 2
    assert table_log.read_staged(
        spark, t, "batch1", with_table=True
    ).count() == 12
    # vacuum must NOT sweep pending staged data, even with no guard
    deleted = table_log.vacuum(spark, t, keep_last=1, min_age_s=0)
    assert not any("/data/s" in d for d in deleted)
    assert table_log.read_staged(spark, t, "batch1").count() == 2
    v = table_log.publish_staged(spark, t, "batch1")
    assert v == 1
    m = table_log._manifest(spark, t, v)
    assert m["operation"] == "publish_staged"
    assert m["staged_name"] == "batch1"
    assert table_log.read_snapshot(spark, t).count() == 12
    assert table_log.list_staged(spark, t) == []
    # change feed sees the publish as plain inserts
    ch = table_log.read_changes(spark, t, 0, v)
    assert sorted(
        (r["k"], r["_change_type"]) for r in ch.collect()
    ) == [(100, "insert"), (101, "insert")]

    # audit-failed path: stage, drop, vacuum sweeps
    table_log.stage_snapshot(
        spark.createDataFrame([(999, "bad")], "k long, v string"),
        t, name="batch2",
    )
    table_log.drop_staged(spark, t, "batch2")
    assert table_log.list_staged(spark, t) == []
    deleted = table_log.vacuum(spark, t, keep_last=1, min_age_s=0)
    assert any("/data/s" in d for d in deleted)
    assert table_log.read_snapshot(spark, t).count() == 12
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no staged"):
        table_log.read_staged(spark, t, "batch2")


def test_publish_staged_replay_is_exactly_once(spark, tmp_path):
    """A publish replay (crash between the manifest rename and the
    stage-marker delete, then the whole flow re-run) must NOT append
    the batch twice: the marker is restored by hand after a successful
    publish and publish_staged is called again — it must detect the
    already-published stage, clean up, and return the same version,
    even after further commits mutated the table."""
    import json as _json

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "wap_replay")
    table_log.commit_snapshot(
        spark.createDataFrame([(1, "a")], "k long, v string"), t
    )
    table_log.stage_snapshot(
        spark.createDataFrame([(2, "b")], "k long, v string"),
        t, name="s1",
    )
    staged_json = table_log._read_file(
        spark, f"{t}/_log/staged/s1.json"
    )
    v = table_log.publish_staged(spark, t, "s1")
    # table moves on before the replay arrives
    table_log.commit_snapshot(
        spark.createDataFrame([(3, "c")], "k long, v string"), t
    )
    # crash simulation: the marker comes back, the publish re-runs
    table_log._write_file(spark, f"{t}/_log/staged/s1.json", staged_json)
    assert table_log.publish_staged(spark, t, "s1") == v
    assert table_log.list_staged(spark, t) == []
    assert sorted(
        r["k"] for r in table_log.read_snapshot(spark, t).collect()
    ) == [1, 2, 3]
    # marker mentions files a later OPTIMIZE rewrote + manifest horizon
    # vacuumed: the current-manifest subset guard still refuses to
    # double-append (replay returns the current version, appends nothing)
    table_log._write_file(spark, f"{t}/_log/staged/s1.json", staged_json)
    staged_files = _json.loads(staged_json.decode())["new_files"]
    latest = table_log._manifest(
        spark, t, table_log._list_versions(spark, t)[-1]
    )
    assert set(staged_files) <= set(latest["files"])
    n_before = len(table_log._list_versions(spark, t))
    table_log.publish_staged(spark, t, "s1")
    assert len(table_log._list_versions(spark, t)) == n_before
    assert sorted(
        r["k"] for r in table_log.read_snapshot(spark, t).collect()
    ) == [1, 2, 3]

    # WORST-CASE replay window (round-12 ADVICE): the publishing
    # version's manifest is vacuumed AND the staged files are
    # compacted out of the current manifest — the staged_name scan and
    # the file-subset guard are both blind, and only the DURABLE
    # tombstone (_log/published/<name>.json) prevents re-appending the
    # batch and duplicating its rows.
    table_log.compact_snapshot(spark, t, target_files=1)
    table_log.vacuum(spark, t, keep_last=1, min_age_s=0)
    latest = table_log._manifest(
        spark, t, table_log._list_versions(spark, t)[-1]
    )
    assert not set(staged_files) & set(latest["files"])  # window is real
    table_log._write_file(spark, f"{t}/_log/staged/s1.json", staged_json)
    assert table_log.publish_staged(spark, t, "s1") == v
    assert sorted(
        r["k"] for r in table_log.read_snapshot(spark, t).collect()
    ) == [1, 2, 3]
    assert table_log.list_staged(spark, t) == []
    # a published stage name is permanently retired
    import pytest as _pytest
    with _pytest.raises(ValueError, match="already published"):
        table_log.stage_snapshot(
            spark.createDataFrame([(9, "z")], "k long, v string"),
            t, name="s1",
        )


def test_publish_staged_repair_tombstone_is_honest(spark, tmp_path):
    """ADVICE round 13 (low): when the replay repair fires with the
    publishing version's manifest VACUUMED (staged_name scan blind,
    only the file-subset guard catches it), the repaired tombstone
    must not persist the latest-at-repair-time version as the
    publisher — the true version is unknown. It records
    ``version: null`` + ``repaired`` + the earliest KEPT version
    carrying the files, and every future replay returns that same
    stable value."""
    import json as _json

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "wap_repair_honest")
    table_log.commit_snapshot(
        spark.createDataFrame([(1, "a")], "k long, v string"), t
    )
    table_log.stage_snapshot(
        spark.createDataFrame([(2, "b")], "k long, v string"),
        t, name="s1",
    )
    staged_json = table_log._read_file(spark, f"{t}/_log/staged/s1.json")
    table_log.publish_staged(spark, t, "s1")
    # simulate the crash window: publish committed its manifest but
    # died before the tombstone write; the marker survives
    jvm, fs = table_log._fs(spark, t)
    fs.delete(jvm.org.apache.hadoop.fs.Path(
        f"{t}/_log/published/s1.json"), False)
    table_log._write_file(spark, f"{t}/_log/staged/s1.json", staged_json)
    # the table moves on and the publishing manifest is vacuumed, but
    # the staged files survive in the current manifest (no compact)
    table_log.commit_snapshot(
        spark.createDataFrame([(3, "c")], "k long, v string"), t
    )
    table_log.commit_snapshot(
        spark.createDataFrame([(4, "d")], "k long, v string"), t
    )
    table_log.vacuum(spark, t, keep_last=2, min_age_s=0)
    kept = table_log._list_versions(spark, t)
    staged_files = _json.loads(staged_json.decode())["new_files"]
    earliest_kept_with_files = next(
        v for v in kept
        if set(staged_files)
        <= set(table_log._manifest(spark, t, v)["files"])
    )
    latest_before = kept[-1]
    got = table_log.publish_staged(spark, t, "s1")
    # best-effort return is the tightest provable bound, NOT the
    # latest version at repair time
    assert got == earliest_kept_with_files
    assert earliest_kept_with_files < latest_before  # old bug returned latest
    tomb = _json.loads(table_log._read_file(
        spark, f"{t}/_log/published/s1.json").decode())
    assert tomb["version"] is None
    assert tomb["repaired"] is True
    assert tomb["earliest_containing_version"] == earliest_kept_with_files
    # replay of the repaired tombstone: same stable value, no append
    n_before = len(table_log._list_versions(spark, t))
    table_log._write_file(spark, f"{t}/_log/staged/s1.json", staged_json)
    assert table_log.publish_staged(spark, t, "s1") == got
    assert len(table_log._list_versions(spark, t)) == n_before
    assert sorted(
        r["k"] for r in table_log.read_snapshot(spark, t).collect()
    ) == [1, 2, 3, 4]


def test_count_snapshot_metadata_only(spark, tmp_path, monkeypatch):
    """COUNT(*) from the manifest: clean snapshots, position-DV
    states, AND equality-delete states (via the per-file ``matched``
    counts their commits record — round-12 VERDICT #5) are answered
    WITHOUT reading data (a poisoned read_snapshot proves no scan
    happens); only ``count_matched=False`` entries and legacy
    manifests take the documented scan fallback; every state agrees
    with the true count."""
    import json as _json

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "cnt")
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    table_log.commit_snapshot(mk(0, 100), t)
    table_log.commit_snapshot(mk(100, 150), t)
    table_log.merge_snapshot(mk(140, 160), t, key="k")  # CoW: 160 rows
    table_log.delete_snapshot_dv(spark, t, "k % 10 = 3")  # -16 via DVs
    table_log.merge_snapshot_mor(mk(200, 210), t, key="k")  # +10, 0 marked

    def boom(*a, **kw):
        raise AssertionError("count_snapshot scanned data")

    # metadata path: correct at every eq-free version, with reads poisoned
    want = {0: 100, 1: 150, 2: 160, 3: 144, 4: 154}
    with monkeypatch.context() as mp:
        mp.setattr(table_log, "read_snapshot", boom)
        for v, n in want.items():
            assert table_log.count_snapshot(spark, t, v) == n, v
        assert table_log.count_snapshot(spark, t) == 154  # latest
    # cross-check against the real reads
    for v, n in want.items():
        assert table_log.read_snapshot(spark, t, v).count() == n

    # equality delete: the commit records per-file matched counts
    # (one key-column job AT DELETE TIME), so COUNT(*) stays
    # metadata-only even with the entry outstanding
    table_log.delete_snapshot_eq(
        spark, t, "k", spark.createDataFrame([(7,), (205,)], "k long")
    )
    vs = table_log._list_versions(spark, t)
    entry = table_log._manifest(spark, t, vs[-1])["eq_dvs"][-1]
    assert sum(entry["matched"].values()) == 2
    with monkeypatch.context() as mp:
        mp.setattr(table_log, "read_snapshot", boom)
        assert table_log.count_snapshot(spark, t) == 152
    # a second entry composes (its matched counts are taken against
    # the live view, so already-deleted rows never double-count);
    # deleting key 7 again matches nothing
    table_log.delete_snapshot_eq(
        spark, t, "k", spark.createDataFrame([(7,), (101,)], "k long")
    )
    with monkeypatch.context() as mp:
        mp.setattr(table_log, "read_snapshot", boom)
        assert table_log.count_snapshot(spark, t) == 151
    # an appended batch re-introducing a deleted key is OUT of the
    # entries' scope: live again, still no scan
    table_log.commit_snapshot(
        spark.createDataFrame([(7, 0)], "k long, v long"), t
    )
    with monkeypatch.context() as mp:
        mp.setattr(table_log, "read_snapshot", boom)
        assert table_log.count_snapshot(spark, t) == 152
    # opt-out (count_matched=False): the documented scan fallback
    table_log.delete_snapshot_eq(
        spark, t, "k", spark.createDataFrame([(9,), (11,)], "k long"),
        count_matched=False,
    )
    assert table_log.count_snapshot(spark, t) == 150
    # optimize folds everything: back to the pure-metadata path
    v = table_log.optimize_snapshot(
        spark, t, target_file_bytes=1 << 30, small_file_bytes=1 << 30
    )
    with monkeypatch.context() as mp:
        mp.setattr(table_log, "read_snapshot", boom)
        assert table_log.count_snapshot(spark, t, v) == 150

    # legacy manifest (no per-file row counts) -> fallback
    m = table_log._manifest(spark, t, v)
    stripped = {
        rel: {c: s for c, s in cols.items() if c != "__n_rows"}
        for rel, cols in m.get("stats", {}).items()
    }
    table_log._write_file(
        spark,
        f"{t}/_log/v{v}.json",
        _json.dumps({**m, "stats": stripped}).encode(),
    )
    assert table_log.count_snapshot(spark, t, v) == 150


def test_check_constraints_gate_commits(spark, tmp_path):
    """CHECK constraints as an inherited table property: violating
    batches are rejected ATOMICALLY (no version published, rejected
    dir vacuumable) across append / CoW merge / MoR merge / staged
    WAP writes; NULL passes (SQL CHECK semantics); DECLARING a
    constraint on a table whose existing data violates it is rejected
    up front (Delta ADD CONSTRAINT semantics — round-12 ADVICE: the
    old declare-without-validating behavior permanently bricked the
    compliance-purge DELETE on tables with pre-property bad rows)."""
    import pytest as _pytest

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "chk")
    table_log.commit_snapshot(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        t,
        constraints={"v_pos": "v >= 0", "k_set": "k IS NOT NULL"},
    )
    assert table_log._manifest(spark, t, 0)["constraints"] == {
        "v_pos": "v >= 0", "k_set": "k IS NOT NULL"
    }
    # inherited on a plain append; NULL v passes (SQL CHECK)
    table_log.commit_snapshot(
        spark.createDataFrame([(3, None)], "k long, v long"), t
    )
    assert table_log._manifest(spark, t, 1)["constraints"]

    def state():
        return (
            len(table_log._list_versions(spark, t)),
            sorted(
                (r["k"], r["v"])
                for r in table_log.read_snapshot(spark, t).collect()
            ),
        )

    before = state()
    with _pytest.raises(table_log.ConstraintViolation) as ei:
        table_log.commit_snapshot(
            spark.createDataFrame(
                [(4, -5), (5, -6), (6, 1)], "k long, v long"
            ),
            t,
        )
    assert ei.value.violations == {"v_pos": 2}
    assert state() == before  # nothing published
    with _pytest.raises(table_log.ConstraintViolation):
        table_log.merge_snapshot(
            spark.createDataFrame([(1, -1)], "k long, v long"), t, key="k"
        )
    with _pytest.raises(table_log.ConstraintViolation):
        table_log.merge_snapshot_mor(
            spark.createDataFrame([(2, -1)], "k long, v long"), t, key="k"
        )
    with _pytest.raises(table_log.ConstraintViolation):
        table_log.stage_snapshot(
            spark.createDataFrame([(9, -9)], "k long, v long"), t
        )
    assert state() == before
    # the rejected dirs are invisible orphans: vacuum sweeps them
    deleted = table_log.vacuum(spark, t, keep_last=1, min_age_s=0)
    assert any("/data/" in d for d in deleted)
    assert state()[1] == before[1]  # rows untouched (manifests pruned)

    # a VALID CoW merge still flows (carry rows re-validate fine)
    table_log.merge_snapshot(
        spark.createDataFrame([(1, 11)], "k long, v long"), t, key="k"
    )
    assert (1, 11) in state()[1]

    # DECLARATION VALIDATES HISTORY: bad data landed BEFORE the
    # property -> declaring it is rejected up front, naming the
    # existing data, and nothing is published
    t2 = str(tmp_path / "chk2")
    table_log.commit_snapshot(
        spark.createDataFrame([(1, -99)], "k long, v long"), t2
    )
    with _pytest.raises(
        table_log.ConstraintViolation, match="EXISTING"
    ) as ei2:
        table_log.commit_snapshot(
            spark.createDataFrame([(2, 5)], "k long, v long"), t2,
            constraints={"v_pos": "v >= 0"},
        )
    assert ei2.value.violations == {"v_pos": 1}
    assert table_log._list_versions(spark, t2) == [0]
    # purge the bad row FIRST (no standing constraint yet), then the
    # declaration succeeds — and the invariant it buys is that the
    # compliance-purge DELETE keeps working under the property
    table_log.delete_snapshot(spark, t2, "v < 0")
    table_log.commit_snapshot(
        spark.createDataFrame([(2, 5)], "k long, v long"), t2,
        constraints={"v_pos": "v >= 0"},
    )
    table_log.commit_snapshot(
        spark.createDataFrame([(3, 7), (4, 8)], "k long, v long"), t2
    )
    table_log.delete_snapshot(spark, t2, "k = 3")  # survivors re-check
    assert table_log.optimize_snapshot(
        spark, t2, target_file_bytes=1 << 30, small_file_bytes=1 << 30
    ) is not None
    table_log.compact_snapshot(spark, t2, target_files=1)
    assert sorted(
        r["k"] for r in table_log.read_snapshot(spark, t2).collect()
    ) == [2, 4]
    # property still carried through maintenance; an UNCHANGED
    # inherited constraint never re-validates history (no scan), a
    # CHANGED one does; {} clears it
    vs = table_log._list_versions(spark, t2)
    assert table_log._manifest(spark, t2, vs[-1])["constraints"]
    with _pytest.raises(table_log.ConstraintViolation, match="EXISTING"):
        table_log.commit_snapshot(
            spark.createDataFrame([(5, 9)], "k long, v long"), t2,
            constraints={"v_pos": "v >= 6"},  # tightened: row (2,5) fails
        )
    table_log.commit_snapshot(
        spark.createDataFrame([(3, -1)], "k long, v long"), t2,
        constraints={},
    )
    vs = table_log._list_versions(spark, t2)
    assert "constraints" not in table_log._manifest(spark, t2, vs[-1])


def test_write_order_property_keeps_stats_tight(spark, tmp_path):
    """The write_order table property: appended batches are
    range-distributed + sorted on the declared columns, so each file
    covers a narrow key slice and the manifest pruner skips files on
    those keys WITHOUT a compaction; an identical unordered twin
    prunes nothing. Inherits through appends and the MoR merge."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    def shuffled(lo, hi):  # deliberately key-scrambled batch
        return (
            spark.range(lo, hi)
            .select(
                F.xxhash64(F.col("id")).alias("scramble"),
                F.col("id").alias("k"),
                (F.col("id") % 9).alias("v"),
            )
            .repartition(6, "scramble")
            .drop("scramble")
        )

    t_ord = str(tmp_path / "ordered")
    t_raw = str(tmp_path / "raw")
    table_log.commit_snapshot(shuffled(0, 30_000), t_ord, write_order=["k"])
    table_log.commit_snapshot(shuffled(0, 30_000), t_raw)
    assert table_log._manifest(spark, t_ord, 0)["write_order"] == ["k"]
    # inherited appends + a MoR merge also lay out on k
    table_log.commit_snapshot(shuffled(30_000, 60_000), t_ord)
    table_log.commit_snapshot(shuffled(30_000, 60_000), t_raw)
    table_log.merge_snapshot_mor(shuffled(60_000, 90_000), t_ord, key="k")
    table_log.merge_snapshot_mor(shuffled(60_000, 90_000), t_raw, key="k")

    pred = [("k", "<", 2_000)]
    ordered = table_log.read_snapshot(spark, t_ord, predicates=pred)
    raw = table_log.read_snapshot(spark, t_raw, predicates=pred)
    n_ord = len(ordered.inputFiles())
    n_raw = len(raw.inputFiles())
    # commit-level ranges prune for BOTH tables (later commits hold
    # k >= 30k); within the matching commit the unordered twin must
    # read every file (each spans the commit's full range) while the
    # ordered one reads only the low range slice(s)
    assert n_raw == 6, n_raw  # all 6 scrambled files of commit 1
    assert n_ord <= 2, n_ord  # the low slice of commit 1 only
    # identical answers either way
    assert sorted(r["k"] for r in ordered.collect()) == sorted(
        r["k"] for r in raw.collect()
    )
    # property survives maintenance and clears explicitly
    table_log.compact_snapshot(spark, t_ord, target_files=2)
    vs = table_log._list_versions(spark, t_ord)
    assert table_log._manifest(spark, t_ord, vs[-1])["write_order"] == ["k"]
    table_log.commit_snapshot(shuffled(0, 10), t_ord, write_order=[])
    vs = table_log._list_versions(spark, t_ord)
    assert "write_order" not in table_log._manifest(spark, t_ord, vs[-1])


def test_maintenance_reapplies_write_order(spark, tmp_path):
    """ROUND 12 (VERDICT #1): optimize/compact on a write-sorted table
    must come out write-sorted. The old coalesce-only fold handed the
    packed files the UNION of the inputs' key ranges — full-domain
    min/max on every file, quietly undoing the skipping the table paid
    a shuffle per append for. After maintenance, a narrow key probe
    must still prune to the matching slice; the unordered twin reads
    everything."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    def shuffled(lo, hi):
        return (
            spark.range(lo, hi)
            .select(
                F.xxhash64(F.col("id")).alias("scramble"),
                F.col("id").alias("k"),
                (F.col("id") % 9).alias("v"),
            )
            .repartition(6, "scramble")
            .drop("scramble")
        )

    t_ord = str(tmp_path / "m_ord")
    t_raw = str(tmp_path / "m_raw")
    for t, order in ((t_ord, ["k"]), (t_raw, None)):
        table_log.commit_snapshot(
            shuffled(0, 30_000), t, write_order=order
        )
        for lo in (30_000, 60_000):  # accrete scrambled small appends
            table_log.commit_snapshot(shuffled(lo, lo + 30_000), t)

    # OPTIMIZE folds everything into several files (small target)
    for t in (t_ord, t_raw):
        v = table_log.optimize_snapshot(
            spark, t, target_file_bytes=96 << 10,
            small_file_bytes=1 << 30,
        )
        assert v is not None
    m_ord = table_log._manifest(
        spark, t_ord, table_log._list_versions(spark, t_ord)[-1]
    )
    assert m_ord["write_order"] == ["k"]  # property carried
    assert m_ord["n_files"] >= 3  # the probe below is a real subset test

    pred = [("k", "<", 2_000)]
    ordered = table_log.read_snapshot(spark, t_ord, predicates=pred)
    raw = table_log.read_snapshot(spark, t_raw, predicates=pred)
    n_files_raw = table_log._manifest(
        spark, t_raw, table_log._list_versions(spark, t_raw)[-1]
    )["n_files"]
    assert len(raw.inputFiles()) == n_files_raw  # coalesce fold: no pruning
    assert len(ordered.inputFiles()) <= 2  # re-sorted fold: low slice only
    assert sorted(r["k"] for r in ordered.collect()) == sorted(
        r["k"] for r in raw.collect()
    ) == list(range(2_000))

    # COMPACT without an explicit zorder_by follows the property too
    table_log.compact_snapshot(spark, t_ord, target_files=4)
    table_log.compact_snapshot(spark, t_raw, target_files=4)
    ordered = table_log.read_snapshot(spark, t_ord, predicates=pred)
    raw = table_log.read_snapshot(spark, t_raw, predicates=pred)
    assert len(raw.inputFiles()) == 4
    assert len(ordered.inputFiles()) <= 2
    assert sorted(r["k"] for r in ordered.collect()) == list(range(2_000))


def test_table_properties_fail_loud_on_schema_evolution(spark, tmp_path):
    """ROUND 12 (VERDICT #2): the defined semantics for a table
    property referencing a column the schema evolves away from. A
    batch DEFINES the table's new schema, so committing one that lacks
    a property's column fails LOUDLY AT THE EVOLUTION OP — before any
    write — naming the property; previously this was an undefined
    analysis error deep in the write job, on this and every subsequent
    write. Retiring (or re-declaring) the property in the same commit
    is the evolution path. Applies to commit_snapshot, stage_snapshot
    and the MoR merge alike; declaring a constraint on a column
    history never had passes trivially (all-NULL history)."""
    import pytest as _pytest

    from etl_property_rumah123_spark.sinks import table_log

    base = spark.createDataFrame([(1, 5, 7)], "k long, v long, c long")
    no_c = spark.createDataFrame([(2, 6)], "k long, v long")

    for prop, kwargs in (
        ("constraints", {"constraints": {"c_pos": "c >= 0"}}),
        ("write_order", {"write_order": ["c"]}),
        ("bloom_cols", {"bloom_cols": {"c": 100}}),
    ):
        t = str(tmp_path / f"evo_{prop}")
        table_log.commit_snapshot(base, t, **kwargs)
        n_versions = len(table_log._list_versions(spark, t))
        # commit_snapshot CAN override properties — its error says so
        with _pytest.raises(ValueError, match="explicitly"):
            table_log.commit_snapshot(no_c, t, mode="append")
        # ADVICE round 13 (low): stage_snapshot / merge_snapshot_mor
        # accept NO property parameters — their error must point at
        # the reachable remedy (retire via a commit_snapshot append
        # first), not advertise kwargs they don't have
        with _pytest.raises(ValueError, match="commit_snapshot append"):
            table_log.stage_snapshot(no_c, t)
        with _pytest.raises(ValueError, match="commit_snapshot append"):
            table_log.merge_snapshot_mor(no_c, t, key="k")
        for op in (
            lambda: table_log.stage_snapshot(no_c, t),
            lambda: table_log.merge_snapshot_mor(no_c, t, key="k"),
        ):
            with _pytest.raises(ValueError, match=prop):
                op()
        # nothing published by the failed attempts
        assert len(table_log._list_versions(spark, t)) == n_versions
        # retire in the SAME commit: the defined evolution path
        table_log.commit_snapshot(
            no_c, t, mode="append",
            constraints={}, write_order=[], bloom_cols={},
        )
        assert sorted(
            r["k"] for r in table_log.read_snapshot(
                spark, t, merge_schema=True
            ).collect()
        ) == [1, 2]

    # declaring a constraint on a BRAND-NEW column: history reads NULL
    # there, NULL passes CHECK — the declaration must not choke on the
    # column being absent from old files
    t = str(tmp_path / "evo_new_col")
    table_log.commit_snapshot(no_c, t)
    table_log.commit_snapshot(
        base, t, mode="append", constraints={"c_pos": "c >= 0"}
    )
    vs = table_log._list_versions(spark, t)
    assert table_log._manifest(spark, t, vs[-1])["constraints"]


def test_optimize_retires_materialized_dv_rows(spark, tmp_path):
    """ROUND 12 (ADVICE low): optimize MATERIALIZES the position-DV
    rows targeting the small files it rewrites — carrying their count
    forward in dv_rows overstated the read debt and tripped
    maybe_compact_dvs earlier than needed. After a partial fold, the
    manifest's dv_rows must equal only the debt on KEPT files."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "opt_dv")
    # one LARGE file (kept by the fold) with disjoint key range
    table_log.commit_snapshot(
        spark.range(500_000).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).cast("long").alias("v"),
        ).coalesce(1),
        t,
    )
    # several SMALL appends
    for i in range(3):
        table_log.commit_snapshot(
            spark.range(1_000_000 + i * 100, 1_000_000 + i * 100 + 100)
            .select(F.col("id").alias("k"), F.lit(0).cast("long").alias("v"))
            .coalesce(1),
            t,
        )
    table_log.delete_snapshot_dv(spark, t, "k < 10")  # 10 rows, large file
    table_log.delete_snapshot_dv(
        spark, t, "k >= 1000000 AND k % 2 = 0"
    )  # 150 rows, small files
    vs = table_log._list_versions(spark, t)
    assert table_log._manifest(spark, t, vs[-1])["dv_rows"] == 160

    v = table_log.optimize_snapshot(
        spark, t, target_file_bytes=1 << 20, small_file_bytes=1 << 20
    )
    m = table_log._manifest(spark, t, v)
    assert m["kept_files"] == 1  # the large file carried by reference
    # the 150 small-file DV rows were materialized into the packed
    # files; only the large file's 10 remain as read debt
    assert m["dv_rows"] == 10
    assert table_log.count_snapshot(spark, t) == 500_000 - 10 + 150
    assert (
        table_log.read_snapshot(spark, t).count()
        == 500_000 - 10 + 150
    )


def test_optimize_dv_retirement_dedups_positions(spark, tmp_path):
    """ADVICE round 13 (low): optimize's materialized-DV subtraction
    must count DISTINCT (file_key, pos) — count_snapshot subtracts the
    distinct set, so if the dv parquet ever carries duplicate position
    entries (a retried commit re-listing a dv dir), counting raw rows
    would over-decrement dv_rows and drift the maybe_compact_dvs debt
    gauge low."""
    import json as _json

    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "opt_dv_dup")
    table_log.commit_snapshot(
        spark.range(500_000).select(
            F.col("id").alias("k"),
            (F.col("id") % 7).cast("long").alias("v"),
        ).coalesce(1),
        t,
    )
    for i in range(2):
        table_log.commit_snapshot(
            spark.range(1_000_000 + i * 100, 1_000_000 + i * 100 + 100)
            .select(F.col("id").alias("k"),
                    F.lit(0).cast("long").alias("v"))
            .coalesce(1),
            t,
        )
    table_log.delete_snapshot_dv(spark, t, "k < 10")  # large file, 10
    table_log.delete_snapshot_dv(
        spark, t, "k >= 1000000 AND k % 2 = 0"
    )  # small files, 100
    # simulate the retried-commit duplication: the manifest lists the
    # small-file dv rel TWICE — every (file_key, pos) in it reads as
    # two raw rows but is still ONE suppressed position
    vs = table_log._list_versions(spark, t)
    m_path = f"{t}/_log/v{vs[-1]}.json"
    m = _json.loads(table_log._read_file(spark, m_path).decode())
    assert len(m["dvs"]) >= 2  # both deletes' dv files are listed
    m["dvs"] = m["dvs"] + list(m["dvs"])  # every position listed twice
    table_log._write_file(spark, m_path, _json.dumps(m).encode())
    spark.catalog.clearCache()
    live = table_log.count_snapshot(spark, t)
    assert live == 500_000 + 200 - 110

    v = table_log.optimize_snapshot(
        spark, t, target_file_bytes=1 << 20, small_file_bytes=1 << 20
    )
    m2 = table_log._manifest(spark, t, v)
    # raw-row counting would have subtracted 200 (100 positions × 2
    # listings) from a 110-row debt; distinct counting leaves exactly
    # the large file's 10
    assert m2["dv_rows"] == 10
    assert table_log.count_snapshot(spark, t) == live
    assert table_log.read_snapshot(spark, t).count() == live


def test_count_matched_table_property(spark, tmp_path, monkeypatch):
    """ROUND 13 (VERDICT #3): ``count_matched`` as a DECLARED-ONCE
    table property. The MoR eq merge defaults per-commit counting OFF
    (its zero-read streaming design point), so a table mixing eq-merge
    streams with COUNT(*) dashboards silently degraded to the scan
    fallback unless every merge call site remembered the opt-in.
    Declared like bloom_cols, the property makes EVERY eq-merge record
    per-file matched counts: metadata COUNT stays job-free across an
    eq-merge stream, survives rewrites via the property carry, and
    clears explicitly."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") % 5).alias("v")
        )

    def boom(*a, **kw):
        raise AssertionError("count_snapshot scanned data")

    # WITHOUT the property: an eq merge stream degrades COUNT to a scan
    t0 = str(tmp_path / "cm_off")
    table_log.commit_snapshot(mk(0, 100), t0)
    table_log.merge_snapshot_mor(mk(50, 60), t0, key="k", eq=True)
    with monkeypatch.context() as mp:
        mp.setattr(table_log, "read_snapshot", boom)
        with pytest.raises(AssertionError, match="scanned data"):
            table_log.count_snapshot(spark, t0)
    assert table_log.count_snapshot(spark, t0) == 100  # fallback correct

    # WITH the property: the same stream stays metadata-only
    t = str(tmp_path / "cm_on")
    table_log.commit_snapshot(mk(0, 100), t, count_matched=True)
    assert table_log._manifest(spark, t, 0)["count_matched"] is True
    for lo in (50, 70, 150):  # an eq-merge "stream": upserts + inserts
        table_log.merge_snapshot_mor(mk(lo, lo + 10), t, key="k", eq=True)
    with monkeypatch.context() as mp:
        mp.setattr(table_log, "read_snapshot", boom)
        assert table_log.count_snapshot(spark, t) == 110
    assert table_log.read_snapshot(spark, t).count() == 110

    # the property carries through every rewrite/maintenance path
    table_log.delete_snapshot_dv(spark, t, "k = 1")
    table_log.compact_snapshot(spark, t, target_files=2)
    vs = table_log._list_versions(spark, t)
    assert table_log._manifest(spark, t, vs[-1])["count_matched"] is True
    table_log.merge_snapshot_mor(mk(60, 65), t, key="k", eq=True)
    with monkeypatch.context() as mp:
        mp.setattr(table_log, "read_snapshot", boom)
        assert table_log.count_snapshot(spark, t) == 109

    # per-call override still wins over the property
    table_log.merge_snapshot_mor(
        mk(60, 62), t, key="k", eq=True, count_matched=False
    )
    assert table_log.count_snapshot(spark, t) == 109  # scan fallback path
    table_log.compact_snapshot(spark, t, target_files=2)  # clear debt

    # explicit clear: later eq merges degrade again (and say so by
    # taking the fallback), None inherits the cleared state
    table_log.commit_snapshot(
        mk(500, 501), t, mode="append", count_matched=False
    )
    vs = table_log._list_versions(spark, t)
    assert "count_matched" not in table_log._manifest(spark, t, vs[-1])
    table_log.merge_snapshot_mor(mk(70, 72), t, key="k", eq=True)
    with monkeypatch.context() as mp:
        mp.setattr(table_log, "read_snapshot", boom)
        with pytest.raises(AssertionError, match="scanned data"):
            table_log.count_snapshot(spark, t)
    assert table_log.count_snapshot(spark, t) == 110


def test_publish_tombstone_ledger_fold(spark, tmp_path):
    """ROUND 13 (VERDICT #6): publish tombstones are the durable
    replay-refusal records — but one FS object per published stage
    accumulates forever. vacuum folds them into ONE generation-numbered
    ledger: per-name files drop, every folded name still refuses reuse
    AND still replays to its published version, later publishes fold
    into the next generation, and a crashed fold (partial ledger file)
    never loses a record."""
    import json as _json

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "tomb_ledger")
    table_log.commit_snapshot(
        spark.createDataFrame([(0, "z")], "k long, v string"), t
    )
    published = {}
    for i in range(3):
        name = f"s{i}"
        table_log.stage_snapshot(
            spark.createDataFrame([(10 + i, "a")], "k long, v string"),
            t, name=name,
        )
        published[name] = table_log.publish_staged(spark, t, name)
    jvm, fs = table_log._fs(spark, t)
    hp = jvm.org.apache.hadoop.fs.Path

    def per_name_files():
        return sorted(
            st.getPath().getName()
            for st in fs.listStatus(hp(f"{t}/_log/published"))
            if not table_log._PUB_LEDGER_RE.match(st.getPath().getName())
        )

    assert per_name_files() == ["s0.json", "s1.json", "s2.json"]
    dropped = table_log.vacuum(spark, t, keep_last=1, min_age_s=0)
    assert f"{t}/_log/published/s1.json" in dropped
    assert per_name_files() == []
    assert table_log._list_pub_ledgers(spark, t) == [0]
    # folded names: still permanently retired, still replayable
    import pytest as _pytest
    for name, v in published.items():
        with _pytest.raises(ValueError, match="already published"):
            table_log.stage_snapshot(
                spark.createDataFrame([(99, "x")], "k long, v string"),
                t, name=name,
            )
        assert table_log._read_published_tombstone(
            spark, t, name)["version"] == v
    # a later publish + vacuum folds ledger + new names into gen 1
    table_log.stage_snapshot(
        spark.createDataFrame([(50, "b")], "k long, v string"),
        t, name="s3",
    )
    v3 = table_log.publish_staged(spark, t, "s3")
    table_log.vacuum(spark, t, keep_last=1, min_age_s=0)
    assert per_name_files() == []
    assert table_log._list_pub_ledgers(spark, t) == [1]
    for name in list(published) + ["s3"]:
        with _pytest.raises(ValueError, match="already published"):
            table_log.stage_snapshot(
                spark.createDataFrame([(99, "x")], "k long, v string"),
                t, name=name,
            )
    # replay THROUGH the ledger: restore the marker, publish again —
    # the ledger record must answer with the original version
    staged_like = table_log._read_published_tombstone(spark, t, "s3")
    table_log._write_file(
        spark, f"{t}/_log/staged/s3.json",
        _json.dumps({
            "name": "s3", "new_files": staged_like["new_files"],
            "schema": None, "stats": {},
        }).encode(),
    )
    assert table_log.publish_staged(spark, t, "s3") == v3
    # crashed fold: a PARTIAL higher-gen ledger appears while the
    # current ledger survives (fold deletes sources only after the new
    # ledger is complete) — every record must stay discoverable
    out = fs.create(hp(table_log._pub_ledger_path(t, 2)), True)
    out.write(b'{"records": {"s0"')
    out.close()
    assert table_log._read_published_tombstone(
        spark, t, "s0")["version"] == published["s0"]
    # and the NEXT fold repairs: reads what parses, folds to gen 3
    table_log.vacuum(spark, t, keep_last=1, min_age_s=0)
    assert table_log._list_pub_ledgers(spark, t) == [3]
    for name in list(published) + ["s3"]:
        assert table_log._read_published_tombstone(spark, t, name)
    # the ledger namespace is reserved
    with _pytest.raises(ValueError, match="reserved"):
        table_log.stage_snapshot(
            spark.createDataFrame([(1, "x")], "k long, v string"),
            t, name="published_ledger_7",
        )


def test_read_changes_merge_fast_path_matches_generic_diff(
    spark, tmp_path
):
    """ROUND 13 (VERDICT #4): the CoW merge persists its batch key set
    so the change feed can narrow both diff sides to key-matched rows
    before exceptAll — carry rows are identical multisets on both
    sides by construction, so the narrowed diff is BIT-IDENTICAL to
    the full one while shuffling O(batch + matched) instead of
    O(rewritten bytes). Pinned by running the same span through the
    fast path and (merge_keys stripped from the manifest) the generic
    path, including NULL batch keys and same-content upserts."""
    import json as _json

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "cdf_merge_fast")
    table_log.commit_snapshot(
        spark.createDataFrame(
            [(k, f"v{k}", k * 10) for k in range(200)],
            "k long, v string, x long",
        ).coalesce(4),
        t,
    )
    # the merge batch: updates (2 changed, 1 same-content no-op
    # upsert), fresh inserts, and a NULL-key row
    batch = spark.createDataFrame(
        [
            (5, "UP5", 50_000),
            (7, "UP7", 70_000),
            (9, "v9", 90),          # same content as the stored row
            (500, "new", 1),
            (None, "nullkey", 2),
        ],
        "k long, v string, x long",
    )
    table_log.merge_snapshot(batch, t, key="k")
    vs = table_log._list_versions(spark, t)
    m = table_log._manifest(spark, t, vs[-1])
    assert m["merge_key"] == "k" and m["merge_keys"]

    def feed():
        rows = [
            (r["k"], r["v"], r["x"], r["_change_type"])
            for r in table_log.read_changes(spark, t, 0).collect()
        ]
        return sorted(rows, key=lambda x: (x[0] is None, x))

    fast = feed()
    # strip the key files from the manifest -> generic exceptAll path
    m_path = f"{t}/_log/v{vs[-1]}.json"
    stripped = {
        k: v for k, v in m.items() if k not in ("merge_keys",)
    }
    table_log._write_file(
        spark, m_path, _json.dumps(stripped).encode()
    )
    generic = feed()
    assert fast == generic
    # spot semantics: changed keys emit pairs, the same-content upsert
    # emits nothing, the null-key row and fresh key are pure inserts
    by_key = {}
    for k, v, x, ct in fast:
        by_key.setdefault(k, []).append(ct)
    assert sorted(by_key[5]) == ["delete", "insert"]
    assert sorted(by_key[7]) == ["delete", "insert"]
    assert 9 not in by_key
    assert by_key[500] == ["insert"]
    assert by_key[None] == ["insert"]


def test_tombstone_fold_tolerates_debris_and_legacy_ledger_names(
    spark, tmp_path
):
    """Fold hardening (round-13 review): (a) a per-name tombstone that
    does not parse (a publish crashed mid-write) is SKIPPED, not
    folded and not deleted — one unreadable file must never brick
    every future vacuum; (b) a parseable file whose stage was literally
    NAMED published_ledger_<n> (the name became reserved only after
    ledgers shipped) is a legacy per-name tombstone — it folds as the
    RECORD for that name instead of being misread as an empty ledger
    and destroyed; (c) per-name files younger than vacuum's min_age_s
    are left for the next pass (a lock-free concurrent publish may
    still be writing)."""
    import json as _json

    import pytest as _pytest

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "fold_debris")
    table_log.commit_snapshot(
        spark.createDataFrame([(0, "z")], "k long, v string"), t
    )
    published = {}
    for name in ("s0", "s1"):
        table_log.stage_snapshot(
            spark.createDataFrame([(1, "a")], "k long, v string"),
            t, name=name,
        )
        published[name] = table_log.publish_staged(spark, t, name)
    jvm, fs = table_log._fs(spark, t)
    hp = jvm.org.apache.hadoop.fs.Path

    def write_pub(name, data: bytes):
        out = fs.create(hp(f"{t}/_log/published/{name}"), True)
        out.write(data)
        out.close()

    def pub_files():
        return sorted(
            st.getPath().getName()
            for st in fs.listStatus(hp(f"{t}/_log/published"))
        )

    # (b) legacy stage named like a ledger, published pre-reservation
    legacy_rec = {"version": 77, "new_files": ["data/cleg/f.parquet"]}
    write_pub("published_ledger_3.json", _json.dumps(legacy_rec).encode())
    # (a) a publish crashed mid-write of its tombstone
    write_pub("broken.json", b'{"version": 9, "new_f')

    dropped = table_log.vacuum(spark, t, keep_last=1, min_age_s=0)
    assert f"{t}/_log/published/broken.json" not in dropped
    assert pub_files() == ["broken.json", "published_ledger_4.json"]
    for name, v in published.items():
        assert table_log._read_published_tombstone(
            spark, t, name)["version"] == v
        with _pytest.raises(ValueError, match="already published"):
            table_log.stage_snapshot(
                spark.createDataFrame([(9, "x")], "k long, v string"),
                t, name=name,
            )
    assert table_log._read_published_tombstone(
        spark, t, "published_ledger_3") == legacy_rec

    # (c) young per-name files wait for the retention window
    write_pub("broken.json", _json.dumps(
        {"version": 9, "new_files": ["data/cb/f.parquet"]}
    ).encode())
    assert table_log.vacuum(spark, t, keep_last=1, min_age_s=3600) == []
    assert "broken.json" in pub_files()

    # once old enough (min_age_s=0 here), the repaired file folds too
    table_log.vacuum(spark, t, keep_last=1, min_age_s=0)
    assert pub_files() == ["published_ledger_5.json"]
    assert table_log._read_published_tombstone(
        spark, t, "broken")["version"] == 9
    assert table_log._read_published_tombstone(
        spark, t, "published_ledger_3") == legacy_rec


def test_commit_snapshot_observe_rides_write(spark, tmp_path):
    """commit_snapshot's caller-metric observation (round 13): the
    metrics ride the commit's write job, observe_drop columns are
    visible to them but land in neither the files nor the recorded
    schema, and a CALLABLE extra_meta embeds the observed values in
    the manifest atomically with the commit."""
    from pyspark.sql import functions as F

    from etl_property_rumah123_spark.sinks import table_log

    t = str(tmp_path / "obs_commit")
    df = spark.createDataFrame(
        [(1, 2.0), (2, 4.0), (3, 6.0)], "k long, aux double"
    )
    v = table_log.commit_snapshot(
        df, t,
        observe={"n_in": F.count(F.lit(1)), "aux_avg": F.avg("aux")},
        observe_drop=["aux"],
        extra_meta=lambda vals: {
            "batch_n": int(vals["n_in"]),
            "batch_aux_avg": vals["aux_avg"],
        },
    )
    m = table_log._manifest(spark, t, v)
    assert m["batch_n"] == 3
    assert abs(m["batch_aux_avg"] - 4.0) < 1e-12
    back = table_log.read_snapshot(spark, t)
    assert back.columns == ["k"]  # aux observed, never written
    assert "aux" not in m["schema"]
    with pytest.raises(ValueError, match="__chk_"):
        table_log.commit_snapshot(
            df.drop("aux"), t, observe={"__chk_x": F.count(F.lit(1))}
        )
