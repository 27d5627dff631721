"""Round-13 optimization pins: the driver-side plan-construction
fixes must be VALUE-IDENTICAL to the shapes they replaced.

- catalog.table schema memo: the memoized read returns the same
  schema and rows as a fresh inference, and the (path, mtime, size)
  key invalidates when the file changes.
- _centroid_literal: the single-expr literal equals the per-element
  F.array(F.struct(F.lit...)) comprehension bit for bit (repr round
  trip), and non-finite values fall back to the comprehension.
- pq_topk_seeded narrow encode: the Arrow argmin codes equal the
  legacy crossJoin + window codes row for row.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_property_rumah123_spark.operators import similarity
from etl_property_rumah123_spark.sources import catalog
from tests.conftest import SF_SMOKE


def test_schema_memo_hits_and_matches_inference(spark, tmp_path):
    # fresh copy so this test owns the memo entry
    src = os.path.join(SF_SMOKE, "customer.parquet")
    dst_dir = str(tmp_path / "sfX")
    os.makedirs(dst_dir)
    dst = os.path.join(dst_dir, "customer.parquet")
    shutil.copy(src, dst)

    sig = catalog._path_sig(dst)
    assert sig is not None and sig not in catalog._SCHEMA_MEMO
    df_cold = catalog.table(spark, dst_dir, "customer")
    assert sig in catalog._SCHEMA_MEMO  # populated by the cold read
    df_warm = catalog.table(spark, dst_dir, "customer")
    assert df_warm.schema == df_cold.schema
    assert df_warm.count() == df_cold.count()
    # rewriting the file invalidates the key (mtime/size change)
    df_cold.limit(10).write.mode("overwrite").parquet(dst + ".tmp")
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    else:
        os.remove(dst)
    shutil.move(dst + ".tmp", dst)
    assert catalog._path_sig(dst) != sig
    assert catalog.table(spark, dst_dir, "customer").count() == 10


def test_centroid_literal_equals_per_element_form(spark):
    rows = [
        {"cell": i, "centroid": [0.1 * i + j * 1e-7 for j in range(8)]}
        for i in range(4)
    ]
    # a knife-edge float that stresses the repr round trip
    rows[1]["centroid"][3] = 1.0000000000000002
    lit_new = similarity._centroid_literal(rows)
    lit_old = F.array(*[
        F.struct(
            F.lit(int(r["cell"])).alias("cell"),
            F.array(*[F.lit(float(x)) for x in r["centroid"]]).alias("c"),
        )
        for r in rows
    ])
    got = spark.range(1).select(
        lit_new.alias("a"), lit_old.alias("b")
    ).first()
    assert got["a"] == got["b"]
    for r, e in zip(got["a"], rows):
        assert r["cell"] == e["cell"]
        assert list(r["c"]) == e["centroid"]  # exact doubles


def test_centroid_literal_nonfinite_falls_back(spark):
    rows = [{"cell": 0, "centroid": [1.0, math.inf]}]
    col = similarity._centroid_literal(rows)
    got = spark.range(1).select(col.alias("a")).first()["a"]
    assert got[0]["c"][1] == math.inf


def test_pq_seeded_narrow_encode_matches_legacy_codes(spark, sf_dir):
    """The narrow PQ encode (no crossJoin/window exchange) must
    produce the same (neighbor_id, j, c) codes as the legacy shape it
    replaced — same d2 fold, same (d2, c) tiebreak."""
    from etl_property_rumah123_spark.operators.similarity import (
        _hash_sample_rows,
    )
    from etl_property_rumah123_spark.sources.catalog import table

    corpus = table(spark, sf_dir, "embeddings")
    m, nbits = 8, 4
    ksub = 2 ** nbits
    samples = _hash_sample_rows(corpus, ksub, "pq|", "embedding", "vec_id")
    dim = len(samples[0][2])
    dsub = dim // m
    cb_rows = [
        (j, c, v[j * dsub : (j + 1) * dsub])
        for j in range(m)
        for c, _sid, v in samples
    ]
    cb = F.broadcast(
        spark.createDataFrame(cb_rows, "j int, c int, w array<double>")
    )
    c_side = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )

    # legacy shape (as it was before round 13)
    sub = F.slice(F.col("cv"), F.col("j") * dsub + 1, dsub)
    d2 = F.aggregate(
        F.zip_with(
            sub, F.col("w"),
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wenc = Window.partitionBy("neighbor_id", "j").orderBy(
        F.col("d2").asc(), F.col("c")
    )
    legacy = (
        c_side.crossJoin(cb)
        .withColumn("d2", d2)
        .withColumn("__r", F.row_number().over(wenc))
        .filter(F.col("__r") == 1)
        .select("neighbor_id", "j", "c")
    )

    # the shipped narrow encode: run the full pq_topk_seeded end to
    # end, and diff the codes of the encode it calls
    got = similarity.pq_topk_seeded(
        corpus.filter(F.col("vec_id") < 5), corpus, k=3, m=m, nbits=nbits
    )
    assert got.count() > 0  # narrow path executes end to end

    narrow = similarity._pq_encode_codes(c_side, cb_rows, m, dsub)
    diff = narrow.exceptAll(legacy).union(legacy.exceptAll(narrow))
    assert diff.count() == 0
