"""Round-14 optimization pins: every optimization must be
VALUE-IDENTICAL to the shape it replaced.

- _pq_encode_codes arrow kernel: the plan is narrow (MapInPandas, no
  Window exchange, no cartesian product); its codes are pinned equal
  to the crossJoin+window form in test_optimization_r13.py.
- _double_array_literal: one-expr array equals the per-element F.lit
  form bit for bit; non-finite falls back.
- plain-dir rebalance overlays carry cells_schema (ADVICE r13): after
  a rebalance the resolved meta's recorded schema matches a fresh
  inference of the new generation dir, and a sidecar without it
  fails the probe loudly.
- probes read only the probed cell= dirs, with the same rows as a
  full-dir read filtered to the probed cells.
- edge inputs: an empty corpus gives an empty seeded-IVF answer; a
  non-finite sampled PQ codebook is rejected.
- catalog._path_sig is directory-aware: rewriting a part file inside
  a parquet DIRECTORY table changes the signature even when the dir
  inode stats do not.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from etl_property_rumah123_spark.operators import similarity
from etl_property_rumah123_spark.sources import catalog


def test_pq_arrow_encode_is_the_default_plan(spark, sf_dir):
    """The encode is the Arrow kernel: MapInPandas in the plan, no
    crossjoin, no Window exchange."""
    from etl_property_rumah123_spark.sources.catalog import table

    corpus = table(spark, sf_dir, "embeddings")
    m, nbits = 8, 4
    samples = similarity._hash_sample_rows(
        corpus, 2 ** nbits, "pq|", "embedding", "vec_id"
    )
    dsub = len(samples[0][2]) // m
    cb_rows = [
        (j, c, v[j * dsub : (j + 1) * dsub])
        for j in range(m)
        for c, _sid, v in samples
    ]
    c_side = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
    )
    codes = similarity._pq_encode_codes(c_side, cb_rows, m, dsub)
    plan = codes._sc._jvm.PythonSQLUtils.explainString(
        codes._jdf.queryExecution(), "formatted"
    )
    assert "MapInPandas" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_double_array_literal_equals_per_element_form(spark):
    vals = [0.1 * j + 1e-7 for j in range(8)]
    vals[3] = 1.0000000000000002  # repr round-trip knife edge
    got = spark.range(1).select(
        similarity._double_array_literal(vals).alias("a"),
        F.array(*[F.lit(float(x)) for x in vals]).alias("b"),
    ).first()
    assert got["a"] == got["b"]
    assert list(got["a"]) == vals  # exact doubles

    nf = similarity._double_array_literal([1.0, math.inf])
    got_nf = spark.range(1).select(nf.alias("a")).first()["a"]
    assert got_nf[1] == math.inf


def test_rebalance_overlay_carries_cells_schema(spark, sf_dir, tmp_path):
    """ADVICE r13 (medium): after a plain-dir rebalance the resolved
    sidecar's cells_schema must describe the NEW generation dir —
    byte-equal to a fresh inference of it."""
    from etl_property_rumah123_spark.sources.catalog import table

    idx = str(tmp_path / "ann_idx")
    corpus = table(spark, sf_dir, "embeddings")
    similarity.write_ann_index(corpus, idx, n_lists=4)
    similarity.append_ann_index(corpus.limit(20), idx)
    similarity.rebalance_ann_index(spark, idx)
    meta = similarity.read_ann_meta(spark, idx)
    rel = similarity._cells_rel(meta)
    assert rel != "cells"  # the rebalance moved the live cells
    assert meta.get("cells_schema") == (
        spark.read.parquet(f"{idx}/{rel}").schema.json()
    )
    # and a pre-r14 overlay (no cells_schema field) must NOT leave the
    # stale base schema in force. Rewrite through the Hadoop-FS writer
    # (a plain open() rewrite leaves a stale .crc sidecar and the
    # resolver rightly skips the overlay as corrupt).
    gen = int(meta["rebalance_gen"])
    pre_r14 = {
        k: meta[k]
        for k in (
            "centroids_rel", "cells_rel", "rebalance_gen", "drift_baseline",
        )
    }
    similarity._write_ann_gen_overlay(spark, idx, gen, pre_r14)
    meta2 = similarity.read_ann_meta(spark, idx)
    assert meta2["cells_rel"] == rel  # the overlay still resolves
    assert "cells_schema" not in meta2
    # ...so a probe fails loud instead of reading the new generation
    # dir with the previous generation's schema
    with pytest.raises(ValueError, match="cells_schema"):
        similarity.probe_ann_index(corpus.limit(2), idx, k=3)


def test_probed_dirs_read_matches_full_listing(spark, sf_dir, tmp_path):
    """Round-14 probe optimization: reading only the probed cell=
    directories (basePath + recorded schema) must return exactly what
    a full-dir read filtered to the probed cells returns — on the RP
    index, the IVF index, and a post-rebalance IVF generation dir —
    and an empty probed-dir intersection (buckets never populated)
    returns an empty, correctly-typed frame."""
    from etl_property_rumah123_spark.sources.catalog import table

    corpus = table(spark, sf_dir, "embeddings")
    rp = str(tmp_path / "rp_idx")
    dim = len(corpus.select("embedding").first()[0])
    similarity.write_rp_index(corpus, rp, dim=dim, num_planes=6)
    ivf = str(tmp_path / "ivf_idx")
    similarity.write_ann_index(corpus, ivf, n_lists=8)
    similarity.rebalance_ann_index(spark, ivf)  # live cells: cells_g1

    def rows(df):
        return sorted(
            (r["id"], tuple(r["vec"]), r["cell"]) for r in df.collect()
        )

    for idx in (rp, ivf):
        meta = similarity.read_ann_meta(spark, idx)
        cells = f"{idx}/{similarity._cells_rel(meta)}"
        present = sorted(
            r[0]
            for r in spark.read.parquet(cells).select("cell").distinct()
            .collect()
        )
        probed = present[::2] + [10**9]  # plus a never-populated cell
        got = similarity._probed_cells_df(spark, meta, cells, probed)
        want = spark.read.parquet(cells).filter(F.col("cell").isin(probed))
        assert got.schema == want.schema
        got_rows = rows(got)
        assert got_rows == rows(want) and len(got_rows) > 0

        empty = similarity._probed_cells_df(spark, meta, cells, [10**9])
        assert empty.count() == 0
        assert empty.schema == want.schema


def test_path_sig_detects_in_place_dir_rewrite(spark, tmp_path):
    """ADVICE r13 (low): rewriting a part file inside a parquet
    directory must change the memo signature."""
    d = str(tmp_path / "t.parquet")
    spark.range(10).coalesce(1).write.parquet(d)
    sig1 = catalog._path_sig(d)
    part = next(
        p for p in os.listdir(d) if p.endswith(".parquet")
    )
    full = os.path.join(d, part)
    with open(full, "ab") as fh:
        fh.write(b"x")
    # stamp "now" — the part file's original mtime predates _SUCCESS
    # (the committer writes it last), so a tiny relative bump could
    # still lose the newest-child comparison
    os.utime(full)
    sig2 = catalog._path_sig(d)
    assert sig1 != sig2


def test_schema_memo_is_bounded():
    assert catalog._SCHEMA_MEMO_MAX >= 16
    catalog._SCHEMA_MEMO.clear()
    for i in range(catalog._SCHEMA_MEMO_MAX + 8):
        catalog._memo_put(("p", i), object())
    assert len(catalog._SCHEMA_MEMO) == catalog._SCHEMA_MEMO_MAX
    catalog._SCHEMA_MEMO.clear()


def test_ivf_seeded_empty_corpus_gives_empty_answer(spark, sf_dir):
    """An empty corpus has no seed centroids: the assignment and the
    IVF answer are empty frames with the usual columns and types."""
    from etl_property_rumah123_spark.sources.catalog import table

    corpus = table(spark, sf_dir, "embeddings")
    queries = corpus.limit(3)
    none = corpus.where(F.lit(False))
    cent = spark.createDataFrame([], "cell int, centroid array<double>")
    assigned = similarity._assign_cells(
        queries, cent, "id", 2, "embedding", "vec_id", keep_dist=True
    )
    assert assigned.columns == ["id", "__v", "cell", "__d2"]
    assert assigned.count() == 0

    got = similarity.ivf_topk_seeded(queries, none, k=3, n_lists=4)
    ref = similarity.ivf_topk_seeded(queries, corpus, k=3, n_lists=4)
    assert got.dtypes == ref.dtypes
    assert got.count() == 0


def test_pq_seeded_empty_corpus_gives_empty_answer(spark, sf_dir):
    """An empty corpus has no codebook: PQ answers with an empty frame
    typed like a real answer, as IVF does, instead of an IndexError."""
    from etl_property_rumah123_spark.sources.catalog import table

    corpus = table(spark, sf_dir, "embeddings")
    queries = corpus.limit(3)
    got = similarity.pq_topk_seeded(
        queries, corpus.where(F.lit(False)), k=3, m=4, nbits=2
    )
    ref = similarity.pq_topk_seeded(queries, corpus, k=3, m=4, nbits=2)
    assert got.dtypes == ref.dtypes
    assert got.count() == 0


def test_pq_seeded_rejects_non_finite_codebook(spark):
    """A NaN in a sampled codebook vector would make the encode's
    argmin disagree with SQL ordering: rejected before any plan runs."""
    vecs = [(i, [float(i), 1.0, 2.0, 3.0]) for i in range(4)]
    vecs[2] = (2, [float("nan"), 1.0, 2.0, 3.0])
    corpus = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>"
    )
    # nbits=2: all four rows are sampled into the codebook
    with pytest.raises(ValueError, match="NaN"):
        similarity.pq_topk_seeded(corpus, corpus, k=2, m=2, nbits=2)
