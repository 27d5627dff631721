"""Similarity search over embedding columns.

Two paths, per the north star:

- **brute-force top-k** (ground truth): query set x corpus join, dot
  product (== cosine on unit vectors), per-query top-k window. The
  corpus side streams; only (query_id, corpus_id, score) reach the
  shuffle. Correct at any scale but O(|Q| * n) — right when |Q| is
  small or as the in-bucket verifier.
- **bucketed ANN** (scale path): random-hyperplane LSH (sign bits of
  projections onto deterministic pseudo-random unit vectors) or
  IVF-style coarse quantization; candidates come from the query's
  bucket (+ optional multi-probe), then exact scoring inside buckets.
  Turns the n in O(|Q| * n) into the bucket size.

The projection vectors are derived from md5 of (table_seed, plane,
dim) — fully deterministic, no fitted state to ship, reproducible
across runs and engines.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import OrderedDict

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_property_rumah123_spark.functions.vector import dot


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side should be small (it is broadcast); ranking uses a
    per-query window with a deterministic (score desc, id) tiebreak.
    Output: (query_id, neighbor_id, rank).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", dot(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _hyperplane(seed: str, plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random +-1 hyperplane from md5 bits."""
    out: list[float] = []
    i = 0
    while len(out) < dim:
        h = hashlib.md5(f"{seed}|{plane}|{i}".encode()).digest()
        for byte in h:
            for bit in range(8):
                if len(out) >= dim:
                    break
                out.append(1.0 if (byte >> bit) & 1 else -1.0)
        i += 1
    return out


def _double_array_literal(vals: list[float]):
    """One plan-literal ARRAY<DOUBLE> built as a SINGLE ``F.expr``
    call. ``F.lit(list)`` on classic py4j PySpark desugars to
    ``array(*[lit(x) ...])`` — one driver round trip per ELEMENT
    (ADVICE r13 measured it call-for-call identical to the explicit
    comprehension at dim 64), so batching must happen in SQL text.
    ``repr(float)`` is the shortest round-tripping decimal, so
    ``Double.parseDouble`` reconstructs bit-identical doubles (same
    argument as :func:`_centroid_literal`); non-finite values fall
    back to the per-element form because SQL has no inf/nan double
    literal."""
    if all(isinstance(x, float) and math.isfinite(x) for x in vals):
        return F.expr("array(" + ",".join(f"{x!r}D" for x in vals) + ")")
    return F.array(*[F.lit(float(x)) for x in vals])


def rp_lsh_buckets(
    df: DataFrame,
    dim: int,
    num_planes: int = 8,
    vec_col: str = "embedding",
    seed: str = "rp-lsh-42",
) -> DataFrame:
    """Attach a random-hyperplane LSH bucket id (sign-bit code).

    Vectors with high cosine similarity agree on most sign bits, so
    near neighbors concentrate in the same bucket. The planes are
    constant literal arrays compiled into the plan — no fitted model,
    no broadcast needed; each plane is ONE ``F.expr`` parse, not one
    py4j call per element (:func:`_double_array_literal`).
    """
    code = F.lit(0).cast("long")
    for p in range(num_planes):
        plane = _double_array_literal(_hyperplane(seed, p, dim))
        bit = (dot(F.col(vec_col), plane) >= 0).cast("long")
        code = code.bitwiseOR(F.shiftleft(bit, p))
    return df.withColumn("bucket", code)


def ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    num_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    hamming_probes: int = 0,
) -> DataFrame:
    """Approximate top-k: exact scoring restricted to the query's LSH
    bucket(s). Recall knobs: fewer planes -> bigger buckets; and
    **multi-probe** (``hamming_probes=1``): each query also probes the
    ``num_planes`` buckets one sign-flip away — the standard trick that
    buys most of a second hash table's recall for zero extra corpus
    state (only the tiny query side fans out). Output:
    (query_id, neighbor_id, rank)."""
    qb = rp_lsh_buckets(queries, dim, num_planes, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), "bucket"
    )
    if hamming_probes >= 1:
        flips = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p).cast("long"))
                for p in range(num_planes)
            ],
        )
        qb = qb.withColumn("bucket", F.explode(flips))
    cb = rp_lsh_buckets(corpus, dim, num_planes, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "bucket"
    )
    # broadcast the query-bucket side (|Q| x (1 + num_planes) rows at
    # most) so corpus buckets are never shuffled — the same
    # small-query-side contract as brute_force_topk
    scored = (
        F.broadcast(qb).join(cb, "bucket")
        .select("query_id", "neighbor_id", "qv", "cv")
        .distinct()  # multi-probe may reach one candidate via 2 buckets
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", dot(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    nbits: int = 4,
    vec_col: str = "embedding",
    sample_size: int = 2048,
    seed: int = 42,
    iters: int = 10,
):
    """Train product-quantization codebooks: split the vector into
    ``m`` subspaces, k-means (k = 2**nbits) each subspace on a bounded
    corpus sample.

    The codebook is a model artifact (m * 2**nbits * dim/m floats —
    a few KB), trained on a driver-side SAMPLE exactly like the IVF
    centroids: at 100 TB you sample a few thousand vectors, never the
    corpus. Deterministic: fixed seed, fixed Lloyd iteration count.
    Returns a numpy array of shape (m, 2**nbits, dim//m).
    """
    import numpy as np

    sample = corpus.select(vec_col).limit(sample_size).collect()
    X = np.array([r[0] for r in sample], dtype=np.float64)
    n, dim = X.shape
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub, ksub = dim // m, 2 ** nbits
    rng = np.random.RandomState(seed)
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        sub = X[:, j * dsub : (j + 1) * dsub]
        cent = sub[rng.choice(n, size=ksub, replace=n < ksub)].copy()
        for _ in range(iters):  # Lloyd
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                pts = sub[assign == c]
                if len(pts):
                    cent[c] = pts.mean(axis=0)
        books[j] = cent
    return books


def pq_encode(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode vectors to PQ codes: per subspace, the index of the
    nearest codebook centroid — m small ints per vector instead of
    dim floats (the 32x+ index compression that makes billion-vector
    ANN fit in memory). One Arrow-batched corpus pass; the codes
    table is the reusable serving artifact."""
    m, ksub, dsub = codebooks.shape
    books = codebooks  # closure-captured; broadcast with the task

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(X), m), dtype=np.int32)
            for j in range(m):
                sub = X[:, j * dsub : (j + 1) * dsub]
                d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {"nid": pdf[id_col], "codes": list(codes)}
            )

    return df.select(id_col, vec_col).mapInPandas(
        kernel, schema="nid long, codes array<int>"
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 8,
    nbits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    refine_factor: int = 8,
    max_queries: int = 100_000,
) -> DataFrame:
    """PQ-ADC approximate top-k with exact re-ranking.

    Pipeline: train codebooks on a sample -> encode the corpus
    (Arrow-batched pass, m bytes/vector) -> asymmetric distance
    computation: each query precomputes an m x 2**nbits inner-product
    lookup table against the codebooks, so scoring a corpus vector is
    m table lookups on its codes, never a d-dim dot product ->
    top ``k * refine_factor`` candidates per query by ADC score ->
    exact re-rank of just those candidates against the true vectors.
    ``refine_factor`` trades candidate-set size for recall: tightly
    clustered corpora need a wider set because ADC error exceeds the
    sim gap between near-tied neighbors (8x is recall 1.0 on the
    clustered test fixture; 4x drops to ~0.65).

    Scale shape: queries are collected (small by contract, same as the
    broadcast in brute_force_topk) — the collect is BOUNDED by
    ``max_queries`` with the limit applied before it, so a caller that
    violates the small-query-batch contract gets a loud error naming
    the knob instead of a silent driver flood (each query also costs
    an m x 2**nbits LUT row, so the cap bounds the broadcast LUT too).
    The corpus is touched twice — once to encode (reusable artifact),
    once streaming code lookups — and the only shuffle carries
    (query, candidate, score) triples.
    Output: (query_id, neighbor_id, rank), same contract as ann_topk.
    """
    import numpy as np

    books = train_pq_codebooks(corpus, m, nbits, vec_col, seed=seed)
    _, ksub, dsub = books.shape
    q_rows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"pq_topk received a query batch larger than max_queries="
            f"{max_queries}: the query side is collected to the driver "
            "to build the ADC lookup tables, so an unbounded batch is a "
            "driver OOM. Split the batch, or raise max_queries if the "
            "driver really has the memory."
        )
    q_ids = np.array([r[0] for r in q_rows])
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    # LUT[q, j, c] = <query_q subspace_j, centroid_c> ; ADC score =
    # sum_j LUT[q, j, codes_j] ~= full dot product
    lut = np.einsum(
        "qjd,jcd->qjc",
        Q.reshape(len(Q), m, dsub),
        books,
    )

    codes = pq_encode(corpus, books, vec_col, id_col)

    def score_kernel(batches):
        import pandas as pd

        for pdf in batches:
            C = np.stack(pdf["codes"].to_numpy())  # (b, m)
            # scores: (q, b) via LUT fancy-indexing per subspace
            scores = np.zeros((len(Q), len(C)))
            for j in range(m):
                scores += lut[:, j, C[:, j]]
            nids = pdf["nid"].to_numpy()
            out_q, out_n, out_s = [], [], []
            for qi in range(len(Q)):
                out_q.extend([int(q_ids[qi])] * len(C))
                out_n.extend(nids)
                out_s.extend(scores[qi])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "approx_sim": out_s}
            )

    import pandas as pd  # noqa: F401

    approx = codes.mapInPandas(
        score_kernel, schema="query_id long, neighbor_id long, approx_sim double"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    wa = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id")
    )
    cand = (
        approx.withColumn("ar", F.row_number().over(wa))
        .filter(F.col("ar") <= k * refine_factor)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank of the candidate set only
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    rescored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn("sim", dot(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _hash_sample_rows(
    corpus: DataFrame, n: int, salt: str, vec_col: str, id_col: str
) -> list[tuple]:
    """``n`` corpus rows picked by md5(salt || id) order — a
    deterministic, engine-portable 'random' sample (md5 of the id is
    uniform; no RNG state, so DuckDB reproduces the pick with the same
    one-line ORDER BY). Bounded driver collect, same contract as the
    KMeans/codebook sample fits. Returns [(idx, id, [float,...])]."""
    rows = (
        corpus.select(F.col(id_col).alias("sid"), F.col(vec_col).alias("v"))
        .withColumn(
            "__h", F.md5(F.concat(F.lit(salt), F.col("sid").cast("string")))
        )
        .orderBy("__h", "sid")
        .limit(n)
        .collect()
    )
    return [(i, r["sid"], [float(x) for x in r["v"]]) for i, r in enumerate(rows)]


#: past this many centroid-array ELEMENTS (n_lists × dim) the
#: Arrow-batched GEMM kernel takes over from the plan-literal shape —
#: same narrow zero-shuffle topology either way. Round 14 measured the
#: literal shape NEAR the old 262144 ceiling (the A/B the r13 verdict
#: asked for; sf0.1 embeddings, 2000 rows, dim 64, warm):
#:   n_lists=1024 (65 536 elems): literal 3–5.6 s build + 18–19 s
#:     exec vs arrow 0.3 s + 0.4 s;
#:   n_lists=4096 (262 144 elems): literal ~11 s build + ~84 s exec
#:     vs arrow 0.5 s + 1.0 s
#: — the interpreted per-row HOF fold is linear in n_lists×dim PER
#: ROW, so the old ceiling was far too high. Lowered to 16384 (256
#: cells at dim 64): every ORACLED index (16 × 64 = 1024 elements)
#: stays on the bit-exact literal path with 16× headroom, and the
#: path-consistency rule is unchanged (cut-over depends only on the
#: centroid-set size, so a given index always assigns via one shape).
_ASSIGN_LITERAL_MAX_ELEMENTS = 16384


#: per-centroid-set broadcast memo for the Arrow assignment kernel —
#: a long-lived maintenance/ingest session calls _assign_cells once
#: per append/probe batch against the SAME frozen centroid generation;
#: without the memo each call torrent-broadcasts a fresh copy of the
#: (up to ~25 MB at 4096×768) matrix and never releases it, leaking
#: one broadcast per call for the session lifetime. Keyed by
#: (applicationId, content digest) so a rebalanced generation or a new
#: session gets its own entry; eviction just DROPS our reference (no
#: destroy() — an in-flight lazy plan may still hold the broadcast;
#: Spark's ContextCleaner reclaims the JVM side once nothing does).
_ASSIGN_BC_CACHE: "OrderedDict[tuple, object]" = OrderedDict()
_ASSIGN_BC_MAX = 4


def _assign_broadcast(spark, cells_np, cent_np, c_norms):
    digest = hashlib.sha1(
        cells_np.tobytes() + cent_np.tobytes()
    ).hexdigest()
    key = (spark.sparkContext.applicationId, digest)
    bc = _ASSIGN_BC_CACHE.get(key)
    if bc is not None:
        _ASSIGN_BC_CACHE.move_to_end(key)
        return bc
    bc = spark.sparkContext.broadcast((cells_np, cent_np, c_norms))
    _ASSIGN_BC_CACHE[key] = bc
    while len(_ASSIGN_BC_CACHE) > _ASSIGN_BC_MAX:
        _ASSIGN_BC_CACHE.popitem(last=False)
    return bc


def _assign_cells_arrow(
    base: DataFrame, rows: list, id_alias: str, keep_n: int
) -> DataFrame:
    """Arrow-batched nearest-cell assignment — the PRODUCTION-SCALE
    shape of :func:`_assign_cells`, used when the centroid set is too
    large to ride into the plan as a literal (n_lists × dim above
    ``_ASSIGN_LITERAL_MAX_ELEMENTS`` — e.g. the 100 TB design point
    of n_lists 4096 × dim 768 = 3.1 M elements). Same NARROW topology
    as the literal path: zero shuffles, each task scores its own rows
    against the broadcast centroid matrix with one float64 GEMM per
    Arrow batch (rank key ``|c|² − 2·v·c`` — the row-constant |v|²
    cannot change the ordering and is added back only for the reported
    ``__d2``). Ties still break to the LOWER cell id (centroids arrive
    sorted by cell; argmin/stable argsort take the first minimum).

    The one documented divergence from the literal path: BLAS matmul
    sums products pairwise, not left-to-right, so a d2 tie that is
    exact under the sequential fold can round differently here and a
    NEAR-tie (< ~1e-12 relative) may flip which cell wins. That moves
    a vector between two equidistant cells of the SAME index — probe
    answers stay exact because probes score candidates with the shared
    fold — and the path cut-over depends only on the centroid-set
    size, so every assignment a given index ever performs (build,
    append, probe, rebalance) takes the SAME path and the drift
    baseline is compared like-for-like. ``base`` is the
    (id_alias, __v) projection; output adds (cell, __d2)."""
    import numpy as np
    from pyspark.sql import types as T

    spark = base.sparkSession
    cells_np = np.asarray([int(r["cell"]) for r in rows], dtype=np.int32)
    cent_np = np.asarray(
        [list(r["centroid"]) for r in rows], dtype=np.float64
    )
    c_norms = np.einsum("ij,ij->i", cent_np, cent_np)
    bc = _assign_broadcast(spark, cells_np, cent_np, c_norms)
    n_keep = min(keep_n, len(rows))
    out_schema = T.StructType(
        [
            base.schema[id_alias],
            base.schema["__v"],
            T.StructField("cell", T.IntegerType(), False),
            T.StructField("__d2", T.DoubleType(), False),
        ]
    )

    def assign(batches):
        import numpy as np

        cells_a, cent_a, cn = bc.value
        cent_t = np.ascontiguousarray(cent_a.T)
        # cap the per-chunk rank matrix at ~2^21 f64 (16 MB): the
        # full-batch shape is batch × n_lists (655 MB at 10k × 8192)
        # and its out-of-place subtract measured 40× slower than the
        # GEMM itself on pure temporary-allocation memory traffic
        chunk = max(1, (1 << 21) // max(1, len(cells_a)))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v_mat = np.stack(pdf["__v"].to_numpy()).astype(
                np.float64, copy=False
            )
            b = len(pdf)
            top = np.empty((b, n_keep), dtype=np.int64)
            d2 = np.empty((b, n_keep), dtype=np.float64)
            for s in range(0, b, chunk):
                v = v_mat[s : s + chunk]
                g = v @ cent_t
                g *= -2.0
                g += cn[None, :]  # rank key |c|² − 2·v·c, in place
                if n_keep == 1:
                    t = g.argmin(axis=1)[:, None]
                else:
                    # stable argsort: equal rank keeps index order =
                    # ascending cell, the literal path's tie-break.
                    # Full sort is fine — keep_n > 1 is the PROBE path
                    # (query sets), never the corpus assignment.
                    t = np.argsort(g, axis=1, kind="stable")[:, :n_keep]
                top[s : s + chunk] = t
                v_norms = np.einsum("ij,ij->i", v, v)
                d2[s : s + chunk] = (
                    np.take_along_axis(g, t, axis=1) + v_norms[:, None]
                )
            np.maximum(d2, 0.0, out=d2)  # matmul rounding can dip < 0
            if n_keep == 1:
                out = pdf.assign(
                    cell=cells_a[top.ravel()], __d2=d2.ravel()
                )
            else:
                rep = np.repeat(np.arange(b), n_keep)
                out = pdf.iloc[rep, :].reset_index(drop=True)
                out["cell"] = cells_a[top.ravel()]
                out["__d2"] = d2.ravel()
            yield out

    return base.mapInPandas(assign, schema=out_schema)


#: the on-disk centroid table schema, fixed by every writer
#: (write_ann_index / rebalance_ann_index)
_CENTROID_SCHEMA = "cell INT, centroid ARRAY<DOUBLE>"


def _probed_cells_df(spark, meta: dict, cells_path: str, probed: list):
    """Read ONLY the probed cells' hive partition directories (round
    14, guide §6): a plain-dir probe used to hand Spark the cells ROOT
    and let partition pruning drop the unprobed dirs — correct, but
    the InMemoryFileIndex first lists EVERY partition dir recursively
    (~0.55 s of driver round trips at 256 RP buckets, and one RPC per
    bucket against object storage at scale) before pruning can run.
    The probed cell ids are already driver-known and bounded by
    n_lists / the probe-bucket cap, so list the root ONCE
    (non-recursive — one FS call), intersect with the probed ids, and
    pass the matching dirs explicitly with ``basePath`` so the
    partition column still materializes. Rows are identical by
    construction: every row of ``cell=<c>`` has cell == c, so reading
    probed dirs == reading all dirs + the isin filter (which stays
    applied downstream either way).

    The read applies the sidecar-recorded ``cells_schema`` (every
    writer records it from a read-back of the dir it wrote, so
    nullability and partition-column placement are exactly what
    inference over the whole dir would produce; inference over a
    subset of dirs is not provably the same). A sidecar without it
    describes no dir this build wrote — loud error, rebuild the
    index."""
    sj = meta.get("cells_schema")
    if not sj:
        raise ValueError(
            f"ANN index sidecar records no cells_schema for "
            f"{cells_path}: the index was written by an older build; "
            "rebuild it with write_ann_index / write_rp_index."
        )
    import json

    from pyspark.sql.types import StructType

    _jvm, hp, fs = _ann_fs(spark, cells_path)
    by_val: dict[int, str] = {}
    for st in fs.listStatus(hp(cells_path)):
        name = str(st.getPath().getName())
        if name.startswith("cell="):
            try:
                by_val[int(name[5:])] = name
            except ValueError:
                continue
    schema = StructType.fromJson(json.loads(sj))
    dirs = [f"{cells_path}/{by_val[c]}" for c in probed if c in by_val]
    if not dirs:
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema)
        .option("basePath", cells_path)
        .parquet(*dirs)
    )


def _record_cells_schema(spark, meta: dict, cells_path: str) -> None:
    """Read back the just-written cells dir ONCE and record its exact
    schema in the sidecar dict (one footer read at write time buys
    inference-free probes for the index's lifetime)."""
    meta["cells_schema"] = spark.read.parquet(cells_path).schema.json()


def _centroid_literal(rows: list):
    """The centroid table as ONE plan-literal array column.

    Built as a single SQL text handed to ``F.expr`` instead of a
    ``F.array(F.struct(F.lit(...)))`` comprehension: the comprehension
    costs one py4j round trip PER ELEMENT (a 16x64 centroid set is
    ~2000 driver-blocking JVM calls, ~0.7 s measured; a production
    4096x64 set would be minutes), while the SQL text is one call and
    one parse. ``repr(float)`` is the shortest round-tripping decimal,
    so Java's ``Double.parseDouble`` reconstructs bit-identical
    doubles and the resulting literal array is value-equal to the old
    comprehension (asserted in tests). Non-finite values (never
    produced by real vector data) fall back to the per-element form
    because SQL has no inf/nan double literal."""
    finite = all(
        isinstance(x, float) and math.isfinite(x)
        for r in rows
        for x in r["centroid"]
    )
    if not finite:
        return F.array(*[
            F.struct(
                F.lit(int(r["cell"])).alias("cell"),
                F.array(
                    *[F.lit(float(x)) for x in r["centroid"]]
                ).alias("c"),
            )
            for r in rows
        ])
    parts = [
        "named_struct('cell', {cell}, 'c', array({vals}))".format(
            cell=int(r["cell"]),
            vals=",".join(f"{x!r}D" for x in r["centroid"]),
        )
        for r in rows
    ]
    return F.expr("array(" + ",".join(parts) + ")")


def _assign_cells(
    df: DataFrame,
    cent_df: DataFrame,
    id_alias: str,
    keep_n: int,
    vec_col: str,
    id_col: str,
    keep_dist: bool = False,
) -> DataFrame:
    """Nearest-cell assignment against the centroid table: each vector
    gets its ``keep_n`` nearest cells by squared L2, ties broken on
    the lower cell id. The distance is the shared LEFT-TO-RIGHT fold
    so assignments are bit-identical across runs, the persisted index,
    and the DuckDB oracle. Output columns: (id_alias, __v, cell) —
    plus the assignment distance ``__d2`` when ``keep_dist`` (the
    drift signal the persisted-index writers record).

    SHUFFLE-FREE (round 13, found by tools/ann_drill.py): centroids
    are index METADATA (n_lists entries — the probe path already
    collects ids bounded by it), so they ride into the plan as an
    array literal and every row computes its top-``keep_n`` cells in
    ONE narrow projection — ``transform`` over the centroid array
    (the same per-centroid fold expression, so d2 is bit-identical),
    ``array_sort`` on (d2, cell) structs, ``slice`` + explode. A
    centroid set too large for a literal plan (n_lists × dim >
    ``_ASSIGN_LITERAL_MAX_ELEMENTS``) switches to
    :func:`_assign_cells_arrow` — the same narrow zero-shuffle
    topology with a float64 GEMM per Arrow batch instead of a
    plan-literal expression (see its docstring for the one documented
    tie-rounding divergence). An empty centroid set (empty corpus)
    assigns nothing: the output is empty, with the same columns."""
    rows = sorted(cent_df.collect(), key=lambda r: r["cell"])
    base = df.select(
        F.col(id_col).alias(id_alias), F.col(vec_col).alias("__v")
    )
    if not rows:
        out = base.where(F.lit(False)).select(
            id_alias,
            "__v",
            F.lit(None).cast("int").alias("cell"),
            F.lit(None).cast("double").alias("__d2"),
        )
    elif len(rows) * len(rows[0]["centroid"]) > _ASSIGN_LITERAL_MAX_ELEMENTS:
        out = _assign_cells_arrow(base, rows, id_alias, keep_n)
    else:
        scored = F.array_sort(
            F.transform(
                _centroid_literal(rows),
                lambda ct: F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("__v"),
                            ct["c"],
                            lambda a, b: (a.cast("double") - b)
                            * (a.cast("double") - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("d2"),
                    ct["cell"].alias("cell"),
                ),
            )
        )
        top = (
            F.element_at(scored, 1)
            if keep_n == 1
            else F.explode(F.slice(scored, 1, keep_n))
        )
        out = base.withColumn("__top", top).select(
            id_alias,
            "__v",
            F.col("__top")["cell"].alias("cell"),
            F.col("__top")["d2"].alias("__d2"),
        )
    if keep_dist:
        return out
    return out.select(id_alias, "__v", "cell")


def ivf_topk_seeded(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt: str = "ivf|",
) -> DataFrame:
    """IVF with a SEEDED coarse quantizer: the ``n_lists`` 'centroids'
    are hash-picked corpus vectors (the 0-iteration-KMeans baseline)
    instead of fitted KMeans centers.

    Why it exists alongside :func:`ivf_topk`: the serving structure is
    identical (assign corpus rows to their nearest cell once, probe a
    query's ``n_probe`` nearest cells, exact-score inside), but with
    zero fitted state the whole index is a pure function of the data —
    deterministic across runs AND reproducible by an independent SQL
    engine, so the driver value-checks the full ANN serving path
    (ann_suite oracle) rather than rows-only. Recall is a few points
    below fitted centroids at equal n_probe (seeds are corpus points,
    not means); the KMeans variant remains the production tuning.

    All distance folds are left-to-right (functions/vector.py), so
    cell assignments and rankings are bit-identical to the DuckDB
    mirror.
    """
    seeds = _hash_sample_rows(corpus, n_lists, salt, vec_col, id_col)
    cent_df = F.broadcast(
        corpus.sparkSession.createDataFrame(
            [(i, v) for i, _sid, v in seeds], "cell int, centroid array<double>"
        )
    )
    c_assigned = _assign_cells(
        corpus, cent_df, "neighbor_id", 1, vec_col, id_col
    ).select("neighbor_id", F.col("__v").alias("cv"), "cell")
    probes = _assign_cells(
        queries, cent_df, "query_id", n_probe, vec_col, id_col
    ).select("query_id", F.col("__v").alias("qv"), "cell")
    # broadcast the |Q| x n_probe probe side so the corpus assignments
    # are never shuffled on `cell` (same contract as brute_force_topk)
    scored = (
        F.broadcast(probes).join(c_assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", dot(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _pq_encode_codes(
    c_side: DataFrame, cb_rows: list, m: int, dsub: int
) -> DataFrame:
    """Corpus PQ encode — per (vec, j) the argmin-d2 codeword
    (tiebreak smallest c) as (neighbor_id, j, c) rows — in a NARROW
    zero-shuffle topology (a crossJoin to m × ksub × the corpus rows
    plus a Window exchange over corpus × m rows would make that
    exchange the whole encode cost at a billion vectors).

    The per-row argmin is an ARROW-BATCHED kernel: whole Arrow batches
    go to numpy (guide §4.2) with the codebook closure-captured (a few
    KB), where plan-literal higher-order functions over an
    m × ksub × dsub codebook are interpreted per row (~0.9 s of fixed
    overhead at sf0.1) and bloat the plan at large nbits × dim.

    BIT-EXACTNESS (the oracle serves this path): the kernel
    accumulates (a_d − b_d)² in DIM ORDER — ``acc += diff²`` one d at
    a time, float64 throughout — which is scalar-for-scalar the same
    IEEE operation sequence as the SQL left fold
    ``aggregate(zip_with(sub, w, (a-b)*(a-b)), 0.0, acc+x)``; and
    ``argmin`` takes the FIRST minimum with codewords ordered by c, the
    same (d2 asc, c asc) tiebreak as a SQL row_number. Same
    construction as make_dot_pandas. Pinned code-for-code equal to the
    crossJoin + window form in tests/test_optimization_r13.py. The
    codewords must be finite (:func:`pq_topk_seeded` rejects others):
    numpy's argmin lets a NaN win where SQL sorts it last."""
    import numpy as np
    from pyspark.sql import types as T

    books = np.empty((m, len(cb_rows) // m, dsub), dtype=np.float64)
    for j, c, w in cb_rows:
        books[j, c] = w

    out_schema = T.StructType(
        [
            c_side.schema["neighbor_id"],
            T.StructField("j", T.IntegerType(), False),
            T.StructField("c", T.IntegerType(), False),
        ]
    )

    def encode(batches):
        import numpy as np
        import pandas as pd

        mm, ksub, dd = books.shape
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = np.stack(pdf["cv"].to_numpy()).astype(
                np.float64, copy=False
            )
            codes = np.empty((n, mm), dtype=np.int32)
            for j in range(mm):
                sub = X[:, j * dd : (j + 1) * dd]
                acc = np.zeros((n, ksub), dtype=np.float64)
                for d in range(dd):  # dim-ordered: the SQL fold
                    diff = sub[:, d][:, None] - books[j, :, d][None, :]
                    acc += diff * diff
                codes[:, j] = acc.argmin(axis=1)  # first min = low c
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["neighbor_id"].to_numpy().repeat(mm),
                    "j": np.tile(
                        np.arange(mm, dtype=np.int32), n
                    ),
                    "c": codes.ravel(),
                }
            )

    return c_side.mapInPandas(encode, schema=out_schema)


def pq_topk_seeded(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 8,
    nbits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt: str = "pq|",
    refine_factor: int = 8,
) -> DataFrame:
    """PQ-ADC with SEEDED codebooks: per-subspace codewords are the
    subspace slices of ``2**nbits`` hash-picked corpus vectors instead
    of per-subspace KMeans centroids.

    Same rationale as :func:`ivf_topk_seeded`: identical serving
    pipeline (encode corpus to m small codes -> per-query ADC lookup
    scoring -> exact re-rank of the top ``k * refine_factor``), zero
    fitted state, every float derived by the shared left-to-right
    fold — so the DuckDB oracle reproduces codes, ADC scores, and the
    final ranking bit-for-bit. The KMeans-codebook variant
    (:func:`pq_topk`) stays as the production path (tighter codebooks
    => smaller ADC error at equal m/nbits).

    Implementation: the corpus ENCODE is an Arrow-batched dim-ordered
    argmin kernel (:func:`_pq_encode_codes` — bit-identical to the SQL
    fold, see its docstring); the LUT/ADC scoring stays
    DataFrame-native (conditional-max pivot + explicit left-to-right
    ADC sum) with no driver-side numpy anywhere in the scoring path.
    """
    ksub = 2 ** nbits
    samples = _hash_sample_rows(corpus, ksub, salt, vec_col, id_col)
    if not samples:  # empty corpus: no codebook, no neighbours
        return (
            queries.select(F.col(id_col).alias("query_id"))
            .crossJoin(corpus.select(F.col(id_col).alias("neighbor_id")))
            .withColumn("rank", F.lit(1).cast("long"))
            .where(F.lit(False))
        )
    dim = len(samples[0][2])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    if not all(math.isfinite(x) for _i, _sid, v in samples for x in v):
        raise ValueError(
            "pq_topk_seeded: a sampled codebook vector holds NaN/inf "
            f"(column {vec_col!r}); filter or impute non-finite "
            "embeddings first"
        )
    dsub = dim // m
    spark = corpus.sparkSession
    # codebook rows: (j, c, codeword[dsub])
    cb_rows = [
        (j, c, v[j * dsub : (j + 1) * dsub])
        for j in range(m)
        for c, _sid, v in samples
    ]
    cb = F.broadcast(
        spark.createDataFrame(cb_rows, "j int, c int, w array<double>")
    )

    c_side = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    codes = _pq_encode_codes(c_side, cb_rows, m, dsub)
    # per-query LUT: dot(q_sub_j, codeword_{j,c}), a left fold over
    # the j-th subspace
    q_side = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    q_sub = F.slice(F.col("qv"), F.col("j") * dsub + 1, dsub)
    lut = (
        F.broadcast(q_side)
        .crossJoin(cb)
        .withColumn(
            "val",
            F.aggregate(
                F.zip_with(
                    q_sub, F.col("w"), lambda a, b: a.cast("double") * b
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .select("query_id", "j", "c", "val")
    )
    # ADC score: conditional-max pivot to one column per subspace, then
    # an EXPLICIT left-to-right sum — bit-identical across engines
    # (a plain SUM() aggregate has engine-chosen addition order).
    joined = codes.join(F.broadcast(lut), ["j", "c"])
    pivoted = joined.groupBy("query_id", "neighbor_id").agg(
        *[
            F.max(F.when(F.col("j") == j, F.col("val"))).alias(f"__t{j}")
            for j in range(m)
        ]
    )
    score = F.col("__t0")
    for j in range(1, m):
        score = score + F.col(f"__t{j}")
    approx = pivoted.withColumn("approx_sim", score).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id")
    )
    cand = (
        approx.withColumn("ar", F.row_number().over(wa))
        .filter(F.col("ar") <= k * refine_factor)
        .select("query_id", "neighbor_id")
    )
    rescored = (
        cand.join(F.broadcast(q_side), "query_id")
        .join(c_side, "neighbor_id")
        .withColumn("sim", dot(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    train_sample: int = 4096,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into ``n_lists``
    KMeans cells, search each query's ``n_probe`` nearest cells only.

    Scale shape: the KMeans fit runs on a bounded SAMPLE
    (``train_sample`` rows — coarse centroids need thousands of
    points, not the corpus; at 100 TB fitting on the full data would
    dominate the whole query); centroids are tiny and broadcast.
    Corpus rows are assigned a ``cell`` and shuffled once by it — at
    serving time a query touches n_probe/n_lists of the data.
    Recall/latency is the classic IVF nprobe curve.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    train = corpus.select(array_to_vector(F.col(vec_col)).alias("features"))
    if train_sample:
        train = train.limit(train_sample)
    # maxIter bounded: coarse cells only need rough centroids (recall
    # comes from n_probe, not from a fully converged k-means)
    model = KMeans(k=n_lists, seed=seed, featuresCol="features", maxIter=8).fit(train)

    def assign(df, id_alias):
        withv = df.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(f"{id_alias}_vec"),
            array_to_vector(F.col(vec_col)).alias("features"),
        )
        return model.transform(withv).withColumnRenamed("prediction", "cell")

    c_assigned = assign(corpus, "neighbor_id").select(
        "neighbor_id", F.col("neighbor_id_vec").alias("cv"), "cell"
    )

    # query -> its n_probe nearest centroids, via a broadcast centroid table
    centroids = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    cent_df = F.broadcast(
        queries.sparkSession.createDataFrame(
            centroids, "cell int, centroid array<double>"
        )
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    dist_sq = F.aggregate(
        F.zip_with(
            F.col("qv"), F.col("centroid"), lambda a, b: (a.cast("double") - b) ** 2
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("cell"))
    probes = (
        q.crossJoin(cent_df)
        .withColumn("d2", dist_sq)
        .withColumn("cr", F.row_number().over(wq))
        .filter(F.col("cr") <= n_probe)
        .select("query_id", "qv", "cell")
    )
    scored = (
        F.broadcast(probes)  # |Q| x n_probe rows: index stays in place
        .join(c_assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", dot(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


# ---------------------------------------------------------------------------
# Persisted ANN index artifact (seeded IVF): write / append / probe / compact
# ---------------------------------------------------------------------------
#
# The vector twin of the text-LSH index trio (operators/dedup.py:
# write_lsh_index / probe_lsh_index / compact_lsh_index): the expensive
# part of IVF serving — assigning every corpus vector to its nearest
# coarse cell — is paid ONCE at build time and persisted, so a query
# batch probes at batch cost (assign the batch, scan only the probed
# cells) and a new corpus batch appends at batch cost (assign against
# the FROZEN centroids, no refit). At 100 TB this is the shape an
# embedding store actually runs: the alternative (ivf_topk re-bucketing
# the corpus per call) re-pays the full-corpus assignment on every
# query batch.
#
# Layout at <path>:
#   _ann_meta.json   {format, kind, n_lists, dim, salt, vec_col, id_col}
#   centroids/       parquet (cell int, centroid array<double>)  [tiny]
#   cells/           parquet (id, vec) HIVE-PARTITIONED BY cell — the
#                    probe reads ONLY the probed cells' directories
#                    (partition pruning at planning time, n_probe/n_lists
#                    of the data for a uniform index)
#
# The quantizer is the SEEDED one (hash-picked corpus rows, zero fitted
# state — see ivf_topk_seeded): the whole artifact is a pure function
# of (corpus, salt, n_lists), so the DuckDB oracle reproduces the
# build+probe bit-for-bit and the driver value-checks the persisted
# serving path end to end.

_ANN_META = "_ann_meta.json"


def _ann_fs(spark, path: str):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hp = jvm.org.apache.hadoop.fs.Path
    return jvm, hp, hp(path).getFileSystem(conf)


def _ann_meta_dict(
    n_lists: int,
    dim: int,
    salt: str,
    vec_col: str,
    id_col: str,
    transactional: bool = False,
) -> dict:
    return {
        "format": 1,
        "kind": "ivf_seeded",
        "n_lists": n_lists,
        "dim": dim,
        "salt": salt,
        "vec_col": vec_col,
        "id_col": id_col,
        "transactional": transactional,
    }


#: plain-dir rebalance commit point: a tiny JSON overlay per
#: generation. The overlay is written ONLY after the generation's
#: centroids/cells dirs are complete, so resolution (highest gen that
#: parses AND whose dirs exist) sees a crashed rebalance's leftovers
#: as garbage and keeps serving the previous generation — the index
#: is always fully-old or fully-new, never new cells paired with an
#: old quantizer.
_ANN_GEN_RE = re.compile(r"^_ann_gen_(\d+)\.json$")
#: drift journal: at most this many per-append files are read one by
#: one on the driver; above it the report switches to one parallel
#: JSON scan (still tiny — the trade is driver round-trips vs one job)
_DRIFT_DRIVER_READ_MAX = 32


def _cells_rel(meta: dict) -> str:
    """Relative dir of the LIVE cell assignments for a plain-dir
    index ('cells' until the first rebalance, 'cells_g<gen>' after)."""
    return meta.get("cells_rel", "cells")


def _ann_read_json(spark, full_path: str) -> dict:
    import json

    jvm, hp, fs = _ann_fs(spark, full_path)
    stream = fs.open(hp(full_path))
    try:
        raw = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return json.loads(raw.decode("utf-8"))


#: rebalance-owned fields a generation overlay (plain-dir) or a
#: cells_log manifest (transactional) may override on the base sidecar.
#: cells_schema rides here too (ADVICE r13): the rebalance records the
#: NEW generation dir's schema, and without carrying it the overlay
#: would leave probes applying the stale gen-0 recorded schema to
#: cells_g<gen> reads.
_ANN_GEN_FIELDS = (
    "centroids_rel", "cells_rel", "rebalance_gen", "drift_baseline",
    "cells_schema",
)


def _resolve_ann_gen_overlay(spark, path: str, meta: dict) -> dict:
    """Merge the newest VALID generation overlay into the base
    sidecar. Validity = the file parses and both dirs it names exist;
    a partial overlay from a crashed rebalance fails the parse and is
    skipped, leaving the index fully on its previous generation."""
    jvm, hp, fs = _ann_fs(spark, path)
    gens: list[tuple[int, str]] = []
    for st in fs.listStatus(hp(path)):
        m = _ANN_GEN_RE.match(st.getPath().getName())
        if m:
            gens.append((int(m.group(1)), str(st.getPath().getName())))
    base_gen = int(meta.get("rebalance_gen", 0))
    for gen, name in sorted(gens, reverse=True):
        if gen <= base_gen:
            break  # older than (or folded into) the base sidecar
        try:
            overlay = _ann_read_json(spark, f"{path}/{name}")
        except ValueError:
            continue  # crashed mid-write: not a committed generation
        except Exception:
            continue
        if not (
            fs.exists(hp(f"{path}/{overlay.get('centroids_rel', '')}"))
            and fs.exists(hp(f"{path}/{overlay.get('cells_rel', '')}"))
        ):
            continue
        meta = {**meta, **{
            k: overlay[k] for k in _ANN_GEN_FIELDS if k in overlay
        }}
        if "cells_schema" not in overlay:
            # overlay written before cells_schema rode the commit: the
            # base sidecar's recorded schema describes the PREVIOUS
            # generation's dir, not this one — drop it so probes fail
            # loud instead of reading with a stale schema
            meta.pop("cells_schema", None)
        break
    return meta


def _resolve_txn_manifest_meta(spark, path: str, meta: dict) -> dict:
    """ADVICE round 12 (medium): on a TRANSACTIONAL index the
    cells_log commit is the atomic unit — rebalance commits the
    re-assigned cells (naming their centroid generation) and only then
    updates the sidecar, so a crash between the two leaves a sidecar
    pointing at the PREVIOUS quantizer while the cells are already
    re-assigned; probes quantizing queries against it would silently
    mis-route. The LATEST manifest is therefore the authority for the
    rebalance-owned fields; the sidecar is a fallback cache for
    indexes written before these fields rode the commit.

    The authority is the newest manifest that CARRIES the fields, not
    the newest manifest outright: a commit made on the cells_log with
    the plain table tooling (a takedown delete_snapshot_eq, an
    external compaction) has no ann_* keys, and treating its silence
    as 'fall back to the sidecar' would skip past a committed
    rebalance straight to the stale pre-rebalance pointer — the
    new-cells/old-quantizer pairing this resolver exists to prevent.
    The quantizer only changes when a commit says it does, so walking
    back to the last commit that spoke is exact; the walk is bounded
    by the (vacuumed) log length and stops at the first hit — one
    manifest read in the common case."""
    from etl_property_rumah123_spark.sinks import table_log

    log_path = f"{path}/cells_log"
    versions = table_log._list_versions(spark, log_path)
    out = dict(meta)
    for v in reversed(versions):
        m = table_log._manifest(spark, log_path, v)
        if not (
            "ann_centroids" in m
            or "ann_rebalance_gen" in m
            or m.get("ann_drift_baseline") is not None
        ):
            continue
        if "ann_centroids" in m:
            out["centroids_rel"] = m["ann_centroids"]
        if "ann_rebalance_gen" in m:
            out["rebalance_gen"] = m["ann_rebalance_gen"]
        if m.get("ann_drift_baseline") is not None:
            out["drift_baseline"] = m["ann_drift_baseline"]
        break
    return out


def _ann_carry(meta: dict) -> dict:
    """extra_meta every cells_log commit carries so the LATEST
    manifest always answers 'which quantizer, which drift baseline' —
    appends/compactions carry the current values forward, a rebalance
    commits its new ones atomically with the re-assigned cells."""
    return {
        "ann_centroids": meta.get("centroids_rel", "centroids"),
        "ann_rebalance_gen": int(meta.get("rebalance_gen", 0)),
        "ann_drift_baseline": meta.get("drift_baseline"),
    }


def read_ann_meta(spark, path: str) -> dict:
    """The index metadata: base sidecar plus the current-generation
    resolution — a plain-dir index resolves the newest valid
    generation OVERLAY (see :func:`rebalance_ann_index`'s crash-safe
    swap), a transactional index resolves the rebalance-owned fields
    from the LATEST cells_log manifest (the sidecar update after a
    rebalance commit is a cache refresh, not the commit point). Loud
    error when ``path`` is not a write_ann_index artifact — probing a
    directory that merely looks like one would silently match
    nothing."""
    _jvm, hp, fs = _ann_fs(spark, path)
    if not fs.exists(hp(f"{path}/{_ANN_META}")):
        raise ValueError(
            f"{path} has no {_ANN_META} sidecar — not a "
            "write_ann_index artifact (or written by a newer format)."
        )
    meta = _ann_read_json(spark, f"{path}/{_ANN_META}")
    if meta.get("transactional"):
        return _resolve_txn_manifest_meta(spark, path, meta)
    if meta.get("kind") == "rp_lsh":
        return meta  # no generations: hyperplanes are seed math
    return _resolve_ann_gen_overlay(spark, path, meta)


def _write_ann_meta(spark, path: str, meta: dict) -> None:
    import json

    _jvm, hp, fs = _ann_fs(spark, path)
    out = fs.create(hp(f"{path}/{_ANN_META}"), True)
    try:
        out.write(json.dumps(meta, sort_keys=True).encode())
    finally:
        out.close()


def _write_ann_gen_overlay(spark, path: str, gen: int, meta: dict) -> None:
    """The plain-dir rebalance COMMIT POINT: one new tiny file naming
    the generation's dirs + baseline. Creating a NEW file (never
    overwriting a live one) is the most portable atomic-visibility
    primitive across local FS / HDFS / object stores; a partial write
    from a crash fails the resolver's JSON parse and the previous
    generation keeps serving."""
    import json

    _jvm, hp, fs = _ann_fs(spark, path)
    out = fs.create(hp(f"{path}/_ann_gen_{gen}.json"), True)
    try:
        out.write(json.dumps(
            {k: meta[k] for k in _ANN_GEN_FIELDS if k in meta},
            sort_keys=True,
        ).encode())
    finally:
        out.close()


def _with_dim_check(df: DataFrame, col: str, dim: int) -> DataFrame:
    """Fail loud at execution when a vector's length differs from the
    index dim — zip_with would otherwise null-pad and assign the
    vector to an arbitrary cell silently. A NULL vector also trips the
    check (size(NULL) is NULL, never == dim) and the message says so:
    a null-embedding ingest is a different bug than a wrong-dim model
    swap, and 'dim mismatch' alone sends the operator down the wrong
    debugging path."""
    ok = F.assert_true(
        F.size(F.col(col)) == dim,
        F.lit(
            f"ANN index vector is NULL or its length != index dim "
            f"{dim} (column {col!r}: null embeddings must be filtered "
            f"or imputed before indexing; a length mismatch usually "
            f"means a different embedding model than the index was "
            f"built with)"
        ),
    )
    return df.withColumn(col, F.when(ok.isNull(), F.col(col)))


def _observed_cell_write(
    laid: DataFrame, dest: str, mode: str
) -> tuple[int, float | None]:
    """Write the laid-out cells and return ``(row count, mean __d2)``
    — the mean assignment distance rides the same pass when the frame
    carries a ``__d2`` column (dropped before the bytes land), None
    otherwise. Fast path: ``observe()`` metrics riding the write
    (zero extra jobs). observe() is accumulator-backed, and a
    SPECULATIVE duplicate task attempt double-counts — the same
    hazard table_log's observed commit metrics gate on — so under
    spark.speculation the frame is localCheckpoint-ed and aggregated
    instead (one extra pass, exact accounting; the
    n_vectors/n_appended/drift numbers feed capacity planning and
    must not inflate)."""
    from etl_property_rumah123_spark.sinks.table_log import (
        _speculation_enabled,
    )

    with_d2 = "__d2" in laid.columns
    if _speculation_enabled(laid.sparkSession):
        laid = laid.localCheckpoint()
        if with_d2:
            row = laid.agg(
                F.count(F.lit(1)).alias("n"), F.avg("__d2").alias("d2")
            ).first()
            n, d2 = row["n"], row["d2"]
            laid = laid.drop("__d2")
        else:
            n, d2 = laid.count(), None
        laid.write.mode(mode).partitionBy("cell").parquet(dest)
        return n, d2
    from pyspark.sql import Observation

    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("n")]
    if with_d2:
        metrics.append(F.avg("__d2").alias("d2"))
    observed = laid.observe(obs, *metrics)
    if with_d2:
        observed = observed.drop("__d2")
    observed.write.mode(mode).partitionBy("cell").parquet(dest)
    got = obs.get
    return got["n"], (got.get("d2") if with_d2 else None)


def _txn_cell_commit(laid, log_path: str, mode: str, carry_fn):
    """Commit a laid-out cells frame to the cells_log and return
    ``(n, mean_d2, version)`` with the count and mean assignment
    distance riding the COMMIT WRITE job itself (``observe`` on
    :func:`table_log.commit_snapshot`) — ``carry_fn(n, mean_d2)``
    builds the manifest's ann_* extra_meta from the observed values,
    so a rebalance commits its NEW drift baseline atomically with the
    re-assigned cells. The previous shape localCheckpoint-ed the full
    frame to aggregate before committing — one extra materialization
    of the whole index (~26 GB of local disk at the 200M-vector
    decade, found when the round-13 drill filled /tmp). Speculative
    execution double-counts observed metrics, so that config keeps
    the checkpoint+aggregate shape (exact accounting)."""
    from etl_property_rumah123_spark.sinks import table_log

    if table_log._speculation_enabled(laid.sparkSession):
        laid = laid.localCheckpoint()
        row = laid.agg(
            F.count(F.lit(1)).alias("n"), F.avg("__d2").alias("d2")
        ).first()
        n, d2 = row["n"], row["d2"]
        v = table_log.commit_snapshot(
            laid.drop("__d2"), log_path, mode=mode,
            extra_meta=carry_fn(n, d2),
        )
        return n, d2, v
    got: dict = {}

    def meta_fn(vals):
        if vals is None:
            # unreachable under the speculation gate above: a fresh
            # token dir always runs the write job on first pass, and
            # race retries reuse the first pass's values
            raise RuntimeError(
                f"cells_log commit at {log_path}: no observed metrics "
                "rode the write job"
            )
        got["n"], got["d2"] = int(vals["__ann_n"]), vals["__ann_d2"]
        return carry_fn(got["n"], got["d2"])

    v = table_log.commit_snapshot(
        laid, log_path, mode=mode,
        observe={
            "__ann_n": F.count(F.lit(1)),
            "__ann_d2": F.avg("__d2"),
        },
        observe_drop=["__d2"],
        extra_meta=meta_fn,
    )
    return got["n"], got["d2"], v


def _cell_layout(assigned: DataFrame, n_lists: int, files_per_cell: int) -> DataFrame:
    """Shuffle assignments so each cell directory gets AT MOST
    ``files_per_cell`` files per write, instead of one file per
    (upstream partition x cell) — without this, a 32-partition write
    into 16 cells leaves up to 512 tiny files PER APPEND, and probe
    cost becomes file-listing-bound. files_per_cell > 1 splits a
    cell across tasks by an id-hash, bounding per-task volume when
    cells are large (corpus/n_lists rows at 100 TB). "At most", not
    "exactly": repartition HASHES (cell, split) into the target
    partition count, so two splits of one cell can land in the same
    task (balls-in-bins — with ~n slots in n partitions a given pair
    collides with prob ~1/n); the per-task volume bound degrades by
    the collision multiplicity, never by cell size, and the file-count
    ceiling still holds."""
    split = F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(files_per_cell))
    return assigned.repartition(
        n_lists * files_per_cell, F.col("cell"), split
    )


def write_ann_index(
    corpus: DataFrame,
    path: str,
    n_lists: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt: str = "ivf|",
    files_per_cell: int = 1,
    transactional: bool = False,
) -> dict:
    """Build and persist the IVF index: hash-pick ``n_lists`` seed
    centroids from the corpus, assign every corpus vector to its
    nearest cell (one pass, the only full-corpus job this index ever
    runs), and write centroids + cell-partitioned assignments +
    sidecar. Overwrites any index at ``path``. Returns accounting
    ``{path, n_lists, dim, n_vectors}``.

    ``transactional=True`` stores the assignments in a SNAPSHOT-LOG
    table (sinks/table_log.py) instead of a plain hive-partitioned
    dir: appends become manifest commits (multi-writer safe under the
    version-rename race machinery, vs the plain dir's single-
    maintainer contract), the index is TIME-TRAVELABLE (probe an
    older version while a backfill lands), and old files are vacuumed
    with the standard table tooling. Probes prune via the manifest's
    per-file cell [min, max] stats (``("cell", "in", probed)``)
    instead of hive partition pruning — the same scan shape."""
    spark = corpus.sparkSession
    seeds = _hash_sample_rows(corpus, n_lists, salt, vec_col, id_col)
    if not seeds:
        raise ValueError("write_ann_index: corpus is empty")
    dim = len(seeds[0][2])
    meta = _ann_meta_dict(
        n_lists, dim, salt, vec_col, id_col, transactional
    )
    cent_df = spark.createDataFrame(
        [(i, v) for i, _sid, v in seeds], "cell int, centroid array<double>"
    )
    _jvm, hp, fs = _ann_fs(spark, path)
    if fs.exists(hp(path)):
        fs.delete(hp(path), True)
    cent_df.write.mode("errorifexists").parquet(f"{path}/centroids")
    assigned = _assign_cells(
        _with_dim_check(corpus, vec_col, dim),
        F.broadcast(cent_df),
        "id",
        1,
        vec_col,
        id_col,
        keep_dist=True,
    ).select("id", F.col("__v").alias("vec"), "cell", "__d2")
    laid = _cell_layout(assigned, n_lists, files_per_cell)
    if transactional:
        # each cells_log manifest names the centroid set its cells
        # were assigned against (plus the rebalance gen and drift
        # baseline), so a time-travel probe pairs old cells with
        # the OLD quantizer after a rebalance, and the LATEST
        # manifest answers those fields even when a crash lands
        # between a rebalance commit and its sidecar refresh
        n, mean_d2, _v = _txn_cell_commit(
            laid, f"{path}/cells_log", "overwrite",
            lambda n_, d2_: _ann_carry({
                **meta, "drift_baseline": {"mean_d2": d2_, "n": n_},
            }),
        )
        meta["drift_baseline"] = {"mean_d2": mean_d2, "n": n}
    else:
        n, mean_d2 = _observed_cell_write(
            laid, f"{path}/cells", "errorifexists"
        )
        # drift baseline: the build-time mean assigned-centroid
        # distance. Frozen-centroid appends are compared against this
        # — a drifting ingest distribution shows up as a rising ratio
        # in ann_index_drift long before recall visibly degrades.
        meta["drift_baseline"] = {"mean_d2": mean_d2, "n": n}
        _record_cells_schema(spark, meta, f"{path}/cells")
    _write_ann_meta(spark, path, meta)
    return {
        "path": path,
        "n_lists": n_lists,
        "dim": dim,
        "n_vectors": n,
    }


def append_ann_index(
    new_vectors: DataFrame, path: str, files_per_cell: int = 1
) -> dict:
    """Add a corpus batch to a standing index WITHOUT refitting: the
    batch is assigned against the FROZEN persisted centroids (batch
    cost only — the standing corpus is never touched) and appended to
    the cell-partitioned table. The sidecar is validated first; the
    centroid set defines the cell space, and appending with different
    parameters would not error — it would silently mis-route probes.
    Retried appends duplicate rows; probes dedupe candidates, and
    compact_ann_index drops the duplicates (same regime as the LSH
    index). On a TRANSACTIONAL index the append is a snapshot-log
    commit instead — multi-writer safe, versioned, vacuum-able.
    Returns ``{path, n_appended}`` (plus ``version`` when
    transactional)."""
    spark = new_vectors.sparkSession
    meta = read_ann_meta(spark, path)
    if meta.get("kind") == "rp_lsh":
        raise ValueError(
            f"{path} is an rp_lsh index (no centroids) — append with "
            "append_rp_index instead."
        )
    cent_rel = meta.get("centroids_rel", "centroids")
    # fixed writer schema: skip per-call footer inference (~0.1 s of
    # driver latency per append on this box; pure metadata)
    cent_df = spark.read.schema(_CENTROID_SCHEMA).parquet(
        f"{path}/{cent_rel}"
    )
    assigned = _assign_cells(
        _with_dim_check(new_vectors, meta["vec_col"], meta["dim"]),
        F.broadcast(cent_df),
        "id",
        1,
        meta["vec_col"],
        meta["id_col"],
        keep_dist=True,
    ).select("id", F.col("__v").alias("vec"), "cell", "__d2")
    laid = _cell_layout(assigned, meta["n_lists"], files_per_cell)
    if meta.get("transactional"):
        # carry the current generation + baseline forward so the
        # LATEST manifest stays the authority for them
        n, mean_d2, v = _txn_cell_commit(
            laid, f"{path}/cells_log", "append",
            lambda n_, d2_: _ann_carry(meta),
        )
        _record_append_drift(spark, path, meta, n, mean_d2)
        return {"path": path, "n_appended": n, "version": v}
    n, mean_d2 = _observed_cell_write(
        laid, f"{path}/{_cells_rel(meta)}", "append"
    )
    _record_append_drift(spark, path, meta, n, mean_d2)
    return {"path": path, "n_appended": n}


def _record_append_drift(
    spark, path: str, meta: dict, n: int, mean_d2: float | None
) -> None:
    """Record an append's mean assigned-centroid distance as one tiny
    JOURNAL file (``_drift/<uuid>.json``). Frozen-centroid appends are
    the right batch-cost design, but a drifting ingest distribution
    silently degrades recall — the ratio of appended mean distance to
    the build-time baseline is the early signal
    (:func:`ann_index_drift` reads it; :func:`rebalance_ann_index`
    resets it by clearing the journal). A journal file per append —
    instead of rewriting the shared sidecar — makes the accounting
    EXACT under concurrent appenders (a sidecar rewrite is
    last-writer-wins; two transactional appends racing it would drop
    one entry). Journal size is bounded by the appends-per-rebalance
    cadence; the drift report is a driver-side listing either way."""
    import json
    import uuid

    jvm, hp, fs = _ann_fs(spark, path)
    out = fs.create(
        hp(f"{path}/_drift/{uuid.uuid4().hex[:16]}.json"), True
    )
    try:
        # gen-tagged: entries from before a rebalance must not count
        # against the NEW baseline even if the rebalance crashed after
        # its commit point but before clearing the journal
        out.write(json.dumps({
            "n": n, "mean_d2": mean_d2,
            "gen": int(meta.get("rebalance_gen", 0)),
        }).encode())
    finally:
        out.close()


def ann_index_drift(spark, path: str) -> dict:
    """The index's distribution-drift report, from sidecar + journal
    metadata only (no data read, no job): build-time mean
    assigned-centroid distance vs the append-weighted mean since, and
    their ratio. A ratio creeping past ~1.5-2 means the frozen
    centroids no longer describe the ingest distribution — appended
    vectors land far from every centroid, smearing across cells, and
    probe recall decays with NO error anywhere. That failure mode is
    otherwise invisible until someone measures recall; this makes it a
    number a maintenance cadence can alert on and answer with
    :func:`rebalance_ann_index`."""
    import json

    meta = read_ann_meta(spark, path)
    if meta.get("kind") == "rp_lsh":
        raise ValueError(
            f"{path} is an rp_lsh index — its hyperplanes are "
            "data-independent, so centroid drift does not apply "
            "(bucket-occupancy skew is its failure mode instead)."
        )
    base = meta.get("drift_baseline") or {}
    cur_gen = int(meta.get("rebalance_gen", 0))
    jvm, hp, fs = _ann_fs(spark, path)
    drift_dir = hp(f"{path}/_drift")
    apps: list[dict] = []
    if fs.exists(drift_dir):
        statuses = list(fs.listStatus(drift_dir))
        if len(statuses) <= _DRIFT_DRIVER_READ_MAX:
            # concurrent driver reads (round 14): each journal file is
            # ~3 blocking py4j round trips (~5 ms measured), serialized
            # = ~0.15 s per maintenance call at the 30-file cadence; a
            # small pool overlaps them (py4j is thread-safe — each
            # thread gets its own gateway connection)
            from concurrent.futures import ThreadPoolExecutor

            names = [str(st.getPath().getName()) for st in statuses]
            if len(names) > 1:
                with ThreadPoolExecutor(
                    max_workers=min(8, len(names))
                ) as pool:
                    entries = list(
                        pool.map(
                            lambda n: _ann_read_json(
                                spark, f"{path}/_drift/{n}"
                            ),
                            names,
                        )
                    )
            else:
                entries = [
                    _ann_read_json(spark, f"{path}/_drift/{n}")
                    for n in names
                ]
        else:
            # a high-cadence appender can accumulate thousands of
            # journal files between rebalances — one parallel JSON
            # scan instead of O(appends) driver round-trips. The
            # journal churns within a session (appends add files,
            # rebalance deletes the dir), so drop any cached listing
            # first — a stale FileStatusCache entry would either
            # crash the scan on deleted files or silently under-read
            # the monitoring signal.
            spark.catalog.refreshByPath(f"{path}/_drift")
            entries = [
                r.asDict()
                for r in spark.read.json(f"{path}/_drift").collect()
            ]
        for entry in entries:
            # gen filter: a crashed rebalance (committed, then died
            # before the journal delete) may leave earlier-generation
            # entries behind; their gen tag keeps them from counting
            # against the new baseline. An entry with NO tag was
            # written by the pre-tagging code, which only ever left
            # journal files belonging to the index's CURRENT
            # generation (its rebalance cleared the journal in the
            # same step as the baseline reset) — so untagged counts
            # as current, whatever the generation number is.
            g = entry.get("gen")
            if (
                entry.get("mean_d2") is not None
                and (g is None or int(g) == cur_gen)
            ):
                apps.append(entry)
    n_app = sum(a["n"] for a in apps)
    app_mean = (
        sum(a["n"] * a["mean_d2"] for a in apps) / n_app
        if n_app
        else None
    )
    ratio = (
        app_mean / base["mean_d2"]
        if app_mean is not None and base.get("mean_d2")
        else None
    )
    return {
        "build_mean_d2": base.get("mean_d2"),
        "build_n": base.get("n"),
        "appended_mean_d2": app_mean,
        "appended_n": n_app,
        "ratio": ratio,
        "rebalance_gen": meta.get("rebalance_gen", 0),
    }


def rebalance_ann_index(
    spark, path: str, files_per_cell: int = 1
) -> dict:
    """Re-fit the IVF coarse quantizer to the index's CURRENT contents
    and re-assign every stored vector — ONE pass over the index (the
    same cost write_ann_index paid), answering the drift
    :func:`ann_index_drift` reports without re-reading the source
    corpus (the index already stores the vectors). New seed centroids
    are hash-picked from today's distribution (generation-salted so
    the pick is fresh), the cells are rewritten, and the drift
    baseline resets. Single-maintainer contract (same as
    compact_ann_index): run it from the maintenance cadence, not
    concurrently with appends.

    CRASH-SAFE on both layouts — the new quantizer and the
    re-assigned cells become visible in ONE atomic step, so a probe
    can never silently pair new cells with the old quantizer (wrong
    answers, no error) no matter where a crash lands:

    - TRANSACTIONAL: the overwrite commit of the re-assigned cells
      carries ``ann_centroids``/``ann_rebalance_gen``/
      ``ann_drift_baseline`` in its manifest, and
      :func:`read_ann_meta` resolves those fields from the LATEST
      manifest — the post-commit sidecar refresh is a cache update,
      not the commit point. Every manifest keeps naming the centroid
      set its cells were assigned against, so a
      ``probe_ann_index(version=...)`` of a pre-rebalance version
      pairs the OLD cells with the OLD quantizer and keeps returning
      exactly its original answers.
    - PLAIN DIR: centroids AND cells land in fresh generation dirs
      (``centroids_g<gen>``, ``cells_g<gen>``) and the commit point
      is a single tiny overlay file (``_ann_gen_<gen>.json``) written
      LAST; resolution only honors an overlay that parses and whose
      dirs both exist, so a crash at any earlier point leaves the
      index serving the previous generation in full (the leftovers
      are dead dirs :func:`vacuum_ann_index` clears). No in-place
      overwrite of live data anywhere.

    Returns ``{path, n_vectors, mean_d2_before, mean_d2_after,
    rebalance_gen}``."""
    meta = read_ann_meta(spark, path)
    if meta.get("kind") == "rp_lsh":
        raise ValueError(
            f"{path} is an rp_lsh index (no centroids) — nothing to "
            "rebalance; rebuild with write_rp_index if bucket skew "
            "is the problem."
        )
    drift = ann_index_drift(spark, path)
    before = drift["appended_mean_d2"]
    gen = int(meta.get("rebalance_gen", 0)) + 1
    n_lists = meta["n_lists"]
    if meta.get("transactional"):
        from etl_property_rumah123_spark.sinks import table_log

        cells = table_log.read_snapshot(spark, f"{path}/cells_log")
    else:
        spark.catalog.refreshByPath(f"{path}/{_cells_rel(meta)}")
        cells = spark.read.parquet(f"{path}/{_cells_rel(meta)}")
    cells = cells.select("id", "vec")
    # STRAY-ROW GUARD instead of an unconditional distinct(): the
    # dedup used to shuffle every vector byte of the index on every
    # rebalance (it dominated the 2M drill at ~35 s) to clean up rows
    # only a CRASHED plain-dir append can leave (a committed append —
    # task retries, speculation — is exactly-once on both layouts, and
    # on the transactional layout partial files are never referenced
    # by any manifest). The index's own accounting detects that case
    # without touching the vectors: build/rebalance record
    # drift_baseline.n and every successful append journals its n, so
    # actual rows == build_n + journaled-append rows ⟺ no stray rows
    # — the count() is a footer-metadata scan, not a shuffle. Any
    # mismatch (crashed-append debris, a compact that dropped rows
    # without resetting the journal) falls back to the full distinct.
    # Deliberate duplicate appends of the same batch are journaled
    # like any append and therefore PRESERVED — row multiplicity is
    # compact_ann_index's business (probes already collapse candidate
    # duplicates), not the rebalance's.
    expected_n = (drift["build_n"] or 0) + drift["appended_n"]
    if drift["build_n"] is None or cells.count() != expected_n:
        cells = cells.distinct()
    seeds = _hash_sample_rows(
        cells, n_lists, f"{meta['salt']}rebal{gen}|", "vec", "id"
    )
    if not seeds:
        raise ValueError(f"rebalance_ann_index: {path} is empty")
    cent_df = spark.createDataFrame(
        [(i, v) for i, _sid, v in seeds], "cell int, centroid array<double>"
    )
    assigned = _assign_cells(
        cells, F.broadcast(cent_df), "id", 1, "vec", "id", keep_dist=True
    ).select("id", F.col("__v").alias("vec"), "cell", "__d2")
    laid = _cell_layout(assigned, n_lists, files_per_cell)
    cent_rel = f"centroids_g{gen}"
    cells_rel_new = f"cells_g{gen}"
    jvm, hp, fs = _ann_fs(spark, path)
    # leftovers from a CRASHED earlier attempt at this same gen are
    # dead until a commit point names them — clear and rewrite (gen is
    # strictly above every committed generation, so these can never be
    # live data)
    for rel in (cent_rel, cells_rel_new):
        if fs.exists(hp(f"{path}/{rel}")):
            fs.delete(hp(f"{path}/{rel}"), True)
    cent_df.write.mode("errorifexists").parquet(f"{path}/{cent_rel}")
    if meta.get("transactional"):
        # COMMIT POINT: cells + quantizer pointer + baseline flip in
        # one atomic manifest rename; count/mean ride the commit
        # write job (no checkpoint of the full index)
        n, mean_d2, _v = _txn_cell_commit(
            laid, f"{path}/cells_log", "overwrite",
            lambda n_, d2_: _ann_carry({
                **meta,
                "centroids_rel": cent_rel,
                "drift_baseline": {"mean_d2": d2_, "n": n_},
                "rebalance_gen": gen,
            }),
        )
        meta = {
            **meta,
            "centroids_rel": cent_rel,
            "drift_baseline": {"mean_d2": mean_d2, "n": n},
            "rebalance_gen": gen,
        }
    else:
        # new cells land in a FRESH generation dir — the live index is
        # untouched until the overlay below commits the flip
        n, mean_d2 = _observed_cell_write(
            laid, f"{path}/{cells_rel_new}", "errorifexists"
        )
        meta = {
            **meta,
            "centroids_rel": cent_rel,
            "cells_rel": cells_rel_new,
            "drift_baseline": {"mean_d2": mean_d2, "n": n},
            "rebalance_gen": gen,
        }
        _record_cells_schema(spark, meta, f"{path}/{cells_rel_new}")
        # COMMIT POINT: one tiny overlay file, written only after both
        # generation dirs are complete; read_ann_meta honors it only
        # if it parses and the dirs exist
        _write_ann_gen_overlay(spark, path, gen, meta)
        spark.catalog.refreshByPath(f"{path}/{cells_rel_new}")
    # past the commit point: journal + sidecar refresh are cleanup
    # (a crash here leaves stale journal entries, filtered out by
    # their gen tag, and a stale sidecar, overridden by resolution)
    fs.delete(hp(f"{path}/_drift"), True)
    if meta.get("transactional"):
        _write_ann_meta(spark, path, meta)
    return {
        "path": path,
        "n_vectors": n,
        "mean_d2_before": before,
        "mean_d2_after": mean_d2,
        "rebalance_gen": gen,
    }


def vacuum_ann_index(spark, path: str) -> list[str]:
    """Drop GENERATION artifacts the index can no longer serve.
    Rebalances accumulate ``centroids_g<gen>`` dirs deliberately —
    they are the time-travel data (:func:`probe_ann_index` pairs a
    version's cells with the generation its manifest names). This is
    the retention hook: on a TRANSACTIONAL index a generation is live
    iff some SURVIVING cells_log manifest names it (so run
    ``table_log.vacuum`` on the cells_log first — the generations its
    pruned versions named become droppable here), plus the sidecar's
    current pointer; on a plain dir there is no version history, so
    everything but the current generation drops — the previous
    generation's ``cells``/``cells_g*`` dir, superseded or crashed
    ``_ann_gen_*.json`` overlays, and orphan dirs a crashed rebalance
    left behind. Returns deleted paths. Same single-maintainer
    contract as the other maintenance verbs."""
    meta = read_ann_meta(spark, path)  # generation-resolved
    if meta.get("kind") == "rp_lsh":
        raise ValueError(
            f"{path} is an rp_lsh index (no centroids) — nothing to "
            "vacuum here; vacuum its cells_log with the table tooling."
        )
    live = {meta.get("centroids_rel", "centroids")}
    cur_gen = int(meta.get("rebalance_gen", 0))
    if meta.get("transactional"):
        from etl_property_rumah123_spark.sinks import table_log

        log_path = f"{path}/cells_log"
        for v in table_log._list_versions(spark, log_path):
            live.add(
                table_log._manifest(spark, log_path, v).get(
                    "ann_centroids", "centroids"
                )
            )
    else:
        live.add(_cells_rel(meta))
        live.add(f"_ann_gen_{cur_gen}.json")
    jvm, hp, fs = _ann_fs(spark, path)
    deleted: list[str] = []
    for st in fs.listStatus(hp(path)):
        name = st.getPath().getName()
        dead_dir = (
            name == "centroids"
            or re.fullmatch(r"centroids_g\d+", name)
            or (
                not meta.get("transactional")
                and (name == "cells" or re.fullmatch(r"cells_g\d+", name))
            )
        )
        dead_overlay = (
            not meta.get("transactional") and _ANN_GEN_RE.match(name)
        )
        if (dead_dir or dead_overlay) and name not in live:
            fs.delete(st.getPath(), True)
            deleted.append(f"{path}/{name}")
    return deleted


def probe_ann_index(
    queries: DataFrame,
    path: str,
    k: int = 5,
    n_probe: int = 2,
    vec_col: str | None = None,
    id_col: str | None = None,
    version: int | None = None,
) -> DataFrame:
    """Top-k neighbors for a query batch against a persisted index, at
    BATCH COST: assign each query to its ``n_probe`` nearest cells
    (against the tiny broadcast centroid table), then exact-score only
    those cells' vectors. The probed cell ids are collected (bounded
    by ``n_lists`` — index metadata, never data volume) and pushed as
    a partition filter, so the cells/ scan reads only the probed
    directories: planning-time partition pruning, ~n_probe/n_lists of
    the index for a uniform corpus. ``vec_col``/``id_col`` default to
    the sidecar's (override when the query frame names differ).
    Output: (query_id, neighbor_id, rank) — the knn/ann contract.
    Self-pairs are excluded; duplicate index rows (retried appends)
    are collapsed before ranking.

    On a TRANSACTIONAL index the scan goes through the snapshot log
    (manifest cell-stats pruning via a ``("cell", "in", probed)``
    predicate — same probed-fraction scan shape) and ``version``
    TIME-TRAVELS the probe: serve yesterday's index while a backfill
    lands. A time-travel probe reads the centroid GENERATION that
    version's manifest names (``ann_centroids``), so probing a
    pre-:func:`rebalance_ann_index` version pairs the old cells with
    the OLD quantizer and returns exactly its original answers.
    ``version`` on a plain-dir index is an error."""
    spark = queries.sparkSession
    meta = read_ann_meta(spark, path)
    if meta.get("kind") == "rp_lsh":
        raise ValueError(
            f"{path} is an rp_lsh index (no centroids) — probe with "
            "probe_rp_index instead."
        )
    vc = vec_col or meta["vec_col"]
    ic = id_col or meta["id_col"]
    cent_rel = meta.get("centroids_rel", "centroids")
    if version is not None and meta.get("transactional"):
        from etl_property_rumah123_spark.sinks import table_log

        m = table_log._manifest(spark, f"{path}/cells_log", version)
        cent_rel = m.get("ann_centroids", "centroids")
    # fixed writer schema: skip per-probe footer inference
    cent_df = F.broadcast(
        spark.read.schema(_CENTROID_SCHEMA).parquet(f"{path}/{cent_rel}")
    )
    probes = _assign_cells(
        _with_dim_check(queries, vc, meta["dim"]), cent_df, "query_id",
        n_probe, vc, ic,
    ).select("query_id", F.col("__v").alias("qv"), "cell")
    # bounded by n_lists (sidecar metadata), NOT by query or corpus size
    probed_cells = sorted(
        r[0] for r in probes.select("cell").distinct().collect()
    )
    if meta.get("transactional"):
        from etl_property_rumah123_spark.sinks import table_log

        cells_raw = table_log.read_snapshot(
            spark,
            f"{path}/cells_log",
            version=version,
            predicates=[("cell", "in", probed_cells)],
        )
    else:
        if version is not None:
            raise ValueError(
                "version= time travel needs a transactional index "
                "(write_ann_index(..., transactional=True)); this is a "
                "plain-dir index with no version history."
            )
        # a probe before any append in the same session must not see a
        # stale (or negatively-cached) listing — same LSH-index trap
        spark.catalog.refreshByPath(f"{path}/{_cells_rel(meta)}")
        cells_raw = _probed_cells_df(
            spark, meta, f"{path}/{_cells_rel(meta)}", probed_cells
        )
        cells_raw = cells_raw.filter(F.col("cell").isin(probed_cells))
    cells = cells_raw.select(
        F.col("id").alias("neighbor_id"), F.col("vec").alias("cv"), "cell"
    )
    # The probe side is bounded by |queries| x n_probe (small by the
    # same contract as brute_force_topk's broadcast query side); the
    # explicit hint keeps the INDEX data in place — without it Spark's
    # unknown-size estimate shuffles the probed cells on `cell`, which
    # at 100 TB moves n_probe/n_lists of the index per query batch.
    # Score BEFORE any exchange, so the dedup + ranking shuffles carry
    # (query_id, neighbor_id, sim) — ~24 B/row — instead of both
    # embedding vectors (~300 B/row at dim 16, KBs at dim 768). The
    # round-13 decade drill measured the wide shape super-linear
    # (8.6 → 145 s per 10× at 2M→20M: a uniform 64-query batch probes
    # every cell, so candidates ≈ the whole index and the wide dedup
    # exchange spills). Same output set: a duplicate index row
    # (retried append) has the same vec, hence the same sim, and
    # collapses in the narrow distinct exactly as in the wide one.
    scored = (
        F.broadcast(probes).join(cells, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", dot(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "sim")
        .distinct()  # multi-probe / retried-append duplicates
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _rp_meta_dict(
    num_planes: int, dim: int, seed: str, vec_col: str, id_col: str
) -> dict:
    # n_lists = bucket-space size so compact_ann_index's repartition
    # math works unchanged on this index kind
    return {
        "format": 1,
        "kind": "rp_lsh",
        "num_planes": num_planes,
        "n_lists": min(2 ** num_planes, 1024),
        "dim": dim,
        "seed": seed,
        "vec_col": vec_col,
        "id_col": id_col,
        "transactional": False,
    }


def _rp_cells(df: DataFrame, meta: dict) -> DataFrame:
    """(id, vec, cell) assignments for the RP-LSH index: the sign-bit
    bucket IS the cell. The hyperplanes are derived from the SEED
    alone (constant literals compiled into the plan — no fitted model,
    no centroid table), so appends are exactly consistent with the
    build by construction: the same seed recomputes the same planes."""
    return rp_lsh_buckets(
        _with_dim_check(df, meta["vec_col"], meta["dim"]),
        meta["dim"],
        meta["num_planes"],
        meta["vec_col"],
        meta["seed"],
    ).select(
        F.col(meta["id_col"]).alias("id"),
        F.col(meta["vec_col"]).alias("vec"),
        F.col("bucket").alias("cell"),
    )


def write_rp_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    num_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: str = "rp-lsh-42",
    files_per_bucket: int = 1,
) -> dict:
    """Build and persist the RANDOM-HYPERPLANE LSH vector index — the
    persisted twin of :func:`ann_topk`, sharing write_ann_index's
    layout (bucket-partitioned ``cells/`` parquet + JSON sidecar) so
    the maintenance tooling carries over: :func:`compact_ann_index`
    works unchanged on this kind.

    vs the IVF artifact: NO model state at all — buckets are sign
    bits against seed-derived constant hyperplanes, so (a) the build
    is one corpus pass with no centroid fit/sample, (b)
    :func:`append_rp_index` is consistent with the build by
    construction (nothing to freeze), and (c) recall is tuned at
    PROBE time (``hamming_probes``) without touching the artifact.
    The trade: bucket population is data-blind (2**num_planes fixed
    cells vs IVF's data-adaptive centroids), so skewed corpora load
    some buckets heavily. Overwrites any index at ``path``. Returns
    ``{path, num_planes, dim, n_vectors}``."""
    spark = corpus.sparkSession
    meta = _rp_meta_dict(num_planes, dim, seed, vec_col, id_col)
    _jvm, hp, fs = _ann_fs(spark, path)
    if fs.exists(hp(path)):
        fs.delete(hp(path), True)
    laid = _cell_layout(
        _rp_cells(corpus, meta), meta["n_lists"], files_per_bucket
    )
    n, _ = _observed_cell_write(laid, f"{path}/cells", "errorifexists")
    _record_cells_schema(spark, meta, f"{path}/cells")
    _write_ann_meta(spark, path, meta)
    return {
        "path": path,
        "num_planes": num_planes,
        "dim": dim,
        "n_vectors": n,
    }


def append_rp_index(
    new_vectors: DataFrame, path: str, files_per_bucket: int = 1
) -> dict:
    """Add a batch to a standing RP-LSH index at batch cost. The
    bucket function is pure seed math (sidecar-validated), so the
    appended assignments are bit-identical to what a full rebuild
    would produce — no frozen-model drift to reason about. Retried
    appends duplicate rows; probes collapse candidates and
    :func:`compact_ann_index` drops the duplicates."""
    spark = new_vectors.sparkSession
    meta = read_ann_meta(spark, path)
    if meta.get("kind") != "rp_lsh":
        raise ValueError(
            f"{path} is a {meta.get('kind')!r} index, not rp_lsh — "
            "append with append_ann_index instead."
        )
    laid = _cell_layout(
        _rp_cells(new_vectors, meta), meta["n_lists"], files_per_bucket
    )
    n, _ = _observed_cell_write(laid, f"{path}/cells", "append")
    return {"path": path, "n_appended": n}


def probe_rp_index(
    queries: DataFrame,
    path: str,
    k: int = 5,
    hamming_probes: int = 1,
    vec_col: str | None = None,
    id_col: str | None = None,
    max_probe_buckets: int = 100_000,
) -> DataFrame:
    """Top-k neighbors against a persisted RP-LSH index at batch
    cost: bucket each query (plus its ``num_planes`` one-bit-flip
    neighbors when ``hamming_probes=1`` — the same multi-probe recall
    knob as :func:`ann_topk`, applied to the QUERY side only), collect
    the probed bucket ids, and push them as a partition filter so the
    ``cells/`` scan reads only the probed directories. The collect is
    bounded by ``|queries| x (1 + num_planes)`` ids — ``max_probe_
    buckets`` guards the driver against an oversized query batch with
    a loud error (limit applied BEFORE the collect). Output:
    (query_id, neighbor_id, rank) — the knn/ann contract; identical
    math to ann_topk on the same corpus/planes/probes."""
    spark = queries.sparkSession
    meta = read_ann_meta(spark, path)
    if meta.get("kind") != "rp_lsh":
        raise ValueError(
            f"{path} is a {meta.get('kind')!r} index, not rp_lsh — "
            "probe with probe_ann_index instead."
        )
    vc = vec_col or meta["vec_col"]
    ic = id_col or meta["id_col"]
    qb = rp_lsh_buckets(
        _with_dim_check(queries, vc, meta["dim"]),
        meta["dim"],
        meta["num_planes"],
        vc,
        meta["seed"],
    ).select(
        F.col(ic).alias("query_id"), F.col(vc).alias("qv"), "bucket"
    )
    if hamming_probes >= 1:
        flips = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p).cast("long"))
                for p in range(meta["num_planes"])
            ],
        )
        qb = qb.withColumn("bucket", F.explode(flips))
    probes = qb.withColumnRenamed("bucket", "cell")
    ids = probes.select("cell").distinct().limit(max_probe_buckets + 1).collect()
    if len(ids) > max_probe_buckets:
        raise ValueError(
            f"probe_rp_index: query batch probes more than "
            f"max_probe_buckets={max_probe_buckets} buckets; split the "
            "batch or raise the knob."
        )
    probed = sorted(r[0] for r in ids)
    spark.catalog.refreshByPath(f"{path}/cells")
    cells_raw = _probed_cells_df(spark, meta, f"{path}/cells", probed)
    cells = (
        cells_raw
        .filter(F.col("cell").isin(probed))
        .select(
            F.col("id").alias("neighbor_id"), F.col("vec").alias("cv"),
            "cell",
        )
    )
    # same small-probe-side broadcast contract as probe_ann_index:
    # the index data never shuffles for a query batch
    # Score BEFORE any exchange, so the dedup + ranking shuffles carry
    # (query_id, neighbor_id, sim) — ~24 B/row — instead of both
    # embedding vectors (~300 B/row at dim 16, KBs at dim 768). The
    # round-13 decade drill measured the wide shape super-linear
    # (8.6 → 145 s per 10× at 2M→20M: a uniform 64-query batch probes
    # every cell, so candidates ≈ the whole index and the wide dedup
    # exchange spills). Same output set: a duplicate index row
    # (retried append) has the same vec, hence the same sim, and
    # collapses in the narrow distinct exactly as in the wide one.
    scored = (
        F.broadcast(probes).join(cells, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", dot(F.col("qv"), F.col("cv")))
        .select("query_id", "neighbor_id", "sim")
        .distinct()  # multi-probe / retried-append duplicates
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def compact_ann_index(
    spark,
    path: str,
    files_per_cell: int = 1,
    retain_condition: str | None = None,
) -> dict:
    """Maintenance for the append-only index: collapse per-append file
    debris to ``files_per_cell`` files per cell and drop exact
    duplicate (id, cell) rows left by retried appends (keep-one is
    safe: duplicates are byte-equal assignments, probes already
    collapsed them). ``retain_condition`` is the TTL hook — a SQL
    predicate over (id, vec, cell) selecting rows to KEEP. Same
    single-maintainer contract and rename-aside/rename-in swap as
    compact_lsh_index (operators/dedup.py): the cells table exists at
    its path except during two metadata renames, and an interrupted
    swap leaves the original at ``cells.__old__``. On a TRANSACTIONAL
    index the rewrite is simply a new snapshot version (an atomic
    manifest commit — no rename dance, old versions stay probe-able
    until vacuumed by the standard table tooling)."""
    meta = read_ann_meta(spark, path)  # also guards "is an index"
    if meta.get("transactional"):
        from etl_property_rumah123_spark.sinks import table_log

        log_path = f"{path}/cells_log"
        idx = table_log.read_snapshot(spark, log_path)
        rows_before = idx.count()
        files_before = len(idx.inputFiles())
        if retain_condition is not None:
            idx = idx.filter(retain_condition)
        compacted = (
            idx.dropDuplicates(["id", "cell"])
            .repartition(meta["n_lists"] * files_per_cell, "cell")
            .localCheckpoint()
        )
        rows_after = compacted.count()
        version = table_log.commit_snapshot(
            compacted, log_path, mode="overwrite",
            # content-identical rewrite: the cells keep the centroid
            # generation (and gen/baseline) they were assigned against
            extra_meta=_ann_carry(meta),
        )
        after = table_log.read_snapshot(spark, log_path)
        return {
            "path": path,
            "rows_before": rows_before,
            "rows_after": rows_after,
            "files_before": files_before,
            "files_after": len(after.inputFiles()),
            "version": version,
        }
    cells_path = f"{path}/{_cells_rel(meta)}"
    _jvm, hp, fs = _ann_fs(spark, path)
    spark.catalog.refreshByPath(cells_path)
    idx = spark.read.parquet(cells_path)
    rows_before = idx.count()
    files_before = len(idx.inputFiles())
    if retain_condition is not None:
        idx = idx.filter(retain_condition)
    compacted = (
        idx.dropDuplicates(["id", "cell"])
        .repartition(meta["n_lists"] * files_per_cell, "cell")
    )
    tmp = cells_path + ".__compact__"
    if fs.exists(hp(tmp)):
        fs.delete(hp(tmp), True)
    compacted.write.mode("errorifexists").partitionBy("cell").parquet(tmp)
    rows_after = spark.read.parquet(tmp).count()
    old = hp(cells_path + ".__old__")
    if fs.exists(old):
        fs.delete(old, True)
    if not fs.rename(hp(cells_path), old):
        raise RuntimeError(
            f"ANN compaction swap failed moving live cells aside; "
            f"compacted copy left at {tmp}"
        )
    if not fs.rename(hp(tmp), hp(cells_path)):
        if fs.rename(old, hp(cells_path)):
            raise RuntimeError(
                f"ANN compaction swap failed: compacted copy left at "
                f"{tmp}, original restored at {cells_path}"
            )
        raise RuntimeError(
            f"ANN compaction swap failed AND the restore rename "
            f"failed: {cells_path} is empty, the original is intact "
            f"at {cells_path}.__old__ (rename back to recover), "
            f"compacted copy at {tmp}"
        )
    fs.delete(old, True)
    spark.catalog.refreshByPath(cells_path)
    return {
        "path": path,
        "rows_before": rows_before,
        "rows_after": rows_after,
        "files_before": files_before,
        "files_after": len(spark.read.parquet(cells_path).inputFiles()),
    }
