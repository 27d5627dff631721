"""Snapshot-versioned tables: a minimal transaction log (the
Delta/Iceberg idea from first principles) for training-data
REPRODUCIBILITY — "which exact dataset snapshot did run X train on"
is a question a 100 TB pipeline must answer, and plain parquet
directories cannot.

Layout::

    <table>/
      data/c<token>/part-*.parquet   immutable commit dirs (data AND
                                     deletion-vector parquet — DVs are
                                     (file_key, pos) row suppressions
                                     listed under the manifest "dvs")
      _log/v<version>.json           manifest per version

Design choices, each load-bearing at scale:

- **Manifests are complete file lists**, not deltas: reading version
  N opens ONE small JSON and passes the file list straight to the
  parquet reader — no log replay, O(1) time-travel to any version.
- **Data files are immutable and commit-scoped** (each commit writes
  its own ``data/c{token}/`` directory; the token is deliberately
  VERSION-INDEPENDENT so a commit that loses the manifest race can
  reuse its already-written data dir on retry): readers of old versions
  are never disturbed by writers, so snapshot isolation needs no
  locks at all.
- **Atomic visibility via the manifest rename**: data is written
  first (invisible — no manifest references it), then the manifest is
  staged and renamed into ``_log/``. Hadoop/POSIX rename fails if the
  destination exists, which doubles as OPTIMISTIC CONCURRENCY: a
  losing writer re-reads the latest version and retries (appends
  rebase trivially — their file list is re-unioned; overwrites
  re-point).
- **A crashed commit leaves only an orphaned data dir** (no manifest
  → invisible), removed by :func:`vacuum`.
- **Two delete/merge shapes**: :func:`delete_snapshot` /
  :func:`merge_snapshot` are copy-on-write (rewrite touched files —
  read-optimal, write-amplified; DV-aware: they rewrite from the
  live view and carry outstanding DVs) and :func:`delete_snapshot_dv`
  / :func:`merge_snapshot_mor` are merge-on-read via deletion
  vectors (write O(matched rows), readers anti-join the DV set until
  :func:`compact_snapshot` materializes it; :func:`maybe_compact_dvs`
  bounds the read debt) — the Delta DV / Iceberg v2 position-delete
  idea on this log.

This intentionally reimplements the public table-format idea rather
than wrapping Delta/Iceberg (not shipped in this container); the
production swap is documented in each docstring. All filesystem I/O
goes through Hadoop's FileSystem API, so any Spark-supported storage
works.
"""

from __future__ import annotations

import json
import os
import re
import uuid
import warnings
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, hpath.getFileSystem(spark._jsc.hadoopConfiguration())


def _read_file(spark: SparkSession, path: str) -> bytes:
    jvm, fs = _fs(spark, path)
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(path))
    try:
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def _write_file(spark: SparkSession, path: str, data: bytes) -> None:
    jvm, fs = _fs(spark, path)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path), True)
    try:
        out.write(data)
    finally:
        out.close()


#: Per-commit-dir schema sidecar (round 14, guide §6 "manifest
#: metadata in front of files"): every data/DV/key write lands in an
#: immutable ``data/c<token>*`` commit dir with ONE uniform schema (a
#: single DataFrame write), so recording that schema as a tiny
#: ``_schema.json`` INSIDE the commit dir lets every read of an
#: explicit file list derive its schema driver-side — no
#: footer-inference job per read. At 100 TB a snapshot read otherwise
#: pays a footer sweep (mergeSchema reads touch EVERY footer) before
#: the first task runs. The reader-side derivation EMULATES Spark's
#: parquet inference exactly (pinned by the evolution fuzz):
#: files are considered in SORTED path order (InMemoryFileIndex's
#: listing order); without mergeSchema the first file's schema wins;
#: with mergeSchema schemas union in encounter order (new fields
#: append); everything is forced recursively nullable (file scans
#: always are). Any commit dir without a sidecar (pre-round-14
#: tables), or any type conflict the emulation does not model, falls
#: back to real footer inference — the fast path is strictly an
#: optimization.
_COMMIT_SCHEMA_NAME = "_schema.json"
_COMMIT_SCHEMA_MEMO: "OrderedDict[str, object]" = OrderedDict()
_COMMIT_SCHEMA_MEMO_MAX = 4096


def _commit_dir_schema(spark: SparkSession, commit_dir: str):
    """The recorded schema of one immutable commit dir, memoized for
    the process lifetime (commit dirs are never rewritten — a vacuumed
    dir is simply never asked for again). None = no sidecar
    (pre-round-14 commit) — also memoized; the only transition
    None -> schema is our own retry-reuse backfill, which updates the
    memo through :func:`_record_commit_schema`."""
    hit = _COMMIT_SCHEMA_MEMO.get(commit_dir)
    if hit is not None or commit_dir in _COMMIT_SCHEMA_MEMO:
        if hit is not None:
            _COMMIT_SCHEMA_MEMO.move_to_end(commit_dir)
        return hit
    from pyspark.sql.types import StructType

    try:
        raw = _read_file(spark, f"{commit_dir}/{_COMMIT_SCHEMA_NAME}")
        schema = StructType.fromJson(json.loads(raw.decode()))
    except Exception:
        schema = None
    _COMMIT_SCHEMA_MEMO[commit_dir] = schema
    while len(_COMMIT_SCHEMA_MEMO) > _COMMIT_SCHEMA_MEMO_MAX:
        _COMMIT_SCHEMA_MEMO.popitem(last=False)
    return schema


def _record_commit_schema(spark, fs, jvm, commit_dir: str, schema) -> None:
    """Write the commit dir's schema sidecar (skipped when present —
    retry reuse wrote identical bytes) and prime the memo."""
    sidecar = f"{commit_dir}/{_COMMIT_SCHEMA_NAME}"
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(sidecar)):
        _write_file(spark, sidecar, schema.json().encode())
    _COMMIT_SCHEMA_MEMO[commit_dir] = schema
    while len(_COMMIT_SCHEMA_MEMO) > _COMMIT_SCHEMA_MEMO_MAX:
        _COMMIT_SCHEMA_MEMO.popitem(last=False)


def _nullable_type(dt):
    """Recursively nullable copy of a type — what a parquet scan's
    inferred schema always is (Spark forces asNullable on file
    relations, including nested element/value nullability)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    f.name, _nullable_type(f.dataType), True, f.metadata
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable_type(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _nullable_type(dt.keyType), _nullable_type(dt.valueType), True
        )
    return dt


def _merge_types(a, b):
    """Parquet-style schema union: same-named fields must agree on
    type (recursively; struct fields union, new fields append in
    encounter order). Returns None on any conflict — the caller falls
    back to real footer inference, which raises the real merge error.
    Nullability is irrelevant here (the result is nullable-ized)."""
    from pyspark.sql import types as T

    if a == b:
        return a
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        fields = list(a.fields)
        index = {f.name: i for i, f in enumerate(fields)}
        for f in b.fields:
            i = index.get(f.name)
            if i is None:
                fields.append(f)
            else:
                m = _merge_types(fields[i].dataType, f.dataType)
                if m is None:
                    return None
                fields[i] = T.StructField(f.name, m, True)
        return T.StructType(fields)
    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        m = _merge_types(a.elementType, b.elementType)
        return T.ArrayType(m, True) if m is not None else None
    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        mk = _merge_types(a.keyType, b.keyType)
        mv = _merge_types(a.valueType, b.valueType)
        return (
            T.MapType(mk, mv, True)
            if mk is not None and mv is not None
            else None
        )
    if isinstance(a, type(b)) and not isinstance(
        a, (T.StructType, T.ArrayType, T.MapType)
    ):
        # same class, different params (e.g. two DecimalTypes): only
        # exact equality is modeled; anything else -> real inference
        return None
    return None


def _rels_schema(spark: SparkSession, table_path: str, rels, merge: bool):
    """Driver-side schema for an explicit relative-file list, from the
    commit-dir sidecars; None (= use footer inference) when any dir
    lacks a sidecar or the merge emulation hits a conflict."""
    rels = list(rels)
    if not rels:
        return None
    dirs: list[str] = []
    seen: set[str] = set()
    for rel in sorted(rels):  # leaf files list in sorted path order
        d = rel.rsplit("/", 1)[0] if "/" in rel else ""
        if d not in seen:
            seen.add(d)
            dirs.append(d)
    schemas = []
    for d in dirs:
        s = _commit_dir_schema(spark, f"{table_path}/{d}")
        if s is None:
            return None
        schemas.append(s)
    if not merge:
        # non-merge inference reads ONE footer: the first file's
        return _nullable_type(schemas[0])
    merged = schemas[0]
    for s in schemas[1:]:
        merged = _merge_types(merged, s)
        if merged is None:
            return None
    return _nullable_type(merged)


def _rels_reader(spark: SparkSession, table_path: str, rels, merge: bool):
    """``spark.read`` for an explicit file list: sidecar-derived
    schema when available (NO footer-inference job), else footer
    inference with ``mergeSchema`` as requested."""
    schema = _rels_schema(spark, table_path, rels, merge)
    if schema is not None:
        return spark.read.schema(schema)
    reader = spark.read
    if merge:
        reader = reader.option("mergeSchema", "true")
    return reader


def _list_versions(spark: SparkSession, table_path: str) -> list[int]:
    jvm, fs = _fs(spark, table_path)
    log_dir = jvm.org.apache.hadoop.fs.Path(f"{table_path}/_log")
    if not fs.exists(log_dir):
        return []
    versions = []
    for status in fs.listStatus(log_dir):
        name = status.getPath().getName()
        if name.startswith("v") and name.endswith(".json"):
            try:
                versions.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(versions)


def _manifest(spark: SparkSession, table_path: str, version: int) -> dict:
    return json.loads(
        _read_file(spark, f"{table_path}/_log/v{version}.json").decode()
    )


def _try_publish(spark, table_path: str, version: int, token: str, manifest: dict) -> bool:
    """Stage the manifest and rename-if-absent into the log — the ONE
    atomic visibility step every writer shares. Returns True when OUR
    manifest won version ``version``."""
    import time

    jvm, fs = _fs(spark, table_path)
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    # commit wall-clock stamp: powers TIMESTAMP-AS-OF time travel
    # (best-effort — version order, not the clock, is authoritative)
    manifest.setdefault("committed_at", time.time())
    staged = f"{table_path}/_log/.v{version}-{token}.json.tmp"
    _write_file(spark, staged, json.dumps(manifest, indent=1).encode())
    if fs.rename(
        hadoop_path(staged), hadoop_path(f"{table_path}/_log/v{version}.json")
    ) and fs.exists(hadoop_path(f"{table_path}/_log/v{version}.json")):
        # rename can "succeed" onto an existing dir target on some
        # local FS; verify OUR content won by reading it back
        if _manifest(spark, table_path, version).get("files") == manifest["files"]:
            return True
    fs.delete(hadoop_path(staged), False)
    return False


def _write_commit_dir(
    df: DataFrame,
    table_path: str,
    commit_rel: str,
    options: dict | None = None,
) -> list[str]:
    """Write ``df`` into ``commit_rel`` (skipped if it already exists —
    retry reuse) and return the relative parquet file list.
    ``options`` are parquet writer options (the bloom-filter column
    properties ride here)."""
    files, _ = _write_commit_dir_observed(
        df, table_path, commit_rel, None, options=options
    )
    return files


def _speculation_enabled(spark: SparkSession) -> bool:
    """Whether speculative execution is on (a STATIC core conf, read
    from the SparkContext — spark.conf cannot modify it at runtime).
    Observed commit metrics are disabled under speculation; see
    :func:`_write_commit_dir_observed`."""
    return (
        str(
            spark.sparkContext.getConf().get("spark.speculation", "false")
        ).lower()
        == "true"
    )


def _write_commit_dir_observed(
    df: DataFrame,
    table_path: str,
    commit_rel: str,
    metrics: dict | None,
    options: dict | None = None,
    drop: list | None = None,
) -> tuple[list[str], dict | None]:
    """:func:`_write_commit_dir` plus aggregate ``metrics`` (name ->
    Column) computed ON the write job via ``Observation`` — the
    commit-time accountings (DV row count, distinct file keys, key
    counts) ride the write for ZERO extra jobs instead of a read-back
    pass over what was just written. Returns ``(files, values)``;
    ``values`` is None when the metrics could not be observed — no
    metrics requested, the commit dir already existed (retry reuse
    skips the write, so there is no job to observe), or SPECULATIVE
    EXECUTION is enabled — and the caller falls back to its read-back
    job. The speculation gate matters for correctness of the
    accounting: observe() metrics are accumulator-backed, and a
    speculative duplicate attempt of a task double-counts its rows,
    inflating n_deleted/dv_rows/n_keys in the manifest (set-union
    metrics like dv_keys are idempotent, but the counts are not).
    The read-back path counts what is ON DISK, which only one attempt
    ever commits, so it is immune.

    ``drop`` names columns the metrics may reference that must NOT
    land in the written files (observe first, then drop — e.g. the
    ANN cell writers' ``__d2`` assignment distance, averaged into the
    manifest's drift baseline but not stored)."""
    spark = df.sparkSession
    jvm, fs = _fs(spark, table_path)
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    commit_dir = f"{table_path}/{commit_rel}"
    values = None
    if not fs.exists(hadoop_path(commit_dir)):
        if metrics and not _speculation_enabled(spark):
            from pyspark.sql import Observation

            obs = Observation()
            observed = df.observe(
                obs, *[expr.alias(k) for k, expr in metrics.items()]
            )
            if drop:
                observed = observed.drop(*drop)
            observed.write.mode("errorifexists").options(
                **(options or {})
            ).parquet(commit_dir)
            values = obs.get
        else:
            (df.drop(*drop) if drop else df).write.mode(
                "errorifexists"
            ).options(
                **(options or {})
            ).parquet(commit_dir)
    # record the commit's (uniform) schema inside the immutable dir —
    # one tiny driver write that buys footer-inference-free reads for
    # the table's lifetime (see _COMMIT_SCHEMA_NAME above). On retry
    # reuse the sidecar exists with identical bytes; backfilling a
    # missing one is safe for the same reason (same token = same df).
    _record_commit_schema(
        spark, fs, jvm, commit_dir,
        (df.drop(*drop) if drop else df).schema,
    )
    files = sorted(
        f"{commit_rel}/{status.getPath().getName()}"
        for status in fs.listStatus(hadoop_path(commit_dir))
        if status.getPath().getName().endswith(".parquet")
    )
    return files, values


#: Column types that get per-file min/max/null-count stats via the
#: AGGREGATE-JOB path. Decimals are excluded on purpose (they would
#: need a type-tagged JSON encoding); anything without stats is simply
#: never skipped (pruning is always conservative). The FOOTER path
#: (round 10, the default) additionally covers DATE (epoch-day ints)
#: and INT64 TIMESTAMP columns (epoch-micros ints) — the most common
#: selective predicates on event tables — with the matching
#: datetime/date literal conversion in ``_file_may_match``. Note the
#: legacy INT96 timestamp encoding carries no parquet stats at all;
#: the engine session writes TIMESTAMP_MICROS (session.py).
_STATS_TYPES = (
    "byte", "short", "integer", "long", "float", "double", "string"
)

#: File-count envelope for manifest stats. The stats dict is
#: driver-held and JSON-embedded in every manifest, so it must be
#: bounded by something the driver controls — at ~10⁶ files (a 100 TB
#: table at 100 MB/file) an uncapped dict is a ~GB manifest and a
#: million-row commit-time collect. Past the cap the engine DEGRADES
#: CONSERVATIVELY, never incorrectly: files without stats are simply
#: never pruned (``_file_may_match`` keeps them), so reads stay
#: correct and only lose the skipping optimization. The newest files'
#: stats are kept preferentially (recent data is what incremental
#: queries prune on). Env-tunable for big drivers.
MAX_STATS_FILES = int(os.environ.get("SPARK_GRAFT_MAX_STATS_FILES", "100000"))

#: Driver-memory envelope for the CoW MERGE/DELETE *touched-file*
#: collect: both operators must know WHICH files contain a matched
#: row, a per-file (not per-row) driver collect that is fine at 10⁴
#: files but a ~10⁶-string flood for a broad predicate over a 100 TB
#: table. Past the cap the engine DEGRADES CONSERVATIVELY, never
#: incorrectly: ALL files are treated as touched — a full
#: copy-on-write rewrite, which is exactly what a predicate matching
#: rows in >cap files is asking for anyway — and a loud warning names
#: the knob. Env-tunable for big drivers.
MAX_TOUCHED_FILES = int(
    os.environ.get("SPARK_GRAFT_MAX_TOUCHED_FILES", "100000")
)


def _touched_file_set(
    keys_df: DataFrame,
    degrade: str = "a FULL copy-on-write rewrite (all files treated "
    "as touched)",
) -> set | None:
    """Bounded driver-side collect of the distinct touched-file keys:
    at most ``MAX_TOUCHED_FILES + 1`` single-string rows ever reach
    the driver (the ``limit`` is applied BEFORE the collect). Returns
    ``None`` when over the cap — the degrade signal; ``degrade`` names
    the route the caller takes so the warning tells the truth (full
    CoW rewrite for deletes, merge-on-read for merges)."""
    rows = keys_df.limit(MAX_TOUCHED_FILES + 1).collect()
    if len(rows) > MAX_TOUCHED_FILES:
        warnings.warn(
            f"CoW operation touches more than MAX_TOUCHED_FILES="
            f"{MAX_TOUCHED_FILES} data files; degrading to {degrade}. "
            "Correctness is unaffected. For broad predicates this is "
            "the honest cost; to collect the larger file list instead, "
            "raise SPARK_GRAFT_MAX_TOUCHED_FILES.",
            stacklevel=3,
        )
        return None
    return {r[0] for r in rows}


#: Default per-file expected-NDV hint for manifest-declared bloom
#: columns. Parquet sizes each file's split-block bloom from this
#: (~1.2 bytes/value at the 1% default FPP, capped by
#: ``parquet.bloom.filter.max.bytes`` = 1 MiB), so the default suits
#: ~100 MB–1 GB files; tune per column via the dict form of
#: ``bloom_cols``.
DEFAULT_BLOOM_NDV = int(os.environ.get("SPARK_GRAFT_BLOOM_NDV", "1000000"))


def _norm_bloom_cols(bloom_cols) -> dict:
    """Normalize a ``bloom_cols`` spec (list of names or name->ndv
    dict) to ``{col: ndv}``."""
    if not bloom_cols:
        return {}
    if isinstance(bloom_cols, dict):
        return {str(c): int(n) for c, n in bloom_cols.items()}
    return {str(c): DEFAULT_BLOOM_NDV for c in bloom_cols}


def _bloom_options(bloom_cols: dict) -> dict:
    """Parquet writer options enabling a SPLIT-BLOCK BLOOM FILTER for
    each listed column — the point-lookup skipping tier that min/max
    stats cannot provide. A high-NDV column with scattered values
    (ids, hashes, session keys) has per-file and per-row-group
    [min, max] spanning the whole domain, so ``=``/``IN`` predicates
    prune nothing from stats; the bloom answers "is this value
    POSSIBLY in this row group" from a few KB of footer-adjacent
    bitmap, and Spark's parquet scan consults it per row group for
    pushed equality predicates — each task skips decoding every
    group the bloom excludes, turning a needle-in-haystack lookup
    over a 100 TB table from a full decode into footer+bitmap reads.
    (File-LEVEL manifest pruning intentionally stays min/max-only: a
    useful bloom for a high-NDV column is ~NDV bytes, which at 10⁵
    files would put GBs of bitmap into a JSON manifest the driver
    reads whole — the bitmaps belong IN the files, read distributed,
    which is exactly where parquet puts them.)"""
    out: dict = {}
    for c, ndv in bloom_cols.items():
        out[f"parquet.bloom.filter.enabled#{c}"] = "true"
        out[f"parquet.bloom.filter.expected.ndv#{c}"] = str(int(ndv))
    return out


def _carry_bloom(prev: dict | None) -> dict:
    """The ``bloom_cols``/``constraints`` manifest fragment to carry
    into a successor manifest — both are TABLE-level properties (like
    schema): every rewrite path (merge/delete/compact/optimize)
    re-applies them so maintenance never silently drops the skipping
    tier or the write-time quality gate."""
    out: dict = {}
    b = (prev or {}).get("bloom_cols") or {}
    if b:
        out["bloom_cols"] = b
    c = (prev or {}).get("constraints") or {}
    if c:
        out["constraints"] = c
    w = (prev or {}).get("write_order") or []
    if w:
        out["write_order"] = w
    if (prev or {}).get("count_matched"):
        # declared-once metadata-COUNT guarantee: every eq-delete
        # shape on this table records per-file matched counts so
        # count_snapshot never falls back to a scan (VERDICT r12 #3)
        out["count_matched"] = True
    return out


def _with_write_order(df: DataFrame, order_cols: list) -> DataFrame:
    """Apply a table's ``write_order`` property to a batch about to be
    written: range-distribute on the declared columns and sort within
    partitions (Iceberg's write sort-order / Delta's write
    optimization). The point is per-FILE min/max tightness for the
    manifest pruner on APPEND-heavy tables: an unsorted batch gives
    every file the batch's full key range (no file ever prunes),
    while a range-distributed one gives each file a narrow slice —
    data skipping without waiting for a compaction pass. Costs one
    shuffle per write — the documented write-side trade, which is why
    it is opt-in per table."""
    if not order_cols:
        return df
    from pyspark.sql import functions as F

    cols = [F.col(c) for c in order_cols]
    return df.repartitionByRange(*cols).sortWithinPartitions(*cols)


class ConstraintViolation(ValueError):
    """A CHECK-constraint table property rejected a commit: nothing
    was published (an already-written data dir is invisible and
    vacuumable). Carries ``{constraint_name: violating_row_count}``.
    ``where`` distinguishes the two rejection points: a batch failing
    the table's standing constraints, or EXISTING table data failing
    a constraint being newly declared (Delta's ADD CONSTRAINT
    validation)."""

    def __init__(
        self, table_path: str, violations: dict, where: str = "the batch"
    ):
        self.violations = violations
        super().__init__(
            f"commit to {table_path} rejected by CHECK constraints "
            f"{violations} (violating-row counts in {where}); the "
            "commit was NOT published. Fix the data or alter the "
            "table's 'constraints' property."
        )


def _validate_new_constraints_on_existing(
    spark: SparkSession, table_path: str, prev: dict, declared: dict
) -> None:
    """Declaring (or changing) a CHECK constraint validates the
    EXISTING table data first — one aggregate scan of the previous
    version, exactly Delta's ``ALTER TABLE ADD CONSTRAINT`` semantics.
    Without this, a constraint declared after bad rows landed would be
    un-enforceable history: every CoW delete/merge that carries those
    survivor rows re-checks them and fails, permanently blocking the
    advertised compliance-purge path (round-12 ADVICE). Rejecting the
    declaration instead keeps the invariant that a table with a
    standing constraint NEVER holds a violating row, which is what
    lets every rewrite re-check carried rows for free."""
    if not (declared and prev and prev.get("files")):
        return
    existing = read_snapshot(
        spark, table_path, prev["version"], merge_schema=True
    )
    # a constraint on a column history never had trivially passes
    # (every historical row reads NULL there, and NULL passes CHECK) —
    # validate only the expressions that analyze against history
    from pyspark.errors import AnalysisException

    probe = existing.limit(0)
    checkable = {}
    for name, expr in declared.items():
        try:
            probe.select(F.expr(expr).cast("boolean")).schema
        except AnalysisException:
            continue
        checkable[name] = expr
    if not checkable:
        return
    row = (
        existing
        .agg(
            *[
                expr.alias(k)
                for k, expr in _constraint_metrics(checkable).items()
            ]
        )
        .collect()[0]
    )
    violations = {
        name: int(row[f"__chk_{name}"] or 0)
        for name in checkable
        if row[f"__chk_{name}"]
    }
    if violations:
        raise ConstraintViolation(
            table_path, violations,
            where="EXISTING table data — a newly-declared constraint "
            "validates history first, like Delta ADD CONSTRAINT",
        )


#: remedy text for call sites whose signatures accept property
#: overrides (commit_snapshot) vs those that inherit only
#: (merge_snapshot_mor / stage_snapshot) — the error must advertise a
#: remedy the caller can actually reach from where they are
_PROP_REMEDY_OVERRIDE = (
    "pass constraints={...}, write_order=[...], or bloom_cols={...} "
    "explicitly (empty to clear)."
)
_PROP_REMEDY_INHERIT_ONLY = (
    "this operation inherits properties and cannot override them — "
    "retire or re-declare the property first via a commit_snapshot "
    "append (constraints={...} / write_order=[...] / bloom_cols={...}, "
    "empty to clear), then retry."
)


def _validate_properties_against_schema(
    df: DataFrame, table_path: str, checks: dict, order: list, bloom: dict,
    remedy: str = _PROP_REMEDY_OVERRIDE,
) -> None:
    """Schema evolution × table properties: the batch being committed
    DEFINES the table's new schema (the manifest records ``df``'s
    schema; an append without a column is how a column is dropped), so
    an inherited property referencing a column this batch lacks must
    fail HERE, loudly — the alternative is an undefined analysis error
    deep inside the write job, on this and every subsequent write.
    The defined semantics: evolving the schema away from a property's
    columns requires retiring or re-declaring the property in the SAME
    commit (pass ``constraints=``/``write_order=``/``bloom_cols=``
    explicitly). Driver-only: name checks plus a zero-row analysis of
    each constraint expression — no job."""

    def _err(prop: str, detail: str) -> ValueError:
        return ValueError(
            f"commit to {table_path}: the table's {prop!r} property "
            f"{detail}, but this batch's schema does not provide it "
            f"(columns: {df.columns}). Schema evolution away from a "
            "property's columns must retire or re-declare the "
            f"property — {remedy}"
        )

    cols = set(df.columns)
    for c in order:
        if c not in cols:
            raise _err("write_order", f"sorts on column {c!r}")
    for c in bloom:
        if c not in cols:
            raise _err("bloom_cols", f"declares a bloom filter on {c!r}")
    if checks:
        from pyspark.errors import AnalysisException

        probe = df.limit(0)
        for name, expr in checks.items():
            try:
                probe.select(F.expr(expr).cast("boolean")).schema
            except AnalysisException as e:
                raise _err(
                    "constraints",
                    f"entry {name!r} = {expr!r} references a column",
                ) from e


def _constraint_metrics(constraints: dict) -> dict:
    """Violation counters for each CHECK constraint, as Observation
    metrics that RIDE THE WRITE JOB — enforcement costs zero extra
    passes over the batch. SQL-standard CHECK semantics: a row
    violates only when the expression is FALSE (NULL passes)."""
    from pyspark.sql import functions as F

    return {
        f"__chk_{name}": F.sum(
            F.when(F.expr(expr).isNotNull() & ~F.expr(expr), 1).otherwise(0)
        )
        for name, expr in constraints.items()
    }


def _check_constraints(
    spark: SparkSession,
    table_path: str,
    constraints: dict,
    obs: dict | None,
    new_files: list[str],
) -> None:
    """Raise :class:`ConstraintViolation` if any constraint counter is
    non-zero. ``obs`` is the observed metrics dict when the write job
    carried them; None (retry reuse of an existing commit dir, or
    speculative execution) falls back to ONE aggregate job over the
    just-written files — correctness never depends on the fast path."""
    if not constraints:
        return
    if obs is not None:
        counts = {
            name: obs[f"__chk_{name}"] or 0 for name in constraints
        }
    elif new_files:
        from pyspark.sql import functions as F

        row = (
            _rels_reader(spark, table_path, new_files, False)
            .parquet(*[f"{table_path}/{rel}" for rel in new_files])
            .agg(
                *[
                    expr.alias(k)
                    for k, expr in _constraint_metrics(constraints).items()
                ]
            )
            .collect()[0]
        )
        counts = {
            name: row[f"__chk_{name}"] or 0 for name in constraints
        }
    else:
        return
    violations = {k: int(v) for k, v in counts.items() if v}
    if violations:
        raise ConstraintViolation(table_path, violations)


def _cap_stats(stats: dict) -> dict:
    """Bound a manifest stats dict to ``MAX_STATS_FILES`` entries,
    keeping the LAST (newest — dict insertion order is carry-then-new
    at every call site) entries. Dropping an entry is always safe:
    pruning treats a stats-less file as may-match."""
    if len(stats) <= MAX_STATS_FILES:
        return stats
    keys = list(stats)[len(stats) - MAX_STATS_FILES:]
    return {k: stats[k] for k in keys}


#: Footer-based commit stats (round 10). The parquet footers of the
#: files a commit just wrote ALREADY hold per-column-chunk min/max and
#: null counts — reading them driver-side is O(files) metadata I/O,
#: versus the job path's FULL RE-READ of the committed data (at 100 TB
#: that second pass doubles write-path I/O just to learn numbers the
#: writer already recorded). Set to "0" to force the job path.
FOOTER_STATS = os.environ.get("SPARK_GRAFT_FOOTER_STATS", "1") != "0"


def _stats_from_footers(
    spark: SparkSession, table_path: str, rels: list[str]
) -> dict:
    """`_stats_for_files` from parquet FOOTER metadata — no Spark job,
    no data re-read. Mapping rules (all conservative: an unusable
    column is OMITTED, and an omitted column never prunes):

    - accepted physical types: INT32/INT64 (plain or signed INT
      annotation — DATE/DECIMAL/TIMESTAMP annotations rejected),
      FLOAT/DOUBLE (no annotation), BINARY with STRING annotation;
      top-level columns only — mirrors ``_STATS_TYPES``.
    - a chunk with no min/max but numNulls == rowCount is all-NULL;
      a chunk with no min/max and numNulls < rowCount is parquet's
      NaN-invalidated-stats case (the writer drops float/double stats
      when NaN is present) or an unknown writer — the column is
      omitted for the file, so NaN files simply never prune on that
      column (the job path's NaN→+inf encoding is strictly tighter;
      both are correct).
    - string min/max may be writer-truncated; a truncated min is a
      prefix (<= true min) and a truncated max is incremented
      (>= true max), so the interval stays valid.
    - UTF-8 byte order == code-point order, so Python-side string
      comparisons at prune time match Spark's UTF8String ordering.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    open_file = jvm.org.apache.parquet.hadoop.ParquetFileReader.open
    from_path = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath

    def value_of(v, kind, is_max=False):
        if kind == "string":
            return v.toStringUsingUTF8()
        if kind == "ts_ms":
            return int(v) * 1000
        if kind == "ts_ns":
            # floor the min, ceil the max: the micros interval must
            # CONTAIN the true nanos interval to stay conservative
            return -((-int(v)) // 1000) if is_max else int(v) // 1000
        if isinstance(kind, tuple):  # ("dec", scale): unscaled -> float
            import math

            _tag, scale = kind
            if not isinstance(v, int):
                # FIXED_LEN_BYTE_ARRAY decimals: big-endian two's
                # complement unscaled value in a Binary
                v = int.from_bytes(bytes(v.getBytes()), "big", signed=True)
            out = float(v) / (10.0 ** scale)
            # exact decimals rarely round-trip through binary floats;
            # widen the bound by a few ulps OUTWARD so the stored
            # [min, max] interval always CONTAINS the true decimal
            # interval — pruning stays conservative, never wrong
            target = float("inf") if is_max else float("-inf")
            for _ in range(4):
                out = math.nextafter(out, target)
            return out
        return v

    out: dict = {}
    for rel in rels:
        reader = open_file(from_path(hadoop_path(f"{table_path}/{rel}"), conf))
        try:
            blocks = reader.getFooter().getBlocks()
            # per column: [min, max, nulls, usable, saw_values]
            acc: dict[str, list] = {}
            total_rows = 0
            for bi in range(blocks.size()):
                block = blocks.get(bi)
                n_rows = block.getRowCount()
                total_rows += n_rows
                cols = block.getColumns()
                for ci in range(cols.size()):
                    c = cols.get(ci)
                    name = c.getPath().toDotString()
                    if "." in name:
                        continue
                    pt = c.getPrimitiveType()
                    ptn = pt.getPrimitiveTypeName().toString()
                    ann = pt.getLogicalTypeAnnotation()
                    ann_s = "" if ann is None else str(ann)
                    if ptn == "BINARY" and ann_s == "STRING":
                        kind = "string"
                    elif ptn in ("INT32", "INT64") and (
                        ann_s == ""
                        or (ann_s.startswith("INT(") and ann_s.endswith("true)"))
                    ):
                        kind = "int"
                    elif ptn in ("FLOAT", "DOUBLE") and ann_s == "":
                        kind = "float"
                    elif ptn == "INT32" and ann_s == "DATE":
                        # days since epoch — _file_may_match converts a
                        # datetime.date literal to the same unit
                        kind = "date"
                    elif ann_s.startswith("DECIMAL(") and ptn in (
                        "INT32",
                        "INT64",
                        "FIXED_LEN_BYTE_ARRAY",
                    ):
                        # money columns — stored as ulp-widened floats
                        # (see value_of): the interval CONTAINS the
                        # true decimal range, so range predicates with
                        # Decimal/float/int literals prune safely
                        scale = int(ann_s[len("DECIMAL("):-1].split(",")[1])
                        kind = ("dec", scale)
                    elif ptn == "INT64" and ann_s.startswith("TIMESTAMP("):
                        # stored as epoch MICROS in the manifest
                        # whatever the file's unit (INT96 timestamps —
                        # Spark's legacy default — carry no stats and
                        # never reach here; write with
                        # spark.sql.parquet.outputTimestampType=
                        # TIMESTAMP_MICROS, the engine session default)
                        if "MICROS" in ann_s:
                            kind = "ts_us"
                        elif "MILLIS" in ann_s:
                            kind = "ts_ms"
                        elif "NANOS" in ann_s:
                            kind = "ts_ns"
                        else:
                            continue
                    else:
                        continue
                    # manifest stats KIND — the unit tag the pruner
                    # needs to coerce predicate literals safely (a
                    # date literal on a TIMESTAMP column must become
                    # midnight-UTC micros, not epoch days — comparing
                    # raw numbers across units silently over-prunes)
                    mkind = (
                        "ts"
                        if kind in ("ts_us", "ts_ms", "ts_ns")
                        else "dec"
                        if isinstance(kind, tuple)
                        else kind
                    )
                    a = acc.setdefault(
                        name, [None, None, 0, True, False, mkind]
                    )
                    if not a[3]:
                        continue
                    st = c.getStatistics()
                    if st is None or not st.isNumNullsSet():
                        a[3] = False
                        continue
                    nulls = st.getNumNulls()
                    a[2] += nulls
                    if st.hasNonNullValue():
                        mn = value_of(st.genericGetMin(), kind)
                        mx = value_of(st.genericGetMax(), kind, is_max=True)
                        a[0] = mn if (a[0] is None or mn < a[0]) else a[0]
                        a[1] = mx if (a[1] is None or mx > a[1]) else a[1]
                        a[4] = True
                    elif nulls != n_rows:
                        # values exist but no bounds: NaN-invalidated
                        # (or unknown writer) -> unusable, keep file
                        a[3] = False
        finally:
            reader.close()
        out[rel] = {
            name: [a[0], a[1], a[2], a[5]]
            for name, a in acc.items()
            if a[3] and (a[4] or a[0] is None)
        }
        # per-file ROW COUNT (footer metadata, exact): the manifest
        # carries it under a reserved key so COUNT(*) can be answered
        # without scanning data (count_snapshot)
        out[rel]["__n_rows"] = total_rows
    return out


def _stats_for_files(spark: SparkSession, table_path: str, rels: list[str]) -> dict:
    """Per-file column stats for manifest-level data skipping:
    ``{rel_path: {col: [min, max, null_count]}}`` over the stats-
    eligible columns. Default path (round 10): driver-side parquet
    FOOTER reads — O(files) metadata I/O, zero Spark jobs, no second
    pass over the data the commit just wrote (see
    :func:`_stats_from_footers`). Falls back to the original ONE
    aggregate job grouped by file path (map-side partial aggregation
    over page-cache-warm data) when footer reading fails or
    SPARK_GRAFT_FOOTER_STATS=0.

    Guarded by ``MAX_STATS_FILES``: a commit writing more files than
    the cap skips stats collection entirely (both paths are one entry
    PER FILE on the driver — fine at 10⁴, a flood at 10⁶). Those
    files scan unpruned, which is the documented conservative
    degradation, not an error."""
    from pyspark.sql import functions as F

    if not rels or len(rels) > MAX_STATS_FILES:
        return {}
    if FOOTER_STATS:
        try:
            return _stats_from_footers(spark, table_path, rels)
        except Exception as ex:  # fall back to the job path, loudly
            warnings.warn(
                f"footer-based commit stats failed ({type(ex).__name__}: "
                f"{ex}); falling back to the aggregate-job path. Set "
                "SPARK_GRAFT_FOOTER_STATS=0 to silence.",
                stacklevel=2,
            )
    df = _rels_reader(spark, table_path, rels, False).parquet(
        *[f"{table_path}/{rel}" for rel in rels]
    )
    eligible = [
        f.name
        for f in df.schema.fields
        if f.dataType.typeName() in _STATS_TYPES
    ]
    if not eligible:
        return {}
    aggs = []
    for i, c in enumerate(eligible):
        col = df[c]  # bracket access: names need no identifier quoting
        if df.schema[c].dataType.typeName() in ("float", "double"):
            # Spark orders NaN ABOVE every double (NaN >= x is TRUE
            # for any finite x — unlike IEEE), so an unfiltered max
            # over a NaN-containing column is NaN, and the pruner's
            # Python-side `mx >= val` is then False: the file is
            # WRONGLY skipped despite holding matches (both its real
            # values and, under Spark semantics, the NaN rows
            # themselves). Encoding NaN as +Infinity in the stats
            # domain makes the [min, max] interval exact under Spark's
            # ordering: a NaN-containing file keeps mx = inf (never
            # pruned for >, >=, kept for = only when val >= mn), and
            # an all-NaN file gets [inf, inf] — correctly skippable
            # for <, <=, and finite = while kept for > and >=.
            col = F.when(F.isnan(col), F.lit(float("inf"))).otherwise(col)
        aggs += [
            F.min(col).alias(f"mn_{i}"),
            F.max(col).alias(f"mx_{i}"),
            F.sum(df[c].isNull().cast("long")).alias(f"nu_{i}"),
        ]
    aggs.append(F.count(F.lit(1)).alias("__cnt"))
    rows = (
        df.groupBy(F.input_file_name().alias("__f")).agg(*aggs).collect()
    )
    kinds = {
        c: (
            "float"
            if df.schema[c].dataType.typeName() in ("float", "double")
            else "string"
            if df.schema[c].dataType.typeName() == "string"
            else "int"
        )
        for c in eligible
    }
    out: dict = {}
    for r in rows:
        rel = next((rel for rel in rels if r["__f"].endswith(rel)), None)
        if rel is None:
            continue
        out[rel] = {
            c: [r[f"mn_{i}"], r[f"mx_{i}"], r[f"nu_{i}"], kinds[c]]
            for i, c in enumerate(eligible)
        }
        out[rel]["__n_rows"] = r["__cnt"]  # metadata-only COUNT(*)
    return out


#: Predicate operators the pruner understands; anything else must go
#: through a post-read filter instead.
_PRUNE_OPS = ("<", "<=", ">", ">=", "=", "==", "in")


#: Micros per day — for promoting epoch-day DATE stats to the
#: epoch-micros timestamp domain (midnight UTC of that day, exactly
#: the instant Spark's date->timestamp coercion yields under the
#: engine's UTC session timezone).
_DAY_US = 86_400_000_000


def _file_may_match(file_stats: dict, col: str, op: str, val) -> bool:
    """Conservative interval test: False ONLY when the file's [min,
    max] provably excludes every row satisfying ``col op val``. A file
    with no stats for the column is always kept; a file whose column
    is entirely NULL is skipped (comparison predicates are
    null-rejecting).

    Stat entries are ``[min, max, nulls]`` (legacy) or ``[min, max,
    nulls, kind]`` with kind in int/float/string/ts/date/dec. The kind
    is what makes TEMPORAL literals safe: timestamp stats are epoch
    MICROS and date stats are epoch DAYS, so a ``ts >= date(...)``
    predicate must coerce the literal to the COLUMN's unit — Spark's
    row filter promotes both sides to timestamp, and so does the
    pruner (date stats are lifted to midnight-UTC micros). Comparing a
    literal converted by its own Python type against stats in a
    different unit silently over-prunes; when the recorded kind cannot
    disambiguate (legacy manifests, literal type foreign to the
    kind), the file is KEPT and the row filter decides."""
    st = file_stats.get(col)
    if st is None or not isinstance(st, (list, tuple)):
        # absent, or a reserved scalar entry (e.g. the per-file
        # "__n_rows" row count): not a [min, max, ...] interval — keep
        return True
    if isinstance(val, float) and val != val:
        # NaN literal: Spark's NaN ordering (NaN == NaN is TRUE, NaN
        # beats every double) is not what the Python comparisons below
        # implement — never prune on a NaN literal, let the row filter
        # decide.
        return True
    if op == "in" and any(
        isinstance(v, float) and v != v for v in val
    ):
        return True  # same NaN rule for list membership
    import datetime as _dt

    mn, mx, _nulls = st[0], st[1], st[2]
    kind = st[3] if len(st) > 3 else None

    def _micros(v):
        # naive datetime literals are taken as UTC — the engine's
        # session timezone; a bare date is midnight UTC (Spark's
        # date->timestamp coercion)
        if isinstance(v, _dt.datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=_dt.timezone.utc)
            return (
                v - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
            ) // _dt.timedelta(microseconds=1)
        return (v - _dt.date(1970, 1, 1)).days * _DAY_US

    vals = list(val) if op == "in" else [val]
    if any(isinstance(v, _dt.date) for v in vals):  # datetime is a date
        if not all(isinstance(v, _dt.date) for v in vals):
            return True  # mixed temporal/other in-list: keep
        if kind == "ts":
            pass  # stats already epoch micros
        elif kind == "date":
            # lift day stats into the micros domain so a datetime
            # literal compares exactly (Spark promotes date->timestamp)
            mn = None if mn is None else mn * _DAY_US
            mx = None if mx is None else mx * _DAY_US
        else:
            # legacy manifest (no kind) or a temporal literal against
            # a non-temporal column: units unknowable — keep the file
            return True
        vals = [_micros(v) for v in vals]
    elif kind in ("ts", "date"):
        # non-temporal literal on a temporal column (raw epoch int,
        # string, ...): Spark would cast it; the pruner does not guess
        return True

    if mn is None or mx is None:
        return False  # all-NULL column: no comparison can hold
    try:
        if op == "in":
            # keep the file iff ANY listed value falls in [mn, mx];
            # an empty list provably matches nothing
            return any(mn <= v <= mx for v in vals)
        val = vals[0]
        if op in ("=", "=="):
            return mn <= val <= mx
        if op == "<":
            return mn < val
        if op == "<=":
            return mn <= val
        if op == ">":
            return mx > val
        return mx >= val  # ">="
    except TypeError:
        return True  # incomparable literal type: keep, filter decides


#: DV row-identity: a data row is addressed by (commit-dir/file-name,
#: row position within the file). ``_metadata.row_index`` is the
#: engine-stable position of a row in its parquet file, and the last
#: two path components are unique by construction (commit dirs are
#: uuid-token-named), so the key survives a table relocation (absolute
#: paths would not).
_DV_KEY_RE = r"([^/]+/[^/]+)$"


def _dv_rel_key(rel: str) -> str:
    """Manifest-relative file path -> DV key (strip the data/ root)."""
    return rel.split("/", 1)[1]


#: Scope lists up to this size are applied as an ``isin`` literal
#: filter instead of a broadcast join — one less join per equality-
#: delete entry on every read. The scope already lives driver-side in
#: the manifest JSON, so the bound protects the EXPRESSION TREE (a
#: 10⁶-literal isin would bloat the plan), not driver memory.
_EQ_SCOPE_ISIN_MAX = 10_000


def _apply_eq_dvs(spark: SparkSession, table_path: str, manifest: dict, data):
    """Suppress rows matched by EQUALITY deletes: each entry holds a
    key column, a keys parquet, and the SCOPE (the data-file keys
    present when the delete committed) — scoping is what lets a later
    append re-introduce the key (the MoR-upsert composition) and is
    sequencing-free: a row is deleted iff its key matches AND its file
    was already present at delete time. Requires ``__dv_key`` on
    ``data``.

    Per entry: one broadcast join on the key (the keys parquet can be
    arbitrarily large) plus an in-scope check — a literal ``isin``
    for normal file counts, degrading to a second broadcast join only
    past ``_EQ_SCOPE_ISIN_MAX`` files."""
    from pyspark.sql import functions as F

    for entry in manifest.get("eq_dvs", []):
        keys = (
            _rels_reader(spark, table_path, entry["files"], False)
            .parquet(*[f"{table_path}/{r}" for r in entry["files"]])
            .withColumnRenamed(entry["key"], "__eq_val")
            .withColumn("__eq_hit", F.lit(1))
        )
        data = data.join(
            F.broadcast(keys),
            data[entry["key"]] == keys["__eq_val"],
            "left",
        )
        if len(entry["scope"]) <= _EQ_SCOPE_ISIN_MAX:
            in_scope = (
                F.col("__dv_key").isin(*entry["scope"])
                if entry["scope"]
                else F.lit(False)
            )
            data = data.filter(
                ~(F.col("__eq_hit").isNotNull() & in_scope)
            ).drop("__eq_val", "__eq_hit")
        else:
            scope = spark.createDataFrame(
                [(k,) for k in entry["scope"]], "__sc_key string"
            ).withColumn("__sc_hit", F.lit(1))
            data = (
                data.join(
                    F.broadcast(scope),
                    F.col("__dv_key") == scope["__sc_key"],
                    "left",
                )
                .filter(
                    ~(
                        F.col("__eq_hit").isNotNull()
                        & F.col("__sc_hit").isNotNull()
                    )
                )
                .drop("__eq_val", "__eq_hit", "__sc_key", "__sc_hit")
            )
    return data


def _read_with_row_identity(spark: SparkSession, table_path: str, manifest: dict):
    """The LIVE view of a snapshot with ``__dv_key``/``__dv_pos``
    row-identity columns attached and existing deletion vectors
    (position AND equality) already applied — the base every DV-aware
    writer reads."""
    from pyspark.sql import functions as F

    data = (
        _rels_reader(spark, table_path, manifest["files"], True)
        # same fail-loud contract as read_snapshot: a rewrite source
        # must never silently drop files a concurrent vacuum removed
        .option("ignoreMissingFiles", "false")
        .parquet(*[f"{table_path}/{rel}" for rel in manifest["files"]])
        .withColumn(
            "__dv_key",
            F.regexp_extract(F.col("_metadata.file_path"), _DV_KEY_RE, 1),
        )
        .withColumn("__dv_pos", F.col("_metadata.row_index"))
    )
    dv_rels = manifest.get("dvs", [])
    if dv_rels:
        dv = _rels_reader(spark, table_path, dv_rels, False).parquet(
            *[f"{table_path}/{r}" for r in dv_rels]
        )
        data = data.join(
            F.broadcast(dv),
            (F.col("__dv_key") == dv["file_key"])
            & (F.col("__dv_pos") == dv["pos"]),
            "left_anti",
        )
    return _apply_eq_dvs(spark, table_path, manifest, data)


def _dv_count_and_keys(
    spark: SparkSession, table_path: str, dv_rels: list[str]
) -> tuple[int, set]:
    """One job over a just-written DV parquet: (row count, distinct
    file keys). The keys land in the manifest as ``dv_keys`` so READS
    never re-derive them — the clean/DV'd file split used to collect
    the key set from the DV parquet on every read; now it is paid
    once at commit. Bounded by the table's file count, same envelope
    as the manifest itself."""
    from pyspark.sql import functions as F

    row = (
        _rels_reader(spark, table_path, dv_rels, False)
        .parquet(*[f"{table_path}/{r}" for r in dv_rels])
        .agg(
            F.count("*").alias("n"),
            F.collect_set("file_key").alias("ks"),
        )
        .first()
    )
    return row["n"], set(row["ks"])


def _cow_merge_probe_frames(
    tagged: DataFrame, df: DataFrame, key: str
) -> tuple[DataFrame, DataFrame]:
    """The CoW merge's probe-side plans, exposed so tests can PIN the
    join strategy without executing a merge: ``(batch_keys,
    touched_keys)`` where ``batch_keys`` carries an explicit broadcast
    hint and ``touched_keys`` is the semi join finding which files
    hold a matched key.

    The hint is load-bearing at scale (same choice as the MoR merge):
    a merge batch is normally orders of magnitude smaller than the
    table, and without it Spark's unknown-size estimate can pick a
    sort-merge join that shuffles the WHOLE tagged table on key — the
    difference between "scan + probe" and "shuffle 100 TB". Callers
    merging a genuinely huge batch should split it into key-ranged
    sub-batches; a batch past SPARK_GRAFT_MAX_BROADCAST_KEYS drops
    the hint loudly (shuffle join, never an 8 GB broadcast failure).
    The gate probe counts the raw batch, not the distinct key set —
    distinct keys <= rows, so the cheaper count is a sound upper
    bound and the probe never pays the distinct's shuffle."""
    from etl_property_rumah123_spark.operators.common import gated_broadcast

    batch_keys = gated_broadcast(
        df.select(key).distinct(),
        count_frame=df,
        what="CoW merge batch key set",
    )
    touched_keys = (
        tagged.join(batch_keys, key, "left_semi")
        .select("__file")
        .distinct()
    )
    return batch_keys, touched_keys


def _prev_dv_keys(
    spark: SparkSession, table_path: str, prev: dict
) -> set:
    """The previous manifest's DV'd-file key set. Manifests written
    since ``dv_keys`` landed carry it directly; a LEGACY manifest that
    has ``dvs`` but predates ``dv_keys`` must have its key set derived
    from the DV parquet itself — silently treating it as empty would
    record an incomplete ``dv_keys`` in the NEW manifest, and since
    reads prefer the manifest field over the derive fallback, the
    legacy files' deleted rows would resurrect. One bounded job, paid
    only on the first post-upgrade commit of a legacy table."""
    if "dv_keys" in prev:
        return set(prev["dv_keys"])
    dv_rels = prev.get("dvs", [])
    if not dv_rels:
        return set()
    return {
        r["file_key"]
        for r in _rels_reader(spark, table_path, dv_rels, False)
        .parquet(*[f"{table_path}/{r}" for r in dv_rels])
        .select("file_key")
        .distinct()
        .collect()
    }


def delete_snapshot_dv(
    spark: SparkSession,
    table_path: str,
    condition: str,
    max_retries: int = 10,
) -> int:
    """MERGE-ON-READ delete via DELETION VECTORS: mark the rows
    matching ``condition`` deleted WITHOUT rewriting any data file.
    The commit writes only a tiny (file_key, pos) parquet — the row
    positions to suppress — and the manifest carries the data files
    unchanged plus the accumulated DV list. At 100 TB this turns a
    takedown touching 10k files from a 10k-file rewrite
    (:func:`delete_snapshot`, write amplification = touched bytes)
    into an O(matched rows) write; readers apply the DVs as a
    broadcast anti-join on the row identity, and ONLY the files that
    actually carry DVs pay it.

    Contract: DVs are an accumulating read-side debt — each read
    anti-joins every outstanding DV row — so they are for LOW-RATE
    deletes between compactions. :func:`compact_snapshot` materializes
    and clears them; the CoW writers (:func:`delete_snapshot`,
    :func:`merge_snapshot`) are DV-AWARE — they rewrite from the live
    view (a rewrite can never resurrect a DV'd row) and carry the DV
    list, whose entries for rewritten files become harmless no-ops.
    Same time-travel/retention story as the CoW delete: the rows stay
    readable in pre-delete versions until vacuum."""
    from pyspark.sql import functions as F

    token = uuid.uuid4().hex[:12]
    for _ in range(max_retries):
        versions = _list_versions(spark, table_path)
        if not versions:
            raise ValueError(f"no snapshots at {table_path}")
        prev = _manifest(spark, table_path, versions[-1])
        version = versions[-1] + 1
        live = _read_with_row_identity(spark, table_path, prev)
        matches = (
            live.filter(F.expr(condition))
            .select(
                F.col("__dv_key").alias("file_key"),
                F.col("__dv_pos").alias("pos"),
            )
        )
        new_dv, obs = _write_commit_dir_observed(
            matches, table_path, f"data/c{token}",
            {"n": F.count(F.lit(1)), "ks": F.collect_set("file_key")},
        )
        if obs is not None:
            n_deleted, new_keys = obs["n"], set(obs["ks"])
        else:  # retry reuse: no write job to observe, read back
            n_deleted, new_keys = _dv_count_and_keys(spark, table_path, new_dv)
        manifest = {
            "version": version,
            "operation": "delete_dv",
            **_carry_bloom(prev),
            "condition": condition,
            "files": prev["files"],
            "n_files": len(prev["files"]),
            "n_deleted": n_deleted,
            "dvs": prev.get("dvs", []) + new_dv,
            "dv_keys": sorted(
                _prev_dv_keys(spark, table_path, prev) | new_keys
            ),
            "eq_dvs": prev.get("eq_dvs", []),
            "dv_rows": prev.get("dv_rows", 0) + n_deleted,
            "schema": prev.get("schema"),
            "stats": prev.get("stats", {}),
        }
        if _try_publish(spark, table_path, version, token, manifest):
            return version
        token = uuid.uuid4().hex[:12]
    raise RuntimeError(
        f"DV delete on {table_path} lost {max_retries} version races"
    )


def merge_snapshot_mor(
    df: DataFrame,
    table_path: str,
    key: str,
    max_retries: int = 10,
    extra_meta: dict | None = None,
    eq: bool = False,
    count_matched: bool | None = None,
) -> int:
    """MERGE-ON-READ upsert: the DV composition of
    :func:`merge_snapshot`. Old versions of matched keys are marked
    deleted and the whole batch lands as new appended files — ONE
    atomic manifest, ZERO data files rewritten. Where the CoW merge
    pays touched-file write amplification (a 0.1%-of-keys merge still
    rewrites every file holding one), the MoR merge defers the cost
    to readers until :func:`compact_snapshot` materializes.

    Two marking strategies:

    - ``eq=False`` (default): POSITION deletion vector — one scan of
      the live view finds matched row positions; readers pay a
      per-row position anti-join only on files that carry DVs.
    - ``eq=True``: EQUALITY delete entry — the batch's key column IS
      the delete, scoped to the current files. Commit cost is
      O(batch) with NO read of existing data at all (independent of
      table size — the cheapest possible streaming upsert), traded
      for a per-entry broadcast key-suppression on every read until
      compaction; entries also accumulate per commit, so the
      ``maybe_compact_dvs`` cadence matters more here.
      ``count_matched=True`` additionally records the entry's
      per-file suppressed-row counts (one key-column job over the
      scoped files — see :func:`_eq_matched_by_file`), keeping
      ``count_snapshot`` metadata-only; ``None`` (the default)
      inherits the table's ``count_matched`` PROPERTY (declared once
      via :func:`commit_snapshot`), and an undeclared table keeps the
      OFF default here because this path's design point is the
      zero-read streaming upsert (the takedown path
      :func:`delete_snapshot_eq` defaults it ON).

    The streaming-sink batch-id stamp rides in ``extra_meta`` exactly
    as in the CoW form. First commit degenerates to a single-pass
    append.

    Every later commit evaluates the batch ONCE: it is materialized
    (:func:`~etl_property_rumah123_spark.operators.common.materialized`)
    before the key/DV write and the data write read it, and a lost
    version race reuses it. A nondeterministic batch (a live scrape,
    a nondeterministic UDF) therefore marks exactly the keys it
    appends. Under
    ``SPARK_GRAFT_MATERIALIZE=persist`` the cached batch is released
    on every exit."""
    from etl_property_rumah123_spark.operators.common import materialized

    spark = df.sparkSession
    versions = _list_versions(spark, table_path)
    if not versions:
        return commit_snapshot(
            df,
            table_path,
            mode="append",
            max_retries=max_retries,
            extra_meta=extra_meta,
        )
    with materialized(df) as batch:
        return _merge_mor_batch(
            batch, table_path, key, versions, max_retries, extra_meta,
            eq, count_matched,
        )


def _merge_mor_batch(
    df: DataFrame,
    table_path: str,
    key: str,
    versions: list[int],
    max_retries: int,
    extra_meta: dict | None,
    eq: bool,
    count_matched: bool | None,
) -> int:
    """:func:`merge_snapshot_mor`'s commit loop over an already
    materialized batch and a non-empty version list (the over-cap
    route of :func:`merge_snapshot` enters here with its own batch)."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    token = uuid.uuid4().hex[:12]
    for _ in range(max_retries):
        prev = _manifest(spark, table_path, versions[-1])
        version = versions[-1] + 1
        new_dv: list[str] = []
        new_keys: set = set()
        eq_entry: dict | None = None
        if eq:
            key_files, obs = _write_commit_dir_observed(
                df.select(key).distinct(), table_path, f"data/c{token}d",
                {"n": F.count(F.lit(1))},
            )
            n_marked = (
                obs["n"]
                if obs is not None
                else _rels_reader(spark, table_path, key_files, False)
                .parquet(*[f"{table_path}/{r}" for r in key_files])
                .count()
            )
            eq_entry = {
                "key": key,
                "files": key_files,
                "n": n_marked,
                "scope": [_dv_rel_key(r) for r in prev["files"]],
            }
            cm = bool(
                count_matched
                if count_matched is not None
                else prev.get("count_matched", False)
            )
            if cm:
                eq_entry["matched"] = _eq_matched_by_file(
                    spark, table_path, prev, key, key_files
                )
        else:
            live = _read_with_row_identity(spark, table_path, prev)
            batch_keys = df.select(key).distinct()
            matched = live.join(
                F.broadcast(batch_keys),
                live[key] == batch_keys[key],
                "left_semi",
            ).select(
                F.col("__dv_key").alias("file_key"),
                F.col("__dv_pos").alias("pos"),
            )
            new_dv, obs = _write_commit_dir_observed(
                matched, table_path, f"data/c{token}d",
                {"n": F.count(F.lit(1)), "ks": F.collect_set("file_key")},
            )
            if obs is not None:
                n_marked, new_keys = obs["n"], set(obs["ks"])
            else:
                n_marked, new_keys = _dv_count_and_keys(
                    spark, table_path, new_dv
                )
        checks = prev.get("constraints") or {}
        _validate_properties_against_schema(
            df, table_path, checks,
            prev.get("write_order") or [],
            _norm_bloom_cols(prev.get("bloom_cols")),
            remedy=_PROP_REMEDY_INHERIT_ONLY,
        )
        new_files, chk_obs = _write_commit_dir_observed(
            _with_write_order(df, prev.get("write_order") or []),
            table_path,
            f"data/c{token}a",
            _constraint_metrics(checks) or None,
            options=_bloom_options(
                _norm_bloom_cols(prev.get("bloom_cols"))
            ),
        )
        _check_constraints(spark, table_path, checks, chk_obs, new_files)
        files = prev["files"] + new_files
        manifest = {
            "version": version,
            "operation": "merge_mor",
            **_carry_bloom(prev),
            "merge_key": key,
            "files": files,
            "n_files": len(files),
            "dvs": prev.get("dvs", []) + new_dv,
            "dv_keys": sorted(
                _prev_dv_keys(spark, table_path, prev) | new_keys
            ),
            "eq_dvs": prev.get("eq_dvs", [])
            + ([eq_entry] if eq_entry else []),
            "dv_rows": prev.get("dv_rows", 0) + n_marked,
            "schema": df.schema.json(),
            "stats": _cap_stats({
                **prev.get("stats", {}),
                **_stats_for_files(spark, table_path, new_files),
            }),
            **(extra_meta or {}),
        }
        if _try_publish(spark, table_path, version, token, manifest):
            return version
        token = uuid.uuid4().hex[:12]
        versions = _list_versions(spark, table_path)
    raise RuntimeError(
        f"MoR merge to {table_path} lost {max_retries} version races"
    )


def _eq_matched_by_file(
    spark: SparkSession,
    table_path: str,
    prev: dict,
    key: str,
    key_files: list[str],
) -> dict:
    """How many LIVE rows (``prev``'s view, prior position/equality
    deletes applied) an equality-delete entry suppresses, PER data-file
    key. One column-pruned job: the scan touches only the key column
    (+ row identity) of the scoped files, never the payload, and the
    output is bounded by the manifest's file count. Computed against
    the live view, the counts COMPOSE exactly — a row already
    suppressed by an earlier entry or DV is never counted twice, so
    ``count_snapshot`` can subtract entries independently. Reads the
    just-written key parquet (not the caller's frame) so a retried
    commit recomputes against identical keys."""
    live = _read_with_row_identity(spark, table_path, prev)
    keys = (
        _rels_reader(spark, table_path, key_files, False)
        .parquet(*[f"{table_path}/{r}" for r in key_files])
        .withColumnRenamed(key, "__eq_k")
    )
    rows = (
        live.join(
            F.broadcast(keys), live[key] == keys["__eq_k"], "left_semi"
        )
        .groupBy("__dv_key")
        .count()
        .collect()
    )
    return {r["__dv_key"]: r["count"] for r in rows}


def delete_snapshot_eq(
    spark: SparkSession,
    table_path: str,
    key: str,
    keys_df: DataFrame,
    max_retries: int = 10,
    count_matched: bool = True,
) -> int:
    """EQUALITY delete (the Iceberg-v2 second MoR delete shape): mark
    every CURRENT row whose ``key`` appears in ``keys_df`` deleted by
    recording the keys themselves — O(keys) written (where the
    position DV must find the row positions first, the equality
    delete is pure metadata until read). The entry is SCOPED to the
    data files present at commit, so a later append may re-introduce
    a key (MoR upsert composes) and no sequence numbers are needed.
    Readers pay a broadcast key-anti-join per outstanding entry;
    :func:`compact_snapshot` materializes, :func:`maybe_compact_dvs`
    bounds the debt (keys count toward ``dv_rows``).

    ``count_matched`` (default True) additionally records how many
    LIVE rows each entry actually suppresses, PER FILE (one
    column-pruned job over the scoped files' key column — the only
    data the commit reads). This is what keeps ``SELECT COUNT(*)``
    metadata-only under outstanding equality deletes
    (:func:`count_snapshot`): per-file granularity lets every later
    rewrite (CoW, optimize, compact) adjust the count by simply
    dropping departed file keys. Pass False for the pure-metadata
    O(keys) commit of the original design — at the documented price
    that COUNT(*) on the table falls back to a real scan until the
    next compaction clears the entry."""
    token = uuid.uuid4().hex[:12]
    for _ in range(max_retries):
        versions = _list_versions(spark, table_path)
        if not versions:
            raise ValueError(f"no snapshots at {table_path}")
        prev = _manifest(spark, table_path, versions[-1])
        version = versions[-1] + 1
        key_files, obs = _write_commit_dir_observed(
            keys_df.select(key).distinct(), table_path, f"data/c{token}",
            {"n": F.count(F.lit(1))},
        )
        n_keys = (
            obs["n"]
            if obs is not None
            else _rels_reader(spark, table_path, key_files, False)
            .parquet(*[f"{table_path}/{r}" for r in key_files])
            .count()
        )
        entry = {
            "key": key,
            "files": key_files,
            "n": n_keys,
            "scope": [_dv_rel_key(r) for r in prev["files"]],
        }
        if count_matched:
            entry["matched"] = _eq_matched_by_file(
                spark, table_path, prev, key, key_files
            )
        manifest = {
            "version": version,
            "operation": "delete_eq",
            **_carry_bloom(prev),
            "eq_key": key,
            "files": prev["files"],
            "n_files": len(prev["files"]),
            "n_keys": n_keys,
            "dvs": prev.get("dvs", []),
            "dv_keys": sorted(_prev_dv_keys(spark, table_path, prev)),
            "eq_dvs": prev.get("eq_dvs", []) + [entry],
            "dv_rows": prev.get("dv_rows", 0) + n_keys,
            "schema": prev.get("schema"),
            "stats": prev.get("stats", {}),
        }
        if _try_publish(spark, table_path, version, token, manifest):
            return version
        token = uuid.uuid4().hex[:12]
    raise RuntimeError(
        f"equality delete on {table_path} lost {max_retries} version races"
    )


def consolidate_eq_dvs(
    spark: SparkSession, table_path: str, max_retries: int = 10
) -> int | None:
    """Equality-delete entry maintenance — the light sibling of
    :func:`compact_snapshot` for the takedown pattern (many eq
    deletes, few appends). Readers pay one broadcast key-anti-join
    PER ENTRY, so a nightly purge run accretes entries linearly;
    full compaction clears them but rewrites the table. This instead:

    1. NORMALIZES each entry's scope to the files still in the
       manifest (scope entries for departed files can never match —
       dropping them shrinks the manifest and the broadcast);
    2. DROPS entries whose normalized scope is empty;
    3. MERGES entries with the same key column and identical
       normalized scope into one entry whose keys parquet is the
       distinct union (repeated purge batches between appends all
       share a scope, so the common case collapses to one entry).

    Entries with genuinely different scopes cannot merge — "deleted
    iff key matches AND file predates the delete" is per-entry — and
    are left alone; an eq-UPSERT stream (scope grows every commit)
    should rely on :func:`maybe_compact_dvs` instead. Commits a new
    version (operation ``consolidate_eq``) only when something
    changed; returns it, or None for a no-op. ``dv_rows`` is
    recounted from what actually remains."""
    token = uuid.uuid4().hex[:12]
    for _ in range(max_retries):
        versions = _list_versions(spark, table_path)
        if not versions:
            raise ValueError(f"no snapshots at {table_path}")
        prev = _manifest(spark, table_path, versions[-1])
        entries = prev.get("eq_dvs", [])
        if not entries:
            return None
        version = versions[-1] + 1
        current = {_dv_rel_key(rel) for rel in prev["files"]}
        groups: dict[tuple, list[dict]] = {}
        dropped = 0
        for e in entries:
            scope = tuple(sorted(set(e["scope"]) & current))
            if not scope:
                dropped += 1
                continue
            groups.setdefault((e["key"], scope), []).append(e)
        new_entries = []
        merged_any = False
        for (key, scope), group in groups.items():
            if len(group) == 1 and tuple(sorted(set(group[0]["scope"]))) == scope:
                new_entries.append(group[0])
                continue
            merged_any = True
            _grp_rels = [r for e in group for r in e["files"]]
            union_keys = (
                _rels_reader(spark, table_path, _grp_rels, False)
                .parquet(*[f"{table_path}/{r}" for r in _grp_rels])
                .select(key)
                .distinct()
            )
            key_files, obs = _write_commit_dir_observed(
                union_keys, table_path, f"data/c{token}e{len(new_entries)}",
                {"n": F.count(F.lit(1))},
            )
            n_union = (
                obs["n"]
                if obs is not None
                else _rels_reader(spark, table_path, key_files, False)
                .parquet(*[f"{table_path}/{r}" for r in key_files])
                .count()
            )
            merged = {
                "key": key,
                "files": key_files,
                "n": n_union,
                "scope": list(scope),
            }
            if all("matched" in e for e in group):
                # per-file matched counts sum exactly: each entry's
                # counts were taken against the live view at ITS commit
                # (rows already suppressed never re-count), trimmed to
                # the normalized scope alongside the scope itself
                acc: dict = {}
                for e in group:
                    for k, v in e["matched"].items():
                        if k in scope:
                            acc[k] = acc.get(k, 0) + v
                merged["matched"] = acc
            new_entries.append(merged)
        if not merged_any and not dropped:
            return None

        # recount the read debt from what remains: outstanding
        # position-DV rows + surviving eq keys. Entries written since
        # the "n" field carry their key count; only legacy entries
        # (and the position-DV total, when any legacy entry forces a
        # re-derive) pay a count job.
        def entry_n(e: dict) -> int:
            if "n" in e:
                return e["n"]
            return (
                _rels_reader(spark, table_path, e["files"], False)
                .parquet(*[f"{table_path}/{r}" for r in e["files"]])
                .count()
            )

        n_eq = sum(entry_n(e) for e in new_entries)
        if all("n" in e for e in entries):
            n_pos = prev.get("dv_rows", 0) - sum(e["n"] for e in entries)
        else:
            dv_rels = prev.get("dvs", [])
            n_pos = (
                _rels_reader(spark, table_path, dv_rels, False)
                .parquet(*[f"{table_path}/{r}" for r in dv_rels])
                .count()
                if dv_rels
                else 0
            )
        manifest = {
            "version": version,
            "operation": "consolidate_eq",
            **_carry_bloom(prev),
            "files": prev["files"],
            "n_files": prev.get("n_files", len(prev["files"])),
            "n_entries_before": len(entries),
            "n_entries_after": len(new_entries),
            "dvs": prev.get("dvs", []),
            "dv_keys": sorted(_prev_dv_keys(spark, table_path, prev)),
            "eq_dvs": new_entries,
            "dv_rows": n_pos + n_eq,
            "schema": prev.get("schema"),
            "stats": prev.get("stats", {}),
        }
        if _try_publish(spark, table_path, version, token, manifest):
            return version
        token = uuid.uuid4().hex[:12]
    raise RuntimeError(
        f"eq consolidation on {table_path} lost {max_retries} version races"
    )


def commit_snapshot(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    max_retries: int = 10,
    extra_meta=None,
    bloom_cols: dict | list | None = None,
    constraints: dict | None = None,
    write_order: list | None = None,
    count_matched: bool | None = None,
    observe: dict | None = None,
    observe_drop: list | None = None,
) -> int:
    """Commit ``df`` as a new table version; returns the version number.

    ``mode='append'`` unions the new files with the previous version's;
    ``'overwrite'`` makes the new files the whole table. Concurrency:
    the commit dir is named by a unique TOKEN (version-independent), so
    a writer that loses the manifest rename race reuses its already
    written data and only re-points the new manifest on retry. The
    manifest also records the DataFrame schema so empty versions read
    back with the true table schema. ``extra_meta`` entries are
    embedded IN the atomically published manifest (the streaming
    sink's batch-id stamp rides here — never a post-hoc rewrite).

    ``bloom_cols`` (list of columns, or ``{col: expected_ndv}``)
    declares PER-COLUMN PARQUET BLOOM FILTERS as a table property:
    this commit's files are written with split-block blooms on those
    columns (point-lookup row-group skipping — see
    :func:`_bloom_options`), the manifest records the spec, and every
    later commit/merge/delete/compact/optimize re-applies it
    automatically. Pass ``None`` to inherit the table's current spec
    (the common case), ``{}``/``[]`` to clear it.

    ``constraints`` (``{name: sql_boolean_expr}``) declares CHECK
    constraints the same way (Delta's table CHECK semantics): every
    data-writing commit — append, staged WAP batch, CoW/MoR merge,
    CoW delete survivors — counts violating rows AS PART OF ITS WRITE
    JOB (zero extra passes) and REFUSES to publish if any constraint
    is FALSE on any written row (NULL passes, SQL-standard). A
    rejected batch raises :class:`ConstraintViolation`; the written
    dir stays invisible and vacuumable. DECLARING a new (or changed)
    constraint on a table with data validates the EXISTING rows first
    — one scan, Delta's ADD CONSTRAINT semantics — so a table with a
    standing constraint never holds a violating row; that invariant
    is what lets CoW rewrites re-check carried survivor rows for free
    without ever bricking a later DELETE. Maintenance rewrites
    (compact/optimize) deliberately do NOT re-validate.

    ``write_order`` (list of columns) declares the table's WRITE SORT
    ORDER: appended/merged batches are range-distributed and sorted on
    these columns before writing (one shuffle per write — see
    :func:`_with_write_order`), so per-file min/max stats stay tight
    and the manifest pruner skips files on these keys WITHOUT waiting
    for a z-order compaction. Inherits like the other properties.

    ``count_matched=True`` declares the METADATA-COUNT property: every
    equality-delete shape on this table (``delete_snapshot_eq`` AND
    the MoR eq merge, which defaults the per-commit flag OFF as its
    zero-read design point) records per-file matched live-row counts,
    so ``count_snapshot`` stays job-free no matter who writes —
    a table mixing eq-merge streams with COUNT(*) dashboards declares
    the trade ONCE instead of relying on every merge call site to
    remember the opt-in. ``False`` clears it; ``None`` inherits.

    ``observe`` ({name: aggregate Column}, names must not collide
    with the reserved ``__chk_`` constraint counters) rides caller
    metrics ON the commit's write job — zero extra passes over the
    batch, the same machinery the constraint counters use. Columns in
    ``observe_drop`` are visible to the metrics but dropped before
    the bytes land (and from the recorded schema). To embed observed
    values in the manifest ATOMICALLY with the commit, pass a
    CALLABLE ``extra_meta``: it is invoked with the observed values
    dict ({name: value}, or None when no metrics could ride — no
    ``observe``, or speculative execution, under which observed
    counts double-count and the caller must use its own exact
    fallback) and returns the dict to embed. The ANN cells_log
    writers are the design customer: count + mean assignment
    distance ride the commit write instead of localCheckpoint-ing
    the full index first (at the 200M-vector drill scale that
    checkpoint alone is ~26 GB of local disk)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append/overwrite, got {mode!r}")
    if observe and any(k.startswith("__chk_") for k in observe):
        raise ValueError("observe metric names must not use __chk_")
    spark = df.sparkSession
    token = uuid.uuid4().hex[:12]
    commit_rel = f"data/c{token}"
    out_df = df.drop(*observe_drop) if observe_drop else df
    user_vals: dict | None = None
    for _ in range(max_retries):
        versions = _list_versions(spark, table_path)
        version = (versions[-1] + 1) if versions else 0
        prev0 = (
            _manifest(spark, table_path, versions[-1]) if versions else None
        )
        bloom = _norm_bloom_cols(
            bloom_cols
            if bloom_cols is not None
            else (prev0 or {}).get("bloom_cols")
        )
        checks = (
            constraints
            if constraints is not None
            else (prev0 or {}).get("constraints") or {}
        )
        order = list(
            write_order
            if write_order is not None
            else (prev0 or {}).get("write_order") or []
        )
        cm = bool(
            count_matched
            if count_matched is not None
            else (prev0 or {}).get("count_matched", False)
        )
        # schema evolution × properties: fail loud BEFORE any write if
        # an inherited property references a column this batch drops
        # (validated against the WRITTEN schema — observe_drop columns
        # never land)
        _validate_properties_against_schema(
            out_df, table_path, checks, order, bloom
        )
        if mode == "append" and prev0 is not None:
            # newly-declared / changed constraints validate EXISTING
            # data first (one scan — Delta ADD CONSTRAINT semantics)
            declared = {
                name: expr
                for name, expr in checks.items()
                if (prev0.get("constraints") or {}).get(name) != expr
            }
            _validate_new_constraints_on_existing(
                spark, table_path, prev0, declared
            )
        new_files, obs = _write_commit_dir_observed(
            _with_write_order(df, order),
            table_path,
            commit_rel,
            {**_constraint_metrics(checks), **(observe or {})} or None,
            options=_bloom_options(bloom),
            drop=observe_drop,
        )
        if observe and obs is not None and user_vals is None:
            # remember across retry iterations: a lost manifest race
            # reuses the already-written dir (no job to observe), but
            # the values describe the same data
            user_vals = {k: obs[k] for k in observe}
        _check_constraints(spark, table_path, checks, obs, new_files)
        new_stats = _stats_for_files(spark, table_path, new_files)
        dvs: list[str] = []
        dv_keys: list[str] = []
        eq_dvs: list[dict] = []
        dv_rows = 0
        if mode == "append" and versions:
            prev = prev0
            files = prev["files"] + new_files
            stats = {**prev.get("stats", {}), **new_stats}
            dvs = prev.get("dvs", [])  # appends carry deletion vectors
            dv_keys = sorted(_prev_dv_keys(spark, table_path, prev))
            eq_dvs = prev.get("eq_dvs", [])
            dv_rows = prev.get("dv_rows", 0)
        else:
            files = new_files
            stats = new_stats
        em = extra_meta(user_vals) if callable(extra_meta) else extra_meta
        manifest = {
            "version": version,
            "operation": mode,
            "files": files,
            "n_files": len(files),
            "schema": out_df.schema.json(),
            "stats": _cap_stats(stats),
            **({"bloom_cols": bloom} if bloom else {}),
            **({"constraints": checks} if checks else {}),
            **({"write_order": order} if order else {}),
            **({"count_matched": True} if cm else {}),
            **(
                {
                    "dvs": dvs,
                    "dv_keys": dv_keys,
                    "eq_dvs": eq_dvs,
                    "dv_rows": dv_rows,
                }
                if (dvs or eq_dvs)
                else {}
            ),
            **(em or {}),
        }
        if _try_publish(spark, table_path, version, token, manifest):
            return version
        # lost the race: data stays (token-named dir), the retry only
        # re-reads the new latest version and re-points the manifest
    raise RuntimeError(
        f"commit to {table_path} lost {max_retries} version races; "
        "giving up (contended writer storm)"
    )


def _empty_snapshot_df(spark: SparkSession, manifest: dict) -> DataFrame:
    """Zero-row frame with the TRUE table schema from the manifest (a
    delete matching every row — or a prune skipping every file — must
    still read back selectable by the real columns)."""
    from pyspark.sql.types import StructType

    schema_json = manifest.get("schema")
    if schema_json:
        schema = StructType.fromJson(json.loads(schema_json))
    else:  # pre-schema-recording manifest: best effort
        schema = StructType.fromJson(
            json.loads('{"type":"struct","fields":[]}')
        )
    return spark.createDataFrame([], schema=schema)


def version_at_timestamp(
    spark: SparkSession, table_path: str, ts: float
) -> int:
    """TIMESTAMP AS OF resolution: the latest version whose
    ``committed_at`` stamp is <= ``ts`` (pre-stamp manifests fall
    back to the manifest file's modification time). Version order is
    authoritative where clocks disagree: the scan walks versions in
    order and keeps the last one at-or-before the cut."""
    versions = _list_versions(spark, table_path)
    if not versions:
        raise ValueError(f"no snapshots at {table_path}")
    jvm, fs = _fs(spark, table_path)
    chosen = None
    for v in versions:
        at = _manifest(spark, table_path, v).get("committed_at")
        if at is None:  # pre-stamp manifest: file mtime
            at = (
                fs.getFileStatus(
                    jvm.org.apache.hadoop.fs.Path(
                        f"{table_path}/_log/v{v}.json"
                    )
                ).getModificationTime()
                / 1000.0
            )
        if at <= ts:
            chosen = v
    if chosen is None:
        raise ValueError(
            f"no version of {table_path} existed at timestamp {ts}"
        )
    return chosen


def read_snapshot(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    merge_schema: bool = False,
    predicates: list[tuple] | None = None,
    timestamp: float | None = None,
) -> DataFrame:
    """Read the table at ``version`` (default: latest) — time travel.
    One manifest read; the file list goes straight to the parquet
    scan, so old snapshots stay readable forever (until vacuumed).

    ``merge_schema=True`` enables SCHEMA EVOLUTION across a version's
    commits: a snapshot whose appends added columns over time reads
    as the union schema with NULLs where older files lack the column
    (parquet schema merging — each footer carries its schema, so this
    costs a footer pass, not a data rewrite).

    ``predicates``: ``[(col, op, literal), ...]`` with op in
    ``< <= > >= = == in`` (``in`` takes a list literal — the
    enum/bucket shape, e.g. probing an index's cells), ANDed —
    MANIFEST-LEVEL DATA SKIPPING. Files
    whose committed [min, max] interval provably excludes the
    predicate are dropped from the scan before Spark ever lists them:
    at 100 TB that is the difference between "planner touches 3 files"
    and "planner touches 30 000 footers" (parquet row-group pruning
    only starts AFTER every footer read). Pruning is strictly an
    optimization: every predicate is ALSO applied as a post-read
    filter (pushed to the parquet scan by Catalyst), so correctness
    never depends on the stats — a file without stats (pre-stats
    manifests, excluded column types) is simply never skipped."""
    versions = _list_versions(spark, table_path)
    if not versions:
        raise ValueError(f"no snapshots at {table_path}")
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        version = version_at_timestamp(spark, table_path, timestamp)
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(
            f"version {version} not in {table_path} (have {versions})"
        )
    manifest = _manifest(spark, table_path, version)
    files = manifest["files"]
    if predicates:
        for pred in predicates:
            if len(pred) != 3 or pred[1] not in _PRUNE_OPS:
                raise ValueError(
                    f"predicate must be (col, op, literal) with op in "
                    f"{_PRUNE_OPS}, got {pred!r}"
                )
        stats = manifest.get("stats", {})
        files = [
            rel
            for rel in files
            if all(
                _file_may_match(stats.get(rel, {}), c, op, v)
                for (c, op, v) in predicates
            )
        ]
    if not files:
        return _empty_snapshot_df(spark, manifest)
    paths = [f"{table_path}/{rel}" for rel in files]

    # Vacuum-vs-reader contract: a snapshot read races a concurrent
    # vacuum only through the retention guard (min_age_s); if an
    # operator vacuums with retention off while this version's files
    # are being read, the scan must FAIL LOUDLY, never silently
    # return the subset of files that still exist — pinned here so a
    # session-level ignoreMissingFiles=true cannot turn a torn read
    # into partial rows. Schema comes from the commit-dir sidecars
    # when available (per SUBSET read, exactly emulating what
    # inference over that subset returns) — no footer job per read.
    def rd(sub_rels):
        return _rels_reader(
            spark, table_path, sub_rels, merge_schema
        ).option("ignoreMissingFiles", "false")

    reader = rd(files)
    dv_rels = manifest.get("dvs", [])
    if manifest.get("eq_dvs"):
        # equality deletes may hit any scoped file: tag every row with
        # its file key once, apply position DVs then the per-entry
        # scoped key-suppression, and drop the identity columns
        from pyspark.sql import functions as F

        tagged = (
            reader.parquet(*paths)
            .withColumn(
                "__dv_key",
                F.regexp_extract(F.col("_metadata.file_path"), _DV_KEY_RE, 1),
            )
            .withColumn("__dv_pos", F.col("_metadata.row_index"))
        )
        if dv_rels:
            dv = _rels_reader(spark, table_path, dv_rels, False).parquet(
                *[f"{table_path}/{r}" for r in dv_rels]
            )
            tagged = tagged.join(
                F.broadcast(dv),
                (F.col("__dv_key") == dv["file_key"])
                & (F.col("__dv_pos") == dv["pos"]),
                "left_anti",
            )
        df = _apply_eq_dvs(spark, table_path, manifest, tagged).drop(
            "__dv_key", "__dv_pos"
        )
    elif dv_rels:
        # merge-on-read: suppress DV'd row positions. Only files that
        # carry DVs pay the anti-join; the rest scan plain and union.
        from pyspark.sql import functions as F

        dv = _rels_reader(spark, table_path, dv_rels, False).parquet(
            *[f"{table_path}/{r}" for r in dv_rels]
        )
        # the clean/DV'd split comes from the manifest's dv_keys —
        # recorded once at DV-commit time, so reads run NO job and
        # collect nothing here. Manifests from before dv_keys fall
        # back to deriving the set from the DV parquet (one bounded
        # collect, the old behavior).
        if "dv_keys" in manifest:
            dv_keys = set(manifest["dv_keys"])
        else:
            dv_keys = {
                r["file_key"]
                for r in dv.select("file_key").distinct().collect()
            }
        dvd_rels = [rel for rel in files if _dv_rel_key(rel) in dv_keys]
        clean_rels = [rel for rel in files if _dv_rel_key(rel) not in dv_keys]
        dvd = [f"{table_path}/{rel}" for rel in dvd_rels]
        clean = [f"{table_path}/{rel}" for rel in clean_rels]
        parts = []
        if dvd:
            tagged = (
                rd(dvd_rels).parquet(*dvd)
                .withColumn(
                    "__dv_key",
                    F.regexp_extract(F.col("_metadata.file_path"), _DV_KEY_RE, 1),
                )
                .withColumn("__dv_pos", F.col("_metadata.row_index"))
            )
            parts.append(
                tagged.join(
                    F.broadcast(dv),
                    (F.col("__dv_key") == dv["file_key"])
                    & (F.col("__dv_pos") == dv["pos"]),
                    "left_anti",
                ).drop("__dv_key", "__dv_pos")
            )
        if clean:
            parts.append(rd(clean_rels).parquet(*clean))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=merge_schema)
    else:
        df = reader.parquet(*paths)
    if predicates:
        from pyspark.sql import functions as F

        import operator as _op

        ops = {
            "<": _op.lt, "<=": _op.le, ">": _op.gt,
            ">=": _op.ge, "=": _op.eq, "==": _op.eq,
        }
        for c, op, v in predicates:
            if op == "in":
                df = df.filter(df[c].isin(list(v)))
            else:
                df = df.filter(ops[op](df[c], F.lit(v)))
    return df


def read_snapshot_multi(
    spark: SparkSession,
    table_path: str,
    versions: list[int],
) -> DataFrame:
    """MANY versions in ONE scan: every distinct data file across the
    requested versions is read exactly once, each row is tagged with
    the array of versions it is LIVE in, and the result explodes to
    the union of the per-version snapshots with a ``__version``
    column. ``unionByName`` of per-version :func:`read_snapshot` calls
    gives the same rows but re-reads every carried file once PER
    VERSION — a time-travel audit spanning 7 versions of a 100 TB
    table scans ~700 TB that way and ~100 TB this way.

    Liveness is composed per version from driver-held manifests:
    file membership rides a tiny broadcast (file key -> version
    array), position DVs become ONE join against the union of the
    versions' DV rows tagged with which DV file hit (a row is
    suppressed in v iff any hitting DV file is in v's manifest), and
    each distinct equality-delete entry contributes one broadcast key
    join plus its scope test. Falls back to the naive per-version
    union when an equality scope exceeds the isin bound — correct,
    just not single-scan."""
    from pyspark.sql import functions as F

    if not versions:
        raise ValueError("read_snapshot_multi: empty version list")
    have = _list_versions(spark, table_path)
    for v in versions:
        if v not in have:
            raise ValueError(f"version {v} not in {table_path}")
    manifests = {v: _manifest(spark, table_path, v) for v in versions}

    def naive() -> DataFrame:
        out = None
        for v in versions:
            part = read_snapshot(spark, table_path, v, merge_schema=True)
            part = part.withColumn("__version", F.lit(v).cast("long"))
            out = (
                part
                if out is None
                else out.unionByName(part, allowMissingColumns=True)
            )
        return out

    eq_entries: dict[tuple, dict] = {}
    for m in manifests.values():
        for e in m.get("eq_dvs", []):
            eq_entries[(e["key"], tuple(e["files"]))] = e
    if any(
        len(e["scope"]) > _EQ_SCOPE_ISIN_MAX for e in eq_entries.values()
    ):
        return naive()

    all_files = sorted(
        {rel for m in manifests.values() for rel in m["files"]}
    )
    data = (
        _rels_reader(spark, table_path, all_files, True)
        .option("ignoreMissingFiles", "false")
        .parquet(*[f"{table_path}/{rel}" for rel in all_files])
        .withColumn(
            "__dv_key",
            F.regexp_extract(F.col("_metadata.file_path"), _DV_KEY_RE, 1),
        )
        .withColumn("__dv_pos", F.col("_metadata.row_index"))
    )
    payload_cols = [
        c for c in data.columns if c not in ("__dv_key", "__dv_pos")
    ]

    # file membership: driver-held manifests -> (file key, [versions])
    member: dict[str, list[int]] = {}
    for v in versions:
        for rel in manifests[v]["files"]:
            member.setdefault(_dv_rel_key(rel), []).append(v)
    mdf = spark.createDataFrame(
        [(k, sorted(vs)) for k, vs in member.items()],
        "__mk string, __file_versions array<long>",
    )
    data = data.join(
        F.broadcast(mdf), data["__dv_key"] == mdf["__mk"], "left"
    ).drop("__mk")

    # position DVs: one join; a row collects WHICH dv files hit it
    dv_rels = sorted(
        {r for m in manifests.values() for r in m.get("dvs", [])}
    )
    if dv_rels:
        dv = (
            _rels_reader(spark, table_path, dv_rels, False)
            .parquet(*[f"{table_path}/{r}" for r in dv_rels])
            .withColumn(
                "__dv_rel",
                F.regexp_extract(
                    F.col("_metadata.file_path"), _DV_KEY_RE, 1
                ),
            )
            .groupBy("file_key", "pos")
            .agg(F.collect_set("__dv_rel").alias("__dv_hits"))
        )
        data = data.join(
            F.broadcast(dv),
            (data["__dv_key"] == dv["file_key"])
            & (data["__dv_pos"] == dv["pos"]),
            "left",
        ).drop("file_key", "pos")
    else:
        data = data.withColumn(
            "__dv_hits", F.lit(None).cast("array<string>")
        )

    # equality deletes: one broadcast key join per DISTINCT entry
    eq_flags: list[tuple[tuple, object]] = []
    for i, (eid, entry) in enumerate(sorted(eq_entries.items())):
        keys = (
            _rels_reader(spark, table_path, entry["files"], False)
            .parquet(*[f"{table_path}/{r}" for r in entry["files"]])
            .select(F.col(entry["key"]).alias(f"__eqv{i}"))
            .distinct()
            .withColumn(f"__eqh{i}", F.lit(1))
        )
        data = data.join(
            F.broadcast(keys),
            data[entry["key"]] == keys[f"__eqv{i}"],
            "left",
        ).drop(f"__eqv{i}")
        in_scope = (
            F.col("__dv_key").isin(*entry["scope"])
            if entry["scope"]
            else F.lit(False)
        )
        eq_flags.append(
            (eid, F.col(f"__eqh{i}").isNotNull() & in_scope)
        )

    live_versions = []
    for v in versions:
        m = manifests[v]
        dv_keys_v = [_dv_rel_key(r) for r in m.get("dvs", [])]
        cond = F.array_contains(
            F.coalesce(
                F.col("__file_versions"),
                F.lit(None).cast("array<long>"),
            ),
            F.lit(v).cast("long"),
        )
        if dv_keys_v:
            hit_v = F.arrays_overlap(
                F.col("__dv_hits"),
                F.array(*[F.lit(k) for k in dv_keys_v]),
            )
            cond = cond & ~F.coalesce(hit_v, F.lit(False))
        v_eq_ids = {
            (e["key"], tuple(e["files"])) for e in m.get("eq_dvs", [])
        }
        for eid, flag in eq_flags:
            if eid in v_eq_ids:
                cond = cond & ~F.coalesce(flag, F.lit(False))
        live_versions.append(F.when(cond, F.lit(v).cast("long")))
    tagged = data.withColumn(
        "__live", F.filter(F.array(*live_versions), lambda x: x.isNotNull())
    )
    return (
        tagged.filter(F.size("__live") > 0)
        .withColumn("__version", F.explode("__live"))
        .select(*payload_cols, "__version")
    )


def schema_diff(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
) -> dict:
    """SCHEMA DRIFT between two versions, from the manifests alone (no
    file reads): ``{"added": {col: type}, "removed": {col: type},
    "retyped": {col: (old, new)}}``. The audit a consumer pinned to a
    snapshot runs before upgrading — the complement of
    ``read_snapshot(merge_schema=True)``'s permissive union."""
    from pyspark.sql.types import StructType

    versions = _list_versions(spark, table_path)
    if to_version is None:
        to_version = versions[-1]
    for v in (from_version, to_version):
        if v not in versions:
            raise ValueError(f"version {v} not in {table_path}")

    def cols(v: int) -> dict:
        sj = _manifest(spark, table_path, v).get("schema")
        if not sj:
            return {}
        return {
            f.name: f.dataType.simpleString()
            for f in StructType.fromJson(json.loads(sj)).fields
        }
    old, new = cols(from_version), cols(to_version)
    return {
        "added": {c: t for c, t in new.items() if c not in old},
        "removed": {c: t for c, t in old.items() if c not in new},
        "retyped": {
            c: (old[c], new[c])
            for c in old.keys() & new.keys()
            if old[c] != new[c]
        },
    }


#: Optional manifest fields surfaced by :func:`history` when present —
#: the audit columns (what/when/how big) without dumping file lists.
_HISTORY_EXTRAS = (
    "committed_at", "condition", "n_deleted", "n_keys", "dv_rows",
    "n_rewritten_files", "merge_key", "stream_batch_id",
    "compacted_from", "eq_key", "staged_name", "optimized_files",
)


def history(spark: SparkSession, table_path: str) -> list[dict]:
    """All manifests, oldest first: version/operation/n_files plus the
    per-operation audit fields where present (commit timestamp, delete
    condition and counts, DV debt, merge key, stream batch id, ...)."""
    out = []
    for v in _list_versions(spark, table_path):
        m = _manifest(spark, table_path, v)
        row = {k: m[k] for k in ("version", "operation", "n_files")}
        row.update({k: m[k] for k in _HISTORY_EXTRAS if k in m})
        out.append(row)
    return out


def count_snapshot(
    spark: SparkSession, table_path: str, version: int | None = None
) -> int:
    """``SELECT COUNT(*)`` WITHOUT scanning the data: manifests record
    a per-file row count (parquet footer metadata, exact), so counting
    a clean snapshot is a driver-side sum over the manifest — at
    100 TB the difference between a metadata lookup and a full-table
    scan job. Outstanding POSITION deletion vectors subtract exactly:
    one tiny job over the dv parquet counts the distinct (file, pos)
    entries that target files still live in this version (stale
    entries for rewritten files never match). Outstanding EQUALITY
    deletes subtract from the ``matched`` per-file counts their
    commits recorded (:func:`_eq_matched_by_file`) — restricted to
    file keys still live, which is exactly how later rewrites retire
    a file's share — at no job at all. Falls back to a real
    ``read_snapshot(...).count()`` — loudly correct, never wrong —
    only when the manifest predates per-file counts or an eq entry
    was written with ``count_matched=False``."""
    from pyspark.sql import functions as F

    versions = _list_versions(spark, table_path)
    if not versions:
        raise ValueError(f"no snapshots at {table_path}")
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    m = _manifest(spark, table_path, version)

    def fallback() -> int:
        return read_snapshot(spark, table_path, version).count()

    if any("matched" not in e for e in m.get("eq_dvs", [])):
        return fallback()  # legacy / opted-out entry: needs the data
    stats = m.get("stats", {})
    counts = [stats.get(rel, {}).get("__n_rows") for rel in m["files"]]
    if any(c is None for c in counts):
        return fallback()  # legacy manifest / stats-capped commit
    total = int(sum(counts))
    live = {_dv_rel_key(rel) for rel in m["files"]}
    # equality-delete shares: matched counts compose (each was taken
    # against the live view at its commit — no row counted twice) and
    # keys for rewritten/departed files simply stop matching `live`
    n_eq = sum(
        v
        for e in m.get("eq_dvs", [])
        for k, v in e["matched"].items()
        if k in live
    )
    dv_rels = m.get("dvs", [])
    if not dv_rels:
        return total - n_eq
    relevant = sorted(set(m.get("dv_keys", [])) & live)
    if not relevant:
        return total - n_eq
    dv = (
        _rels_reader(spark, table_path, dv_rels, False)
        .parquet(*[f"{table_path}/{r}" for r in dv_rels])
        .select("file_key", "pos")
        .distinct()
    )
    if len(relevant) <= _EQ_SCOPE_ISIN_MAX:
        n_dv = dv.filter(F.col("file_key").isin(*relevant)).count()
    else:
        keys = spark.createDataFrame(
            [(k,) for k in relevant], "file_key string"
        )
        n_dv = dv.join(F.broadcast(keys), "file_key", "left_semi").count()
    return total - n_dv - n_eq


def stage_snapshot(
    df: DataFrame, table_path: str, name: str | None = None
) -> str:
    """WRITE-AUDIT-PUBLISH, step 1 (the Iceberg WAP ingestion gate):
    land ``df``'s files in the table's data area and record them in a
    STAGED manifest (``_log/staged/<name>.json``) that no reader sees
    — ``read_snapshot`` and the version log are untouched. The batch
    is then auditable in place (:func:`read_staged` — row counts,
    quality gates, schema checks against real committed bytes), and
    either :func:`publish_staged` makes it visible ATOMICALLY as a
    normal append version or :func:`drop_staged` discards it without
    a trace. At 100 TB this is how bad data stays out of the table
    WITHOUT a quarantine copy: the bytes are written once, in their
    final location, and visibility is a metadata flip.

    The table's declared ``bloom_cols`` apply to the staged files
    (they will be published as-is). Returns the stage name. Staged
    data is protected from :func:`vacuum` until dropped/published."""
    spark = df.sparkSession
    name = name or uuid.uuid4().hex[:12]
    if "/" in name or name.startswith("."):
        raise ValueError(f"invalid stage name {name!r}")
    if _PUB_LEDGER_RE.match(f"{name}.json"):
        raise ValueError(
            f"invalid stage name {name!r}: the published_ledger_<n> "
            "namespace is reserved for vacuum's tombstone ledgers"
        )
    if _read_published_tombstone(spark, table_path, name) is not None:
        raise ValueError(
            f"stage name {name!r} at {table_path} was already published "
            "— published names are permanently retired (the tombstone "
            "is what makes publish replay-safe); pick a fresh name."
        )
    versions = _list_versions(spark, table_path)
    prev = _manifest(spark, table_path, versions[-1]) if versions else {}
    token = uuid.uuid4().hex[:12]
    checks = prev.get("constraints") or {}
    _validate_properties_against_schema(
        df, table_path, checks,
        prev.get("write_order") or [],
        _norm_bloom_cols(prev.get("bloom_cols")),
        remedy=_PROP_REMEDY_INHERIT_ONLY,
    )
    new_files, obs = _write_commit_dir_observed(
        _with_write_order(df, prev.get("write_order") or []),
        table_path,
        f"data/s{token}",
        _constraint_metrics(checks) or None,
        options=_bloom_options(_norm_bloom_cols(prev.get("bloom_cols"))),
    )
    _check_constraints(spark, table_path, checks, obs, new_files)
    staged = {
        "name": name,
        "new_files": new_files,
        "n_files": len(new_files),
        "schema": df.schema.json(),
        "stats": _stats_for_files(spark, table_path, new_files),
    }
    path = f"{table_path}/_log/staged/{name}.json"
    jvm, fs = _fs(spark, table_path)
    if fs.exists(jvm.org.apache.hadoop.fs.Path(path)):
        raise ValueError(f"stage {name!r} already exists at {table_path}")
    _write_file(spark, path, json.dumps(staged).encode())
    return name


def _staged_manifest(spark: SparkSession, table_path: str, name: str) -> dict:
    path = f"{table_path}/_log/staged/{name}.json"
    jvm, fs = _fs(spark, table_path)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(path)):
        raise ValueError(f"no staged commit {name!r} at {table_path}")
    return json.loads(_read_file(spark, path).decode())


def list_staged(spark: SparkSession, table_path: str) -> list[str]:
    """Names of pending staged commits, sorted."""
    jvm, fs = _fs(spark, table_path)
    d = jvm.org.apache.hadoop.fs.Path(f"{table_path}/_log/staged")
    if not fs.exists(d):
        return []
    return sorted(
        s.getPath().getName()[: -len(".json")]
        for s in fs.listStatus(d)
        if s.getPath().getName().endswith(".json")
    )


def read_staged(
    spark: SparkSession,
    table_path: str,
    name: str,
    with_table: bool = False,
) -> DataFrame:
    """The audit view of a staged commit: the staged batch itself, or
    (``with_table=True``) the table AS IT WOULD READ after publish —
    current snapshot unioned with the batch — for gates that check
    cross-batch invariants (key uniqueness, distribution drift)."""
    staged = _staged_manifest(spark, table_path, name)
    batch = _rels_reader(
        spark, table_path, staged["new_files"], True
    ).parquet(*[f"{table_path}/{rel}" for rel in staged["new_files"]])
    if not with_table:
        return batch
    return read_snapshot(spark, table_path).unionByName(
        batch, allowMissingColumns=True
    )


def _published_tombstone_path(table_path: str, name: str) -> str:
    return f"{table_path}/_log/published/{name}.json"


#: folded publish-tombstone ledgers (see :func:`vacuum`): generation-
#: numbered so a fold NEVER overwrites a live refusal record — the new
#: ledger is created complete, THEN the folded per-name files and older
#: ledgers drop; a crash at any point leaves every name findable.
_PUB_LEDGER_RE = re.compile(r"^published_ledger_(\d+)\.json$")


def _list_pub_ledgers(spark: SparkSession, table_path: str) -> list[int]:
    jvm, fs = _fs(spark, table_path)
    d = jvm.org.apache.hadoop.fs.Path(f"{table_path}/_log/published")
    if not fs.exists(d):
        return []
    out = []
    for st in fs.listStatus(d):
        m = _PUB_LEDGER_RE.match(st.getPath().getName())
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _pub_ledger_path(table_path: str, gen: int) -> str:
    return f"{table_path}/_log/published/published_ledger_{gen}.json"


def _read_published_tombstone(
    spark: SparkSession, table_path: str, name: str
) -> dict | None:
    jvm, fs = _fs(spark, table_path)
    p = jvm.org.apache.hadoop.fs.Path(
        _published_tombstone_path(table_path, name)
    )
    if fs.exists(p):
        return json.loads(_read_file(
            spark, _published_tombstone_path(table_path, name)
        ).decode())
    # folded into a ledger by vacuum? newest ledger is a superset of
    # older ones, but a crashed fold may have left several — check all
    for gen in reversed(_list_pub_ledgers(spark, table_path)):
        try:
            ledger = json.loads(_read_file(
                spark, _pub_ledger_path(table_path, gen)
            ).decode())
        except ValueError:
            continue  # partial write from a crashed fold: unreadable,
            # but the files it would have folded still exist
        rec = ledger.get("records", {}).get(name)
        if rec is not None:
            return rec
    return None


def _fold_published_tombstones(
    spark: SparkSession, table_path: str, dry_run: bool,
    min_age_s: float = 0.0,
) -> list[str]:
    """VACUUM's retention hook for publish tombstones: per-name
    ``_log/published/<name>.json`` files accumulate one FS object per
    published stage forever (the ~100 B each IS the durability). Fold
    them into ONE generation-numbered ledger file preserving the
    replay-refusal guarantee: the new ledger (union of every older
    ledger and every per-name record) is created COMPLETE first, and
    only then do the folded files and superseded ledgers drop — a
    crash at any point leaves each name discoverable via either its
    own file or a surviving ledger. Returns deleted paths.

    Two classes of file are folded but never destroyed blind:

    - A per-name file younger than ``min_age_s`` or that does not
      parse is SKIPPED (left in place, not deleted): a lock-free
      concurrent publish may be mid-write of its tombstone, and a
      truncated file from a crashed publish must not brick every
      future vacuum — the skip costs one FS object until the writer
      finishes or an operator removes the debris.
    - A parseable ledger-named file WITHOUT a ``records`` key is a
      legacy per-name tombstone whose stage happened to be called
      ``published_ledger_<n>`` (the name became reserved only after
      ledgers shipped): it is folded as the record for that name —
      classifying it as an empty ledger would delete the
      replay-refusal record and let a replayed publish re-append its
      batch."""
    jvm, fs = _fs(spark, table_path)
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    pub_dir = hadoop_path(f"{table_path}/_log/published")
    if not fs.exists(pub_dir):
        return []
    import time

    now_ms = time.time() * 1000.0
    min_age_ms = min_age_s * 1000.0
    per_name: list[str] = []
    for st in fs.listStatus(pub_dir):
        n = st.getPath().getName()
        if n.endswith(".json") and not _PUB_LEDGER_RE.match(n):
            if (now_ms - st.getModificationTime()) >= min_age_ms:
                per_name.append(n)
    ledgers = _list_pub_ledgers(spark, table_path)
    if not per_name and len(ledgers) <= 1:
        return []  # nothing to fold
    records: dict = {}
    foldable_ledgers: list[int] = []
    for gen in ledgers:  # older first; newer records win (identical)
        try:
            ledger = json.loads(_read_file(
                spark, _pub_ledger_path(table_path, gen)
            ).decode())
        except ValueError:
            # partial write from a crashed fold: its inputs were only
            # deleted after a COMPLETE write, so every record it would
            # have held still exists elsewhere — safe to retire
            foldable_ledgers.append(gen)
            continue
        if "records" in ledger:
            records.update(ledger["records"])
        else:  # legacy tombstone masquerading under the ledger name
            records[f"published_ledger_{gen}"] = ledger
        foldable_ledgers.append(gen)
    foldable_names: list[str] = []
    for n in per_name:
        try:
            rec = json.loads(_read_file(
                spark, f"{table_path}/_log/published/{n}"
            ).decode())
        except ValueError:
            continue  # mid-write or truncated: leave the file alone
        records[n[: -len(".json")]] = rec
        foldable_names.append(n)
    if not foldable_names and len(foldable_ledgers) <= 1:
        return []
    deleted = [
        f"{table_path}/_log/published/{n}" for n in foldable_names
    ] + [_pub_ledger_path(table_path, g) for g in foldable_ledgers]
    if dry_run:
        return deleted
    new_gen = (ledgers[-1] + 1) if ledgers else 0
    _write_file(
        spark,
        _pub_ledger_path(table_path, new_gen),
        json.dumps({"records": records}, sort_keys=True).encode(),
    )
    for p in deleted:
        fs.delete(hadoop_path(p), False)
    return deleted


def publish_staged(
    spark: SparkSession, table_path: str, name: str, max_retries: int = 10
) -> int:
    """WRITE-AUDIT-PUBLISH, step 3: atomically promote the staged
    commit to a normal append version (same rename race protocol as
    every writer; the staged files enter the manifest by reference —
    zero data moved). IDEMPOTENT under replay, DURABLY: a successful
    publish writes a tiny tombstone (``_log/published/<name>.json``,
    recording the version and file list) BEFORE deleting the stage
    marker, and a replayed publish returns the tombstoned version
    without touching the log. The tombstone is what survives the
    worst-case replay window — the publishing version's manifest
    vacuumed away AND the staged files compacted/optimized out of the
    current manifest — where both in-log detections (staged_name scan,
    file-subset check) go blind and a marker-only protocol would
    re-append the batch, duplicating every row. Tombstone RECORDS are
    kept forever (that IS the durability) and make a publish's stage
    name permanently non-reusable; :func:`vacuum` folds the per-name
    files into one ledger object so a table cycling millions of stages
    doesn't accumulate millions of FS objects."""
    staged = _staged_manifest(spark, table_path, name)
    new_files = staged["new_files"]
    jvm, fs = _fs(spark, table_path)
    marker = jvm.org.apache.hadoop.fs.Path(
        f"{table_path}/_log/staged/{name}.json"
    )
    tomb = _read_published_tombstone(spark, table_path, name)
    if tomb is not None:
        if tomb.get("new_files") != new_files:
            raise ValueError(
                f"stage name {name!r} at {table_path} was already "
                f"published as version {tomb.get('version')} with a "
                "DIFFERENT file set — stage names are not reusable "
                "after publish (pick a fresh name)."
            )
        fs.delete(marker, False)
        if tomb.get("version") is None:  # repaired: true version unknown
            return int(tomb["earliest_containing_version"])
        return int(tomb["version"])
    for _ in range(max_retries):
        versions = _list_versions(spark, table_path)
        version = (versions[-1] + 1) if versions else 0
        prev = (
            _manifest(spark, table_path, versions[-1]) if versions else {}
        )
        already = next(
            (
                v
                for v in reversed(versions)
                if _manifest(spark, table_path, v).get("staged_name")
                == name
            ),
            None,
        )
        if already is not None or (
            # in-log replay detections (kept as belts under the durable
            # tombstone): the publishing version's manifest names this
            # stage, or the staged files are already listed in the
            # current manifest (a double append would read them twice)
            versions
            and set(new_files) <= set(prev["files"])
        ):
            # replayed publish (process died between the manifest
            # rename and the tombstone/marker steps): the batch is
            # already a version — possibly further mutated by later
            # commits — so repair the tombstone and clean the marker;
            # NEVER re-append the files
            if already is not None:
                published_v = already
                record: dict = {
                    "name": name, "version": published_v,
                    "new_files": new_files,
                }
            else:
                # the publishing version's manifest was vacuumed — the
                # true version is UNKNOWN. prev['version'] is merely
                # the latest version at repair time; persisting it
                # would misreport the publisher forever. Record null
                # plus the earliest KEPT version carrying the files
                # (the tightest provable bound) as best-effort, and
                # return that stable value on every future replay.
                published_v = next(
                    (
                        v for v in versions
                        if set(new_files)
                        <= set(_manifest(spark, table_path, v)["files"])
                    ),
                    prev["version"],
                )
                record = {
                    "name": name, "version": None, "repaired": True,
                    "earliest_containing_version": published_v,
                    "new_files": new_files,
                }
            _write_file(
                spark,
                _published_tombstone_path(table_path, name),
                json.dumps(record).encode(),
            )
            fs.delete(marker, False)
            return published_v
        manifest = {
            "version": version,
            "operation": "publish_staged",
            "staged_name": name,
            **_carry_bloom(prev),
            "files": prev.get("files", []) + new_files,
            "n_files": len(prev.get("files", [])) + len(new_files),
            "schema": staged.get("schema") or prev.get("schema"),
            "stats": _cap_stats(
                {**prev.get("stats", {}), **staged.get("stats", {})}
            ),
            **(
                {
                    "dvs": prev.get("dvs", []),
                    "dv_keys": sorted(
                        _prev_dv_keys(spark, table_path, prev)
                    ),
                    "eq_dvs": prev.get("eq_dvs", []),
                    "dv_rows": prev.get("dv_rows", 0),
                }
                if (prev.get("dvs") or prev.get("eq_dvs"))
                else {}
            ),
        }
        token = uuid.uuid4().hex[:12]
        if _try_publish(spark, table_path, version, token, manifest):
            # durability order: manifest (visible) -> tombstone
            # (replay-proof) -> marker delete (stage closed). A crash
            # between any two steps is repaired by the replay paths
            # above, converging on this same end state.
            _write_file(
                spark,
                _published_tombstone_path(table_path, name),
                json.dumps(
                    {"name": name, "version": version,
                     "new_files": new_files}
                ).encode(),
            )
            fs.delete(marker, False)
            return version
    raise RuntimeError(
        f"publish of staged {name!r} to {table_path} lost "
        f"{max_retries} version races"
    )


def drop_staged(spark: SparkSession, table_path: str, name: str) -> None:
    """WRITE-AUDIT-PUBLISH, audit-failed exit: discard the staged
    commit. The marker goes immediately (the stage name is reusable);
    the staged data files lose their vacuum protection and are swept
    by the next :func:`vacuum` pass."""
    _staged_manifest(spark, table_path, name)  # raises if absent
    jvm, fs = _fs(spark, table_path)
    fs.delete(
        jvm.org.apache.hadoop.fs.Path(
            f"{table_path}/_log/staged/{name}.json"
        ),
        False,
    )


def vacuum(
    spark: SparkSession,
    table_path: str,
    keep_last: int = 1,
    min_age_s: float = 24 * 3600,
    dry_run: bool = False,
) -> list[str]:
    """Drop manifests older than the last ``keep_last`` versions and
    delete data no surviving manifest references — including orphaned
    commit dirs and staged .tmp manifests from crashed commits.
    Returns deleted paths. The time-travel horizon after vacuum is
    exactly the kept versions — same contract as Delta's VACUUM.
    ``dry_run=True`` returns the would-delete list WITHOUT touching
    anything (the operator's pre-flight, same as Delta's VACUUM DRY
    RUN).

    ``min_age_s`` is the RETENTION GUARD (default 24 h, same idea as
    Delta's retention check): unreferenced data/staging younger than
    this is left alone, because a lock-free concurrent writer may
    have fully written its commit dir but not yet renamed its
    manifest — deleting it would break the commit the instant it
    publishes. Only pass 0 when no other writer can be running."""
    import time

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    jvm, fs = _fs(spark, table_path)
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    versions = _list_versions(spark, table_path)
    keep = set(versions[-keep_last:])
    live_files: set[str] = set()
    for v in keep:
        m = _manifest(spark, table_path, v)
        live_files.update(m["files"])
        live_files.update(m.get("dvs", []))  # DV parquet is live data
        live_files.update(m.get("merge_keys", []))  # CDF fast-path keys
        for entry in m.get("eq_dvs", []):
            live_files.update(entry["files"])
    # pending WRITE-AUDIT-PUBLISH stages: their files are invisible to
    # readers but must survive vacuum until published or dropped —
    # sweeping them would break the publish that makes them visible
    for name in list_staged(spark, table_path):
        live_files.update(
            _staged_manifest(spark, table_path, name)["new_files"]
        )
    now_ms = time.time() * 1000.0
    min_age_ms = min_age_s * 1000.0

    def old_enough(status) -> bool:
        return (now_ms - status.getModificationTime()) >= min_age_ms

    deleted: list[str] = []
    for v in versions:
        if v not in keep:
            p = f"{table_path}/_log/v{v}.json"
            if not dry_run:
                fs.delete(hadoop_path(p), False)
            deleted.append(p)
    log_dir = hadoop_path(f"{table_path}/_log")
    if fs.exists(log_dir):
        for status in fs.listStatus(log_dir):
            name = status.getPath().getName()
            if name.endswith(".json.tmp") and old_enough(status):
                if not dry_run:
                    fs.delete(status.getPath(), False)
                deleted.append(f"{table_path}/_log/{name}")
    data_dir = hadoop_path(f"{table_path}/data")
    if fs.exists(data_dir):
        live_dirs = {rel.split("/")[1] for rel in live_files}
        for status in fs.listStatus(data_dir):
            name = status.getPath().getName()
            if name not in live_dirs and old_enough(status):
                if not dry_run:
                    fs.delete(status.getPath(), True)
                deleted.append(f"{table_path}/data/{name}")
    # publish-tombstone retention: fold per-name refusal records into
    # one ledger file (names stay permanently retired — the fold only
    # collapses one-FS-object-per-published-stage into one object)
    deleted.extend(_fold_published_tombstones(
        spark, table_path, dry_run, min_age_s=min_age_s
    ))
    return deleted


def merge_snapshot(
    df: DataFrame,
    table_path: str,
    key: str,
    max_retries: int = 10,
    extra_meta: dict | None = None,
    on_overflow: str = "mor",
) -> int:
    """Copy-on-write MERGE at FILE grain (the Delta/Iceberg CoW shape,
    L3 semantics on the snapshot log): full-row last-write-wins upsert
    of ``df`` by ``key``, rewriting ONLY the data files that contain a
    matched key. Untouched files are carried by reference in the new
    manifest — at 100 TB a merge touching 0.1% of keys rewrites ~0.1%
    of files, not the table — and every previous version remains
    readable (time travel over merges).

    Plan shape: one scan of the current snapshot tagged with
    ``input_file_name()``; a semi join finds touched files, an anti
    join inside them keeps unmatched carry rows; carry + batch form
    the single rewritten commit dir. First commit degenerates to
    append.

    ``on_overflow`` picks the degrade when the merge touches more than
    ``MAX_TOUCHED_FILES`` files (the driver cannot hold the touched
    list): ``'mor'`` (default) routes the batch to
    :func:`merge_snapshot_mor` — O(batch + matched) commit, ZERO files
    rewritten, the at-100 TB-sane choice (compaction retires the DV
    debt later); ``'cow'`` keeps the old full copy-on-write rewrite —
    an entire-table write, honest for a merge that really does touch
    everything and wanted materialized files NOW. Deletes keep their
    own CoW/DV choice (`delete_rows`/`delete_rows_mor`) and are not
    affected by this knob.

    The batch is evaluated ONCE. A first commit is a single-pass
    append; any later commit materializes the batch
    (:func:`~etl_property_rumah123_spark.operators.common.materialized`)
    and its four consumers (broadcast-gate count, touched-file probe,
    rewrite, key-set write) read those blocks, as do lost-race retries
    and the over-cap route to the MoR form. A nondeterministic batch
    (a live scrape, a nondeterministic UDF) therefore writes a
    ``merge_keys`` dir that agrees with its data dir. Under
    ``SPARK_GRAFT_MATERIALIZE=persist`` the cached batch is released
    on every exit."""
    from etl_property_rumah123_spark.operators.common import materialized

    if on_overflow not in ("mor", "cow"):
        raise ValueError(
            f"on_overflow must be 'mor' or 'cow', got {on_overflow!r}"
        )
    spark = df.sparkSession
    versions = _list_versions(spark, table_path)
    if not versions:
        # First commit degenerates to append — forward the caller's
        # retry budget and metadata (a stream_batch_id stamp dropped
        # here would break the exactly-once replay-skip contract).
        return commit_snapshot(
            df,
            table_path,
            mode="append",
            max_retries=max_retries,
            extra_meta=extra_meta,
        )
    with materialized(df) as batch:
        return _merge_cow_batch(
            batch, table_path, key, versions, max_retries, extra_meta,
            on_overflow,
        )


def _merge_cow_batch(
    df: DataFrame,
    table_path: str,
    key: str,
    versions: list[int],
    max_retries: int,
    extra_meta: dict | None,
    on_overflow: str,
) -> int:
    """:func:`merge_snapshot`'s commit loop over an already
    materialized batch and a non-empty version list."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    token = uuid.uuid4().hex[:12]
    for _ in range(max_retries):
        prev = _manifest(spark, table_path, versions[-1])
        version = versions[-1] + 1
        # mergeSchema (inside the row-identity view): the carry side
        # must keep columns added by schema evolution, or the rewrite
        # silently truncates them. DV-aware: outstanding deletion
        # vectors are applied before the rewrite (no resurrection)
        # and carried in the manifest (stale entries no-op).
        tagged = (
            _read_with_row_identity(spark, table_path, prev)
            .withColumnRenamed("__dv_key", "__file")
            .drop("__dv_pos")
        )
        batch_keys, touched_keys_plan = _cow_merge_probe_frames(
            tagged, df, key
        )
        touched = _touched_file_set(
            touched_keys_plan,
            degrade=(
                "a merge-on-read commit (deletion vectors + appended "
                "batch files — zero rewrites; compact_snapshot retires "
                "the debt)"
                if on_overflow == "mor"
                else "a FULL copy-on-write rewrite (all files treated "
                "as touched)"
            ),
        )
        if touched is None and on_overflow == "mor":
            # Over-cap: a full CoW rewrite here is an entire-table
            # write — at 100 TB, hours of amplification for one batch.
            # The MoR form commits the same logical state in
            # O(batch + matched) with zero rewrites; it runs its own
            # race-retry loop over the same materialized batch.
            return _merge_mor_batch(
                df, table_path, key, versions, max_retries, extra_meta,
                eq=False, count_matched=None,
            )
        if touched is None:  # over MAX_TOUCHED_FILES: full CoW rewrite
            touched_rel = list(prev["files"])
            carry_src = tagged
        else:
            touched_rel = [
                rel for rel in prev["files"] if _dv_rel_key(rel) in touched
            ]
            carry_src = tagged.filter(
                F.col("__file").isin(*touched) if touched else F.lit(False)
            )
        carry = carry_src.drop("__file").join(batch_keys, key, "left_anti")
        rewrite = carry.unionByName(df, allowMissingColumns=True)
        checks = prev.get("constraints") or {}
        new_files, obs = _write_commit_dir_observed(
            _with_write_order(rewrite, prev.get("write_order") or []),
            table_path,
            f"data/c{token}",
            _constraint_metrics(checks) or None,
            options=_bloom_options(
                _norm_bloom_cols(prev.get("bloom_cols"))
            ),
        )
        _check_constraints(spark, table_path, checks, obs, new_files)
        # persist the batch KEY SET (tiny — O(batch keys), the same
        # artifact the eq-delete shape writes): it lets read_changes
        # diff a merge step by narrowing both sides to key-matched
        # rows before exceptAll — bit-identical output, but the diff
        # shuffles O(batch + matched) rows instead of O(rewritten
        # bytes). distinct() includes a NULL key if the batch has one
        # (the CDF's null-safe semi join needs it).
        merge_key_files, _ = _write_commit_dir_observed(
            df.select(key).distinct(), table_path, f"data/c{token}k", None
        )
        kept = [rel for rel in prev["files"] if rel not in set(touched_rel)]
        prev_stats = prev.get("stats", {})
        stats = {
            **{rel: prev_stats[rel] for rel in kept if rel in prev_stats},
            **_stats_for_files(spark, table_path, new_files),
        }
        files = kept + new_files
        manifest = {
            "version": version,
            "operation": "merge",
            **_carry_bloom(prev),
            "merge_key": key,
            "merge_keys": merge_key_files,
            "files": files,
            "n_files": len(files),
            "n_rewritten_files": len(touched_rel),
            "schema": rewrite.schema.json(),
            "stats": _cap_stats(stats),
            **(
                {
                    "dvs": prev.get("dvs", []),
                    "dv_keys": sorted(_prev_dv_keys(spark, table_path, prev)),
                    "eq_dvs": prev.get("eq_dvs", []),
                    "dv_rows": prev.get("dv_rows", 0),
                }
                if (prev.get("dvs") or prev.get("eq_dvs"))
                else {}
            ),
            **(extra_meta or {}),
        }
        if _try_publish(spark, table_path, version, token, manifest):
            return version
        # lost the race: the base snapshot changed — recompute against
        # the new latest (the CoW rebase; stale commit dir is vacuumable)
        token = uuid.uuid4().hex[:12]
        versions = _list_versions(spark, table_path)
    raise RuntimeError(
        f"merge into {table_path} lost {max_retries} version races"
    )


def snapshot_stream_writer(
    table_path: str,
    key: str | None = None,
    mor: bool = False,
    mor_eq: bool = False,
):
    """foreachBatch sink committing each micro-batch as a snapshot
    version — EXACTLY-ONCE through the transaction log: the
    ``stream_batch_id`` stamp is embedded IN the atomically published
    manifest (extra_meta — never a post-hoc rewrite of a live file),
    and a replayed batch (restart from checkpoint, retried epoch)
    whose id is already committed is SKIPPED instead of duplicated.
    The replay check scans the log newest-first for the most recent
    STREAM commit, so interleaved maintenance commits (compaction,
    deletes, merges) cannot mask it. Same mechanism as Delta's
    streaming sink; stronger than at-least-once + dedup-on-read.

    With ``key`` set, each batch MERGES — copy-on-write by default,
    MERGE-ON-READ with ``mor=True`` (:func:`merge_snapshot_mor`: the
    steady-state streaming-upsert shape, since per-batch CoW rewrites
    amplify every micro-batch; schedule :func:`compact_snapshot`
    periodically to retire the DV debt). Otherwise it appends.
    CONTRACT: one writing query per table, and the batch-id
    sequence belongs to the query's CHECKPOINT — starting a fresh
    checkpoint against a table with committed stream batches restarts
    ids at 0 and is treated as replay (write to a new table, or leave
    the checkpoint alone)."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        versions = _list_versions(spark, table_path)
        for v in reversed(versions):  # newest-first: find the last
            prev_bid = _manifest(spark, table_path, v).get("stream_batch_id")
            if prev_bid is not None:  # ... STREAM commit specifically
                if batch_id <= prev_bid:
                    return  # replayed batch: already durable, skip
                break
        stamp = {"stream_batch_id": batch_id}
        if key is not None and versions:
            if mor:
                merge_snapshot_mor(
                    batch_df, table_path, key, extra_meta=stamp, eq=mor_eq
                )
            else:
                merge_snapshot(batch_df, table_path, key, extra_meta=stamp)
        else:
            commit_snapshot(
                batch_df, table_path, mode="append", extra_meta=stamp
            )

    return _apply


def compact_snapshot(
    spark: SparkSession,
    table_path: str,
    target_files: int = 8,
    max_retries: int = 10,
    zorder_by: list[str] | None = None,
    zorder_scaling: str = "rank",
) -> int:
    """OPTIMIZE for the snapshot log: rewrite the CURRENT version's
    rows into ``target_files`` bin-packed files as a new version
    (operation 'compact' — content-identical, fewer files). Streaming
    appends and CoW merges accrete small files; compaction folds them
    without blocking readers (old versions keep the fragmented files
    until vacuum). Same commit/race protocol as every other writer.

    ``zorder_by``: lay the compacted files along the Morton curve
    over these columns (``writers.zorder_key_expr`` — Delta's
    OPTIMIZE ZORDER BY verb on the snapshot log), so post-compaction
    scans data-skip on ANY of the listed dimensions via parquet
    footer ranges; ``zorder_scaling='rank'`` (default) stays
    skew-immune. Without an explicit ``zorder_by``, a declared
    ``write_order`` table property drives the layout instead (the
    rewrite must not undo the clustering appends paid for); a table
    with neither is plain bin-packed."""
    jvm, fs = _fs(spark, table_path)
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    token = uuid.uuid4().hex[:12]
    for _ in range(max_retries):
        versions = _list_versions(spark, table_path)
        if not versions:
            raise ValueError(f"no snapshots at {table_path}")
        base_v = versions[-1]
        prev = _manifest(spark, table_path, base_v)
        version = base_v + 1
        # mergeSchema: compaction must not truncate evolved columns.
        # Reading through the row-identity view also MATERIALIZES any
        # outstanding deletion vectors — the compacted files contain
        # only live rows and the new manifest carries no "dvs".
        df = _read_with_row_identity(spark, table_path, prev).drop(
            "__dv_key", "__dv_pos"
        )
        if zorder_by:
            from etl_property_rumah123_spark.sinks.writers import (
                zorder_key_expr,
            )

            z = zorder_key_expr(df, zorder_by, scaling=zorder_scaling)
            df = (
                df.withColumn("__z", z)
                .repartitionByRange(target_files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif prev.get("write_order"):
            # table-property-driven clustering: a full rewrite of a
            # write-sorted table must come out write-sorted, or the
            # compaction undoes the per-file min/max tightness every
            # append paid a shuffle for. An explicit zorder_by wins
            # (multi-dimensional re-clustering is the stronger ask).
            order = [F.col(c) for c in prev["write_order"]]
            df = df.repartitionByRange(
                target_files, *order
            ).sortWithinPartitions(*order)
        elif target_files < spark.sparkContext.defaultParallelism:
            # same width rule as optimize's fold: coalesce(8) would
            # decode the whole table in 8 tasks; when the target file
            # count under-uses the cores, one round-robin shuffle of
            # the rewritten bytes buys full-width decode. A real
            # 100 TB compaction targets >> core-count files and stays
            # on the shuffle-free branch below.
            df = df.repartition(target_files)
        else:
            df = df.coalesce(target_files)
        files = _write_commit_dir(
            df,
            table_path,
            f"data/c{token}",
            options=_bloom_options(
                _norm_bloom_cols(prev.get("bloom_cols"))
            ),
        )
        manifest = {
            "version": version,
            "operation": "compact",
            **_carry_bloom(prev),
            "files": files,
            "n_files": len(files),
            "compacted_from": prev["n_files"],
            "materialized_dvs": len(prev.get("dvs", [])),
            "materialized_eq_dvs": len(prev.get("eq_dvs", [])),
            "zorder_by": zorder_by or [],
            "schema": df.schema.json(),
            "stats": _stats_for_files(spark, table_path, files),
        }
        if _try_publish(spark, table_path, version, token, manifest):
            return version
        token = uuid.uuid4().hex[:12]
    raise RuntimeError(
        f"compaction of {table_path} lost {max_retries} version races"
    )


def optimize_snapshot(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 << 20,
    small_file_bytes: int | None = None,
    min_input_files: int = 2,
    max_retries: int = 10,
) -> int | None:
    """INCREMENTAL bin-packing OPTIMIZE: rewrite ONLY the current
    version's small files (on-disk size < ``small_file_bytes``,
    default ``target_file_bytes // 2``) into ~``target_file_bytes``
    files, carrying every right-sized file BY REFERENCE. This is the
    at-100 TB small-file compactor :func:`compact_snapshot` is not:
    streaming appends and MoR merges accrete KB–MB files at the tail
    of a table whose head is already well-sized, and a full rewrite
    to fold them is a 100 TB write for a GB problem. Here the cost is
    O(small-file bytes) — independent of table size — so it can run
    on every maintenance cadence. Returns the new version, or None
    when fewer than ``min_input_files`` files qualify (nothing worth
    folding; also the fixpoint — a second run is a no-op).

    Semantics: content-identical (operation 'optimize'). The rewrite
    reads the small files through the live row-identity view, so
    outstanding position/equality deletes targeting them are
    MATERIALIZED into the new files; DV entries for untouched files
    carry (``dv_keys`` is trimmed to the kept files, and the dv list
    is dropped entirely when no kept file carries one); equality
    entries have the rewritten file keys struck from their scope
    (the new files must NOT be in scope — their rows already survived
    the delete — and an entry whose scope empties is dropped, its key
    parquet left for vacuum). Layout-agnostic: files are bin-packed
    by size only — re-clustering an evolved table onto the Morton
    curve is :func:`compact_snapshot` ``zorder_by``'s job. File sizes
    come from one driver-side ``listStatus`` per commit dir (same
    O(files) metadata envelope as footer stats). Declared
    ``bloom_cols`` AND ``write_order`` are re-applied to the packed
    files (the re-sort range-shuffles the folded bytes only), so
    maintenance never widens the per-file min/max the write-order
    property exists to keep tight."""
    import math

    if small_file_bytes is None:
        small_file_bytes = target_file_bytes // 2
    jvm, fs = _fs(spark, table_path)
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    token = uuid.uuid4().hex[:12]
    for _ in range(max_retries):
        versions = _list_versions(spark, table_path)
        if not versions:
            raise ValueError(f"no snapshots at {table_path}")
        prev = _manifest(spark, table_path, versions[-1])
        version = versions[-1] + 1
        # one listStatus per commit dir -> {rel: bytes}
        sizes: dict[str, int] = {}
        for d in sorted({rel.rsplit("/", 1)[0] for rel in prev["files"]}):
            try:
                for status in fs.listStatus(hadoop_path(f"{table_path}/{d}")):
                    sizes[f"{d}/{status.getPath().getName()}"] = (
                        status.getLen()
                    )
            except Exception:
                continue  # missing dir: the file set check below keeps it
        small = [
            rel
            for rel in prev["files"]
            if rel in sizes and sizes[rel] < small_file_bytes
        ]
        if len(small) < min_input_files:
            return None
        small_keys = {_dv_rel_key(rel) for rel in small}
        # live rows of ONLY the small files: the sub-manifest reuses
        # the full DV/eq lists — position DVs match by file key (only
        # the small files' rows are in the frame) and eq scopes are
        # key sets, so extra entries are no-ops
        sub = {
            "files": small,
            "dvs": prev.get("dvs", []),
            "eq_dvs": prev.get("eq_dvs", []),
        }
        live = _read_with_row_identity(spark, table_path, sub).drop(
            "__dv_key", "__dv_pos"
        )
        n_out = max(
            1, math.ceil(sum(sizes[rel] for rel in small) / target_file_bytes)
        )
        order = prev.get("write_order") or []
        if order:
            # a write-sorted table paid one shuffle per append for tight
            # per-file min/max — folding its small-file tail with a
            # plain coalesce would hand the packed files the UNION of
            # the inputs' key ranges, quietly undoing the property. The
            # re-sort costs O(folded bytes) only — exactly where this
            # incremental op already caps its work.
            packed = live.repartitionByRange(
                n_out, *[F.col(c) for c in order]
            ).sortWithinPartitions(*order)
        elif n_out < spark.sparkContext.defaultParallelism:
            # under coalesce the fold's WRITE width is also its READ
            # width: a 2-file fold would decode every folded byte —
            # plus the DV/eq suppression joins — in 2 tasks while the
            # cluster idles. When n_out under-uses the available
            # parallelism, pay one round-robin shuffle OF THE FOLDED
            # BYTES ONLY (bounded by this op's own cost envelope, never
            # table-sized): decode runs at full input parallelism and
            # the exchange re-widths to n_out for the write. 2.7x on
            # the maintenance-drill shape (BASELINE §Round 12).
            packed = live.repartition(n_out)
        else:
            # a fold wide enough to use every core keeps the
            # shuffle-free path: coalesce merges the per-file input
            # partitions without moving a byte — at a 100 TB backlog
            # fold the difference between re-shuffling every
            # small-file byte and just concatenating streams (the
            # DV/eq suppression joins in the live view are
            # broadcast-side, so no parallelism is lost upstream)
            packed = live.coalesce(n_out)
        new_files = _write_commit_dir(
            packed,
            table_path,
            f"data/c{token}",
            options=_bloom_options(
                _norm_bloom_cols(prev.get("bloom_cols"))
            ),
        )
        kept = [rel for rel in prev["files"] if rel not in set(small)]
        prev_dv_key_set = _prev_dv_keys(spark, table_path, prev)
        kept_dv_keys = sorted(prev_dv_key_set - small_keys)
        dvs = prev.get("dvs", []) if kept_dv_keys else []
        # position-DV rows targeting the rewritten small files were
        # just MATERIALIZED into the packed files — they are no longer
        # read debt, and carrying their count forward would overstate
        # dv_rows and trip maybe_compact_dvs earlier than needed. One
        # small job over the dv parquet (O(dv rows), not data) when any
        # rewritten file actually carried a DV.
        n_pos_small = 0
        rewritten_dv_keys = sorted(prev_dv_key_set & small_keys)
        if dvs and rewritten_dv_keys:
            # distinct on (file_key, pos): a retried commit that
            # re-listed a dv dir can duplicate position entries, and
            # count_snapshot subtracts the DISTINCT set — counting raw
            # rows here would over-decrement dv_rows and drift the
            # maybe_compact_dvs debt gauge low
            dv_all = (
                _rels_reader(spark, table_path, prev["dvs"], False)
                .parquet(*[f"{table_path}/{r}" for r in prev["dvs"]])
                .select("file_key", "pos")
                .distinct()
            )
            if len(rewritten_dv_keys) <= _EQ_SCOPE_ISIN_MAX:
                n_pos_small = dv_all.filter(
                    F.col("file_key").isin(*rewritten_dv_keys)
                ).count()
            else:
                keys_df = spark.createDataFrame(
                    [(k,) for k in rewritten_dv_keys], "file_key string"
                )
                n_pos_small = dv_all.join(
                    F.broadcast(keys_df), "file_key", "left_semi"
                ).count()
        dropped_eq_n = 0
        eq_dvs = []
        for entry in prev.get("eq_dvs", []):
            scope = [k for k in entry["scope"] if k not in small_keys]
            if scope:
                e2 = {**entry, "scope": scope}
                if "matched" in entry:
                    # per-file matched counts follow the scope: rows
                    # matched in the rewritten files did not survive
                    # into the packed files
                    e2["matched"] = {
                        k: v
                        for k, v in entry["matched"].items()
                        if k not in small_keys
                    }
                eq_dvs.append(e2)
            else:
                dropped_eq_n += entry.get("n", 0)
        dv_rows = (
            (prev.get("dv_rows", 0) - dropped_eq_n - n_pos_small)
            if dvs
            else sum(e.get("n", 0) for e in eq_dvs)
        )
        prev_stats = prev.get("stats", {})
        stats = {
            **{rel: prev_stats[rel] for rel in kept if rel in prev_stats},
            **_stats_for_files(spark, table_path, new_files),
        }
        files = kept + new_files
        manifest = {
            "version": version,
            "operation": "optimize",
            **_carry_bloom(prev),
            "files": files,
            "n_files": len(files),
            "optimized_files": len(small),
            "optimized_bytes": sum(sizes[rel] for rel in small),
            "kept_files": len(kept),
            "schema": prev.get("schema"),
            "stats": _cap_stats(stats),
            **(
                {
                    "dvs": dvs,
                    "dv_keys": kept_dv_keys,
                    "eq_dvs": eq_dvs,
                    "dv_rows": dv_rows,
                }
                if (dvs or eq_dvs)
                else {}
            ),
        }
        if _try_publish(spark, table_path, version, token, manifest):
            return version
        token = uuid.uuid4().hex[:12]
    raise RuntimeError(
        f"optimize of {table_path} lost {max_retries} version races"
    )


def maybe_compact_dvs(
    spark: SparkSession,
    table_path: str,
    max_dv_rows: int = 1_000_000,
    **compact_kwargs,
) -> int | None:
    """The DV-debt governor: compact (materializing every outstanding
    deletion vector) iff the manifest's accumulated ``dv_rows``
    exceeds ``max_dv_rows``. Readers pay a broadcast anti-join sized
    by the outstanding DV rows, so unbounded MoR accumulation
    eventually hits the broadcast ceiling — schedule this after MoR
    merges / DV deletes (e.g. in the streaming sink's maintenance
    cadence) to keep the read debt bounded. Returns the compaction's
    version, or None when under the threshold. ``dv_rows`` counts
    every entry still riding the dv parquet, including entries CoW
    rewrites made stale — they still ride the broadcast, so they
    still count."""
    versions = _list_versions(spark, table_path)
    if not versions:
        return None
    if _manifest(spark, table_path, versions[-1]).get("dv_rows", 0) <= max_dv_rows:
        return None
    return compact_snapshot(spark, table_path, **compact_kwargs)


def delete_snapshot(
    spark: SparkSession,
    table_path: str,
    condition: str,
    max_retries: int = 10,
) -> int:
    """Copy-on-write DELETE — the right-to-be-forgotten operation a
    training corpus must support (takedowns, PII purges, license
    revocations). Rows matching the SQL ``condition`` are removed by
    rewriting ONLY the files that contain them; untouched files carry
    by reference. NOTE the retention contract this implies: the rows
    remain readable via time travel until :func:`vacuum` drops the
    pre-delete versions — a compliance purge is delete + vacuum, and
    the manifest records both steps auditable in :func:`history`."""
    from pyspark.sql import functions as F

    jvm, fs = _fs(spark, table_path)
    hadoop_path = jvm.org.apache.hadoop.fs.Path
    token = uuid.uuid4().hex[:12]
    for _ in range(max_retries):
        versions = _list_versions(spark, table_path)
        if not versions:
            raise ValueError(f"no snapshots at {table_path}")
        prev = _manifest(spark, table_path, versions[-1])
        version = versions[-1] + 1
        # DV-aware: the live view (outstanding deletion vectors
        # applied) is the rewrite source, so a CoW rewrite can never
        # resurrect a DV'd row; DVs carry unchanged — entries for
        # rewritten files go stale and no-op (their files leave the
        # manifest), entries for untouched files keep suppressing.
        tagged = (
            _read_with_row_identity(spark, table_path, prev)
            .withColumnRenamed("__dv_key", "__file")
            .drop("__dv_pos")
        )
        pred = F.expr(condition)
        touched = _touched_file_set(
            tagged.filter(pred).select("__file").distinct()
        )
        if touched is None:  # over MAX_TOUCHED_FILES: full CoW rewrite
            touched_rel = list(prev["files"])
            survivors = (
                tagged.filter(~F.coalesce(pred, F.lit(False)))
                .drop("__file")
            )
        else:
            touched_rel = [
                rel for rel in prev["files"] if _dv_rel_key(rel) in touched
            ]
            if not touched_rel:  # nothing matches: still commit audit row
                survivors = None
            else:
                survivors = (
                    tagged.filter(
                        F.col("__file").isin(*touched)
                        & ~F.coalesce(pred, F.lit(False))
                    ).drop("__file")
                )
        new_files: list[str] = []
        if survivors is not None:
            checks = prev.get("constraints") or {}
            new_files, chk_obs = _write_commit_dir_observed(
                _with_write_order(
                    survivors, prev.get("write_order") or []
                ),
                table_path,
                f"data/c{token}",
                _constraint_metrics(checks) or None,
                options=_bloom_options(
                    _norm_bloom_cols(prev.get("bloom_cols"))
                ),
            )
            _check_constraints(
                spark, table_path, checks, chk_obs, new_files
            )
        kept = [rel for rel in prev["files"] if rel not in set(touched_rel)]
        prev_stats = prev.get("stats", {})
        stats = {
            **{rel: prev_stats[rel] for rel in kept if rel in prev_stats},
            **_stats_for_files(spark, table_path, new_files),
        }
        files = kept + new_files
        manifest = {
            "version": version,
            "operation": "delete",
            **_carry_bloom(prev),
            "condition": condition,
            "files": files,
            "n_files": len(files),
            "n_rewritten_files": len(touched_rel),
            "schema": tagged.drop("__file").schema.json(),
            "stats": _cap_stats(stats),
            # DVs carry: entries for rewritten files are stale no-ops,
            # entries for kept files still suppress (compact retires)
            **(
                {
                    "dvs": prev.get("dvs", []),
                    "dv_keys": sorted(_prev_dv_keys(spark, table_path, prev)),
                    "eq_dvs": prev.get("eq_dvs", []),
                    "dv_rows": prev.get("dv_rows", 0),
                }
                if (prev.get("dvs") or prev.get("eq_dvs"))
                else {}
            ),
        }
        if _try_publish(spark, table_path, version, token, manifest):
            return version
        token = uuid.uuid4().hex[:12]
    raise RuntimeError(
        f"delete on {table_path} lost {max_retries} version races"
    )


def read_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """CHANGE DATA FEED between versions: the rows to process
    INCREMENTALLY when a downstream consumer (tokenizer run, index
    build, training shard refresh) last saw ``from_version`` — the
    alternative to re-reading 100 TB because 0.1% changed.

    Returns the table schema plus ``_change_type``
    ('insert' | 'delete'); an update appears as its delete+insert
    pair (minimal row-level CDF — no key knowledge required).
    Computed purely from consecutive manifests: each step's added and
    removed FILES are the manifest set difference, and the row-level
    change is the symmetric difference of their contents (appends
    short-circuit to pure inserts with no diff shuffle;
    content-identical 'compact' steps are skipped by construction).

    SCHEMA EVOLUTION: commits may add/drop columns between versions;
    every file read here merges schemas, the per-step diff aligns
    both sides to their column union (missing columns become typed
    NULLs, so a rewrite that merely materializes a new column as NULL
    emits no spurious change), and steps union with
    allowMissingColumns — the feed's schema is the union of the
    versions it spans.
    """
    from pyspark.sql import functions as F

    versions = _list_versions(spark, table_path)
    if not versions:
        raise ValueError(f"no snapshots at {table_path}")
    if to_version is None:
        to_version = versions[-1]
    for v in (from_version, to_version):
        if v not in versions:
            raise ValueError(f"version {v} not in {table_path}")
    out: DataFrame | None = None

    def read_rel(rels):
        return _rels_reader(spark, table_path, rels, True).parquet(
            *[f"{table_path}/{r}" for r in rels]
        )

    def aligned(a: DataFrame, b: DataFrame):
        # column-union alignment for exceptAll across evolved schemas
        cols = list(a.columns) + [c for c in b.columns if c not in a.columns]
        for c in cols:
            if c not in a.columns:
                a = a.withColumn(c, F.lit(None).cast(b.schema[c].dataType))
            if c not in b.columns:
                b = b.withColumn(c, F.lit(None).cast(a.schema[c].dataType))
        return a.select(cols), b.select(cols)

    def _eq_id(entry: dict) -> tuple:
        return (entry["key"], tuple(entry["files"]))

    start_m = _manifest(spark, table_path, from_version)
    prev_files = set(start_m["files"])
    prev_dvs = set(start_m.get("dvs", []))
    prev_eq = {_eq_id(e): e for e in start_m.get("eq_dvs", [])}
    prev_manifest = start_m
    for v in versions:
        if not from_version < v <= to_version:
            continue
        m = _manifest(spark, table_path, v)
        cur_files = set(m["files"])
        cur_dvs = set(m.get("dvs", []))
        cur_eq = {_eq_id(e): e for e in m.get("eq_dvs", [])}
        if m.get("operation") in ("compact", "optimize"):
            # live-content identical by construction: compaction also
            # MATERIALIZES deletion vectors (position and equality),
            # whose rows were already emitted at their delete step;
            # the incremental optimize does the same for exactly the
            # small files it rewrites (kept files' DVs carry, kept eq
            # entries keep their in-scope keys — no delta either way)
            prev_files, prev_dvs, prev_eq = cur_files, cur_dvs, cur_eq
            prev_manifest = m
            continue
        # Equality-delete delta: a new entry's change set is the rows
        # its keys suppress in its SCOPED files (through the view in
        # force before this step, so nothing already-deleted re-emits)
        new_eq = [e for eid, e in cur_eq.items() if eid not in prev_eq]
        for entry in new_eq:
            keys = _rels_reader(
                spark, table_path, entry["files"], False
            ).parquet(*[f"{table_path}/{r}" for r in entry["files"]])
            scoped_rels = [
                rel
                for rel in prev_manifest["files"]
                if _dv_rel_key(rel) in set(entry["scope"])
            ]
            if not scoped_rels:
                continue
            base_live = _read_with_row_identity(
                spark, table_path, prev_manifest
            ).filter(
                F.col("__dv_key").isin(
                    [_dv_rel_key(r) for r in scoped_rels]
                )
            )
            eq_step = (
                base_live.join(
                    F.broadcast(keys), entry["key"], "left_semi"
                )
                .drop("__dv_key", "__dv_pos")
                .withColumn("_change_type", F.lit("delete"))
            )
            out = (
                eq_step
                if out is None
                else out.unionByName(eq_step, allowMissingColumns=True)
            )
        # DV delta first (any operation may add deletion vectors —
        # delete_dv, merge-on-read upsert): new DV rows resolve back
        # to full 'delete' rows via the row identity. The dv'd
        # positions live in carried files, so cur_files covers them.
        new_dvs = sorted(cur_dvs - prev_dvs)
        if new_dvs:
            dv = read_rel(new_dvs)
            tagged = (
                _rels_reader(spark, table_path, sorted(cur_files), True)
                .parquet(*[f"{table_path}/{r}" for r in sorted(cur_files)])
                .withColumn(
                    "__dv_key",
                    F.regexp_extract(
                        F.col("_metadata.file_path"), _DV_KEY_RE, 1
                    ),
                )
                .withColumn("__dv_pos", F.col("_metadata.row_index"))
            )
            dv_step = (
                tagged.join(
                    F.broadcast(dv),
                    (F.col("__dv_key") == dv["file_key"])
                    & (F.col("__dv_pos") == dv["pos"]),
                    "left_semi",
                )
                .drop("__dv_key", "__dv_pos")
                .withColumn("_change_type", F.lit("delete"))
            )
            out = (
                dv_step
                if out is None
                else out.unionByName(dv_step, allowMissingColumns=True)
            )
        added = sorted(
            rel for rel in cur_files - prev_files if rel not in cur_dvs
        )
        removed = sorted(
            rel for rel in prev_files - cur_files if rel not in prev_dvs
        )
        base_manifest = prev_manifest  # the view in force BEFORE
        base_has_dvs = bool(prev_dvs or prev_eq)
        prev_files, prev_dvs, prev_eq = cur_files, cur_dvs, cur_eq
        prev_manifest = m
        step: DataFrame | None = None
        if added and not removed:  # pure append: no diff needed
            step = read_rel(added).withColumn("_change_type", F.lit("insert"))
        elif added or removed:
            new_rows = read_rel(added) if added else None
            old_rows = read_rel(removed) if removed else None
            # rows a PRIOR deletion vector (position or equality)
            # already suppressed must not re-emit as deletes when
            # their file is finally rewritten: diff the removed
            # files' LIVE content, not their raw bytes
            if old_rows is not None and base_has_dvs:
                removed_keys = {_dv_rel_key(r) for r in removed}
                old_rows = (
                    _read_with_row_identity(
                        spark, table_path, base_manifest
                    )
                    .filter(F.col("__dv_key").isin(list(removed_keys)))
                    .drop("__dv_key", "__dv_pos")
                )
            if (
                m.get("operation") == "delete"
                and m.get("condition")
                and old_rows is not None
            ):
                # CoW delete fast path: the rewritten files contain
                # EXACTLY the survivors of the removed files, so the
                # step's only changes are the predicate's matches in
                # the removed files' live content — one filter (which
                # pushes to the scan) instead of reading the new
                # files and running two exceptAll shuffles. At 100 TB
                # this turns CDF-over-a-purge from two table-diff
                # shuffles into a pruned scan.
                step = old_rows.filter(
                    F.expr(m["condition"])
                ).withColumn("_change_type", F.lit("delete"))
                out = (
                    step
                    if out is None
                    else out.unionByName(step, allowMissingColumns=True)
                )
                continue
            if (
                m.get("operation") == "merge"
                and m.get("merge_keys")
                and m.get("merge_key")
                and new_rows is not None
                and old_rows is not None
            ):
                # CoW MERGE fast path: the commit persisted its batch
                # key set, and carry rows (key not in the batch) are
                # BY CONSTRUCTION identical multisets on both sides —
                # they can only cancel in exceptAll. Narrowing both
                # sides to key-matched rows first is therefore
                # bit-identical output, while the diff shuffles
                # O(batch + matched) rows instead of O(rewritten
                # bytes): the semi joins push to the scans (bloom /
                # min-max prune on the merge key), and only the
                # changed keys' rows reach the exceptAll exchange.
                # eqNullSafe keeps a NULL-key batch row diffable (the
                # key file retains NULL; NULL-key carry rows match it
                # on both sides and cancel as usual).
                from etl_property_rumah123_spark.operators.common import (
                    gated_broadcast,
                )

                mk = m["merge_key"]
                k_df = gated_broadcast(
                    _rels_reader(
                        spark, table_path, m["merge_keys"], False
                    ).parquet(
                        *[f"{table_path}/{r}" for r in m["merge_keys"]]
                    ),
                    what="CDF merge key set",
                )
                new_rows = new_rows.join(
                    k_df, new_rows[mk].eqNullSafe(k_df[mk]), "left_semi"
                )
                old_rows = old_rows.join(
                    k_df, old_rows[mk].eqNullSafe(k_df[mk]), "left_semi"
                )
            if new_rows is not None and old_rows is not None:
                new_rows, old_rows = aligned(new_rows, old_rows)
            parts = []
            if new_rows is not None:
                ins = new_rows.exceptAll(old_rows) if old_rows is not None else new_rows
                parts.append(ins.withColumn("_change_type", F.lit("insert")))
            if old_rows is not None:
                dels = old_rows.exceptAll(new_rows) if new_rows is not None else old_rows
                parts.append(dels.withColumn("_change_type", F.lit("delete")))
            step = parts[0]
            for p in parts[1:]:
                step = step.unionByName(p)
        if step is not None:
            out = (
                step
                if out is None
                else out.unionByName(step, allowMissingColumns=True)
            )
    if out is None:
        base = read_snapshot(spark, table_path, to_version)
        return base.withColumn("_change_type", F.lit("insert")).limit(0)
    return out
