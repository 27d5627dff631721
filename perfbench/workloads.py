"""The benchmark workloads. Each op is one unit of user work, built only
from the engine's public functions; every call into a layer is a span
(``spans.Tracer.span``) named after the per-layer metric it feeds.

Protocol, driven by ``run.py``:

- ``prepare(con)``: write seeded inputs, compute oracle expectations
  (no Spark). Returns the input sizes.
- ``start()``: begin an epoch (before each set-up's warm-up op and each
  measured window).
- ``epoch``: ops per epoch; a measured window holds whole epochs.
- ``warmup_ops``: untimed ops between the set-ups and the window.
- ``before_op()``: untimed per-op input preparation.
- ``op(spark, tr)``: the timed op. Returns whatever ``check`` needs.
- ``check(spark, out, full)``: untimed; ``full`` compares whole result
  sets, otherwise the op's observed fingerprints.
- ``record(spark, tr)``: untimed bookkeeping after each traced op.
- ``probe(spark)``: traced runs only, after the loop: layer calls
  outside the op, with their own checks.
- ``rows_per_op``: input rows one op processes.
- ``write_spans`` / ``read_spans``: the spans that make up the op's
  write phase and its read phase (``upsert_p50_s`` / ``read_p50_s``).
- ``e2e(spark, tr, ops)``: the end-to-end figures beyond op latency.
- ``layers(spark, tr, ops)``: per-layer figures of a traced run.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import statistics
import time

import numpy as np

from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
import oracle
import spans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def observed(df, name: str):
    """(df with fingerprint aggregates attached, its Observation)."""
    obs = Observation(name)
    return df.observe(obs, *oracle.fingerprint_exprs(df.schema)), obs


def span_sum(spans, name: str, key: str | None = None) -> float:
    """Sum of seconds (or of a cost key) over spans called ``name``."""
    return float(sum(s.seconds if key is None else s.cost.get(key, 0) for s in spans if s.name == name))


def span_total(tr, op: int, names) -> float:
    """Seconds op ``op`` spent in spans called any of ``names``."""
    spans = tr.of_op(op)
    return sum(span_sum(spans, n) for n in names)


def per_op(tr, ops, name: str, key: str | None = None) -> float:
    """Median over measured ops of the per-op sum for span ``name``."""
    return median(span_sum(tr.of_op(i), name, key) for i in ops)


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(base, f)
                out[p] = os.path.getsize(p)
    return out


class Workload:
    name = ""
    rows_per_op = 1
    epoch = 1
    warmup_ops = 0
    write_spans: tuple[str, ...] = ()
    read_spans: tuple[str, ...] = ()

    def __init__(self, work: str, seed: int, sizes: dict) -> None:
        self.work = work
        self.seed = seed
        self.sizes = sizes

    def start(self) -> None:
        pass

    def before_op(self) -> None:
        pass

    def record(self, spark, tr) -> None:
        pass

    def probe(self, spark) -> tuple[dict, list[bool]]:
        """Traced runs, after the loop: extra layer calls outside the op.
        Returns per-layer figures and one verdict per checked call."""
        return {}, []

    def e2e(self, spark, tr, ops) -> dict:
        """Workloads that keep no table have no space amplification, and
        those whose outputs the checks demand exact have recall 1."""
        return {
            "upsert_p50_s": median(span_total(tr, i, self.write_spans) for i in ops),
            "read_p50_s": median(span_total(tr, i, self.read_spans) for i in ops),
            "space_amp": 1.0,
            "recall_at_10": 1.0,
        }

    def layers(self, spark, tr, ops) -> dict:
        return {}


# ---------------------------------------------------------------------------
# listing_upsert
# ---------------------------------------------------------------------------


class ListingUpsert(Workload):
    """Daily tick over the configured regions: extract, clean, upsert
    by listing key, then each region's price stats, one read per
    region. An epoch is ``epoch`` ticks on a fresh table, so op ``i`` of
    every epoch merges into a table of the same size."""

    name = "listing_upsert"
    epoch = 3
    write_spans = ("sinks.merge_snapshot",)
    read_spans = ("sinks.read_snapshot",)

    def prepare(self, con) -> dict:
        from etl_property_rumah123_spark.config import extract_config, read_config

        s = self.sizes["listing"]
        cfg = extract_config(read_config(os.path.join(ROOT, "configs", "extract.yaml")))
        self.cfg = dataclasses.replace(cfg, num_pages=s["pages"])
        self.ticks = gen.ListingTicks(self.seed, s["pages"], s["cards"])
        self.con = con
        self.tick_rows: list[list[tuple]] = []  # expected full rows per tick
        self.epochs = 0
        self.table = None
        self.merge_files: list[dict] = []
        self.rows_per_op = s["pages"] * s["cards"] * len(self.cfg.regions)
        return {"regions": len(self.cfg.regions), "pages": s["pages"],
                "cards_per_page": s["cards"], "cards_per_tick": self.rows_per_op,
                **gen.LISTING_SHARES}

    def _tick_dir(self, t: int) -> str:
        return os.path.join(self.work, "ticks", str(t))

    def before_op(self) -> None:
        if self.tick == self.epoch:
            self.start()
        t = self.tick
        if t < len(self.tick_rows):
            return
        first_admin = self.ticks.write(t, self._tick_dir(t))
        rows = []
        for r in oracle.listing_tick_rows(self.con, self._tick_dir(t)):
            for region in self.cfg.regions:
                loc = oracle.region_location(first_admin[r["link"]], region.admins)
                rows.append((region.name, r["link"], r["name"], r["price_rp"], loc,
                             _int(r["lot_size"]), _int(r["building_size"]),
                             _int(r["n_bedroom"]), r["features"] or ""))
        self.tick_rows.append(rows)

    def start(self) -> None:
        if self.table is not None:
            shutil.rmtree(self.table, ignore_errors=True)
        self.epochs += 1
        self.tick = 0
        self.state: dict[tuple, tuple] = {}
        self.table = os.path.join(self.work, f"table-{self.epochs}")
        self.files: dict[str, int] = {}

    def op(self, spark, tr):
        from etl_property_rumah123_spark import runner
        from etl_property_rumah123_spark.operators import cleaning
        from etl_property_rumah123_spark.sinks import table_log

        opts = {"fixture_dir": self._tick_dir(self.tick), "base_sleep": "0", "min_sleep": "0"}
        with tr.span("runner.extract_all_regions"):
            raw = runner.extract_all_regions(spark, self.cfg, opts)
        with tr.span("operators.transform_data"):
            clean = cleaning.transform_data(raw, dedup_keys=["link", "region"])
        keyed = clean.withColumn("listing_key", F.concat_ws("|", "region", "link"))
        with tr.span("sinks.merge_snapshot"):
            table_log.merge_snapshot(keyed, self.table, key="listing_key")
        stats = []
        for region in self.cfg.regions:
            # one region's page reads its own stats, through read_snapshot's
            # manifest-level skipping
            with tr.span("sinks.read_snapshot"):
                snap = table_log.read_snapshot(spark, self.table, predicates=[("region", "=", region.name)])
                stats.append((region.name, *snap.agg(
                    F.count(F.lit(1)), F.count("price_rp"), F.sum("price_rp"),
                    F.min("price_rp"), F.max("price_rp"),
                ).first()))
        self.tick += 1
        return stats

    def check(self, spark, out, full: bool) -> bool:
        from etl_property_rumah123_spark.sinks import table_log

        for row in self.tick_rows[self.tick - 1]:
            self.state[(row[0], row[1])] = row
        want = oracle.region_price_stats({k: v[3] for k, v in self.state.items()})
        ok = oracle.same_rows(out, want)
        if full:
            got = table_log.read_snapshot(spark, self.table).select(
                "region", "link", "name", "price_rp", "location", "lot_size",
                "building_size", "n_bedroom",
                F.array_join("additional_features", "|"),
            ).collect()
            ok = ok and oracle.same_rows([tuple(r) for r in got], list(self.state.values()))
        return ok

    def record(self, spark, tr) -> None:
        from etl_property_rumah123_spark.sinks import table_log

        after = dir_files(self.table)
        added = {p: b for p, b in after.items() if p not in self.files}
        self.files = after
        last = table_log.history(spark, self.table)[-1]
        self.merge_files.append({
            "op": tr.op, "added": len(added), "written_mb": sum(added.values()) / 2**20,
            "commit_dirs": len({os.path.dirname(p) for p in added}),
            "rewritten": last.get("n_rewritten_files", 0), "n_files": last["n_files"],
        })

    def _live_files(self, spark) -> dict[str, int]:
        from etl_property_rumah123_spark.sinks import table_log

        files = table_log.read_snapshot(spark, self.table).inputFiles()
        return {f: os.path.getsize(f.removeprefix("file:")) for f in files}

    def e2e(self, spark, tr, ops) -> dict:
        from etl_property_rumah123_spark.sinks import table_log

        live = self._live_files(spark)
        compact = os.path.join(self.work, "compact")
        table_log.read_snapshot(spark, self.table).coalesce(1).write.mode("overwrite").parquet(compact)
        compact_bytes = sum(dir_files(compact).values())
        shutil.rmtree(compact)
        return {**super().e2e(spark, tr, ops), "space_amp": sum(live.values()) / compact_bytes}

    def layers(self, spark, tr, ops) -> dict:
        from etl_property_rumah123_spark.sinks import table_log

        m = "sinks.merge_snapshot"
        r = "sinks.read_snapshot"
        live = self._live_files(spark)
        mf = [x for x in self.merge_files if x["op"] in ops]
        return {
            "runner.extract_all_regions_s": per_op(tr, ops, "runner.extract_all_regions"),
            "operators.transform_data_s": per_op(tr, ops, "operators.transform_data"),
            f"{m}.s": per_op(tr, ops, m),
            f"{m}.jobs": per_op(tr, ops, m, "jobs"),
            f"{m}.tasks": per_op(tr, ops, m, "tasks"),
            f"{m}.cpu_s": per_op(tr, ops, m, "cpu_s"),
            f"{m}.shuffle_mb": per_op(tr, ops, m, "shuffle_write_mb"),
            f"{m}.written_mb": median(x["written_mb"] for x in mf),
            f"{m}.files_added": median(x["added"] for x in mf),
            f"{m}.files_rewritten": median(x["rewritten"] for x in mf),
            # a lost version race re-commits under a fresh token: every
            # merge writes a data dir and a key dir per attempt
            f"{m}.race_retries": median(max(0, x["commit_dirs"] // 2 - 1) for x in mf),
            "sinks.rewritten_file_ratio": median(x["rewritten"] / max(1, x["n_files"]) for x in mf),
            f"{r}.s": per_op(tr, ops, r),
            f"{r}.jobs": per_op(tr, ops, r, "jobs"),
            f"{r}.input_mb": per_op(tr, ops, r, "input_mb"),
            f"{r}.files_scanned_ratio": median(
                len(table_log.read_snapshot(spark, self.table, predicates=[("region", "=", g.name)])
                    .inputFiles()) / max(1, len(live))
                for g in self.cfg.regions
            ),
            "sinks.table_files": float(len(live)),
            "sinks.table_mb": sum(live.values()) / 2**20,
        }


def _int(v) -> int | None:
    return None if v is None else int(v)


# ---------------------------------------------------------------------------
# olap_star
# ---------------------------------------------------------------------------

STAR_QUERIES = {
    # query -> catalog tables it scans (for rows per op)
    "q1_pricing_summary": ["lineitem"],
    "q3_shipping_priority": ["customer", "orders", "lineitem"],
    "q5_region_volume": ["region", "nation", "customer", "orders", "lineitem", "supplier"],
    "events_hourly": ["events"],
    "events_sessionize": ["events"],
    "asof_join_last_click": ["events"],
}


#: The streaming probe: the star's events in time-ordered files,
#: drained on RocksDB through the admission gate and session windows.
STREAM = {"files": 4, "max_files_per_trigger": 1, "n_recent": 128,
          "gap": "30 minutes", "watermark": "1 hour"}
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


class OlapStar(Workload):
    """One pass over the six relational headline registry queries.

    Traced runs also drain the same events through the streaming layer
    once (``probe``), outside the op: the streaming twin of
    events_sessionize, and the TWS admission gate."""

    name = "olap_star"
    # ~1 s ops: after the set-ups, op time still falls ~25% over ~5 ops
    warmup_ops = 5
    # no table: the noop writes that execute the plans are the write
    # phase, spec.fn() (schema reads, plan build, eager jobs) the read
    write_spans = tuple(f"plans.{q}.exec" for q in STAR_QUERIES)
    read_spans = tuple(f"plans.{q}.build" for q in STAR_QUERIES)

    def prepare(self, con) -> dict:
        from etl_property_rumah123_spark.plans import load_all

        s = self.sizes["star"]
        self.dir = os.path.join(self.work, "star")
        counts = gen.write_star(self.seed, self.dir, s["orders"], s["events"], s["users"])
        registry = load_all()
        self.specs = {q: registry[q] for q in STAR_QUERIES}
        oracle.star_views(con, self.dir)
        self.want = {q: oracle.query_dicts(con, spec.oracle) for q, spec in self.specs.items()}
        empty = [q for q, rows in self.want.items() if not rows]
        if empty:  # an empty expectation would let a dropped result pass
            raise ValueError(f"seed {self.seed} gives empty oracle results for {empty}")
        self.rows_per_op = sum(counts[t] for ts in STAR_QUERIES.values() for t in ts)
        self.stream_dir = os.path.join(self.work, "event_stream")
        gen.write_event_stream(os.path.join(self.dir, "events.parquet"), self.stream_dir,
                               STREAM["files"])
        return {**counts, "stream_files": STREAM["files"],
                "stream_max_files_per_trigger": STREAM["max_files_per_trigger"]}

    def op(self, spark, tr):
        out = {}
        for q, spec in self.specs.items():
            with tr.span(f"plans.{q}.build"):
                df = spec.fn(spark, self.dir)
            df, obs = observed(df, f"{q}_{id(df)}")
            with tr.span(f"plans.{q}.exec"):
                noop_write(df)
            out[q] = (df, obs)
        return out

    def check(self, spark, out, full: bool) -> bool:
        ok = True
        for q, (df, obs) in out.items():
            want = self.want[q]
            ok = ok and oracle.same_fingerprint(obs.get, oracle.fingerprint_rows(df.schema, want))
            if full:
                cols = df.columns
                got = [tuple(r) for r in df.collect()]
                ok = ok and oracle.same_rows(got, [tuple(w[c] for c in cols) for w in want])
        return ok

    def _drain(self, spark, name: str, build) -> tuple[dict, list[tuple]]:
        stream = (spark.readStream.schema(spark.read.parquet(self.stream_dir).schema)
                  .option("maxFilesPerTrigger", STREAM["max_files_per_trigger"])
                  .parquet(self.stream_dir))
        out = build(stream)
        t0 = time.perf_counter()
        q = (out.writeStream.format("memory").queryName(name).outputMode("append")
             .option("checkpointLocation", os.path.join(self.work, "checkpoints", name))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        drain_s = time.perf_counter() - t0
        progress = q.recentProgress
        rows = [tuple(r) for r in spark.table(name).collect()]
        last = progress[-1].stateOperators
        return {
            "drain_s": drain_s,
            "batches": float(len(progress)),
            "batch_p50_ms": median(p.durationMs["triggerExecution"] for p in progress
                                   if p.numInputRows),
            "state_rows": float(sum(s.numRowsTotal for s in last)),
            "state_mb": sum(s.memoryUsedBytes for s in last) / 2**20,
        }, rows

    def probe(self, spark) -> tuple[dict, list[bool]]:
        from etl_property_rumah123_spark.streaming import pipelines, tws

        spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
        gate, admitted = self._drain(
            spark, "perfbench_tws_gate",
            lambda s: tws.streaming_dedup_admission_tws(s, n_recent=STREAM["n_recent"])
            .select("user_id", "event_id", "digest"))
        sess, sessions = self._drain(
            spark, "perfbench_session_windows",
            lambda s: pipelines.session_windows(s, STREAM["gap"], STREAM["watermark"])
            .select("user_id", F.unix_micros("session_start"), F.unix_micros("session_end"),
                    "n_events", "session_value"))
        out = {f"streaming.tws_gate.{k}": v for k, v in gate.items()}
        out.update({f"streaming.session_windows.{k}": v for k, v in sess.items()})
        return out, self.check_stream(admitted, sessions)

    def check_stream(self, admitted: list[tuple], sessions: list[tuple]) -> list[bool]:
        """Verdicts on the gate's admissions and the emitted sessions."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pq.read_table(os.path.join(self.dir, "events.parquet"))
        ev = table.to_pydict()
        digests = oracle.gate_digests(ev["user_id"], ev["event_id"], ev["props"])
        ts_us = table.column("ts").cast(pa.int64()).to_pylist()
        want = oracle.closed_sessions(ev["user_id"], ts_us, ev["value"],
                                      30 * 60 * 1_000_000, 60 * 60 * 1_000_000)
        return [oracle.gate_ok(admitted, digests, STREAM["n_recent"]),
                bool(want) and oracle.same_rows(sessions, want)]

    def layers(self, spark, tr, ops) -> dict:
        out = {}
        keys = {"s": None, "jobs": "jobs", "stages": "stages", "tasks": "tasks",
                "cpu_s": "cpu_s", "gc_s": "gc_s", "shuffle_mb": "shuffle_write_mb",
                "spill_mb": "spill_mb", "input_mb": "input_mb"}

        def total(phase: str, key: str | None) -> float:
            return median(
                sum(span_sum(tr.of_op(i), f"plans.{q}.{phase}", key) for q in STAR_QUERIES)
                for i in ops
            )

        out["plans.build_s"] = total("build", None)
        out["plans.build_jobs"] = total("build", "jobs")
        for name, key in keys.items():
            out[f"plans.exec_{name}"] = total("exec", key)
        for q in STAR_QUERIES:
            out[f"plans.{q}.build_s"] = per_op(tr, ops, f"plans.{q}.build")
            out[f"plans.{q}.exec_s"] = per_op(tr, ops, f"plans.{q}.exec")
            out[f"plans.{q}.jobs"] = per_op(tr, ops, f"plans.{q}.build", "jobs") + per_op(
                tr, ops, f"plans.{q}.exec", "jobs")
        return out


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

ANN = {"k": 10, "n_lists": 16, "n_probe": 2}
LSH = {"shingle_n": 3, "num_hashes": 16, "bands": 4, "hash_family": "xxhash64"}
ORACLE_SUBSET_DOCS = 240
NEAR_DUP_JACCARD = 0.5


class CorpusDedup(Workload):
    """LSH candidate pairs -> star connected components -> canonical
    doc per component, then IVF top-k for a fixed query batch."""

    name = "corpus_dedup"
    # after the set-ups, the next op still runs ~15% slow
    warmup_ops = 1
    # no table: the noop writes that execute the plans are the write
    # phase, the operator calls that read inputs and build them the read
    write_spans = ("operators.dedup_exec", "operators.ann_exec")
    read_spans = ("operators.lsh_candidate_pairs", "operators.connected_components_star",
                  "operators.canonical_per_component", "operators.ivf_topk")

    def prepare(self, con) -> dict:
        import pyarrow.parquet as pq

        s = self.sizes["corpus"]
        self.dir = os.path.join(self.work, "corpus")
        info = gen.write_corpus(self.seed, self.dir, s["docs"], s["vectors"], s["queries"], s["dim"])
        docs = pq.read_table(os.path.join(self.dir, "documents.parquet")).to_pydict()
        self.doc_ids = docs["doc_id"]
        self.text = dict(zip(docs["doc_id"], docs["text"]))
        self.score = dict(zip(docs["doc_id"], docs["n_chars"]))
        with open(os.path.join(self.dir, "families.json")) as f:
            families = json.load(f)["families"]
        # exact LSH oracle on whole families plus singletons (the SQL
        # XXH64 expansion is far too slow for the full corpus)
        import random

        rng = random.Random(self.seed)
        subset: list[int] = []
        for fam in rng.sample(families, len(families)):
            if len(subset) + len(fam) > ORACLE_SUBSET_DOCS // 2:
                break
            subset.extend(fam)
        in_family = {d for f in families for d in f}
        singles = [d for d in self.doc_ids if d not in in_family]
        subset.extend(rng.sample(singles, min(len(singles), ORACLE_SUBSET_DOCS - len(subset))))
        self.subset = set(subset)
        self.subset_pairs = oracle.lsh_pairs_oracle(
            con, os.path.join(self.dir, "documents.parquet"), sorted(subset))
        self.mat = np.load(os.path.join(self.dir, "vectors.npy"))
        self.query_ids = pq.read_table(os.path.join(self.dir, "queries.parquet"))["vec_id"].to_pylist()
        self.exact = oracle.brute_topk(self.mat, self.query_ids, ANN["k"])
        self.rows_per_op = s["docs"] + s["vectors"] + s["queries"]
        self.want_fp = None
        self.recalls: list[float] = []
        return {**info, "dup_share": gen.CORPUS_SHARES["near_dup_docs"],
                "chain_family_share": gen.CORPUS_SHARES["chain_families"]}

    def op(self, spark, tr):
        from etl_property_rumah123_spark.operators import dedup, similarity

        docs = spark.read.parquet(os.path.join(self.dir, "documents.parquet"))
        with tr.span("operators.lsh_candidate_pairs"):
            pairs = dedup.lsh_candidate_pairs(docs, **LSH)
        with tr.span("operators.connected_components_star"):
            comps = dedup.connected_components_star(docs.select("doc_id"), pairs)
        with tr.span("operators.canonical_per_component"):
            canon = dedup.canonical_per_component(
                comps.withColumnRenamed("node", "doc_id"),
                docs.select("doc_id", F.col("n_chars").alias("score")),
            )
        canon, obs = observed(canon, f"canon_{id(canon)}")
        with tr.span("operators.dedup_exec"):
            noop_write(canon)
        q = spark.read.parquet(os.path.join(self.dir, "queries.parquet"))
        c = spark.read.parquet(os.path.join(self.dir, "vectors.parquet"))
        with tr.span("operators.ivf_topk"):
            nn = similarity.ivf_topk(q, c, **ANN)
        with tr.span("operators.ann_exec"):
            noop_write(nn)
        return pairs, canon, obs, nn

    def check(self, spark, out, full: bool) -> bool:
        pairs, canon, obs, nn = out
        ok = True
        if full:
            got = {(int(a), int(b)) for a, b in pairs.collect()}
            in_subset = {p for p in got if p[0] in self.subset and p[1] in self.subset}
            ok = in_subset == self.subset_pairs
            self.pairs = got
            want = oracle.canonical_rows(oracle.components(self.doc_ids, got), self.score)
            cols = canon.columns
            ok = ok and oracle.same_rows([tuple(r) for r in canon.collect()],
                                         [tuple(w[c] for c in cols) for w in want])
            self.want_fp = oracle.fingerprint_rows(canon.schema, want)
        ok = ok and oracle.same_fingerprint(obs.get, self.want_fp)
        topk: dict[int, list] = {}
        for r in nn.collect():
            topk.setdefault(int(r["query_id"]), []).append((int(r["rank"]), int(r["neighbor_id"])))
        ok = ok and oracle.topk_valid(topk, self.mat, self.query_ids, ANN["k"])
        hits = sum(len({i for _, i in topk.get(q, [])} & set(self.exact[q])) for q in self.query_ids)
        self.recalls.append(hits / (ANN["k"] * len(self.query_ids)))
        return ok

    def e2e(self, spark, tr, ops) -> dict:
        return {**super().e2e(spark, tr, ops), "recall_at_10": median(self.recalls[-len(ops):])}

    def layers(self, spark, tr, ops) -> dict:
        cc = "operators.connected_components_star"
        useful = sum(
            oracle.jaccard(oracle.shingles(self.text[a]), oracle.shingles(self.text[b]))
            >= NEAR_DUP_JACCARD
            for a, b in self.pairs
        )
        corpus = self.sizes["corpus"]["vectors"]
        return {
            "operators.lsh_candidate_pairs_s": per_op(tr, ops, "operators.lsh_candidate_pairs"),
            "operators.lsh_candidates": float(len(self.pairs)),
            "operators.lsh_useful_ratio": useful / max(1, len(self.pairs)),
            f"{cc}.s": per_op(tr, ops, cc),
            f"{cc}.jobs": per_op(tr, ops, cc, "jobs"),
            # one fingerprint action per round, plus the initial
            # fingerprint and the fixed-point confirmation
            f"{cc}.rounds": median(
                spans.sql_actions(spark, s) - 2 for s in tr.spans if s.name == cc and s.op in ops),
            "operators.canonical_per_component_s": per_op(tr, ops, "operators.canonical_per_component"),
            "operators.dedup_exec.s": per_op(tr, ops, "operators.dedup_exec"),
            "operators.dedup_exec.cpu_s": per_op(tr, ops, "operators.dedup_exec", "cpu_s"),
            "operators.dedup_exec.shuffle_mb": per_op(tr, ops, "operators.dedup_exec", "shuffle_write_mb"),
            "operators.ivf_topk.s": per_op(tr, ops, "operators.ivf_topk"),
            "operators.ivf_topk.jobs": per_op(tr, ops, "operators.ivf_topk", "jobs"),
            "operators.ann_exec.s": per_op(tr, ops, "operators.ann_exec"),
            "operators.ann_exec.cpu_s": per_op(tr, ops, "operators.ann_exec", "cpu_s"),
            # exact-scored (query, candidate) pairs are the rows out of
            # the probe-to-cell equi-join, over |queries| x |corpus|
            "operators.ann_probed_fraction": median(
                spans.equi_join_rows(spark, s) for s in tr.spans
                if s.name == "operators.ann_exec" and s.op in ops)
            / (len(self.query_ids) * corpus),
        }


WORKLOADS = {w.name: w for w in (ListingUpsert, OlapStar, CorpusDedup)}
