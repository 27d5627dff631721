#!/usr/bin/env python3
"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads, metrics and their units are
declared in ``BENCHMARK.json``; ``perfbench/layers.json`` records what
BENCHMARK.json's fixed keys cannot: each workload's op, inputs and
checks, each metric's definition per workload, and which end-to-end
metric every per-layer metric should move.

One run, one process, one closed loop: a single driver thread issues
ops back to back on ``local[nproc]``.

1. Inputs are generated from ``--seed`` under ``.bench_work/`` (deleted
   at exit) and the oracles compute their expectations.
2. Set-up, ``SETUPS`` times: start the session (the first start also
   launches the JVM), run one warm-up op and check it (in full the
   first time, by fingerprint after).
   ``setup_s`` is the median of session start + warm-up op. Workloads
   with short, still JIT-warming ops then run ``warmup_ops`` untimed.
3. Measure for ``--seconds``: ops back to back, each checked against
   its oracle fingerprint outside the timed region. A workload whose
   ops depend on earlier ones (listing_upsert's table grows tick by
   tick) runs in whole epochs of a fixed op count, each on a fresh
   table, and the window always ends on an epoch boundary: a faster
   engine runs more epochs, never later and bigger ticks.
   ``--trace 1`` alternates untraced and traced epochs, so both time
   the same op indices at the same warm-up. The traced epochs tag
   every layer call's jobs and read the Spark status store afterwards;
   the per-layer metrics come from them and ``trace.overhead_ratio``
   compares the two op medians. Traced runs of olap_star also drain
   its events through the streaming layer once (``probe``).

Stdout carries two lines: ``perfbench-record {...}`` (box state at
start and end, Spark config and versions, input sizes, every
end-to-end figure and ``fail_ratio``) and, last, the result object.
Exits 2 if the engine package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

import gen
import oracle
import spans
from workloads import WORKLOADS, median, span_total

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(work: str, cpus: int):
    from etl_property_rumah123_spark.session import get_spark

    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap, so runs do not differ by how G1 grew it; no
        # hsperfdata files in the system temp dir
        "spark.driver.extraJavaOptions":
            f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Harness:
    def __init__(self, wl, work: str, cpus: int) -> None:
        self.wl = wl
        self.work = work
        self.cpus = cpus
        self.attempted = 0
        self.failed = 0
        self.spark = None

    def _checked(self, out, full: bool) -> bool:
        try:
            return bool(self.wl.check(self.spark, out, full))
        except Exception:
            traceback.print_exc()
            return False

    def setup(self) -> list[tuple[float, float]]:
        times = []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = start_session(self.work, self.cpus)
            t1 = time.perf_counter()
            self.wl.start()
            self.wl.before_op()
            tr = spans.Tracer(self.spark, traced=False)
            t2 = time.perf_counter()
            out = self.wl.op(self.spark, tr)
            t3 = time.perf_counter()
            self.attempted += 1
            # whole result sets once; later set-ups check fingerprints
            self.failed += not self._checked(out, full=not times)
            times.append((t1 - t0, t3 - t2))
        return times

    def warm_up(self) -> None:
        """Untimed, checked ops after the set-ups, for workloads whose
        short ops are still JIT-warming then."""
        tr = spans.Tracer(self.spark, traced=False)
        for _ in range(self.wl.warmup_ops):
            self.wl.before_op()
            out = self.wl.op(self.spark, tr)
            self.attempted += 1
            self.failed += not self._checked(out, full=False)

    def loop(self, tr, seconds: float, first: int):
        """Closed loop for ``seconds``, in whole epochs of the workload's
        ``epoch`` ops; at least one epoch."""
        ops, lat, windows = [], [], []
        i = first
        self.wl.start()
        deadline = time.perf_counter() + seconds
        while not ops or time.perf_counter() < deadline or len(ops) % self.wl.epoch:
            self.wl.before_op()
            tr.op = i
            w0 = time.time()
            t0 = time.perf_counter()
            try:
                out = self.wl.op(self.spark, tr)
            except Exception:
                traceback.print_exc()
                out = None
            dt = time.perf_counter() - t0
            windows.append((w0, time.time()))
            self.attempted += 1
            good = out is not None and self._checked(out, full=False)
            self.failed += not good
            if good and tr.traced:
                self.wl.record(self.spark, tr)
            ops.append(i)
            lat.append(dt)
            i += 1
        return ops, lat, windows


def run(args, work: str, bench: dict, size: str) -> tuple[dict, dict]:
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    cpus = len(os.sched_getaffinity(0))
    con = oracle.duck()
    wl = WORKLOADS[args.workload](work, args.seed, gen.SIZES[size])
    inputs = wl.prepare(con)
    stamp_start = spans.box_state(None)
    h = Harness(wl, work, cpus)
    setups = h.setup()
    spark = h.spark
    jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
    stamp_start["other_jvms"] = spans.box_state(jvm_pid)["other_jvms"]

    h.warm_up()
    if args.trace:
        # alternate untraced and traced epochs, so both see the same
        # warm-up and op indices and differ only by tracing
        plain, tr = spans.Tracer(spark, traced=False), spans.Tracer(spark, traced=True)
        lat0, ops, lat, windows = [], [], [], []
        deadline = time.perf_counter() + args.seconds
        while not lat or time.perf_counter() < deadline:
            lat0 += h.loop(plain, 0, len(lat0))[1]
            o, l, w = h.loop(tr, 0, 1_000_000 + len(ops))
            ops, lat, windows = ops + o, lat + l, windows + w
        spans.attribute_spans(spark, tr)
        probed, verdicts = wl.probe(spark)
        h.attempted += len(verdicts)
        h.failed += verdicts.count(False)
    else:
        tr = spans.Tracer(spark, traced=False)
        ops, lat, windows = h.loop(tr, args.seconds, 0)

    setup_s = median(a + b for a, b in setups)
    cpu = spans.op_cpu_seconds(spark, windows)
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": median(lat),
        "rows_per_s": wl.rows_per_op * len(lat) / sum(lat),
        "executor_cpu_s": median(cpu),
        "peak_rss_mb": spans.vm_hwm_mb(jvm_pid),
        **wl.e2e(spark, tr, ops),
        "fail_ratio": h.failed / h.attempted,
    }
    metrics = {}
    if args.trace:
        layer = {
            "session.get_spark_s": median(a for a, _ in setups),
            "session.warmup_s": median(b for _, b in setups),
            **wl.layers(spark, tr, ops),
            **probed,
            "trace.op_p50_s": median(lat),
            "trace.overhead_ratio": median(lat) / median(lat0) - 1.0,
        }
        for m in bench["per_layer"]:
            metrics[m["name"]] = {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
    else:
        for m in bench["end_to_end"]:
            metrics[m["name"]] = {"value": float(e2e[m["name"]]), "unit": m["unit"]}

    import pyspark

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "box_start": stamp_start,
        "box_end": spans.box_state(jvm_pid),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "inputs": inputs,
        "ops": len(lat),
        "op_s": [round(x, 4) for x in lat],
        "op_cpu_s": [round(x, 4) for x in cpu],
        "op_write_s": [round(span_total(tr, i, wl.write_spans), 4) for i in ops],
        "op_read_s": [round(span_total(tr, i, wl.read_spans), 4) for i in ops],
        "setups": [[round(a, 4), round(b, 4)] for a, b in setups],
        "e2e": e2e,
    }
    stop_jvm(spark)
    result = {
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": metrics,
    }
    return record, result


def main(argv=None, size: str = "full") -> int:
    """CLI entry; ``size`` picks ``gen.SIZES`` (the test runs "tiny")."""
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Engine modules write scratch files through tempfile at import
    # time; keep them, Spark's and the JVM's inside the work dir.
    saved_env = {k: os.environ.get(k) for k in ("TMPDIR", "PYTHONPATH", "SPARK_LAUNCHER_OPTS")}
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]
    try:
        try:
            import etl_property_rumah123_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: engine package not importable from {ROOT}: {e}", file=sys.stderr)
            return 2
        record, result = run(args, work, bench, size)
    finally:
        for k, v in saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
        tempfile.tempdir = None
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print("perfbench-record " + json.dumps(record, default=str), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
