"""Tiny-size test of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

Every workload runs end to end in both modes and prints every metric
BENCHMARK.json declares, with its unit; and for every check a
workload makes, a corrupted output makes it fail, so no check passes
vacuously.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_declared_metric_printed_with_unit(workload, trace, capsys):
    argv = ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)]
    assert run.main(argv, size="tiny") == 0
    lines = capsys.readouterr().out.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float) and math.isfinite(got["value"])
        if not trace:
            assert got["value"] > 0, m["name"]
    if workload == "olap_star" and trace:
        assert result["metrics"]["streaming.session_windows.drain_s"]["value"] > 0
    assert lines[-2].startswith("perfbench-record ")
    record = json.loads(lines[-2].split(" ", 1)[1])
    assert record["e2e"]["fail_ratio"] == 0.0 and record["e2e"]["executor_cpu_s"] > 0
    assert {"master", "shuffle_partitions", "spark_version", "pyspark_version"} <= set(record)
    for stamp in ("box_start", "box_end"):
        assert {"loadavg", "other_jvms", "cpu_steal_s"} <= set(record[stamp])


def test_layers_json_names_the_declared_metrics():
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    assert set(layers["workloads"]) == set(WORKLOADS)
    assert set(layers["end_to_end"]) == {m["name"] for m in BENCH["end_to_end"]}
    names = [n for group in layers["per_layer"].values() for n in group["names"]]
    assert sorted(names) == sorted(m["name"] for m in BENCH["per_layer"])


class _Observed:
    """Stands in for a pyspark Observation with a chosen result."""

    def __init__(self, values: dict) -> None:
        self.get = values


def _bumped(obs) -> _Observed:
    values = dict(obs.get)
    values["n"] += 1
    return _Observed(values)


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    import gen
    import oracle

    work = str(tmp_path_factory.mktemp("perfbench"))
    os.makedirs(os.path.join(work, "tmp"))
    spark = run.start_session(work, 2)
    yield spark, work, oracle.duck(), gen.SIZES["tiny"]
    run.stop_jvm(spark)
    shutil.rmtree(work, ignore_errors=True)


def _one_op(session, name: str):
    import spans
    from workloads import WORKLOADS as classes

    spark, work, con, sizes = session
    wdir = os.path.join(work, f"{name}-{len(os.listdir(work))}")
    os.makedirs(wdir)
    wl = classes[name](wdir, 5, sizes)
    wl.prepare(con)
    wl.start()
    wl.before_op()
    out = wl.op(spark, spans.Tracer(spark, traced=False))
    return spark, wl, out


def test_listing_upsert_check_rejects_corruption(session):
    spark, wl, out = _one_op(session, "listing_upsert")
    assert wl.check(spark, out, full=True)
    bad = [(r[0], r[1] + 1, *r[2:]) if i == 0 else r for i, r in enumerate(out)]
    assert not wl.check(spark, bad, full=False)
    # the full check reads the table itself: an extra live row fails it
    key = next(iter(wl.state))
    wl.state[("nowhere", key[1])] = ("nowhere", *wl.state[key][1:])
    assert not wl.check(spark, out, full=True)


def test_olap_star_check_rejects_corruption(session):
    spark, wl, out = _one_op(session, "olap_star")
    assert wl.check(spark, out, full=True)
    for q, (df, obs) in out.items():
        assert not wl.check(spark, {**out, q: (df, _bumped(obs))}, full=False), q
        assert not wl.check(spark, {**out, q: (df.limit(0), obs)}, full=True), q


def test_corpus_dedup_check_rejects_corruption(session):
    spark, wl, out = _one_op(session, "corpus_dedup")
    pairs, canon, obs, nn = out
    assert wl.check(spark, out, full=True)
    assert wl.subset_pairs, "the oracle subset must hold candidate pairs"
    assert not wl.check(spark, (pairs, canon, _bumped(obs), nn), full=False)
    assert not wl.check(spark, (pairs, canon, obs, nn.filter("rank > 1")), full=False)
    assert not wl.check(spark, (pairs.limit(0), canon, obs, nn), full=True)


def test_streaming_probe_check_rejects_corruption(session):
    spark, wl, _ = _one_op(session, "olap_star")
    _, verdicts = wl.probe(spark)
    assert verdicts == [True, True]
    admitted = [tuple(r) for r in spark.table("perfbench_tws_gate").collect()]
    sessions = [tuple(r) for r in spark.table("perfbench_session_windows").collect()]
    assert wl.check_stream(admitted, sessions) == [True, True]
    assert wl.check_stream(admitted[1:], sessions)[0] is False
    assert wl.check_stream(admitted + admitted[:1], sessions)[0] is False
    u, _, d = admitted[0]
    other = next(r[1] for r in admitted if r[0] != u)
    assert wl.check_stream([(u, other, d), *admitted[1:]], sessions)[0] is False
    assert wl.check_stream(admitted, sessions[1:])[1] is False
    bad = (*sessions[0][:3], sessions[0][3] + 1, sessions[0][4])
    assert wl.check_stream(admitted, [bad, *sessions[1:]])[1] is False
