"""The benchmark's own tests: every workload runs at a tiny size and
prints every metric with its unit, each correctness gate fails on
corrupted output, and the traced runs show which layers a workload
skips.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import common  # noqa: E402
from perfbench.run import WORKLOADS, Ctx, configure_env  # noqa: E402

WORKLOAD_NAMES = sorted(WORKLOADS)


def _bench(workload: str, trace: int, cwd: str = ROOT, seed: int = 5):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", "0.2"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] \
        == [tuple(m) for m in common.END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == [tuple(m) for m in common.PER_LAYER]


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_tiny_run_prints_every_end_to_end_metric(workload):
    res = _result(_bench(workload, trace=0))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    units = {n: u for n, u, _, _ in common.END_TO_END}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload,skipped", [
    ("olap_star", ("versioned.", "dedup.", "stream.", "sinks.")),
    ("dedup_corpus", ("versioned.",)),
])
def test_traced_run_reports_zero_for_skipped_layers(workload, skipped):
    res = _result(_bench(workload, trace=1))
    units = {n: u for n, u, _ in common.PER_LAYER}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    for name, v in res["metrics"].items():
        if name.startswith(skipped):
            assert v["value"] == 0, name
    assert res["metrics"]["session.start_s"]["value"] > 0
    trace = os.path.join(ROOT, ".perfbench", "out", f"trace-{workload}-5.json")
    with open(trace) as f:
        spans = json.load(f)["spans"]
    assert spans and all({"name", "start", "end", "parent", "run_id"} <= set(s) for s in spans)


def test_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = _bench("olap_star", trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


# ---------------------------------------------------------------------------
# Correctness gates fail on corrupted output
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    configure_env(ROOT)
    from datalake_scripts_spark.session import get_spark

    spark = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2)
    work = str(tmp_path_factory.mktemp("work"))
    c = Ctx(spark, common.Tracer(spark, False, "test"), work,
            os.path.join(ROOT, ".perfbench", "data"), seed=11, seconds=1, scale=0.2,
            cpu=common.CpuMeter(spark.sparkContext._gateway.proc.pid))
    c.log = lambda msg: None
    return c


def test_ingest_gate_catches_a_dropped_row(ctx):
    from datalake_scripts_spark.operators import versioned as V
    from perfbench.w_ingest import Ingest

    w = Ingest(ctx, "gate", scale=0.2)
    w.stream.start()
    try:
        assert w.batch()["ok"]
    finally:
        w.stream.stop()
    mdir = w.table_dir("meetings")
    victim = V.read_versioned(ctx.spark, mdir).select("meet_uuid").first()[0]
    V.delete_versioned(ctx.spark, mdir, f"meet_uuid = '{victim}'")
    assert not w.check_merge({"updated": {}, "inserted": {}})


def test_olap_gate_catches_a_dropped_row(ctx, monkeypatch):
    from datalake_scripts_spark.queries import REGISTRY
    from perfbench import w_olap

    w_olap.build(ctx.data, ctx.log)
    exp = w_olap._expected(ctx)
    q = "q1_pricing_summary"
    assert w_olap.execute(ctx, q, exp)["ok"]
    orig = REGISTRY[q].fn
    monkeypatch.setattr(REGISTRY[q], "fn", lambda s, d: orig(s, d).orderBy("l_returnflag")
                        .limit(orig(s, d).count() - 1))
    assert not w_olap.execute(ctx, q, exp)["ok"]


def test_dedup_gate_catches_a_missing_or_extra_document(ctx):
    from perfbench import w_dedup

    truth = w_dedup.corpus(ctx, "gate", 0.2)
    clusters = [{"doc_id": d, "cluster_id": g[0]} for g in truth["groups"] for d in g]
    pairs = [tuple(p) for p in truth["near_pairs"]]
    assert w_dedup.check(ctx, truth, truth["keep"], clusters, pairs)
    assert not w_dedup.check(ctx, truth, truth["keep"][1:], clusters, pairs)
    extra = sorted(set(truth["keep"]) | {truth["groups"][0][-1]})
    assert not w_dedup.check(ctx, truth, extra, clusters, pairs)
    assert not w_dedup.check(ctx, truth, truth["keep"], clusters, pairs[1:])
    wrong = clusters[:-1] + [{"doc_id": clusters[-1]["doc_id"], "cluster_id": -1}]
    assert not w_dedup.check(ctx, truth, truth["keep"], wrong, pairs)


def test_stream_batch_gate_catches_a_missing_closed_window(ctx):
    """Each batch closes windows, and the per-batch gate wants exactly
    the closed ones in the table."""
    import datetime as dt

    from datalake_scripts_spark.operators import versioned as V
    from perfbench.stream_leg import StreamLeg, expected_windows

    leg = StreamLeg(ctx, os.path.join(ctx.work, "stream_batch_gate"))
    leg.land(0)
    paths = [d["path"] for d in leg.drops]
    closed = expected_windows(paths, closed_only=True)
    assert 0 < len(closed) < len(expected_windows(paths))
    rows = [(dt.datetime.fromtimestamp(ws / 1e6, dt.timezone.utc), et, n, v)
            for ws, et, n, v in closed]
    schema = "window_start timestamp, event_type string, n_events long, sum_value double"
    V.write_versioned(ctx.spark, ctx.spark.createDataFrame(rows[1:], schema), leg.table)
    assert not leg.check_closed()
    V.write_versioned(ctx.spark, ctx.spark.createDataFrame(rows[:1], schema), leg.table,
                      mode="append")
    assert leg.check_closed()


def test_stream_gate_catches_a_dropped_row(ctx):
    import datetime as dt

    from datalake_scripts_spark.operators import versioned as V
    from perfbench.stream_leg import StreamLeg, expected_windows

    leg = StreamLeg(ctx, os.path.join(ctx.work, "stream_gate"))
    leg.land(0)
    leg.land(1)
    rows = [(dt.datetime.fromtimestamp(ws / 1e6, dt.timezone.utc), et, n, v)
            for ws, et, n, v in expected_windows([d["path"] for d in leg.drops])]
    df = ctx.spark.createDataFrame(
        rows, "window_start timestamp, event_type string, n_events long, sum_value double")
    V.write_versioned(ctx.spark, df, leg.table)
    assert leg.finish(timeout=0)
    victim = rows[0][1]
    V.delete_versioned(ctx.spark, leg.table,
                       f"event_type = '{victim}' AND n_events = {rows[0][2]}")
    assert not leg.finish(timeout=0)
