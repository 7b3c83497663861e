"""Self-tests of the benchmark harness at toy size.

    python3 -m pytest perfbench -q

Each workload runs end to end, traced and untraced; a deliberately corrupted
result must trip the oracle and raise error_rate; and the entry point must
fail without printing a result when the engine is not there.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import meters  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = [w["name"] for w in run.load_spec()["workloads"]]


@pytest.fixture(scope="module")
def spark():
    run.prepare_environment()
    from geomesa_spark.session import get_spark
    session = get_spark("perfbench-selftest", master="local[2]",
                        shuffle_partitions=2)
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


def _run(spark, workload, trace=False):
    return run.run_benchmark(workload, 3, 0.1, trace, workloads.TOY, spark)


@pytest.mark.parametrize("trace", [False, True])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_end_to_end(spark, workload, trace):
    out = _run(spark, workload, trace)
    res = out["result"]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    spec = run.load_spec()["per_layer" if trace else "end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in spec]
    assert all(v["unit"] == m["unit"] for v, m in zip(res["metrics"].values(), spec))
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    else:
        assert out["detail"]["tracing_overhead"]
    assert out["detail"]["error_rate"] == 0.0


def _corrupt(monkeypatch, cls, damage):
    execute = cls.execute

    def corrupted(self, op):
        return damage(self, op, execute(self, op))
    monkeypatch.setattr(cls, "execute", corrupted)


def _assert_caught(out, failed):
    res = out["result"]
    assert not res["correct"]
    assert res["failed"] == failed(res["attempted"]) >= 1
    assert out["detail"]["error_rate"] == res["failed"] / res["attempted"]


def test_corrupt_tile_counts_trip_oracle(spark, monkeypatch):
    def damage(self, op, got):
        got[0] = (got[0][0], got[0][1] + self.ambiguous + 1)
        return got
    _corrupt(monkeypatch, workloads.TilePipeline, damage)
    _assert_caught(_run(spark, "tile_pipeline"), lambda n: n)


N_CLASSES = len(workloads.MIX_CLASSES)


def test_corrupt_layout_trips_oracle(spark, monkeypatch):
    def damage(self, op, got):
        if op.cls == "ingest":
            from geomesa_spark.sources.layout import append_indexed
            # one row written twice: the row count no longer matches
            append_indexed(workloads.appended_batch(self.spark, 0, 1), got)
        return got
    _corrupt(monkeypatch, workloads.LayoutMix, damage)
    _assert_caught(_run(spark, "layout_mix"), lambda n: n // N_CLASSES)


def test_corrupt_query_rows_trip_oracle(spark, monkeypatch):
    def damage(self, op, got):
        if op.cls == "ingest":
            return got
        from pyspark.sql import Row
        # every answer gains a row the oracle never returns
        return list(got) + [Row(image_id="img999999999999")]
    _corrupt(monkeypatch, workloads.LayoutMix, damage)
    _assert_caught(_run(spark, "layout_mix"), lambda n: n - n // N_CLASSES)


def test_exits_nonzero_without_engine(tmp_path):
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_oracle_ray_cast_and_boundary():
    square = np.array([[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]], dtype=float)
    inside, near = oracle.in_polygon(np.array([1.0, 3.0, 2.0]),
                                     np.array([1.0, 1.0, 1.0]), square)
    assert inside.tolist()[:2] == [True, False]
    assert near.tolist() == [False, False, True]


def test_oracle_rows_match_generator(spark):
    from geomesa_spark.sources.images import synthetic_images_geo
    got = synthetic_images_geo(spark, 50).selectExpr(
        "lon", "lat", "unix_seconds(ts) AS ts").collect()
    want = oracle.image_rows(np.arange(50))
    assert [r["lon"] for r in got] == want["lon"].tolist()
    assert [r["lat"] for r in got] == want["lat"].tolist()
    assert [r["ts"] for r in got] == want["ts"].tolist()


def test_metric_value_parses_ui_strings():
    assert meters.metric_value("1,697") == 1697
    assert meters.metric_value("5.0 MiB") == 5 * 1024 ** 2
    assert meters.metric_value(
        "total (min, med, max (stageId: taskId))\n703 ms (1 ms, 2 ms)") \
        == pytest.approx(0.703)


def test_self_time_subtracts_children():
    t = meters.Tracer(True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    st = t.self_times()
    outer = t.durations("outer")[0]
    assert st["outer"] == pytest.approx(outer - t.durations("inner")[0])


def test_benchmark_json_contract():
    spec = run.load_spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert max(m["bound"] for m in e2e.values()) == e2e["setup_s"]["bound"] <= 0.25
    assert set(WORKLOADS) == set(workloads.WORKLOADS)
