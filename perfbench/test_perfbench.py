"""Tests of the benchmark itself: seeded generators, the tail statistic,
output checks that reject corrupted output, and the traced run's metric
names. Run with ``python3 -m pytest perfbench -q`` from the checkout root.
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]
os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")

import gen  # noqa: E402
import stats  # noqa: E402


def _bytes(tables, tmp_path, tag) -> list[bytes]:
    out = []
    for k, t in enumerate(tables):
        p = str(tmp_path / f"{tag}-{k}.parquet")
        gen.write_table(t, p)
        with open(p, "rb") as fh:
            out.append(fh.read())
    return out


def _ohlcv(seed):
    return [gen.ohlcv_bars(seed, n_symbols=2, days=1)[0]]


def _lake(seed):
    s = gen.LakeStream(seed)
    out = []
    for b in range(6):
        a, c = s.batch(b)
        out += [a] + ([c] if c is not None else [])
    return out


def _star(seed):
    return list(gen.star_tables(seed, scale=0.001).values())


@pytest.mark.parametrize("make", [_ohlcv, _lake, _star])
def test_generator_bytes_follow_the_seed(make, tmp_path):
    a = _bytes(make(3), tmp_path, "a")
    b = _bytes(make(3), tmp_path, "b")
    c = _bytes(make(4), tmp_path, "c")
    assert a == b
    assert a != c


def test_generators_plant_what_they_report():
    table, truth = gen.ohlcv_bars(5, n_symbols=3, days=2)
    df = table.to_pandas()
    assert len(df) == truth["rows"]
    assert df.duplicated(["symbol", "timestamp"]).sum() == truth["duplicates"]
    assert df.drop_duplicates(["symbol", "timestamp"])["close"].isna().sum() == truth["nan_closes"]
    assert truth["missing_bars"] == 3 * 2 * 1440 - truth["unique_rows"]


def test_tail_is_highest_percentile_with_ten_beyond():
    v = [float(x) for x in range(100, 0, -1)]  # 1..100, unsorted
    assert stats.tail(v) == (90.0, 90.0)
    assert stats.tail(v[:30]) == (90.0, 100.0 * 20 / 30)  # 100..71: 10 values above 90
    v20 = [float(x) for x in range(1, 21)]
    value, pct = stats.tail(v20)
    assert sum(x > value for x in v20) == 10 and pct == 50.0
    # fewer than 20 samples: the qualifying percentile is under the median
    assert stats.tail([float(x) for x in range(16)]) == (7.5, 50.0)
    assert stats.tail([3.0, 1.0, 2.0]) == (2.0, 50.0)


def test_iqr_share():
    assert stats.iqr_share([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)


def test_per_layer_names_match_benchmark_json():
    from run import END_TO_END
    from tracing import PER_LAYER

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == END_TO_END
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


# ---------------------------------------------------------------------------
# Checks and tracing against a live session (small inputs)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from financial_data_pipeline_spark import get_spark

    s = get_spark(app_name="perfbench-tests", shuffle_partitions=4, extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _small(cls, spark, tmp_path, seed=11):
    import workloads

    w = cls(spark, str(tmp_path / cls.name), seed)
    if cls is workloads.PipelineBatch:
        w.DAYS, w.SYMBOLS = 1, 2
    w.generate()
    return w


def _run_op(w, i):
    w.before_op(i)
    w.op(i)


def test_pipeline_check_rejects_corrupt_output(spark, tmp_path):
    import pyarrow.parquet as pq

    import workloads

    w = _small(workloads.PipelineBatch, spark, tmp_path)
    _run_op(w, 0)
    out = w.results[0][0]
    assert w._check_resample(out, w.truth["symbols"][0]) == []
    path = os.path.join(out, "ALL", "resampled_1h.parquet")
    t = pq.read_table(path).to_pandas()
    t.loc[t.index[t["symbol"] == w.truth["symbols"][0]][3], "close"] += 1.0
    for f in os.listdir(path):
        os.remove(os.path.join(path, f))
    t.to_parquet(os.path.join(path, "part-0.parquet"))
    w.truth["duplicates"] += 1
    errs = w.check(0)
    assert any("duplicates_removed" in e for e in errs)
    assert any("close differs" in e for e in errs)


def test_lake_checks_reject_corrupt_output(spark, tmp_path):
    import workloads

    w = _small(workloads.LakeIncremental, spark, tmp_path)
    for i in range(4):
        _run_op(w, i)
        assert w.check(i) == []
    assert w.final_check() == []
    _run_op(w, 4)
    got, want = w.readback[4]
    w.readback[4] = (got + 1, want)
    assert w.check(4)
    # a stale rollup row: the rollup no longer equals a from-scratch aggregate
    from pyspark.sql import functions as F

    w.tgt.commit(w.tgt.read().limit(1).withColumn("n", F.col("n") + 1))
    assert w.final_check()


def test_analytics_check_rejects_corrupt_output(spark, tmp_path):
    import workloads

    w = _small(workloads.AnalyticsMix, spark, tmp_path)
    w.draws = [w.pool[0]] * 3
    _run_op(w, 0)
    assert w.check(0) == []
    _run_op(w, 1)
    name, df = w.done[1]
    w.done[1] = (name + "-corrupt", df.limit(max(df.count() - 1, 0)).union(df.limit(1)) if df.count() > 1 else df.union(df))
    w.checked.pop(name + "-corrupt", None)
    from financial_data_pipeline_spark.plans.driver_queries import ORACLES

    ORACLES[name + "-corrupt"] = ORACLES[name]
    try:
        assert w.check(1)
    finally:
        del ORACLES[name + "-corrupt"]


def test_traced_runs_cover_every_per_layer_metric(spark, tmp_path):
    import run
    import workloads
    from tracing import PER_LAYER

    # set by run.py itself, not by a span
    covered = {"session.get_spark.s", "memory.peak_rss_mb", "trace.overhead_ratio"}
    for cls in workloads.WORKLOADS.values():
        w = _small(cls, spark, tmp_path)
        loop = run.Loop(w, deadline=float("inf"))
        if cls is workloads.LakeIncremental:
            # trace batch 7: appends, a merge, late bars and a compaction
            for i in range(7):
                _run_op(w, i)
                assert w.check(i) == []
            loop.next_op = 7
        lat, layer = run.traced_phase(spark, w, loop, 0.1, 4)
        assert math.isfinite(run.overhead_ratio(spark, w, loop))
        assert loop.failed == 0, loop.errors
        covered |= {k for k, v in layer.items() if k in PER_LAYER and (v or k.startswith("spark.catalyst"))}
    missing = set(PER_LAYER) - covered
    # a metric may stay zero only where the workloads cannot produce it
    assert missing <= {"spark.spill_bytes", "spark.failed_tasks"}, sorted(missing)
