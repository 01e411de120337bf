"""Footer-stats fast path (r10): ``_collect_stats`` reads per-file
row/null counts and min/max from parquet footers — no Spark job — for
footer-exact stat column types, and MUST produce byte-identical
manifests to the Spark aggregation it replaces (range pruning compares
the stored ISO strings, so even a formatting drift mis-prunes)."""

import datetime
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from financial_data_pipeline_spark.sources.laketable import (
    LakeTable,
    _collect_stats,
    _footer_stats,
)


def _canon(stats_list):
    return sorted(
        (fs.path, fs.rows, sorted(fs.stats.items())) for fs in stats_list
    )


def _write(spark, tmp_path, df, name):
    out = str(tmp_path / name)
    df.write.parquet(out)
    import os

    return [
        os.path.join(out, p) for p in os.listdir(out) if p.endswith(".parquet")
    ]


def test_footer_stats_match_spark_job(spark, tmp_path):
    """int + date + timestamp stat cols, nulls included, several files:
    the footer path and the Spark job must emit IDENTICAL FileStats."""
    df = (
        spark.range(0, 1000)
        .select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 7 != 0, F.col("id") % 30).alias("nullable_k"),
            F.to_date(
                F.timestamp_micros(
                    (F.lit(1704067200000000) + F.col("id") * 86400000000).cast(
                        "long"
                    )
                )
            ).alias("day"),
            F.timestamp_micros(
                (F.lit(1704067200000000) + F.col("id") * 61000000).cast("long")
            ).alias("ts"),
        )
        .repartition(3)
    )
    files = _write(spark, tmp_path, df, "t1")
    cols = ["k", "nullable_k", "day", "ts"]
    fast = _footer_stats(files, cols)
    assert fast is not None, "footer path must engage for exact types"
    slow = _collect_stats(spark, files, cols, bloom_cols=["k"])
    # bloom_cols forces the Spark job; drop the bloom entry to compare
    for fs in slow:
        fs.stats.pop("__bloom_k", None)
    assert _canon(fast) == _canon(slow)
    # the timestamp strings must be NAIVE ISO in the driver's local zone,
    # as collect() renders them (string-order pruning at equal
    # boundaries depends on the exact format)
    ts_min = min(fs.stats["ts"][0] for fs in fast)
    assert ts_min == datetime.datetime.fromtimestamp(1704067200).isoformat()


def test_footer_stats_match_spark_job_on_non_utc_driver():
    """``collect()`` renders timestamps in the driver process's local
    zone, so the footer path must too: rerun the comparison above in a
    fresh interpreter whose TZ is not UTC."""
    env = dict(os.environ, TZ="America/New_York")
    r = subprocess.run(
        [
            sys.executable,
            "-m",
            "pytest",
            "-q",
            "-p",
            "no:cacheprovider",
            f"{__file__}::test_footer_stats_match_spark_job",
        ],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stdout[-4000:] + r.stderr[-2000:]


def test_footer_stats_fall_back_on_strings_and_doubles(spark, tmp_path):
    """String stats may be truncated and double stats drop NaN — both
    types must refuse the footer path (the caller then runs the exact
    Spark job, pre-r10 behavior)."""
    df = spark.range(0, 10).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
        (F.col("id") * 1.5).alias("d"),
    )
    files = _write(spark, tmp_path, df, "t2")
    assert _footer_stats(files, ["s"]) is None
    assert _footer_stats(files, ["d"]) is None
    assert _footer_stats(files, ["missing_col"]) is None
    assert _footer_stats(files, ["k"]) is not None


def test_footer_stats_all_null_and_zero_row_files(spark, tmp_path):
    """All-null stat columns must record [None, None] + full null count,
    exactly like the Spark job's min/max-skip-nulls semantics."""
    df = spark.range(0, 8).select(
        F.col("id").alias("k"),
        F.lit(None).cast("int").alias("allnull"),
    )
    files = _write(spark, tmp_path, df, "t3")
    fast = _footer_stats(files, ["k", "allnull"])
    assert fast is not None
    slow = _collect_stats(spark, files, ["k", "allnull"], bloom_cols=["k"])
    for fs in slow:
        fs.stats.pop("__bloom_k", None)
    assert _canon(fast) == _canon(slow)


def test_commit_via_footer_path_prunes_identically(spark, tmp_path):
    """End-to-end: a table committed through the fast path must range-
    prune reads exactly as before (supersets stay supersets) and keep
    keyed rewrites (merge/delete) correct on boundary keys."""
    t = LakeTable(spark, str(tmp_path / "tbl"), stat_cols=["day"])
    batch = spark.range(0, 200).select(
        (F.col("id") / 100).cast("int").alias("day"),
        F.col("id").alias("value"),
    )
    t.commit(batch.repartitionByRange(2, "day"))
    pruned = t.pruned_files(pred_col="day", lo=1, hi=1)
    assert 0 < len(pruned) < len(t._load_snapshot(t.head_version()).files) + 1
    rows = t.read(pred_col="day", lo=1, hi=1).filter(F.col("day") == 1)
    assert rows.count() == 100
    # delete a boundary key through the footer-stats manifests
    t.delete(spark.createDataFrame([(1,)], "day int"), ["day"])
    assert t.read().filter(F.col("day") == 1).count() == 0
    assert t.read().count() == 100


def test_footer_scalar_normalizes_tz():
    from financial_data_pipeline_spark.sources.laketable import _footer_scalar

    aware = datetime.datetime(
        2024, 1, 1, 12, 0, 0, tzinfo=datetime.timezone.utc
    )
    # driver-local naive wall clock, exactly what collect() returns
    assert _footer_scalar(aware) == datetime.datetime.fromtimestamp(
        aware.timestamp()
    )
    naive = datetime.datetime(2024, 1, 1, 12, 0, 0)
    assert _footer_scalar(naive) is naive
