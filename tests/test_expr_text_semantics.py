"""The r10 SQL-text forms of the hot expression builders must resolve
to the SAME plans as the Column-API forms they replaced (construction
round-trip cost is the only thing allowed to change). Each Column-API
original lives on here verbatim as the semantic reference."""

import os
import sys

from pyspark.sql import Column
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from financial_data_pipeline_spark.operators import similarity  # noqa: E402

SF = "/root/testdata/sf0.001"


def _dot_api(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm_api(a: Column) -> Column:
    return F.sqrt(_dot_api(a, a))


def _cosine_api(a: Column, b: Column) -> Column:
    return F.coalesce(
        _dot_api(a, b) / F.nullif(_norm_api(a) * _norm_api(b), F.lit(0.0)),
        F.lit(0.0),
    )


def _lsh_bucket_api(vec: Column, planes: list[list[float]]) -> Column:
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        pl = F.lit([float(x) for x in p])
        bucket = bucket + F.when(_dot_api(vec, pl) >= 0, F.lit(1 << i)).otherwise(0)
    return bucket


def _emb(spark):
    from financial_data_pipeline_spark.sources.adapters import load_table

    return load_table(spark, SF, "embeddings")


def test_dot_norm_cosine_text_equals_api(spark):
    df = _emb(spark)
    vec = [0.25, -1.0, 3.0, 0.5]
    a_api, b_api = F.col("embedding"), F.lit(vec)
    a_txt, b_txt = "embedding", similarity._vec_sql(vec)
    for new, old in [
        (similarity.dot(a_txt, b_txt), _dot_api(a_api, b_api)),
        (similarity.norm(a_txt), _norm_api(a_api)),
        (similarity.cosine(a_txt, b_txt), _cosine_api(a_api, b_api)),
    ]:
        assert df.select(new.alias("x")).sameSemantics(
            df.select(old.alias("x"))
        )


def test_lsh_bucket_text_equals_api(spark):
    df = _emb(spark)
    planes = similarity.seeded_planes(5, 4, seed=7)
    new = df.select(similarity.lsh_bucket("embedding", planes).alias("b"))
    old = df.select(_lsh_bucket_api(F.col("embedding"), planes).alias("b"))
    assert new.sameSemantics(old)
    assert [r.b for r in new.orderBy("vec_id").collect()] == [
        r.b for r in old.orderBy("vec_id").collect()
    ]


def test_ljung_box_text_equals_api(spark):
    from pyspark.sql import Window

    from financial_data_pipeline_spark.operators import indicators
    from financial_data_pipeline_spark.operators.indicators import log_return
    from financial_data_pipeline_spark.sources.adapters import events_as_ohlcv

    def ljung_api(df, price_col="close", by="symbol", ts="timestamp", n_lags=10):
        r = log_return(price_col, by=[by], ts=ts)
        w = Window.partitionBy(by).orderBy(ts)
        base = (
            df.withColumn("__r", r)
            .filter(F.col("__r").isNotNull())
            .select(
                by,
                "__r",
                *[
                    F.lag("__r", k).over(w).alias(f"__l{k}")
                    for k in range(1, n_lags + 1)
                ],
            )
        )
        aggs = [
            F.count("__r").alias("n_obs"),
            F.avg("__r").alias("__mu"),
            F.sum(F.pow(F.col("__r"), 2)).alias("__ss"),
        ]
        for k in range(1, n_lags + 1):
            aggs.append(F.sum(F.col("__r") * F.col(f"__l{k}")).alias(f"__cp{k}"))
            aggs.append(F.sum(f"__l{k}").alias(f"__sl{k}"))
            aggs.append(
                F.sum(
                    F.when(F.col(f"__l{k}").isNotNull(), F.col("__r"))
                ).alias(f"__sr{k}")
            )
            aggs.append(F.count(f"__l{k}").alias(f"__nk{k}"))
        agg = base.groupBy(by).agg(*aggs)
        n = F.col("n_obs").cast("double")
        mu = F.col("__mu")
        c0 = F.col("__ss") - n * mu * mu
        q = F.lit(0.0)
        for k in range(1, n_lags + 1):
            nk = F.col(f"__nk{k}").cast("double")
            ck = (
                F.col(f"__cp{k}")
                - mu * F.col(f"__sl{k}")
                - mu * F.col(f"__sr{k}")
                + nk * mu * mu
            )
            rho = ck / c0
            q = q + rho * rho / (n - k)
        q = n * (n + 2.0) * q
        h = q / 2.0
        terms = F.lit(1.0)
        fact = 1.0
        for j in range(1, n_lags // 2):
            fact *= j
            terms = terms + F.pow(h, float(j)) / F.lit(fact)
        sf = F.exp(-h) * terms
        return agg.select(
            by,
            "n_obs",
            q.alias("lb_q"),
            F.least(F.lit(1.0), F.greatest(F.lit(0.0), sf)).alias("lb_pvalue"),
        )

    bars = events_as_ohlcv(spark, SF)
    assert indicators.ljung_box(bars, n_lags=10).sameSemantics(
        ljung_api(bars, n_lags=10)
    )


def test_vec_sql_literal_equals_lit(spark):
    vals = [0.123456, -1.5, 2.0, 1e-06, -0.0]
    df = _emb(spark).limit(1)
    new = df.select(F.expr(similarity._vec_sql(vals)).alias("v"))
    old = df.select(F.lit([float(x) for x in vals]).alias("v"))
    assert new.schema == old.schema
    assert new.first().v == old.first().v
