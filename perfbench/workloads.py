"""The three benchmark workloads.

Each workload is a closed loop with one client: ``op`` runs one operation
through the program's public entry points and is the only timed code;
``check`` verifies that operation's output afterwards, and ``final_check``
verifies the state the run leaves behind. Inputs come from ``gen`` and the
seed; the program sees only the generated files.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq

import gen


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _close(a, b, rtol: float = 1e-9) -> bool:
    return np.allclose(np.asarray(a, float), np.asarray(b, float), rtol=rtol, atol=0, equal_nan=True)


class Workload:
    """One workload; subclasses fill in the hooks below."""

    name = ""
    #: operations per block: a run measures whole blocks, so runs of
    #: different length cover the same mix of operation kinds. On the
    #: reference machine a block takes well over ``run_seconds``, so a run
    #: is one block, and machine load does not change what a run covers.
    BLOCK = 1
    #: whether ``op(i)`` may run again for an ``i`` it has run before and do
    #: the same work (the tracing-overhead pass replays operations)
    REPLAY = True
    #: context-manager factory wrapped around sub-steps the trace names
    span = staticmethod(lambda name, **kw: nullcontext())

    def __init__(self, spark, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.frame = None  # the op's main DataFrame, for the Catalyst probe
        self.runs = 0  # operations run, so every run writes a fresh output root

    def generate(self) -> None:
        """Write the seeded input under ``self.work``."""

    def warmup(self) -> None:
        """One untimed block on a small input of its own."""

    def before_op(self, i: int) -> None:
        """Untimed preparation of operation ``i`` (data arriving)."""

    def op(self, i: int) -> None:
        """Run operation ``i``: the only timed code."""
        raise NotImplementedError

    def check(self, i: int) -> list[str]:
        """Errors found in operation ``i``'s output."""
        return []

    def rows(self, i: int) -> int:
        """Input rows operation ``i`` carried (asked after a passing check)."""
        raise NotImplementedError

    def final_check(self) -> list[str]:
        return []

    def stored(self) -> tuple[int, int]:
        """(bytes under the output root, live rows they hold)."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# pipeline_batch
# ---------------------------------------------------------------------------


class PipelineBatch(Workload):
    """Whole OHLCV pipeline: ingest → clean → resample → split → report →
    parquet outputs and metadata → indicators → one bulk lake commit."""

    name = "pipeline_batch"
    DAYS = 1
    SYMBOLS = 16

    def generate(self) -> None:
        self.input, self.truth = self._write(os.path.join(self.work, "bars.parquet"), self.seed, days=self.DAYS, n_symbols=self.SYMBOLS)
        self.results: dict[int, tuple] = {}

    @staticmethod
    def _write(path, seed, **kw):
        table, truth = gen.ohlcv_bars(seed, **kw)
        gen.write_table(table, path)
        return path, truth

    def _run(self, src_path: str, out: str) -> tuple:
        from financial_data_pipeline_spark.operators.indicators import calculate_all
        from financial_data_pipeline_spark.plans.pipeline import PipelineConfig, run_pipeline_single
        from financial_data_pipeline_spark.sources.laketable import LakeTable

        src = self.spark.read.parquet(src_path)
        cfg = PipelineConfig(
            symbols=["ALL"], interval="1m", resample_to=["5m", "1h", "1d"], output_dir=out
        )
        res = run_pipeline_single(self.spark, cfg, src, "ALL")
        full = self.spark.read.parquet(res["paths"]["full"][0])
        lake = LakeTable(self.spark, os.path.join(out, "lake"), stat_cols=["timestamp"])
        version = lake.commit(calculate_all(full))
        return res, lake, version

    def warmup(self) -> None:
        path, _ = self._write(os.path.join(self.work, "warm", "bars.parquet"), self.seed + 7919, n_symbols=1, days=1)
        self._run(path, os.path.join(self.work, "warm", "out"))
        shutil.rmtree(os.path.join(self.work, "warm"))

    def op(self, i: int) -> None:
        self.runs += 1
        out = os.path.join(self.work, f"out{self.runs}")
        self.results[i] = (out, *self._run(self.input, out))

    def rows(self, i: int) -> int:
        return self.truth["rows"]

    def check(self, i: int) -> list[str]:
        out, res, lake, version = self.results.pop(i)
        t, errs = self.truth, []
        rep, ds = res["validation_report"], res["datasets"]
        if rep["duplicates_removed"] != t["duplicates"]:
            errs.append(f"duplicates_removed {rep['duplicates_removed']} != planted {t['duplicates']}")
        if ds["full"] != t["unique_rows"]:
            errs.append(f"full rows {ds['full']} != {t['unique_rows']}")
        if ds["train"] + ds["test"] != ds["full"]:
            errs.append(f"train {ds['train']} + test {ds['test']} != full {ds['full']}")
        lake_rows = sum(f.rows for f in lake._load_snapshot(version).files)
        if lake_rows != ds["full"]:
            errs.append(f"lake rows {lake_rows} != full {ds['full']}")
        errs += self._check_resample(out, t["symbols"][0])
        # keep the newest output tree for ``stored``; drop older ones
        if hasattr(self, "last_out"):
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out, self.last_rows = out, ds["full"]
        return errs

    @staticmethod
    def _check_resample(out: str, sym: str) -> list[str]:
        """One symbol's 1h bars against a pandas resample of the cleaned
        frame the pipeline wrote."""
        filt = [("symbol", "=", sym)]
        full = pq.read_table(os.path.join(out, "ALL", "full.parquet"), filters=filt).to_pandas()
        got = pq.read_table(os.path.join(out, "ALL", "resampled_1h.parquet"), filters=filt).to_pandas()
        want = (
            full.set_index("timestamp")
            .sort_index()
            .resample("1h")
            .agg({"open": "first", "high": "max", "low": "min", "close": "last", "volume": "sum"})
        )
        want[["open", "high", "low", "close"]] = want[["open", "high", "low", "close"]].ffill()
        got = got.sort_values("bucket_ts")
        if len(got) != len(want):
            return [f"resampled_1h {sym}: {len(got)} bars, pandas {len(want)}"]
        bad = [c for c in ("open", "high", "low", "close", "volume") if not _close(got[c].values, want[c].values)]
        return [f"resampled_1h {sym}: column {c} differs from pandas" for c in bad]

    def stored(self) -> tuple[int, int]:
        return dir_bytes(self.last_out), self.last_rows


# ---------------------------------------------------------------------------
# lake_incremental
# ---------------------------------------------------------------------------


def _iso(us: int) -> str:
    return (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us)).isoformat()


def _hour_key(df):
    from pyspark.sql import functions as F

    return df.withColumn("hour", F.date_trunc("hour", "timestamp"))


def _hour_agg(df):
    from pyspark.sql import functions as F

    return df.groupBy("hour", "symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("volume").alias("volume"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        F.sum("close").alias("close_sum"),
    )


class LakeIncremental(Workload):
    """Small appends, late bars and keyed corrections on a lake table, each
    followed by an hourly rollup refresh and a time-pruned read-back."""

    name = "lake_incremental"
    COMPACT_EVERY = 4
    BLOCK = COMPACT_EVERY  # one compaction cycle
    REPLAY = False  # a batch lands once
    KEYS = ["timestamp", "symbol"]

    def generate(self) -> None:
        self._open(os.path.join(self.work, "lake"), self.seed)
        self.readback: dict[int, tuple[int, int]] = {}

    def _open(self, root: str, seed: int) -> None:
        from financial_data_pipeline_spark.sources.laketable import LakeTable

        self.root = root
        self.stream = gen.LakeStream(seed)
        self.src = LakeTable(self.spark, os.path.join(root, "bars"), stat_cols=["timestamp"])
        self.tgt = LakeTable(self.spark, os.path.join(root, "hourly"), stat_cols=["hour"])
        self.pending: dict[int, tuple[str, str | None]] = {}
        self.batch_rows: dict[int, int] = {}

    def stage(self, b: int) -> None:
        """Land batch ``b``'s files (untimed: this is the data arriving)."""
        appends, corrections = self.stream.batch(b)
        a = os.path.join(self.root, "incoming", f"{b}-append.parquet")
        gen.write_table(appends, a)
        c = None
        if corrections is not None:
            c = os.path.join(self.root, "incoming", f"{b}-fix.parquet")
            gen.write_table(corrections, c)
        self.pending[b] = (a, c)
        self.batch_rows[b] = appends.num_rows + (0 if corrections is None else corrections.num_rows)

    def _batch(self, b: int) -> int:
        from pyspark.sql import functions as F

        from financial_data_pipeline_spark.sources.laketable import compact
        from financial_data_pipeline_spark.sources.rollup import refresh_rollup

        a, c = self.pending.pop(b)
        self.src.commit(self.spark.read.parquet(a))
        if c is not None:
            self.src.merge(self.spark.read.parquet(c), self.KEYS)
        if b % self.COMPACT_EVERY == self.COMPACT_EVERY - 1:
            compact(self.src)
        refresh_rollup(self.src, self.tgt, _hour_key, _hour_agg, ["hour", "symbol"])
        # the last three hours, as naive UTC ISO strings like the manifest stats
        lo = _iso(gen.EPOCH0_US + max(b - 2, 0) * gen.HOUR_US)
        hi = _iso(gen.EPOCH0_US + (b + 1) * gen.HOUR_US - 1)
        recent = self.src.read(pred_col="timestamp", lo=lo, hi=hi)
        recent = recent.filter(F.col("timestamp").between(F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp")))
        self.frame = recent.groupBy("symbol").count()
        return sum(r["count"] for r in self.frame.collect())

    def warmup(self) -> None:
        self._open(os.path.join(self.work, "warm"), self.seed + 7919)
        # appends, merges, then late bars with a compaction
        for b in range(self.COMPACT_EVERY):
            self.stage(b)
            self._batch(b)
        shutil.rmtree(os.path.join(self.work, "warm"))
        self.generate()

    def before_op(self, i: int) -> None:
        self.stage(i)

    def op(self, i: int) -> None:
        self.readback[i] = (self._batch(i), self.stream.live_rows(max(i - 2, 0), i))

    def rows(self, i: int) -> int:
        return self.batch_rows.pop(i)

    def check(self, i: int) -> list[str]:
        got, want = self.readback.pop(i)
        return [] if got == want else [f"batch {i}: read-back {got} rows, expected {want}"]

    def final_check(self) -> list[str]:
        errs = []
        n_src = self.src.read().count()
        if n_src != self.stream.live_rows():
            errs.append(f"table rows {n_src} != generated {self.stream.live_rows()}")
        key = ["hour", "symbol"]
        want = _hour_agg(_hour_key(self.src.read())).toPandas().sort_values(key).reset_index(drop=True)
        got = self.tgt.read().toPandas().sort_values(key).reset_index(drop=True)
        if len(got) != len(want) or not (got[key].values == want[key].values).all():
            return errs + [f"rollup keys differ: {len(got)} vs {len(want)} rows"]
        for c in ("n", "high", "low"):
            if not (got[c].values == want[c].values).all():
                errs.append(f"rollup column {c} differs from a from-scratch aggregate")
        for c in ("volume", "close_sum"):
            if not _close(got[c].values, want[c].values):
                errs.append(f"rollup column {c} differs from a from-scratch aggregate")
        return errs

    def stored(self) -> tuple[int, int]:
        return dir_bytes(self.src.root) + dir_bytes(self.tgt.root), self.stream.live_rows()


# ---------------------------------------------------------------------------
# analytics_mix
# ---------------------------------------------------------------------------

# Registry queries left out of the mix, with the reason (see README.md).
EXCLUDED = {
    "corpus_length_stats_approx": "fails its DuckDB oracle on generated tables (p50_within flag differs)",
}
# Queries whose first run took over 1 s on the 4-core reference box (over
# twice the registry median). They are bound by their data, not by the
# per-query floor this workload measures, and one of them landing at the end
# of a run or not moves ops_per_s by a fifth.
EXCLUDED |= dict.fromkeys(
    [
        "adx_trend_strength",
        "american_put_crr",
        "ann_recall_at_10",
        "ann_recall_multiprobe",
        "bpe_merges_distributed",
        "categorical_psi_sources",
        "cluster_validity_indices",
        "curation_report",
        "dedup_clusters",
        "dedup_clusters_distributed",
        "deflated_sharpe_grid",
        "ema_chunked",
        "ema_macd",
        "ema_truncated",
        "embedding_pca_spectrum",
        "event_type_pagerank",
        "hampel_outliers",
        "hist_chi2_drift",
        "inverse_vol_rebalanced",
        "ivf_recall_at_10",
        "keep_canonical_docs",
        "kmeans_doc_clusters",
        "ljung_box",
        "lof_outliers",
        "lof_outliers_blocked",
        "lsh_pair_recall",
        "minhash_lsh_pairs",
        "ngram_jaccard_pairs",
        "normalize_zscore",
        "ohlcv_bars",
        "pair_subdivision_probe",
        "pq_ann_topk",
        "quantized_ann_recall",
        "random_split_props",
        "resample_4h_filled",
        "return_correlation_gram",
        "rollup_refresh_lifecycle",
        "seasonal_anomalies",
        "silhouette_by_label_blocked",
        "validation_counters",
        "validation_report",
        "validation_report_strict",
        "windowed_chi2_stream_twin",
    ],
    "data-bound: first run over 1 s on the reference box",
)
ZIPF_S = 1.1
#: the popularity order and the draw sequence are part of the workload,
#: fixed across seeds: with a few dozen queries per run, a seeded draw
#: changes which heavy queries a run meets and swamps every other effect.
#: The seed varies the tables the queries read.
MIX_SEED = 20_261_017


def query_pool() -> list[str]:
    """Queries with a DuckDB oracle twin, in popularity order."""
    from financial_data_pipeline_spark.plans.driver_queries import ORACLES, QUERIES

    names = sorted(n for n in QUERIES if n in ORACLES and n not in EXCLUDED)
    return list(np.random.default_rng(MIX_SEED).permutation(names))


def zipf_draws(pool: list[str], n: int) -> list[str]:
    p = 1.0 / np.arange(1, len(pool) + 1) ** ZIPF_S
    idx = np.random.default_rng([MIX_SEED, 5]).choice(len(pool), n, p=p / p.sum())
    return [pool[i] for i in idx]


class AnalyticsMix(Workload):
    """Registry queries drawn with Zipf popularity, each built and forced to
    the noop sink; first draws run cold, repeats warm."""

    name = "analytics_mix"
    SCALE = 0.002
    BLOCK = 16

    def generate(self) -> None:
        self.tables = os.path.join(self.work, "tables")
        star = gen.star_tables(self.seed, scale=self.SCALE)
        gen.write_star(star, self.tables)
        self.table_rows = {t: table.num_rows for t, table in star.items()}
        self.pool = query_pool()
        self.draws = zipf_draws(self.pool, 10_000)
        self.done: dict[int, object] = {}
        self.checked: dict[str, list[str]] = {}
        self.input_rows: dict[str, int] = {}
        self.carried: dict[int, int] = {}

    def warmup(self) -> None:
        """The queries of the first block on tables of their own: the JIT
        warms up, while every cache keyed on the measured tables stays cold
        for the first draws."""
        from financial_data_pipeline_spark.plans.driver_queries import QUERIES

        warm = os.path.join(self.work, "warm")
        gen.write_star(gen.star_tables(self.seed + 7919, scale=self.SCALE / 2), warm)
        for name in dict.fromkeys(self.draws[: self.BLOCK]):
            QUERIES[name](self.spark, warm).write.format("noop").mode("overwrite").save()

    def op(self, i: int) -> None:
        from financial_data_pipeline_spark.plans.driver_queries import QUERIES

        name = self.draws[i]
        df = QUERIES[name](self.spark, self.tables)
        with self.span("plans.driver_queries.exec", query=name):
            df.write.format("noop").mode("overwrite").save()
        self.frame = df
        self.done[i] = (name, df)

    def rows(self, i: int) -> int:
        return self.carried.pop(i)

    def _input_rows(self, name: str, df) -> int:
        """Rows of the tables ``df`` scans."""
        if name not in self.input_rows:
            files = {os.path.basename(f) for f in df.inputFiles()}
            self.input_rows[name] = sum(
                n for t, n in self.table_rows.items() if any(f.startswith(t + ".parquet") for f in files)
            )
        return self.input_rows[name]

    def check(self, i: int) -> list[str]:
        name, df = self.done.pop(i)
        if name not in self.checked:
            self.checked[name] = self._oracle(name, df)
        self.carried[i] = self._input_rows(name, df)
        return self.checked[name]

    def _oracle(self, name: str, df) -> list[str]:
        """The repository's oracle gate on this query and the generated tables."""
        import duckdb

        from financial_data_pipeline_spark.plans.driver_queries import ORACLES
        from tools.check_oracle import TABLES, compare

        with duckdb.connect() as con:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
            want = con.execute(ORACLES[name]).df()
        return [f"{name}: {e}" for e in compare(name, df.toPandas(), want)]

    def stored(self) -> tuple[int, int]:
        return dir_bytes(self.tables), sum(self.table_rows.values())


WORKLOADS = {w.name: w for w in (PipelineBatch, LakeIncremental, AnalyticsMix)}
