"""Seeded input generators for the benchmark workloads.

Every generator takes a ``seed`` and returns plain numpy/pyarrow data plus
the ground truth it planted, so a workload's output check can compare the
program's answer against what the input is known to contain. The same seed
gives byte-identical files; the program under test never sees the seed.

Timestamps are written as parquet TIMESTAMP_MICROS (UTC-adjusted). The
session reads nanosecond parquet as ``long`` (``nanosAsLong``), and
``clean_ohlcv`` would then treat the value as epoch seconds and overflow.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MINUTE_US = 60 * 1_000_000
HOUR_US = 60 * MINUTE_US
DAY_US = 24 * HOUR_US
# 2025-01-06 00:00:00 UTC, a Monday
EPOCH0_US = 1_736_121_600 * 1_000_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _ts_array(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(
        pa.timestamp("us", tz="UTC")
    )


def write_table(table: pa.Table, path: str) -> None:
    """Write ``table`` as one parquet file with fixed writer settings, so a
    seed maps to the same bytes on every run."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(
        table.replace_schema_metadata(None),
        path,
        compression="zstd",
        write_statistics=True,
        use_dictionary=True,
    )


# ---------------------------------------------------------------------------
# OHLCV bars with planted dirt (pipeline_batch)
# ---------------------------------------------------------------------------


def _walk(rng: np.random.Generator, n: int) -> tuple[np.ndarray, ...]:
    """One symbol's clean 1-minute bars: open, high, low, close, volume."""
    p0 = rng.uniform(20.0, 2000.0)
    close = p0 * np.exp(np.cumsum(rng.normal(0.0, 0.0008, n)))
    open_ = np.concatenate([[p0], close[:-1]])
    hi = np.maximum(open_, close) * (1 + np.abs(rng.normal(0, 0.0004, n)))
    lo = np.minimum(open_, close) * (1 - np.abs(rng.normal(0, 0.0004, n)))
    vol = rng.lognormal(3.0, 0.8, n)
    return open_, hi, lo, close, vol


def ohlcv_bars(
    seed: int,
    n_symbols: int = 16,
    days: int = 15,
    dup_frac: float = 0.005,
    nan_frac: float = 0.01,
    violation_frac: float = 0.002,
    gaps_per_symbol: int = 3,
) -> tuple[pa.Table, dict]:
    """1-minute OHLCV bars for ``n_symbols`` × ``days`` with planted dirt.

    Dirt, each counted in the returned truth:
    - ``gaps``: per symbol, ``gaps_per_symbol`` runs of 10-60 missing bars;
    - ``nan_closes``: close set to NaN;
    - ``ohlc_violations``: high pushed below max(open, close);
    - ``duplicates``: exact copies of distinct surviving rows, appended.
    """
    rng = _rng(seed, 1)
    n = days * 1440
    parts = []
    truth = {
        "symbols": [],
        "gaps": 0,
        "missing_bars": 0,
        "nan_closes": 0,
        "ohlc_violations": 0,
    }
    for i in range(n_symbols):
        sym = f"SYM{i:02d}USDT"
        truth["symbols"].append(sym)
        o, h, lo, c, v = _walk(rng, n)
        keep = np.ones(n, dtype=bool)
        starts = np.sort(rng.choice(np.arange(100, n - 100, 100), gaps_per_symbol, replace=False))
        for s in starts:
            keep[s : s + int(rng.integers(10, 61))] = False
        truth["gaps"] += gaps_per_symbol
        truth["missing_bars"] += int((~keep).sum())
        idx = np.flatnonzero(keep)
        o, h, lo, c, v = o[idx], h[idx], lo[idx], c[idx], v[idx]
        m = len(idx)
        # interior rows only: ffill/bfill and OHLC repair then have
        # neighbours on both sides
        bad = rng.choice(np.arange(1, m - 1), int(m * (nan_frac + violation_frac)), replace=False)
        n_nan = int(m * nan_frac)
        c = c.copy()
        h = h.copy()
        c[bad[:n_nan]] = np.nan
        viol = bad[n_nan:]
        h[viol] = np.minimum(o[viol], c[viol]) * 0.995
        truth["nan_closes"] += n_nan
        truth["ohlc_violations"] += len(viol)
        parts.append(
            {
                "ts": EPOCH0_US + idx.astype("int64") * MINUTE_US,
                "symbol": np.full(m, sym, dtype=object),
                "open": o,
                "high": h,
                "low": lo,
                "close": c,
                "volume": v,
            }
        )
    cols = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
    total = len(cols["ts"])
    n_dup = int(total * dup_frac)
    dup = rng.choice(total, n_dup, replace=False)
    order = np.concatenate([np.arange(total), dup])
    table = pa.table(
        {
            "timestamp": _ts_array(cols["ts"][order]),
            "symbol": pa.array(cols["symbol"][order], type=pa.string()),
            **{
                k: pa.array(cols[k][order], type=pa.float64())
                for k in ("open", "high", "low", "close", "volume")
            },
        }
    )
    truth |= {"rows": total + n_dup, "unique_rows": total, "duplicates": n_dup}
    return table, truth


# ---------------------------------------------------------------------------
# Stream of small lake appends (lake_incremental)
# ---------------------------------------------------------------------------


class LakeStream:
    """Hourly batches of 1-minute bars for ``n_symbols`` symbols.

    Batch ``b`` carries hour ``b`` minus a few withheld minutes per
    symbol. Every ``late_every``-th batch also carries the withheld minutes
    of hour ``b - late_every + 1`` (late bars for an hour the rollup has
    already seen), and every ``corr_every``-th batch from the second on
    carries corrections (new close and volume) for ``corr_rows`` seeded bars
    of hour ``b - 1``. The schedule is fixed, so every run of a few batches
    meets both kinds; rows and values are a pure function of ``(seed, b)``.
    The class tracks the rows live in the table after each batch.
    """

    def __init__(
        self,
        seed: int,
        n_symbols: int = 16,
        bars: int = 60,
        withheld: int = 3,
        late_every: int = 4,
        corr_every: int = 1,
        corr_rows: int = 16,
    ) -> None:
        self.seed = seed
        self.symbols = [f"SYM{i:02d}USDT" for i in range(n_symbols)]
        self.bars = bars
        self.withheld = withheld
        self.late_every = late_every
        self.corr_every = corr_every
        self.corr_rows = corr_rows
        # live row count per hour, after the batches emitted so far
        self.live_per_hour: dict[int, int] = {}
        self.late_rows = 0
        self.correction_rows = 0

    def _hour(self, h: int) -> tuple[dict, np.ndarray]:
        """All bars of hour ``h`` and the mask of withheld minutes."""
        rng = _rng(self.seed, 10_000 + h)
        n_sym, m = len(self.symbols), self.bars
        minute = np.tile(np.arange(m), n_sym)
        sym = np.repeat(np.arange(n_sym), m)
        close = 100.0 * (1 + sym) * np.exp(rng.normal(0, 0.001, n_sym * m))
        open_ = close * np.exp(rng.normal(0, 0.0005, n_sym * m))
        cols = {
            "ts": EPOCH0_US + h * HOUR_US + minute.astype("int64") * MINUTE_US,
            "sym": sym,
            "open": open_,
            "high": np.maximum(open_, close) * 1.0005,
            "low": np.minimum(open_, close) * 0.9995,
            "close": close,
            "volume": rng.lognormal(3.0, 0.8, n_sym * m),
        }
        held = np.zeros(n_sym * m, dtype=bool)
        for s in range(n_sym):
            held[s * m + rng.choice(m, self.withheld, replace=False)] = True
        return cols, held

    def _table(self, cols: dict, idx: np.ndarray) -> pa.Table:
        names = np.array(self.symbols, dtype=object)
        return pa.table(
            {
                "timestamp": _ts_array(cols["ts"][idx]),
                "symbol": pa.array(names[cols["sym"][idx]], type=pa.string()),
                **{
                    k: pa.array(cols[k][idx], type=pa.float64())
                    for k in ("open", "high", "low", "close", "volume")
                },
            }
        )

    def batch(self, b: int) -> tuple[pa.Table, pa.Table | None]:
        """``(appends, corrections)`` for batch ``b``; batches must be taken
        in order 0, 1, 2, ... for the live-row bookkeeping to hold."""
        rng = _rng(self.seed, 20_000 + b)
        cols, held = self._hour(b)
        appends = [self._table(cols, np.flatnonzero(~held))]
        self.live_per_hour[b] = int((~held).sum())
        if b % self.late_every == self.late_every - 1:
            h = b - self.late_every + 1
            old, old_held = self._hour(h)
            late = np.flatnonzero(old_held)
            appends.append(self._table(old, late))
            self.live_per_hour[h] += len(late)
            self.late_rows += len(late)
        corrections = None
        if b >= 1 and b % self.corr_every == 0:
            prev, prev_held = self._hour(b - 1)
            pick = np.sort(rng.choice(np.flatnonzero(~prev_held), self.corr_rows, replace=False))
            prev = dict(prev)
            prev["close"] = prev["close"] * (1 + rng.normal(0, 0.01, len(prev["close"])))
            prev["volume"] = prev["volume"] * 2
            corrections = self._table(prev, pick)
            self.correction_rows += len(pick)
        return pa.concat_tables(appends), corrections

    def live_rows(self, lo_hour: int | None = None, hi_hour: int | None = None) -> int:
        return sum(
            n
            for h, n in self.live_per_hour.items()
            if (lo_hour is None or h >= lo_hour) and (hi_hour is None or h <= hi_hour)
        )


# ---------------------------------------------------------------------------
# Star-schema tables for the registry queries (analytics_mix)
# ---------------------------------------------------------------------------

_DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _days_us(rng, n, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype("int64")
    hi = np.datetime64(last, "D").astype("int64")
    return rng.integers(lo, hi + 1, n).astype("int64") * DAY_US


def _naive_ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    """The ten registry tables (schemas and value domains of the query
    registry's fixture tables) at ``scale`` (0.01 → 60k lineitem rows)."""
    rng = _rng(seed, 3)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_li = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc = int(1_000_000 * scale), int(50_000 * scale)
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    words = np.array(_DOC_WORDS, dtype=object)
    n_words = rng.integers(10, 100, n_doc)
    texts = [" ".join(rng.choice(words, k)) for k in n_words]
    emb = rng.normal(0, 1, (n_doc, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    ev_ts = np.datetime64("2024-01-01", "us").astype("int64") + np.cumsum(
        rng.exponential(259e6, n_ev)
    ).astype("int64")
    pick = lambda vals, n: pa.array(rng.choice(np.array(vals, dtype=object), n), type=pa.string())  # noqa: E731
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{adj[rng.integers(8)]} {noun[rng.integers(8)]}" for _ in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000, 500000),
            "o_orderdate": _naive_ts(_days_us(rng, n_ord, "1995-01-01", "2001-08-01")),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, n_li, 901, 105000),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": _naive_ts(_days_us(rng, n_li, "1995-01-02", "2001-11-04")),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _naive_ts(ev_ts),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(rng.exponential(50, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": pa.table({
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_doc), pa.int64()),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_doc), pa.int32()),
        }),
    }
    return out


def write_star(tables: dict[str, pa.Table], root: str) -> None:
    for name, t in tables.items():
        write_table(t, os.path.join(root, f"{name}.parquet"))
