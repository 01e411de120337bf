"""Measured scale-up probe: does each heavy operator's runtime grow
~linearly when the data grows k×?

The 100 TB claim is usually argued from plan shape (PLANS.md); this
tool argues it from MEASUREMENT: it amplifies the sf0.1 tables k×
(default 8×) into a temp dir and times a representative set of heavy
queries at 1× and k×, reporting the runtime ratio per query. A
well-partitioned operator on local[32] should scale at or below ~k
(sub-linear where fixed per-job overhead dominates); a super-linear
ratio flags a pair blowup or a serializing stage.

Amplification is workload-preserving, not duplication:

- ``events`` — each copy c shifts user ids into a disjoint range and
  renames event types to ``<type>~c`` (the bars' symbol key), so
  per-key windows get k× more keys of the same length — the way real
  growth looks — instead of k× longer series (which would also be
  fine for windows but would quadratically blow up the pair joins).
- ``documents`` — each copy prefixes every token with ``c<i>.``:
  shingle/minhash/simhash spaces stay disjoint across copies, so true
  near-dup pair counts scale k× (per-copy structure repeats) rather
  than k²× (every copy pairing with every other) — the engine is
  measured, not the artificial data's quadratic truth.
- ``embeddings`` — each copy jitters vectors deterministically by a
  copy-specific orthogonal-ish sign/permutation pattern and remaps
  ids, keeping norms and cluster geometry without exact duplicates.
- ``customer`` / ``orders`` / ``lineitem`` — each copy shifts cust and
  order keys into disjoint ranges (orders keep referencing their
  copy's customers; lineitems their copy's orders) while part/supplier
  keys stay in the ORIGINAL range — real growth: more customers
  placing more orders against the same catalog, so customer-grained
  pair structure (baskets, co-purchase) repeats k× instead of
  exploding k²×, and part/supplier joins fan out k× deeper. Copy c's
  dates also shift by c·8 years: a PURELY temporal join (range join,
  no equi key) would otherwise see every copy's points land in every
  copy's windows — k²× true matches, the artificial quadratic truth
  this amplifier exists to avoid.

Usage::

    python tools/scaling_probe.py [k] [out_md]

Writes SCALING.md (or ``out_md``) with the measured table.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"

# Heavy, shape-diverse subset: scan+agg, windows, joins, dedup family,
# ANN, curation pipeline, text, iterative BPE.
PROBES = [
    "ohlcv_bars",
    "symbol_stats",
    "resample_4h_filled",
    "sma_bollinger",
    "ema_truncated",
    "dedup_keep_first",
    "exact_dedup",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "simhash_pairs",
    "keep_canonical_docs",
    "embedding_topk",
    "lsh_ann_topk",
    "text_stats",
    "gopher_quality_flags",
    "tfidf_top_terms",
    "user_sessions",
    "seasonal_anomalies",
    "cusum_changepoints",
    "bpe_merges",
    # round-2 continuation families: array-fold windows (CCI MAD),
    # ECDF-reduction KS, shuffle-free entropy fold, rank-based tests
    "oscillators",
    "ks_drift_by_dow",
    "token_entropy",
    "mann_whitney_purchase_view",
    # round-4: TPC-H-fact heavies (customer/orders/lineitem amplified
    # with disjoint key spaces; part/supplier catalog shared)
    "trimmed_mean_prices",
    "orders_profile",
    "part_basket_rules",
    "copurchase_degree_hist",
    "blamed_suppliers",
    "min_cost_supplier_per_part",
    "nation_trade_volume",
    "lineitems_in_order_windows",
    "dominant_part_suppliers",
    "market_share_by_year",
    "return_correlation_gram",
    "pairs_cointegration",
]


def _adaptive_blocked_probes(k: int):
    """The blocked all-pairs family probed under its actual 100 TB
    contract: the hyperplane count grows with the corpus so the
    EXPECTED BLOCK SIZE stays constant — 4 planes at 1×, 4+log2(k) at
    k× (k=8 → 7 planes → 128 buckets). Fixed planes at k× would grow
    every block k× and the pair join k²× — that is mis-deployment, not
    the operator; this probe measures the deployment the docstrings
    prescribe. Returns [(label, builder(spark, sf_dir, n_planes))] and
    the (planes_1x, planes_kx) pair."""
    import math

    from pyspark.sql import functions as F

    from financial_data_pipeline_spark.operators.similarity import (
        knn_label_accuracy,
        lof_scores,
        lsh_bucket,
        seeded_planes,
        silhouette_by_label,
    )
    from financial_data_pipeline_spark.sources.adapters import load_table

    def blocked(op):
        def build(spark, sf_dir, n_planes):
            emb = load_table(spark, sf_dir, "embeddings").withColumn(
                "block",
                lsh_bucket("embedding", seeded_planes(n_planes, 64, seed=7)),
            )
            return op(emb)

        return build

    probes = [
        ("lof_outliers_blocked", blocked(lambda e: lof_scores(e, k=5, block_col="block"))),
        (
            "silhouette_by_label_blocked",
            blocked(lambda e: silhouette_by_label(e, block_col="block")),
        ),
        (
            "knn_label_accuracy_blocked",
            blocked(lambda e: knn_label_accuracy(e, k=5, block_col="block")),
        ),
    ]
    return probes, (4, 4 + max(0, round(math.log2(k))))


def amplify_documents(spark, k: int, out_dir: str) -> None:
    """Uniform k× documents: each copy prefixes every token with
    ``c<i>.`` so shingle/minhash/simhash spaces stay disjoint across
    copies (true pair counts scale k×, not k²×). Shared by the uniform
    scaling probe and the skew probe's uniform leg."""
    from pyspark.sql import functions as F

    copies = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__c")
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    pref = F.concat(F.lit("c"), F.col("__c"), F.lit("."))
    retok = F.array_join(
        F.transform(
            F.split("text", r"\s+"),
            lambda t: F.when(t == "", t).otherwise(F.concat(pref, t)),
        ),
        " ",
    )
    (
        docs.select("*", copies)
        .select(
            (F.col("doc_id") + F.col("__c").cast("long") * 10_000_000).alias("doc_id"),
            retok.alias("text"),
            "lang",
            F.concat_ws("~", "source", F.col("__c")).alias("source"),
            F.length(retok).alias("n_chars"),
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/documents.parquet")
    )


def amplify(spark, k: int, out_dir: str) -> None:
    from pyspark.sql import functions as F

    copies = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__c")

    ev = spark.read.parquet(f"{BASE}/events.parquet")
    n_users = 10_000_000
    (
        ev.select("*", copies)
        .select(
            (F.col("event_id") + F.col("__c").cast("long") * 1_000_000_000).alias(
                "event_id"
            ),
            "ts",
            (F.col("user_id") + F.col("__c").cast("long") * n_users).alias("user_id"),
            F.concat_ws("~", "event_type", F.col("__c")).alias("event_type"),
            "value",
            "props",
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/events.parquet")
    )

    amplify_documents(spark, k, out_dir)

    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    jitter = F.transform(
        "embedding",
        lambda x, i: x
        * F.when((i + F.col("__c")) % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0)),
    )
    (
        emb.select("*", copies)
        .select(
            (F.col("vec_id") + F.col("__c").cast("long") * 10_000_000).alias("vec_id"),
            jitter.cast("array<float>").alias("embedding"),
            "label",
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/embeddings.parquet")
    )

    cust = spark.read.parquet(f"{BASE}/customer.parquet")
    (
        cust.select("*", copies)
        .select(
            (F.col("c_custkey") + F.col("__c").cast("long") * 10_000_000).alias(
                "c_custkey"
            ),
            *[c for c in cust.columns if c != "c_custkey"],
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/customer.parquet")
    )

    shift_years = F.make_interval(years=F.col("__c") * 8)
    orders = spark.read.parquet(f"{BASE}/orders.parquet")
    (
        orders.select("*", copies)
        .select(
            (F.col("o_orderkey") + F.col("__c").cast("long") * 1_000_000_000).alias(
                "o_orderkey"
            ),
            (F.col("o_custkey") + F.col("__c").cast("long") * 10_000_000).alias(
                "o_custkey"
            ),
            (F.col("o_orderdate") + shift_years).alias("o_orderdate"),
            *[
                c
                for c in orders.columns
                if c not in ("o_orderkey", "o_custkey", "o_orderdate")
            ],
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/orders.parquet")
    )

    li = spark.read.parquet(f"{BASE}/lineitem.parquet")
    (
        li.select("*", copies)
        .select(
            (F.col("l_orderkey") + F.col("__c").cast("long") * 1_000_000_000).alias(
                "l_orderkey"
            ),
            (F.col("l_shipdate") + shift_years).alias("l_shipdate"),
            *[c for c in li.columns if c not in ("l_orderkey", "l_shipdate")],
        )
        .write.mode("overwrite")
        .parquet(f"{out_dir}/lineitem.parquet")
    )

    for t in ["region", "nation", "supplier", "part"]:
        shutil.copy(f"{BASE}/{t}.parquet", f"{out_dir}/{t}.parquet")


def main() -> int:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    out_md = sys.argv[2] if len(sys.argv) > 2 else "SCALING.md"
    probes = sys.argv[3].split(",") if len(sys.argv) > 3 else PROBES

    from financial_data_pipeline_spark import get_spark
    from financial_data_pipeline_spark.plans.driver_queries import QUERIES

    spark = get_spark(app_name="fdp-scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="fdp_scale_")
    print(f"amplifying {BASE} x{k} -> {tmp}", file=sys.stderr)
    amplify(spark, k, tmp)

    def run(name: str, sf_dir: str) -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - t0)
        return best

    rows = []
    for name in probes:
        t1 = run(name, BASE)
        tk = run(name, tmp)
        rows.append((name, round(t1, 3), round(tk, 3), round(tk / t1, 2)))
        print(f"{name}: {t1:.2f}s -> {tk:.2f}s  ({tk / t1:.2f}x)", file=sys.stderr)

    adaptive, (p1, pk) = _adaptive_blocked_probes(k)
    for name, build in adaptive:
        label = f"{name} [planes {p1}->{pk}]"

        def run_adaptive(sf_dir: str, n_planes: int) -> float:
            best = float("inf")
            for _ in range(2):
                t0 = time.perf_counter()
                build(spark, sf_dir, n_planes).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t0)
            return best

        t1 = run_adaptive(BASE, p1)
        tk = run_adaptive(tmp, pk)
        rows.append((label, round(t1, 3), round(tk, 3), round(tk / t1, 2)))
        print(f"{label}: {t1:.2f}s -> {tk:.2f}s  ({tk / t1:.2f}x)", file=sys.stderr)

    lines = [
        "# SCALING — measured k-times scale-up behavior",
        "",
        f"`tools/scaling_probe.py {k}`: the sf0.1 tables amplified {k}× "
        "(disjoint symbol/user/shingle/vector spaces per copy — real-growth "
        "shape, no artificial quadratic pair truth), heavy queries timed at "
        "1× and {k}× on this container (min of 2 runs each). A "
        "well-partitioned plan should grow at or below the data factor; "
        "fixed per-job overhead makes small queries sub-linear.".replace(
            "{k}", str(k)
        ),
        "",
        f"| query | 1× sec | {k}× sec | ratio (data ×{k}) |",
        "|---|---|---|---|",
    ]
    for name, t1, tk, r in rows:
        lines.append(f"| {name} | {t1} | {tk} | {r} |")
    sup = [r for r in rows if r[3] > k * 1.3]
    lines += [
        "",
        (
            "No query exceeds 1.3× the data growth factor — no hidden "
            "quadratic stage or serializing bottleneck in the probed set."
            if not sup
            else "Super-linear queries needing attention: "
            + ", ".join(f"{r[0]} ({r[3]}x)" for r in sup)
        ),
    ]
    with open(out_md, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(json.dumps({"k": k, "results": rows}))
    shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
