"""Winnowed-fingerprint substring-overlap detection.

The doc-level near-dup stack (``operators/dedup.py``) answers "are
these two documents mostly the same?". Training corpora also need the
*substring* question — "do these two documents share a long verbatim
passage?" — because memorization risk and benchmark leakage ride on
exact runs, not whole-document similarity (Lee et al. 2022,
*Deduplicating Training Data Makes Language Models Better*, builds a
suffix array for this; a suffix array is a global sequential build and
does not distribute).

The Spark-first rendering is winnowing (Schleimer, Wilkerson & Aiken
2003, the MOSS fingerprinter), which is embarrassingly parallel:

1. every token k-gram gets a content hash (portable 40-bit md5 prefix,
   DuckDB twin ``('0x' || substr(md5(g),1,10))::BIGINT``);
2. in every window of ``w`` consecutive k-gram hashes, select the
   minimum (ties → rightmost occurrence) — a per-doc window aggregate,
   no cross-doc traffic;
3. two documents sharing a verbatim token run of length ≥ w + k − 1
   are GUARANTEED to share at least one selected fingerprint (the MOSS
   guarantee), so the fingerprint equi-join finds every long overlap
   while storing only ~2/(w+1) of the k-gram hashes.

Scale shape: one scan → explode k-grams (row amplification bounded by
token count) → per-doc window (hash-partitioned on the id, no global
sort) → distinct fingerprints → bucket join on the 8-byte hash with
the same hot-bucket cap as the LSH stack (a boilerplate passage shared
by B docs is a B²/2 blowup otherwise). Nothing touches the driver.

Tie-break and selection are encoded in ONE comparable long —
``hash * 2^POS_BITS + (POS_MASK - pos)`` — so the window aggregate is
a plain ``min`` over longs: minimal hash first, rightmost position on
ties, decodable after selection. The encoding caps documents at 2^22
k-grams (~4M tokens, ~25 MB of text); chunk longer documents first
(``curation.chunk_documents``), which standard pipelines do anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from financial_data_pipeline_spark.operators.dedup import _bucket_pairs, tokens

POS_BITS = 22
POS_MASK = (1 << POS_BITS) - 1


def _hash40(col: Column) -> Column:
    """Portable 40-bit gram hash: int(md5(x)[:10], 16).

    40 bits leaves 62 − 40 = 22 bits for the position tie-break inside
    one non-negative long. Collision rate at 40 bits is fine for
    *candidate generation* (pairs are count-thresholded, and a false
    fingerprint match needs a same-window collision to matter).
    """
    return F.conv(F.substring(F.md5(col), 1, 10), 16, 10).cast("long")


def kgram_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """(id, pos, h, n_kgrams): one row per token k-gram POSITION.

    Unlike ``dedup.shingle_rows`` this keeps positions and duplicates —
    winnowing is positional. Docs shorter than ``k`` tokens contribute
    their whole text as a single gram at pos 0 (n_kgrams = 1), so every
    non-empty doc fingerprints; ZERO-token docs contribute nothing
    (the old '' gram substring-matched every empty doc against every
    other one — fuzzed-table finding, same convention as
    ``dedup.shingles_from_tokens``).
    """
    toks = df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t"))
    sized = toks.select(
        "id", "t", F.greatest(F.size("t") - k + 1, F.lit(1)).alias("n_kgrams")
    )
    grams = sized.select(
        "id",
        "n_kgrams",
        F.posexplode(
            F.when(
                F.size("t") >= k,
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - k),
                    lambda i: F.array_join(F.slice(F.col("t"), i + 1, k), " "),
                ),
            )
            .when(F.size("t") == 0, F.array().cast("array<string>"))
            .otherwise(F.array(F.concat_ws(" ", F.col("t"))))
        ).alias("pos", "g"),
    )
    return grams.select("id", "pos", "n_kgrams", _hash40(F.col("g")).alias("h"))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """(id, fp_hash, fp_pos): the winnowed fingerprint set per doc.

    Selection: min over each length-``window`` run of k-gram hashes,
    rightmost on ties, deduplicated (consecutive windows mostly re-pick
    the same gram — that is where the ~2/(w+1) density comes from).
    Right edges below ``window − 1`` are incomplete prefixes of the
    first full window and are skipped; a doc with fewer than ``window``
    k-grams keeps its last row, whose frame spans the whole doc (the
    degenerate winnow: global min).
    """
    kg = kgram_rows(df, text_col, id_col, k)
    key = F.col("h") * (POS_MASK + 1) + (F.lit(POS_MASK) - F.col("pos"))
    win = (
        Window.partitionBy("id").orderBy("pos").rowsBetween(-(window - 1), 0)
    )
    sel = (
        kg.select("id", "pos", "n_kgrams", F.min(key).over(win).alias("wkey"))
        .filter(
            (F.col("pos") >= window - 1)
            | (F.col("pos") == F.col("n_kgrams") - 1)
        )
        .select("id", "wkey")
        .distinct()
    )
    return sel.select(
        F.col("id"),
        F.shiftright("wkey", POS_BITS).alias("fp_hash"),
        (F.lit(POS_MASK) - (F.col("wkey") % (POS_MASK + 1))).alias("fp_pos"),
    )


def substring_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    min_shared: int = 1,
    max_bucket_size: int = 1000,
    observation=None,
) -> DataFrame:
    """(id_a, id_b, shared_fps): doc pairs sharing winnowed fingerprints.

    ``shared_fps`` counts DISTINCT shared fingerprint hashes; any pair
    sharing a verbatim token run of ≥ window + k − 1 tokens appears
    with shared_fps ≥ 1 (the MOSS guarantee), and longer overlaps score
    proportionally higher — threshold with ``min_shared`` to trade
    passage length for pair volume.

    Join shape: fingerprint-hash buckets (sorted-array pair expansion,
    ids only), hot buckets above ``max_bucket_size`` dropped exactly
    like ``dedup.lsh_candidates`` — a site-boilerplate passage shared
    by thousands of docs is a pair blowup, and its pairs are the ones
    nobody wants (``observation`` surfaces the drop count).
    """
    fps = winnow_fingerprints(df, text_col, id_col, k, window)
    return (
        _bucket_pairs(
            fps.select("id", "fp_hash").distinct(),
            ["fp_hash"],
            F.col("id"),
            max_bucket_size=max_bucket_size,
            observation=observation,
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
