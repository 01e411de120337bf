"""Incremental substring dedup against a persistent fingerprint index.

The winnowing operator (``operators/winnow.py``) answers the batch
question; a continuously-ingesting pipeline asks, per batch: *does any
new document share a long verbatim passage with anything we have EVER
accepted?* Same architecture as ``dedup_incremental`` (the MinHash
twin): keep the compact relation the detector needs on disk —

- ``fps/`` (fp_hash, doc_id): the winnowed fingerprint postings,
  ~2/(w+1) of the k-gram hashes, 16 bytes a row, no text.

Per batch: winnow the new docs (one pass), equi-join their
fingerprints against the index (8-byte hash key, id-sized rows only),
count shared fingerprints per (new, old) pair, add within-batch pairs
via the batch operator, drop new docs clearing ``min_shared`` against
history (history wins) or against a lower-id batch sibling, append the
survivors' fingerprints. Work is O(batch + collisions), independent of
corpus size; append-only parquet, so the flow drops into a
``foreachBatch`` body unchanged.

Hot postings (a boilerplate passage accumulating over months) are
dropped from the PROBE when their historical posting list exceeds
``max_bucket_size`` — the standing-cap twin of ``dedup._bucket_pairs``; a
fingerprint shared by thousands of accepted docs identifies
boilerplate, not novel duplication, and its pair fan-out is the only
O(corpus) term in the flow.

Caller contract: ``doc_id`` globally unique across batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from financial_data_pipeline_spark.operators.winnow import (
    substring_overlap_pairs,
    winnow_fingerprints,
)


def _fps_path(index_dir: str) -> str:
    return os.path.join(index_dir, "fps")


def winnow_index_append(
    fps: DataFrame, index_dir: str, id_col: str = "doc_id"
) -> None:
    """Append (fp_hash, doc_id) postings for accepted docs."""
    fps.select(
        F.col("id").alias(id_col) if "id" in fps.columns else F.col(id_col),
        "fp_hash",
    ).write.mode("append").parquet(_fps_path(index_dir))


def substring_dedup_against_index(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
    min_shared: int = 1,
    max_bucket_size: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(survivors, matches)`` for one batch.

    ``matches``: (doc_id, matched_id, shared_fps) — every new doc
    sharing ≥ ``min_shared`` winnowed fingerprints with an indexed doc
    or an earlier-id doc of its own batch. ``survivors``: the batch
    minus matched docs.
    """
    new_fps = winnow_fingerprints(
        new_docs, text_col, id_col, k, window
    ).select(F.col("id"), "fp_hash").distinct()

    fps_path = _fps_path(index_dir)
    if os.path.exists(fps_path):
        old = spark.read.parquet(fps_path)
        hot = (
            old.groupBy("fp_hash")
            .count()
            .filter(F.col("count") > max_bucket_size)
            .select("fp_hash")
        )
        old_cold = old.join(hot, "fp_hash", "left_anti").select(
            F.col(id_col).alias("__old_id"), "fp_hash"
        )
        cross = (
            new_fps.join(old_cold, "fp_hash")
            .groupBy(
                F.col("id").alias("doc_id_new"),
                F.col("__old_id").alias("matched_id"),
            )
            .agg(F.count(F.lit(1)).alias("shared_fps"))
            .filter(F.col("shared_fps") >= min_shared)
        )
    else:
        cross = None

    within = substring_overlap_pairs(
        new_docs, text_col, id_col, k, window, min_shared, max_bucket_size
    ).select(
        F.col("id_b").alias("doc_id_new"),  # higher id defers to lower
        F.col("id_a").alias("matched_id"),
        "shared_fps",
    )
    matches = within if cross is None else within.unionByName(cross)
    matches = (
        matches.groupBy("doc_id_new", "matched_id")
        .agg(F.max("shared_fps").alias("shared_fps"))
        .select(F.col("doc_id_new").alias(id_col), "matched_id", "shared_fps")
    )
    survivors = new_docs.join(
        matches.select(id_col).distinct(), id_col, "left_anti"
    )
    return survivors, matches


def ingest_substring_batch(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    **kwargs,
) -> tuple[DataFrame, DataFrame]:
    """One ingest step: detect, then append the SURVIVORS' fingerprints
    to the index. Returns (survivors, matches); both are computed
    before the append so the index never contains dropped docs."""
    id_col = kwargs.get("id_col", "doc_id")
    survivors, matches = substring_dedup_against_index(
        spark, new_docs, index_dir, **kwargs
    )
    surv_fps = winnow_fingerprints(
        survivors,
        kwargs.get("text_col", "text"),
        id_col,
        kwargs.get("k", 8),
        kwargs.get("window", 4),
    ).select(F.col("id").alias(id_col), "fp_hash").distinct()
    winnow_index_append(surv_fps, index_dir, id_col)
    return survivors, matches
