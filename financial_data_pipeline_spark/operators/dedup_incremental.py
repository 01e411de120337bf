"""Incremental near-dup dedup against a persistent LSH index
(beyond-reference scope — the ingest-time shape of corpus dedup).

Batch dedup (``operators/dedup.py``) assumes the whole corpus is in
hand. A continuously-ingesting training-data pipeline instead asks, per
arriving batch: *is this document a near-duplicate of anything we have
EVER accepted?* Re-scanning the full corpus per batch is O(corpus);
this module keeps a compact on-disk index — exactly the two small
relations the LSH+verify pipeline needs:

- ``bands/``    (band, bucket, doc_id): the banded MinHash buckets,
  written partitioned by ``band`` — probing shuffles only id-sized
  rows, never text.
- ``shingles/`` (doc_id, sz, shh): sized shingle-hash rows for the
  Jaccard verifier — the only state verification needs, ~an order of
  magnitude smaller than the text.

Per batch: band the new docs (one corpus pass), hash-join their band
buckets against the index (candidates = id pairs), verify candidates
with the exact Jaccard operator over new∪matched-historical shingle
rows, then append the SURVIVORS' bands+shingles to the index. Work is
O(batch + collisions), independent of corpus size; the index is
append-only parquet, so the whole flow is a plain Structured-Streaming
``foreachBatch`` body (cf. ``streaming/dedup_stream.py`` for the exact-
hash variant).

Caller contract: ``doc_id`` is globally unique across all batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from financial_data_pipeline_spark.operators.dedup import (
    _band_rows,
    _bucket_pairs,
    _sized_hashed_shingle_rows,
    jaccard_pairs,
    minhash_signatures,
)


def banded_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 8,
    k: int = 3,
) -> DataFrame:
    """(id, band, bucket) rows — the same banding as
    ``dedup.lsh_candidates`` (xxhash64 of each band's signature slice),
    factored out so the index writer and the prober share it."""
    sigs = minhash_signatures(df, text_col, id_col, num_perm, k)
    return _band_rows(sigs, id_col, num_perm, bands)


def _index_paths(index_dir: str) -> tuple[str, str]:
    return os.path.join(index_dir, "bands"), os.path.join(index_dir, "shingles")


def index_append(
    new_docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 8,
    k: int = 3,
) -> None:
    """Append the batch's band buckets + shingle rows to the index."""
    bands_path, sh_path = _index_paths(index_dir)
    banded_rows(new_docs, text_col, id_col, num_perm, bands, k).write.mode(
        "append"
    ).partitionBy("band").parquet(bands_path)
    _sized_hashed_shingle_rows(new_docs, text_col, id_col, k).write.mode(
        "append"
    ).parquet(sh_path)


def dedup_against_index(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_perm: int = 16,
    bands: int = 8,
    k: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(survivors, matches)``.

    ``matches``: (new_id, matched_id, jaccard) — every new doc whose
    Jaccard against an indexed doc OR an earlier-id doc of the same
    batch clears ``threshold``. ``survivors``: the batch minus matched
    docs (within-batch clusters keep their lowest id).
    """
    bands_path, sh_path = _index_paths(index_dir)
    new_bands = banded_rows(new_docs, text_col, id_col, num_perm, bands, k)
    new_sh = _sized_hashed_shingle_rows(new_docs, text_col, id_col, k)

    have_index = os.path.exists(bands_path)
    if have_index:
        old_bands = spark.read.parquet(bands_path).select(
            F.col(id_col).alias("__old_id"), "band", "bucket"
        )
        cross = (
            new_bands.join(old_bands, on=["band", "bucket"], how="inner")
            .select(
                F.least(F.col(id_col), F.col("__old_id")).alias("id_a"),
                F.greatest(F.col(id_col), F.col("__old_id")).alias("id_b"),
            )
            .distinct()
        )
    else:
        cross = None

    # within-batch candidates: the capped bucket expansion of
    # lsh_candidates (a self-join here would be unguarded B² on a
    # degenerate band bucket)
    within = _bucket_pairs(
        new_bands, ["band", "bucket"], F.col(id_col), max_bucket_size=1000
    ).distinct()
    candidates = within if cross is None else within.unionByName(cross).distinct()

    # verify over new ∪ (matched historical) shingle rows — history is
    # read back semi-restricted to candidate ids only
    if cross is not None:
        cand_old = candidates.select(F.col("id_a").alias(id_col)).unionByName(
            candidates.select(F.col("id_b").alias(id_col))
        ).distinct()
        old_sh = (
            spark.read.parquet(sh_path)
            .join(cand_old, on=id_col, how="left_semi")
        )
        all_sh = new_sh.unionByName(old_sh)
    else:
        all_sh = new_sh
    pairs = jaccard_pairs(
        new_docs,  # unused when shingle_rows_df given
        id_col=id_col,
        k=k,
        threshold=threshold,
        candidates=candidates,
        shingle_rows_df=all_sh,
    )

    new_ids = new_docs.select(id_col)
    # Drop rule: a new doc is dropped when it pairs with a HISTORICAL
    # doc (either pair orientation — history always wins, ids are not
    # assumed time-ordered) or with a LOWER-id doc of its own batch
    # (within-batch clusters keep their lowest id).
    b_is_new = pairs.join(
        new_ids.withColumnRenamed(id_col, "id_b"), on="id_b", how="left_semi"
    ).select(
        F.col("id_b").alias(id_col), F.col("id_a").alias("matched_id"), "jaccard"
    )
    a_new_b_old = (
        pairs.join(
            new_ids.withColumnRenamed(id_col, "id_a"), on="id_a", how="left_semi"
        )
        .join(
            new_ids.withColumnRenamed(id_col, "id_b"), on="id_b", how="left_anti"
        )
        .select(
            F.col("id_a").alias(id_col), F.col("id_b").alias("matched_id"), "jaccard"
        )
    )
    matches = b_is_new.unionByName(a_new_b_old)
    survivors = new_docs.join(
        matches.select(id_col).distinct(), on=id_col, how="left_anti"
    )
    return survivors, matches


def ingest_batch(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_perm: int = 16,
    bands: int = 8,
    k: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Dedup the batch against the index + itself, then append the
    survivors to the index. Returns the materialized ``(survivors,
    matches)`` (materialization is required anyway: the index append
    must not race the probe that read it)."""
    survivors, matches = dedup_against_index(
        spark, new_docs, index_dir, text_col, id_col,
        threshold, num_perm, bands, k,
    )
    survivors = survivors.localCheckpoint(eager=True)
    matches = matches.localCheckpoint(eager=True)
    index_append(survivors, index_dir, text_col, id_col, num_perm, bands, k)
    return survivors, matches
