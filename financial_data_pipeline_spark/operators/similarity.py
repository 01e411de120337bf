"""Similarity search over embedding columns (beyond-reference scope).

Brute-force cosine top-k as the exact baseline, an IVF (inverted-file)
probe-limited variant as the scale path, and threshold pair-joins for
embedding near-dup detection. Embeddings are ``array<float>`` columns
(driver ``embeddings`` table: vec_id, embedding float[64], label).

All dot products are computed with ``zip_with`` + ``aggregate``
higher-order functions — JVM-side, no Python. At 1000-executor scale
the brute-force path is a broadcast of the (tiny) query vector and a
single scan; the IVF path prunes the scan to the probed partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
    )


def dot(a: str, b: str) -> Column:
    """Dot product of two array expressions given as SQL text (a column
    name, backquoted when needed, or a ``_vec_sql`` literal). One
    ``F.expr`` per primitive: building the same tree through the
    Column API cost ~25 py4j round trips per call (r10)."""
    return F.expr(_dot_sql(a, b))


def norm(a: str) -> Column:
    return F.expr(f"sqrt({_dot_sql(a, a)})")


def cosine(a: str, b: str) -> Column:
    """Cosine similarity with the zero-vector convention pinned: a
    zero-norm side yields 0.0 (treated as orthogonal), NOT 0/0 = NaN —
    NaN ordering is engine-specific in rank windows, so an all-zero
    embedding made downstream ranks nondeterministic across engines
    (fuzzed-table finding). DuckDB twin:
    ``coalesce(list_dot_product(a,b) / nullif(sqrt(list_dot_product(a,a))
    * sqrt(list_dot_product(b,b)), 0), 0)``."""
    # nullif/coalesce, not CASE WHEN: higher-order aggregate folds get
    # no common-subexpression elimination, so a WHEN guard would
    # evaluate the two norm folds twice per row
    return F.expr(
        f"coalesce({_dot_sql(a, b)} / nullif(sqrt({_dot_sql(a, a)}) * "
        f"sqrt({_dot_sql(b, b)}), 0.0D), 0.0D)"
    )


def _vec_sql(v: list[float]) -> str:
    """SQL text of a double-array literal, identical to ``F.lit([...])``
    (the D suffix keeps each element a DOUBLE, not a decimal)."""
    return "array(" + ", ".join(f"{float(x)!r}D" for x in v) + ")"


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    One scan + TakeOrdered(k) — no shuffle of the embedding column.
    Deterministic tiebreak on id.
    """
    return (
        df.select(
            F.col(id_col),
            F.round(cosine(f"`{vec_col}`", _vec_sql(query_vec)), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def ivf_build_centroids(
    df: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """IVF coarse quantizer: per-partition centroid = mean vector.

    Uses ``posexplode`` + groupBy(label, pos) + re-assemble — a single
    shuffle of (label, pos, component) triples.
    """
    dim = df.select(F.size(vec_col)).first()[0]
    exploded = df.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "v")
    )
    comp = exploded.groupBy(label_col, "pos").agg(F.avg("v").alias("c"))
    return (
        comp.groupBy(label_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            label_col,
            F.transform("pc", lambda s: s["c"]).alias("centroid"),
        )
    )


def ivf_topk(
    df: DataFrame,
    centroids: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """IVF search: probe the ``nprobe`` nearest centroids, then exact
    cosine within those partitions only.

    The centroid table is tiny (one row per coarse cell) → the probe
    set is computed driver-side; the big scan is pruned by a pushed-down
    ``label IN (…)`` filter before any vector math runs.
    """
    probe = [
        r[0]
        for r in centroids.select(
            label_col, cosine("centroid", _vec_sql(query_vec)).alias("s")
        )
        .orderBy(F.desc("s"))
        .limit(nprobe)
        .collect()
    ]
    return brute_force_topk(
        df.filter(F.col(label_col).isin(probe)), query_vec, k, vec_col, id_col
    )


def _matrix(series) -> "np.ndarray":
    """(n, dim) float64 matrix from a pandas Series of vectors."""
    import numpy as np

    return np.array(
        [np.asarray(v, dtype=np.float64) for v in series]
    ).reshape(len(series), -1)


def _unit_matrix(series) -> "np.ndarray":
    """Row-normalized :func:`_matrix`. Zero vectors normalize to NaN
    rows, which then fail every >= threshold / top-k comparison and
    exclude themselves — consistent with the cosine() zero-norm
    convention. errstate keeps the expected 0/0 from logging a warning
    per batch."""
    import numpy as np

    m = _matrix(series)
    with np.errstate(invalid="ignore", divide="ignore"):
        m /= np.linalg.norm(m, axis=1, keepdims=True)
    return m


def _broadcast_side(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cap: int,
    overflow: str,
    unit: bool,
    extras: "list[tuple[str, str]]" = (),
):
    """Collect the small side of a pair join and broadcast it as
    ``(ids, matrix, {alias: values})`` — one bounded driver action:
    ``cap + 1`` rows are fetched, and more than ``cap`` raise
    ``ValueError(overflow)`` instead of silently OOMing the driver.
    ``unit`` row-normalizes the matrix (cosine); ``extras`` lists
    (column, alias) pairs carried along as arrays."""
    pdf = (
        df.select(id_col, vec_col, *[c for c, _ in extras])
        .limit(cap + 1)
        .toPandas()
    )
    if len(pdf) > cap:
        raise ValueError(overflow)
    mat = _unit_matrix(pdf[vec_col]) if unit else _matrix(pdf[vec_col])
    side = (
        pdf[id_col].to_numpy(),
        mat,
        {al: pdf[c].to_numpy() for c, al in extras},
    )
    return df.sparkSession.sparkContext.broadcast(side)


def _topk_per_query(
    df: DataFrame, k: int, score: str = "cos_sim", id_: str = "neighbor_id"
) -> DataFrame:
    """The ≤ ``k`` rows per ``query_id`` ranked by (``score`` desc,
    ``id_`` asc) — the deterministic tie-break every top-k join
    shares."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc(id_))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def _pair_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("id_a", T.LongType(), False),
            T.StructField("id_b", T.LongType(), False),
            T.StructField("cos_sim", T.DoubleType(), False),
        ]
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    max_side_rows: int = 100_000,
) -> DataFrame:
    """Embedding near-dup pairs (id_a < id_b, cosine ≥ threshold).

    Two execution paths:

    - ``block_col`` given (LSH bucket / IVF cell — the 100 TB path):
      one shuffle on the block key, then each block computes its own
      normalized-matrix BLAS product via ``applyInPandas`` — nothing is
      collected to the driver and nothing is broadcast; pairs are only
      sought within a block. Rows sharing exactly one block produce no
      duplicate pairs.
    - no ``block_col`` (exact all-pairs — small corpora only): the
      comparison side is collected to a normalized numpy matrix and
      broadcast; each Arrow batch of the scan side computes one BLAS
      product and emits only above-threshold pairs. Guarded by
      ``max_side_rows``: collecting more raises instead of silently
      OOMing the driver — callers past the cap must supply a
      ``block_col``.

    (A per-pair ``zip_with``/``aggregate`` expression join evaluates the
    dot product row-at-a-time — measured ~100× slower at 2k vectors.)
    """
    import numpy as np
    import pandas as pd

    def emit(a_ids, a_mat, b_ids, b_mat) -> pd.DataFrame:
        sims = a_mat @ b_mat.T
        mask = (sims >= threshold) & (a_ids[:, None] < b_ids[None, :])
        ai, bj = np.nonzero(mask)
        return pd.DataFrame(
            {
                "id_a": a_ids[ai],
                "id_b": b_ids[bj],
                "cos_sim": np.round(sims[ai, bj], 6),
            }
        )

    if block_col is not None:

        def block_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf[id_col].to_numpy()
            mat = _unit_matrix(pdf[vec_col])
            return emit(ids, mat, ids, mat)

        return (
            df.select(id_col, vec_col, block_col)
            .groupBy(block_col)
            .applyInPandas(block_kernel, _pair_schema())
        )

    bc = _broadcast_side(
        df,
        id_col,
        vec_col,
        max_side_rows,
        f"cosine_pairs comparison side exceeds max_side_rows="
        f"{max_side_rows}; supply block_col (e.g. an lsh_bucket "
        f"column) for the blocked scale path",
        unit=True,
    )

    def kernel(batches):
        ids_b, mat_b, _ = bc.value
        for pdf in batches:
            yield emit(
                pdf[id_col].to_numpy(), _unit_matrix(pdf[vec_col]), ids_b, mat_b
            )

    return df.select(id_col, vec_col).mapInPandas(kernel, _pair_schema())


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_query_rows: int = 10_000,
) -> DataFrame:
    """Batch k-NN join: the top-k corpus neighbors for EVERY query row.

    Output: (query_id, neighbor_id, cos_sim rounded 6), ≤ k rows per
    query, ranked by (rounded cos desc, neighbor_id asc) — rounding
    BEFORE ranking makes the tie-break reproducible across engines
    (same trick as ``brute_force_topk``).

    Execution: the query side is collected (guarded by
    ``max_query_rows``) and broadcast as one normalized matrix; each
    Arrow batch of the corpus computes a batch × |Q| BLAS product and
    emits only its LOCAL top-k per query; a final window keeps the
    global top-k. Shuffled rows are O(batches · k · |Q|) — the full
    similarity matrix never materializes, and the corpus is scanned
    once with no shuffle of the embedding column.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    bq = _broadcast_side(
        queries,
        id_col,
        vec_col,
        max_query_rows,
        f"knn_join query side exceeds max_query_rows={max_query_rows}; "
        f"split the query set or use an ANN index (ivf_topk/lsh_ann_topk)",
        unit=True,
    )

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("neighbor_id", T.LongType(), False),
            T.StructField("cos_sim", T.DoubleType(), False),
        ]
    )

    def kernel(batches):
        qids, qmat, _ = bq.value
        nq = len(qids)
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            mat = _unit_matrix(pdf[vec_col])
            sims = np.round(mat @ qmat.T, 6)  # (batch, nq), rank on rounded
            kk = min(k, len(ids))
            # per query: local top-k by (sim desc, id asc)
            order = np.lexsort((ids[:, None].repeat(nq, 1), -sims), axis=0)[:kk]
            rows = {
                "query_id": np.repeat(qids[None, :], kk, 0).ravel(),
                "neighbor_id": ids[order].ravel(),
                "cos_sim": np.take_along_axis(sims, order, axis=0).ravel(),
            }
            yield pd.DataFrame(rows)

    local = corpus.select(id_col, vec_col).mapInPandas(kernel, schema)
    return _topk_per_query(local, k)


def lsh_bucket(vec: str, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit i = sign(vec · plane_i),
    ``vec`` given as SQL text (see :func:`dot`).

    ``planes`` are fixed (seeded) hyperplanes supplied by the caller so
    the bucketing is deterministic and oracle-reproducible. One expr
    for the whole bucket id:
    0 + Σ_i CASE WHEN dot(vec, plane_i) >= 0 THEN 2^i ELSE 0 END.
    """
    terms = " + ".join(
        f"(CASE WHEN {_dot_sql(vec, _vec_sql([float(x) for x in p]))} >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return F.expr(f"0 + {terms}" if terms else "0")


#: Measured base point of the LSH plane schedule (SCALING.md /
#: RUNBOOK.md "planes ≈ 4 + log2(k)"): 4 planes at the 500-vector base
#: corpus keep expected block size ≈ 31 rows; each corpus doubling adds
#: one plane so Σ_b n_b² stays linear in the corpus. MAX_PLANES bounds
#: the bucket id to a comfortable int range (2^24 buckets).
BASE_CORPUS_ROWS = 500
BASE_PLANES = 4
MAX_PLANES = 24


def plane_schedule(n_rows: int) -> int:
    """Plane count for an ``n_rows`` corpus on the measured schedule:
    ``min(24, BASE_PLANES + max(0, floor(log2(n/base) + 0.5)))``.

    floor(x + 0.5) — not banker's ``round`` — so the DuckDB oracle's
    arithmetic twin (`floor(log2(...) + 0.5)`) is literally the same
    function; measured sub-linear 41–55× at 128× data under this
    schedule (SCALING.md deep points)."""
    import math

    if n_rows <= 0:
        return BASE_PLANES
    grow = math.floor(math.log2(n_rows / BASE_CORPUS_ROWS) + 0.5)
    return min(MAX_PLANES, BASE_PLANES + max(0, grow))


def derived_planes(
    df: "DataFrame | None" = None,
    *,
    n_rows: int | None = None,
    dim: int | None = None,
    vec_col: str = "embedding",
    seed: int = 7,
) -> list[list[float]]:
    """Seeded hyperplanes sized by :func:`plane_schedule` — the
    default a 100 TB caller should use so blocked-pair cost stays
    linear without hand-tuning: pass either the corpus frame (one
    ``count()`` job, plus one ``first()`` if ``dim`` is omitted) or a
    known/estimated ``n_rows`` + ``dim`` for a zero-job derivation."""
    if n_rows is None:
        if df is None:
            raise ValueError("pass df or n_rows")
        n_rows = df.count()
    if dim is None:
        if df is None:
            raise ValueError("pass dim when deriving from n_rows alone")
        probe = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
        dim = len(probe[0]) if probe is not None else 0
    return seeded_planes(plane_schedule(n_rows), dim, seed=seed)


def seeded_planes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic random hyperplanes, rounded to 6 decimals so the
    identical literals can be embedded in an oracle SQL string (both
    engines then fold the same doubles in the same order — the
    sign(dot) bucketing is bit-reproducible)."""
    import random

    rng = random.Random(seed)
    return [
        [round(rng.gauss(0.0, 1.0), 6) for _ in range(dim)] for _ in range(n_planes)
    ]


def lsh_ann_topk(
    df: DataFrame,
    planes: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k restricted to the query's LSH bucket.

    The scale path for similarity search without a labeled partition
    (cf. ``ivf_topk``): the bucket predicate is an ordinary column
    filter, so at 100 TB the scan prunes to ~1/2^planes of the corpus
    before any distance math; TakeOrdered(k) on the survivors — no
    shuffle of the embedding column. Recall is tunable via multi-probe
    (union of neighboring buckets) — single-probe here.
    """
    qb = 0
    for i, p in enumerate(planes):
        if sum(float(a) * float(b) for a, b in zip(query_vec, p)) >= 0:
            qb |= 1 << i
    bucketed = df.filter(lsh_bucket(f"`{vec_col}`", planes) == F.lit(qb))
    return brute_force_topk(bucketed, query_vec, k, vec_col, id_col)


def lsh_topk_join(
    corpus: DataFrame,
    planes: list[list[float]],
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_bits: int = 0,
) -> DataFrame:
    """Set-based ANN: top-k neighbors for EVERY query row, restricted
    to each query's LSH bucket (the batch form of ``lsh_ann_topk``).

    Output: (query_id, neighbor_id, cos_sim rounded 6), ranked by
    (rounded cos desc, neighbor_id asc) — identical tie semantics to
    ``knn_join``, so the two are directly comparable for recall.

    ``probe_bits``: multi-probe width. 0 probes only the query's own
    bucket; 1 additionally probes every bucket at Hamming distance 1
    (each sign bit flipped once) — 1 + n_planes probes per query,
    recovering neighbors that fell just across one hyperplane. The
    probe buckets are distinct values and each corpus row holds ONE
    bucket, so a candidate matches at most one probe — no dedup pass
    is needed. Recall rises (measurably — see ``recall_at_k``) at the
    cost of scanning ~(1+n_planes)/2^planes of the corpus per query.

    Execution: one corpus scan computing the bucket expression, hash
    join on the 64-bit bucket key against the (broadcast, probe-
    exploded) bucketed query side, distance math only on in-bucket
    survivors — the candidate frame stays small and the per-query
    top-k window never sees the full corpus. No shuffle of the corpus
    embedding column (the join key is the bucket int; candidates
    shuffle only for the final window).
    """
    if probe_bits not in (0, 1):
        raise ValueError("probe_bits must be 0 or 1")
    bucketed = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        lsh_bucket(f"`{vec_col}`", planes).alias("__bucket"),
    )
    qb = lsh_bucket(f"`{vec_col}`", planes)
    probes = F.array(
        qb,
        *(
            [qb.bitwiseXOR(F.lit(1 << i)) for i in range(len(planes))]
            if probe_bits
            else []
        ),
    )
    qside = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.explode(probes).alias("__qbucket"),
    )
    cand = bucketed.join(
        F.broadcast(qside), F.col("__bucket") == F.col("__qbucket")
    ).select(
        "query_id",
        "neighbor_id",
        F.round(cosine("__cv", "__qv"), 6).alias("cos_sim"),
    )
    return _topk_per_query(cand, k)


def recall_at_k(
    exact: DataFrame, ann: DataFrame, k: int
) -> DataFrame:
    """Measured recall@k of an ANN result against the exact result —
    the "measure, don't guess" harness for the ANN stack.

    Both inputs are (query_id, neighbor_id, ...) top-k frames (e.g.
    ``knn_join`` as exact, ``lsh_topk_join`` as ANN). Output one row
    per query: (query_id, hits, recall) with recall = hits / k.

    The overlap join runs on the tiny top-k frames (≤ k rows per
    query), never the corpus: cost is O(queries · k) regardless of
    corpus size, so recall can be re-measured continuously as the
    index parameters (planes, nprobe, bands) are tuned.

    The ``exact`` frame is consumed by TWO subtrees (the overlap join
    and the per-query denominator), so its generator (typically the
    ``knn_join`` corpus scan) plans twice. A localCheckpoint pin was
    tried here (r9) and REVERTED on full-bench evidence: the pinned
    family ran ~1.4× its unpinned steady-state (checkpoint
    materialization loses AQE and breaks the shared python-worker
    warm path), even though isolated cold profiles looked better —
    the double-planned subtree deduplicates well under AQE + codegen.
    """
    exact_ids = exact.select("query_id", "neighbor_id")
    pairs = exact_ids.join(
        ann.select("query_id", "neighbor_id"),
        on=["query_id", "neighbor_id"],
    )
    hits = pairs.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("hits")
    )
    all_q = exact_ids.select("query_id").distinct()
    return (
        all_q.join(hits, on="query_id", how="left")
        .na.fill({"hits": 0})
        .select(
            "query_id",
            "hits",
            F.round(F.col("hits") / F.lit(float(k)), 4).alias("recall"),
        )
    )


def ivf_topk_join(
    corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Set-based IVF ANN: top-k neighbors for EVERY query row, scanning
    only each query's ``nprobe`` nearest centroid cells (the batch form
    of ``ivf_topk`` — no driver-side probe collect, so it composes into
    one lazy plan and works for query sets of any size).

    Output: (query_id, neighbor_id, cos_sim rounded 6), ranked by
    (rounded cos desc, neighbor_id asc) — ``knn_join`` tie semantics,
    directly comparable for recall.

    Execution: probe selection is a (queries × centroids) broadcast
    crossJoin + per-query window (centroid table is one row per cell —
    tiny); the corpus then hash-joins the probe frame on the cell
    label, so only rows in probed cells reach the distance math. The
    corpus embedding column never shuffles; candidates (~nprobe/cells
    of the corpus per query) shuffle for the final top-k window.
    """
    qside = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    cent = centroids.select(
        F.col(label_col).alias("__cl"), F.col("centroid").alias("__cv")
    )
    probes = _topk_per_query(
        qside.crossJoin(F.broadcast(cent)).select(
            "query_id",
            "__qv",
            "__cl",
            cosine("__cv", "__qv").alias("__cs"),
        ),
        nprobe,
        "__cs",
        "__cl",
    ).select("query_id", "__qv", "__cl")
    cand = corpus.join(
        F.broadcast(probes), F.col(label_col) == F.col("__cl")
    ).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(cosine(f"`{vec_col}`", "__qv"), 6).alias("cos_sim"),
    )
    return _topk_per_query(cand, k)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    max_side_rows: int = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: ``df`` minus embedding
    near-duplicates — within each connected component of the
    cosine≥threshold pair graph only the min-id row survives.

    Composition of the shipped pieces: ``cosine_pairs`` (blocked BLAS
    kernels when ``block_col`` is given — the 100 TB path; guarded
    exact all-pairs otherwise) → ``dedup.dedup_clusters`` (size-
    adaptive connected components) → anti-join of the cluster losers.
    The pair graph is tiny relative to the corpus (near-dups are the
    exception), so everything after the pair join is O(pairs).
    """
    from financial_data_pipeline_spark.operators.dedup import dedup_clusters

    pairs = cosine_pairs(
        df, threshold, vec_col, id_col, block_col, max_side_rows
    )
    clusters = dedup_clusters(pairs)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# Int8 scalar quantization (storage-compressed ANN with exact rerank)
# ---------------------------------------------------------------------------


def embedding_minmax(
    df: DataFrame, vec_col: str = "embedding", dim: int = 64
) -> tuple[list[float], list[float]]:
    """Per-dimension global (min, max) of the corpus — the scalar-
    quantization codebook. ONE aggregate job with 2·dim partial-agg
    expressions (map-side combined, shuffle carries 2·dim doubles
    total); the result is a ~1 KB broadcastable literal, recomputed
    only when the corpus is re-ingested."""
    row = df.agg(
        *[
            F.min(F.col(vec_col)[i].cast("double")).alias(f"lo{i}")
            for i in range(dim)
        ],
        *[
            F.max(F.col(vec_col)[i].cast("double")).alias(f"hi{i}")
            for i in range(dim)
        ],
    ).first()
    lo = [row[f"lo{i}"] for i in range(dim)]
    hi = [row[f"hi{i}"] for i in range(dim)]
    return lo, hi


def _lit_arr(vals: list[float]) -> Column:
    # ONE Literal node holding the whole array (r9, guide §7.3): the
    # former per-element F.array(*[F.lit(v), ...]) built dim expression
    # nodes per use — with dim=64 and several uses per plan, literal
    # construction+analysis was a measurable slice of plan build time.
    # Values and element type (array<double>) are identical.
    return F.lit([float(v) for v in vals])


def quantize_codes(
    vec: Column, lo: list[float], hi: list[float]
) -> Column:
    """uint8 code per dimension: floor((x−lo)·255/(hi−lo) + 0.5),
    clamp-free because x ∈ [lo, hi] by construction. Pure codegen
    ``transform``; persisted as an int array (1 byte of information
    per dim — 8× smaller than float64, the artifact a 100 TB corpus
    stores NEXT to (not instead of) the full-precision vectors)."""
    lo_a, hi_a = _lit_arr(lo), _lit_arr(hi)

    def enc(x: Column, i: Column) -> Column:
        l = F.element_at(lo_a, i + 1)
        h = F.element_at(hi_a, i + 1)
        return (
            F.when(h == l, F.lit(0))
            .otherwise(
                F.floor((x.cast("double") - l) * F.lit(255.0) / (h - l) + F.lit(0.5))
            )
            .cast("int")
        )

    return F.transform(vec, enc)


def dequantize(codes: Column, lo: list[float], hi: list[float]) -> Column:
    """Reconstruction: lo + code·((hi−lo)/255). Deterministic double
    arithmetic — the oracle twin evaluates the identical expression."""
    lo_a, hi_a = _lit_arr(lo), _lit_arr(hi)

    def dec(c: Column, i: Column) -> Column:
        l = F.element_at(lo_a, i + 1)
        h = F.element_at(hi_a, i + 1)
        return l + c.cast("double") * ((h - l) / F.lit(255.0))

    return F.transform(codes, dec)


def quantized_topk_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    mult: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k over int8-quantized codes with exact float rerank.

    The 100 TB storage/scan trade: the scan phase reads ONLY the
    quantized code table (4–8× smaller than the float vectors, so the
    dominating cost — bytes off the object store — drops by the same
    factor); full-precision vectors are fetched by id for just the
    k·mult candidates per query, then reranked exactly. Output and
    ranking contract identical to ``knn_join``/``lsh_topk_join``:
    (query_id, neighbor_id, cos_sim rounded 6), (rounded desc, id asc).

    Phases (all declarative, one corpus scan + one candidate join):
    1. codebook: per-dim min/max (one agg, ~1 KB literal);
    2. candidate gen: cosine on DEQUANTIZED codes vs the broadcast
       dequantized query rows, window top-(k·mult) per query;
    3. rerank: candidates join back to the corpus by id (row lookups,
       not a scan) + exact cosine on the original floats.
    """
    lo, hi = embedding_minmax(corpus, vec_col, dim)
    codes = corpus.select(
        F.col(id_col), quantize_codes(F.col(vec_col), lo, hi).alias("code")
    )
    qside = queries.select(
        F.col(id_col).alias("query_id"),
        dequantize(
            quantize_codes(F.col(vec_col), lo, hi), lo, hi
        ).alias("qdv"),
    ).withColumn("qnorm", norm("qdv"))
    # Decode once per corpus row (projection), not once per (row, query)
    # pair; norms are loop-invariant per side, so the only per-pair fold
    # left is the dot product.
    decoded = codes.select(
        F.col(id_col), dequantize(F.col("code"), lo, hi).alias("dv")
    ).withColumn("dnorm", norm("dv"))
    approx = decoded.crossJoin(F.broadcast(qside)).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(
            dot("dv", "qdv") / (F.col("dnorm") * F.col("qnorm")), 6
        ).alias("approx_sim"),
    )
    cand = _topk_per_query(approx, k * mult, "approx_sim").select(
        "query_id", "neighbor_id"
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    rer = (
        cand.join(
            corpus.select(F.col(id_col).alias("neighbor_id"), vec_col),
            on="neighbor_id",
        )
        .join(F.broadcast(qvec), on="query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(f"`{vec_col}`", "qv"), 6).alias("cos_sim"),
        )
    )
    return _topk_per_query(rer, k)


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest centroid (squared L2) —
    the map side of Lloyd's algorithm as pure JVM expressions: one
    ``zip_with``+``aggregate`` fold per centroid (k folds total,
    broadcast as literals), argmin via ``array_min`` over
    (dist, index) structs so ties break on the LOWEST index
    deterministically. Adds ``cluster`` and ``sq_dist``; no shuffle,
    no Python."""
    # One transform over an array of k single-Literal centroid rows
    # (r9, guide §7.3 — planning time was the bottleneck): the former
    # per-centroid loop built k separate zip_with folds over k·dim
    # F.lit nodes (k=8, dim=64 → ~4k expression nodes per assignment,
    # and lloyd_kmeans builds iters+1 assignments), so driver-side
    # construction+analysis dominated the query. Each element of the
    # transform applies the IDENTICAL fold in the identical order
    # ((a-b)² in dim order, summed left-to-right), and the index `i`
    # arrives as the transform's index instead of a literal — argmin
    # over (d, i) structs is unchanged, so assignments and distances
    # are bit-equal (pinned by the NumPy differential test).
    cmat = F.array(*[F.lit([float(x) for x in c]) for c in centroids])
    best = F.array_min(
        F.transform(
            cmat,
            lambda c, i: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col), c, lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("d"),
                i.alias("i"),
            ),
        )
    )
    return df.withColumn("__best", best).select(
        "*",
        F.col("__best.i").alias("cluster"),
        F.col("__best.d").alias("sq_dist"),
    ).drop("__best")


def lloyd_kmeans(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_decimals: int | None = None,
) -> tuple[DataFrame, list[list[float]]]:
    """Distributed Lloyd k-means over an embedding column — the
    document-clustering primitive (topic buckets for mixture planning,
    cluster-balanced sampling, SemDeDup-style per-cluster dedup all
    consume the assignment).

    Deterministic by construction — no RNG: init takes the vectors of
    the k LOWEST ids (a fixed, reproducible choice; k-means++ would
    need a seeded RNG whose stream no SQL twin reproduces). Each
    iteration is one job: assignment is the broadcast-literal
    expression fold of :func:`kmeans_assign` (no shuffle), the
    recompute is ``posexplode`` + groupBy(cluster, dim) means —
    shuffle keyed on (cluster, dim), i.e. k·dim groups regardless of
    corpus size. Driver traffic per round is the k·dim centroid
    matrix (the same bounded-codebook pattern as IVF/PQ training).
    An emptied cluster keeps its previous centroid.

    Returns (assigned frame with ``cluster``/``sq_dist``, final
    centroid matrix). Verified by differential test against a NumPy
    Lloyd reference (tests/test_llm_ops.py); with
    ``centroid_decimals`` set, each driver-hop centroid mean is
    rounded to that many decimals — the per-(cluster, dim) mean is an
    unordered float sum whose ulps differ per engine, and rounding
    pins the iterate so an unrolled recursive SQL twin (the pagerank
    device) replays the identical trajectory."""
    # cache the projected working set once: every Lloyd round reads it
    # twice (assign + recompute), and without the cache each round
    # re-scans the source — at 100 TB that is 2·iters full scans.
    # MEMORY_AND_DISK spill keeps this safe when the projection
    # exceeds executor memory.
    work = df.select(id_col, vec_col).persist()
    try:
        init_rows = work.orderBy(id_col).limit(k).collect()
        centroids = [list(map(float, r[1])) for r in init_rows]
        if len(centroids) < k:
            raise ValueError(
                f"need at least k={k} vectors, got {len(centroids)}"
            )
        # the pin must be ENGINE-side (F.round), not Python round():
        # Spark round and DuckDB round agree across the whole green
        # query suite, while Python's banker's rounding disagrees with
        # both just below decimal half boundaries — a data-dependent
        # flake the oracle twin would eventually hit
        mean_col = F.avg("col")
        if centroid_decimals is not None:
            mean_col = F.round(mean_col, centroid_decimals)
        for _ in range(iters):
            assigned = kmeans_assign(work, centroids, vec_col)
            sums = (
                assigned.select("cluster", F.posexplode(vec_col))
                .groupBy("cluster", "pos")
                .agg(mean_col.alias("m"))
                .collect()
            )
            new_c = [list(c) for c in centroids]  # empty cluster keeps old
            by_cluster: dict[int, dict[int, float]] = {}
            for r in sums:
                by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
            for ci, dims in by_cluster.items():
                new_c[ci] = [dims[p] for p in sorted(dims)]
            centroids = new_c
        # final assignment joins back any extra caller columns
        return kmeans_assign(df, centroids, vec_col), centroids
    finally:
        work.unpersist()


def embedding_pca_spectrum(
    df: DataFrame,
    vec_col: str = "embedding",
    top_k: int = 10,
) -> DataFrame:
    """PCA eigen-spectrum of an embedding column: top-k eigenvalues of
    the covariance matrix with explained-variance ratios — the
    dimensionality health-check (anisotropy / collapsed-dimension
    detection) run before whitening or compressing a corpus.

    Plan: one ``mapInPandas`` pass emits per-batch BLAS partials
    (count, sum vector, flattened VᵀV Gram — O(d²) doubles per batch,
    independent of rows); a posexplode + groupBy(pos) sums them
    distributively; the d×d eigendecomposition runs on the driver over
    exactly d²+d+1 collected doubles (the same bounded-collect
    contract as the IVF codebooks — d is a schema constant, never
    data-sized). Eigenvalues are unique up to summation order; the
    driver reduction sorts partials by position so the fold is
    deterministic."""
    import numpy as np
    import pandas as pd

    part_schema = "n long, s array<double>, g array<double>"

    def kernel(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.vstack(pdf["__v"].to_numpy()).astype("float64")
            yield pd.DataFrame(
                {
                    "n": [V.shape[0]],
                    "s": [V.sum(axis=0).tolist()],
                    "g": [(V.T @ V).ravel().tolist()],
                }
            )

    base = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(vec_col).alias("__v")
    )
    parts = base.mapInPandas(kernel, part_schema)
    summed = (
        parts.select(
            "n", F.posexplode(F.concat(F.col("s"), F.col("g")))
        )
        .groupBy("pos")
        .agg(F.sum("col").alias("v"), F.sum("n").alias("n"))
    )
    rows = summed.orderBy("pos").collect()  # bounded: d² + d rows
    if not rows:
        raise ValueError("embedding_pca_spectrum: no vectors")
    n = rows[0]["n"]  # total count, replicated per pos
    flat = np.array([r["v"] for r in rows])
    d = int((-1 + np.sqrt(1 + 4 * len(flat))) / 2)
    s, g = flat[:d], flat[d:].reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    evals = np.linalg.eigvalsh(cov)[::-1]
    total = float(evals.sum())
    k = min(top_k, d)
    out = pd.DataFrame(
        {
            "component": np.arange(1, k + 1, dtype="int64"),
            "eigenvalue": np.round(evals[:k], 8),
            "explained_ratio": np.round(evals[:k] / total, 6),
            "cum_ratio": np.round(np.cumsum(evals[:k]) / total, 6),
        }
    )
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    return spark.createDataFrame(out)


def mmr_diverse_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    pool: int = 50,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: greedy top-k that trades
    relevance against redundancy — score(d) = λ·cos(q, d) − (1−λ)·
    max_{s∈selected} cos(d, s). The de-duplicating retrieval layer RAG
    stacks put between ANN and the context window.

    Plan shape (the production shape): the DISTRIBUTED stage is the
    relevance scan — cosine against the broadcast query vector, top
    ``pool`` via TakeOrdered (no global sort). The greedy selection is
    inherently sequential in k, so it runs on the driver over the
    bounded pool (``pool`` × d doubles — the IVF-codebook collect
    contract), in numpy. Ties break by vec_id ascending, pinned on
    both paths."""
    import numpy as np
    import pandas as pd

    pool_rows = (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("__v"),
            cosine(f"`{vec_col}`", _vec_sql(query_vec)).alias("rel"),
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(pool)
        .collect()  # bounded: pool rows
    )
    ids = np.array([r["vec_id"] for r in pool_rows])
    rel = np.array([r["rel"] for r in pool_rows])
    V = np.array([r["__v"] for r in pool_rows], dtype="float64")
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sim = Vn @ Vn.T
    n = len(ids)
    selected: list[int] = []
    avail = np.ones(n, dtype=bool)
    for _ in range(min(k, n)):
        if selected:
            red = sim[:, selected].max(axis=1)
        else:
            red = np.zeros(n)
        # pin BEFORE ranking (repo convention: rerank_topk 6dp,
        # lof 8dp): near-tied candidates then TIE exactly in every
        # engine and fall through to the vec_id break, instead of
        # ordering on BLAS-vs-fold ulp noise. The key is the SAME
        # IEEE expression the DuckDB twin orders by —
        # floor(score*1e9 + 0.5) — not np.round, whose banker's
        # half-to-even disagrees with SQL round() exactly on the
        # half boundaries the pin is meant to neutralize.
        score = np.floor((lam * rel - (1.0 - lam) * red) * 1e9 + 0.5)
        # deterministic: best key, then lowest vec_id
        order = np.lexsort((ids, -score))
        pick = next(i for i in order if avail[i])
        avail[pick] = False
        selected.append(pick)
    out = pd.DataFrame(
        {
            "rank": np.arange(1, len(selected) + 1, dtype="int64"),
            "vec_id": ids[selected],
            "relevance": np.round(rel[selected], 6),
            "mmr_score": np.round(
                [
                    lam * rel[i]
                    - (1.0 - lam)
                    * (sim[i, selected[:j]].max() if j else 0.0)
                    for j, i in enumerate(selected)
                ],
                6,
            ),
        }
    )
    from pyspark.sql import SparkSession

    return SparkSession.getActiveSession().createDataFrame(out)


# Default hot-block cap for the blocked all-pairs family. Σ_b n_b² with
# n_b ≤ 4096 keeps every per-block pair frame under ~17M rows (seconds
# of work per block on one core, safely in memory); an 80%-hot bucket
# at corpus scale would otherwise re-create the n² the blocking exists
# to avoid. Oversized blocks are subdivided with extra seeded
# hyperplane bits — see ``_distance_pairs``. Opt out with
# ``max_block_rows=0``.
DEFAULT_MAX_BLOCK_ROWS = 4096

# Subdivision signature parameters — imported by the driver queries'
# DuckDB oracle builder (driver_queries._pair_sub_planes) so the two
# engines can never silently desynchronize on plane count or seed.
SUBDIV_PLANES = 16
SUBDIV_SEED = 104729

# Hot-block guard driver bound: at most this many oversized-block
# (key, count) rows are ever collect()ed to plan the subdivision as a
# driver-built broadcast. A corpus whose blocking scheme leaves MORE
# oversized blocks than this (e.g. a mis-sized IVF grid at 100 TB)
# switches to a fully distributed plan — the sizes aggregate is
# shuffle-joined and the bits computed JVM-side — so the driver never
# holds O(#blocks) state regardless of block-key cardinality.
HOT_COLLECT_CAP = 8192


def _distance_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    block_col: str | None,
    max_rows: int,
    caller: str,
    extra_cols: "dict[str, str] | None" = None,
    max_block_rows: int | None = None,
    dim: int | None = None,
    topk: int | None = None,
) -> DataFrame:
    """The shared pair frame of the all-pairs family (LOF, silhouette,
    kNN accuracy): (i, j, d[, extras]) with the Euclidean distance
    ROUNDED to 8 dp BEFORE any ranking so (d, neighbor) tie-breaks are
    engine-reproducible.

    ``topk``: when the CALLER only consumes the k nearest rows per
    ``i`` (LOF / kNN — a ``row_number() ≤ k`` window over (d, j)),
    pass ``topk=k`` and the kernel emits only the per-``i`` candidate
    set that can reach that window's top k (raw kth distance + a 2e-8
    margin covering the 8-dp rounding — see ``topk_keep`` below):
    O(n·k) rows cross the Python boundary and the downstream shuffle
    instead of O(n²), with a provably identical window result.

    Two execution paths, the same split as ``cosine_pairs``:

    - ``block_col`` given (LSH bucket / IVF cell — the 100 TB path):
      an ordinary equi-join on the block key plus ``i != j`` — pairs
      exist only within a block, cost Σ_b n_b², sub-quadratic whenever
      the blocking scheme bounds n_b (add hyperplanes / centroids as
      the corpus grows). No driver action, no broadcast of the corpus.
    - no ``block_col`` (exact all-pairs): O(n²) broadcast-nested-loop,
      hard-guarded by ``max_rows`` (one count) — past the cap the
      caller must supply a block column.

    ``extra_cols`` maps extra input columns to (a-side alias, b-side
    alias) pairs encoded as "a_alias,b_alias"; pass "" to skip a side.

    NULL vectors are dropped up front: a null embedding would yield
    NULL distances, and Spark windows sort NULLS FIRST while SQL twins
    sort them last — the one asymmetry that could poison a kNN edge
    list. A vectorless row has no geometry; it belongs in no
    neighborhood.

    ``max_block_rows`` (blocked path only) is the HOT-BLOCK guard: a
    single block holding a large share of the corpus turns Σ n_b² into
    the very n² the blocking exists to avoid. Block sizes are counted
    (one aggregate) and every oversized block is SUBDIVIDED by
    ceil(log2(n_b / cap)) extra seeded-hyperplane bits on the vectors
    themselves — expected child size ≈ cap, cost stays Σ cap·n_b ≈
    linear. Subdivision tightens the neighborhood approximation exactly
    the way growing the plane count with the corpus does (the
    documented deployment schedule); truly coincident vectors are the
    one layout hyperplanes cannot split — those are genuine n² neighbor
    sets, not a partitioning artifact.

    The guard is ON BY DEFAULT at ``DEFAULT_MAX_BLOCK_ROWS`` (None
    inherits it): a user calling the blocked path at 100 TB must not
    need to know about hot buckets to survive one (measured 101 s →
    16 s at an 80%-hot block, SKEW.md). Pass ``max_block_rows=0`` to
    explicitly disable (exact block-local semantics regardless of
    size).

    The guard is ADAPTIVE: one cheap count-by-block aggregate decides
    whether any block actually exceeds the cap, and the subdivision
    machinery (16-plane signature + sizes join) is built only then — a
    healthy layout pays one partial-agg scan, not a per-row hash and an
    extra join (measured 2.5–2.9× on the uniform-layout bench when the
    machinery ran unconditionally). Same AQE philosophy: decide from
    observed sizes, not from hopes about the data.
    """
    df = df.filter(F.col(vec_col).isNotNull())
    par = df.sparkSession.sparkContext.defaultParallelism
    extra = extra_cols or {}

    if block_col is not None and max_block_rows is None:
        max_block_rows = DEFAULT_MAX_BLOCK_ROWS
    if block_col is not None and max_block_rows is not None and max_block_rows > 0:
        # ONE aggregate job decides AND carries the subdivision plan:
        # collect only the OVERSIZED blocks' (key, count) — rare by
        # construction for LSH/IVF layouts sized per the runbook (the
        # guard exists because hot blocks are the exception). The
        # collect is BOUNDED at ``HOT_COLLECT_CAP`` rows: a general
        # blocked corpus (e.g. a mis-sized IVF grid where thousands of
        # cells modestly exceed the cap) must not turn the guard into
        # an unbounded driver fetch. Past the cap the bits map stays
        # DISTRIBUTED — the same sizes aggregate is joined to the
        # corpus and the subdivision bits are computed JVM-side, at the
        # cost of one extra shuffle join instead of a broadcast.
        hot_agg = (
            df.groupBy(block_col)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_block_rows)
        )
        hot = hot_agg.limit(HOT_COLLECT_CAP + 1).collect()
        needs_subdivision = bool(hot)
        bits_df = None
        if needs_subdivision and dim is None:
            # one bounded probe job just to learn the vector width —
            # pass ``dim`` (a schema constant) to skip it
            probe = df.select(vec_col).first()
            dim = len(probe[0]) if probe is not None else None
        if needs_subdivision and dim is not None:
            import math

            sig = lsh_bucket(
                f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)",
                seeded_planes(SUBDIV_PLANES, dim, seed=SUBDIV_SEED),
            )
            if len(hot) <= HOT_COLLECT_CAP:
                bits_rows = [
                    (
                        r[block_col],
                        max(
                            0,
                            math.ceil(
                                math.log2(r["__n"] / float(max_block_rows))
                            ),
                        ),
                    )
                    for r in hot
                    if r[block_col] is not None  # null never equi-joins
                ]
                if bits_rows:
                    bits_df = F.broadcast(
                        df.sparkSession.createDataFrame(
                            bits_rows, [block_col, "__bits"]
                        )
                    )
            else:
                # distributed fallback: too many oversized blocks for a
                # driver round-trip — same bits formula, computed in
                # the sizes aggregate and shuffle-joined (AQE may still
                # pick broadcast if the aggregate turns out small)
                bits_df = hot_agg.filter(
                    F.col(block_col).isNotNull()
                ).select(
                    block_col,
                    F.greatest(
                        F.lit(0),
                        F.ceil(
                            F.log2(
                                F.col("__n")
                                / F.lit(float(max_block_rows))
                            )
                        ),
                    )
                    .cast("int")
                    .alias("__bits"),
                )
        if bits_df is not None:
            df = (
                # left join: cold blocks (and null keys) keep bits=0 —
                # their sub-block key equals the original block key
                df.join(bits_df, on=block_col, how="left")
                .withColumn(
                    "__bits", F.coalesce(F.col("__bits"), F.lit(0))
                )
                .withColumn(
                    "__blk_sub",
                    # a null block key stays null (it never equi-joins,
                    # so its rows pair with nothing — same as the plain
                    # blocked path); concat_ws would silently collapse
                    # it into a real sub-key
                    F.when(
                        F.col(block_col).isNull(), F.lit(None)
                    ).otherwise(
                        F.concat_ws(
                            ":",
                            F.col(block_col).cast("string"),
                            F.pmod(
                                sig,
                                F.pow(F.lit(2.0), F.col("__bits")).cast("long"),
                            ).cast("string"),
                        )
                    ),
                )
                .drop("__bits")
            )
            block_col = "__blk_sub"

    # ------------------------------------------------------------------
    # Pair generation (r9 optimization, guide §4.2): the per-pair
    # distance used to be a JVM zip_with+aggregate fold
    # evaluated on every row of an n² join — higher-order-function
    # expressions are interpreted per element, so the fold dominated
    # every all-pairs query (measured: lof_outliers 3.37 s at sf0.1,
    # ~85% in the fold stage). Both paths now compute distances in a
    # NumPy kernel that replays the IDENTICAL IEEE operation sequence —
    # acc = 0.0; for each dim t in order: acc += (a_t − b_t)·(a_t − b_t);
    # sqrt — so every raw distance double is bit-identical to the old
    # expression (and to the DuckDB oracle's list_reduce twin), and the
    # 8-dp rounding still happens JVM-side with Spark's own F.round.
    # numpy ufuncs are plain IEEE double ops (no FMA contraction) and
    # np.sqrt is correctly rounded like Math.sqrt, so the replay is
    # exact, not approximate.
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    keep = ["i", "j"] + [
        alias for aliases in extra.values() for alias in aliases.split(",") if alias
    ]
    a_aliases = [
        (c, aliases.split(",")[0])
        for c, aliases in extra.items()
        if aliases.split(",")[0]
    ]
    b_aliases = [
        (c, aliases.split(",")[1])
        for c, aliases in extra.items()
        if aliases.split(",")[1]
    ]
    id_type = df.schema[id_col].dataType
    fields = [T.StructField("i", id_type), T.StructField("j", id_type)]
    for c, al in a_aliases:
        fields.append(T.StructField(al, df.schema[c].dataType))
    for c, al in b_aliases:
        fields.append(T.StructField(al, df.schema[c].dataType))
    fields.append(T.StructField("__draw", T.DoubleType()))
    out_schema = T.StructType(fields)

    def fold_distances(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
        # left-to-right fold, dim order — bit-identical to the old
        # zip_with/aggregate expression (0.0 + x₀ ≡ x₀ exactly)
        acc = np.zeros((A.shape[0], B.shape[0]))
        for t in range(A.shape[1]):
            diff = A[:, t, None] - B[None, :, t]
            acc += diff * diff
        return np.sqrt(acc)

    def topk_keep(drow: "np.ndarray", valid: "np.ndarray") -> "np.ndarray":
        """Candidate mask for the downstream (round(d,8), j) top-k
        window. Raw-distance selection is safe with an absolute
        margin: rounding to 8 dp moves a value by ≤ 0.5e-8, so any row
        that can rank ≤ k under ROUNDED order satisfies
        d_raw ≤ kth_raw + 1e-8 (if d_raw > kth_raw + 1e-8 then every
        one of the k rows at or below kth_raw rounds strictly smaller,
        pushing the row past rank k). 2e-8 doubles the slack; extra
        candidates are harmless — the JVM window truncates."""
        dv = drow[valid]
        if len(dv) <= topk:
            return valid
        kth = np.partition(dv, topk - 1)[topk - 1]
        return valid & (drow <= kth + 2e-8)

    def emit(
        A_ids, A_extras, D, B_ids, B_extras
    ) -> "pd.DataFrame":
        valid = A_ids[:, None] != B_ids[None, :]
        if topk is not None:
            keep_mask = np.zeros_like(valid)
            for r in range(D.shape[0]):
                keep_mask[r] = topk_keep(D[r], valid[r])
        else:
            keep_mask = valid
        ii, jj = np.nonzero(keep_mask)
        data = {"i": A_ids[ii], "j": B_ids[jj]}
        for _, al in a_aliases:
            data[al] = A_extras[al][ii]
        for _, al in b_aliases:
            data[al] = B_extras[al][jj]
        data["__draw"] = D[ii, jj]
        return pd.DataFrame(data)

    def chunk_rows(n_b: int) -> int:
        # bound the chunk×n distance matrix to ~2M cells (~16 MB)
        return max(1, 2_000_000 // max(n_b, 1))

    if block_col is None:
        # exact all-pairs: ONE bounded driver collect replaces the old
        # count()-guard job AND serves as the broadcast comparison side
        # (the cosine_pairs contract: ≤ max_rows · dim doubles).
        bc = _broadcast_side(
            df,
            id_col,
            vec_col,
            max_rows,
            f"{caller} is exact O(n^2); more than max_rows="
            f"{max_rows} rows — pass block_col (LSH bucket / IVF "
            "cell) for the blocked scale path",
            unit=False,
            extras=b_aliases,
        )

        def kernel(batches):
            ids_b, mat_b, ext_b = bc.value
            ch = chunk_rows(len(ids_b))
            for pdf in batches:
                if pdf.empty:
                    continue
                A_ids = pdf[id_col].to_numpy()
                A_mat = _matrix(pdf[vec_col])
                A_extras = {al: pdf[c].to_numpy() for c, al in a_aliases}
                for s in range(0, len(A_ids), ch):
                    e = s + ch
                    D = fold_distances(A_mat[s:e], mat_b)
                    yield emit(
                        A_ids[s:e],
                        {al: v[s:e] for al, v in A_extras.items()},
                        D,
                        ids_b,
                        ext_b,
                    )

        # spread the streamed side across cores — a small parquet
        # arrives as ONE partition, which would serialize every
        # distance batch into a single task
        raw = (
            df.select(id_col, vec_col, *extra.keys())
            .repartition(par)
            .mapInPandas(kernel, out_schema)
        )
    else:
        # blocked path: pairs exist only within a block, so the kernel
        # runs per block group (applyInPandas) — the shuffle moves each
        # vector ONCE keyed by block, instead of broadcast-joining and
        # folding per pair; group size is bounded by the hot-block
        # subdivision above, so the per-group matrix is bounded too.
        def block_kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
            n = len(pdf)
            if n < 2:
                return pd.DataFrame(
                    {f.name: pd.Series(dtype="object") for f in out_schema}
                )
            ids = pdf[id_col].to_numpy()
            mat = _matrix(pdf[vec_col])
            extras = {al: pdf[c].to_numpy() for c, al in a_aliases} | {
                al: pdf[c].to_numpy() for c, al in b_aliases
            }
            ch = chunk_rows(n)
            outs = []
            for s in range(0, n, ch):
                e = s + ch
                D = fold_distances(mat[s:e], mat)
                outs.append(
                    emit(
                        ids[s:e],
                        {al: extras[al][s:e] for _, al in a_aliases},
                        D,
                        ids,
                        {al: extras[al] for _, al in b_aliases},
                    )
                )
            return pd.concat(outs, ignore_index=True)

        raw = (
            df.select(
                id_col, vec_col, *extra.keys(), F.col(block_col).alias("__blk")
            )
            # a NULL block key never equi-joined in the old plan — its
            # rows pair with nothing, so drop them before grouping
            .filter(F.col("__blk").isNotNull())
            .groupBy("__blk")
            .applyInPandas(
                lambda pdf: block_kernel(pdf.drop(columns=["__blk"])),
                out_schema,
            )
        )
    return raw.select(*keep, F.round(F.col("__draw"), 8).alias("d"))


def lof_scores(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_rows: int = 20_000,
    block_col: str | None = None,
    max_block_rows: int | None = None,
    block_dim: int | None = None,
) -> DataFrame:
    """Local Outlier Factor (Breunig et al. 2000) over an embedding
    column, k neighbors, Euclidean distances.

    Output: (id, k_dist, lrd, lof) — lof ≈ 1 for inliers, ≫ 1 for
    points whose local density is far below their neighbors'.

    Entirely relational (no Python state): pair frame → distance →
    row_number top-k → k-dist per point → reach-dist =
    max(k-dist(o), d(p,o)) → lrd = 1/mean(reach-dist) →
    lof = mean(lrd_o)/lrd_p via one more self-join on the kNN edge
    list.

    Scale contract (see :func:`_distance_pairs`): without ``block_col``
    the pair join is exact O(n²) and ``max_rows``-guarded; WITH
    ``block_col`` (LSH bucket / IVF cell) pairs are block-local — the
    100 TB path, and semantically right anyway since LOF is a LOCAL
    density measure. Blocks smaller than k+1 simply yield fewer
    neighbors (a singleton block drops out of the result), identical
    in any engine. Hot blocks are auto-subdivided past
    ``DEFAULT_MAX_BLOCK_ROWS`` (``max_block_rows=None`` inherits it;
    0 disables)."""
    from pyspark.sql import Window

    pairs = _distance_pairs(
        df,
        vec_col,
        id_col,
        block_col,
        max_rows,
        "lof_scores",
        max_block_rows=max_block_rows,
        dim=block_dim,
        # the pair frame feeds ONLY the rn ≤ k window below — candidate
        # pruning in the kernel (see _distance_pairs) keeps the window
        # result identical while emitting O(n·k), not O(n²), rows
        topk=k,
    )
    wk = Window.partitionBy("i").orderBy("d", "j")
    knn = pairs.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= k
    )
    kdist = knn.groupBy("i").agg(F.max("d").alias("k_dist"))
    # reach-dist needs the NEIGHBOR's k-dist
    edges = knn.join(
        kdist.select(F.col("i").alias("j"), F.col("k_dist").alias("kd_j")),
        on="j",
    ).select("i", "j", F.greatest(F.col("d"), F.col("kd_j")).alias("reach"))
    lrd = edges.groupBy("i").agg(
        (F.lit(1.0) / F.avg("reach")).alias("lrd")
    )
    lof = (
        knn.select("i", "j")
        .join(lrd.select(F.col("i").alias("j"), F.col("lrd").alias("lrd_j")), on="j")
        .groupBy("i")
        .agg(F.avg("lrd_j").alias("mean_lrd_nbrs"))
        .join(lrd, on="i")
        .select(
            F.col("i").alias(id_col),
            (F.col("mean_lrd_nbrs") / F.col("lrd")).alias("lof"),
            "lrd",
        )
    )
    return (
        lof.join(kdist.select(F.col("i").alias(id_col), "k_dist"), on=id_col)
        .select(id_col, "k_dist", "lrd", "lof")
    )


def silhouette_by_label(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_rows: int = 20_000,
    block_col: str | None = None,
    max_block_rows: int | None = None,
    block_dim: int | None = None,
) -> DataFrame:
    """Mean silhouette coefficient per label: (label, n_vecs,
    mean_silhouette) with s = (b − a)/max(a, b), a = mean distance to
    own label, b = lowest mean distance to any other label. Points
    whose label has no second member (within the block, when blocked)
    drop out.

    Same pair frame and scale contract as :func:`lof_scores` — with
    ``block_col`` the candidate set is block-local (neighbors an LSH
    bucket / IVF cell puts nearby), the 100 TB path; silhouette is a
    neighborhood-contrast measure, so block-local contrast is the
    scalable estimator of the same quantity."""
    pairs = _distance_pairs(
        df,
        vec_col,
        id_col,
        block_col,
        max_rows,
        "silhouette_by_label",
        extra_cols={label_col: "li,lj"},
        max_block_rows=max_block_rows,
        dim=block_dim,
    )
    md = pairs.groupBy("i", "li", "lj").agg(F.avg("d").alias("mean_d"))
    ab = md.groupBy("i", "li").agg(
        F.max(F.when(F.col("li") == F.col("lj"), F.col("mean_d"))).alias("a"),
        F.min(F.when(F.col("li") != F.col("lj"), F.col("mean_d"))).alias("b"),
    )
    sil = (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))
    return (
        ab.filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .groupBy(F.col("li").alias(label_col))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.avg(sil).alias("mean_silhouette"),
        )
    )


def knn_label_accuracy(
    df: DataFrame,
    k: int = 5,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_rows: int = 20_000,
    block_col: str | None = None,
    max_block_rows: int | None = None,
    block_dim: int | None = None,
) -> DataFrame:
    """Leave-one-out k-NN label-prediction accuracy per label:
    (label, n_vecs, loo_accuracy) under majority vote with the
    deterministic (count desc, label asc) tie-break — 'are the labels
    recoverable from geometry'.

    Same pair frame and scale contract as :func:`lof_scores`; with
    ``block_col`` the electorate is the block-local k nearest (points
    in sub-(k+1) blocks vote with fewer neighbors; singleton blocks
    drop out), identical in any engine."""
    from pyspark.sql import Window

    pairs = _distance_pairs(
        df,
        vec_col,
        id_col,
        block_col,
        max_rows,
        "knn_label_accuracy",
        extra_cols={label_col: "li,lj"},
        max_block_rows=max_block_rows,
        dim=block_dim,
        topk=k,  # pair frame feeds only the rn ≤ k window (see lof)
    )
    wk = Window.partitionBy("i").orderBy("d", "j")
    knn = pairs.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= k
    )
    votes = knn.groupBy("i", "li", "lj").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.partitionBy("i").orderBy(F.desc("c"), F.asc("lj"))
    pred = votes.withColumn("r", F.row_number().over(wv)).filter(
        F.col("r") == 1
    )
    return pred.groupBy(F.col("li").alias(label_col)).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.avg(
            F.when(F.col("li") == F.col("lj"), 1.0).otherwise(0.0)
        ).alias("loo_accuracy"),
    )
