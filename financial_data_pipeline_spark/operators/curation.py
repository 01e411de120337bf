"""Corpus-curation operators for LLM training-data pipelines
(beyond-reference scope).

The reference has no corpus operators; these are the standard
large-scale curation verbs — rule-based quality filtering (the
Gopher-style heuristics of Rae et al. 2021, public paper), PII
redaction, benchmark-contamination detection, deterministic stratified
sampling, and domain-mixture planning. Everything is JVM-side
``pyspark.sql.functions`` (whole-stage codegen, no Python UDFs), and
every numeric recipe is integer/md5-portable so the DuckDB oracle can
reproduce it bit-for-bit.

Runs against the driver ``documents`` table
(doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from financial_data_pipeline_spark.operators.text import (
    ENGLISH_STOPWORDS,
    token_count_ws,
    ws_tokens,
)

# ---------------------------------------------------------------------------
# Gopher-style rule-based quality filter
# ---------------------------------------------------------------------------

#: Rule thresholds (Gopher table A1 shape; bounds tuned to the corpus
#: scale of the test tables — the *rules* are what matters, the bounds
#: are config).
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1  # '#' and '...' per word
GOPHER_MAX_BULLET_FRAC = 0.9  # lines starting with a bullet
GOPHER_MAX_ELLIPSIS_FRAC = 0.3  # lines ending with '...'
GOPHER_MAX_DUP_LINE_FRAC = 0.3  # within-doc duplicate lines


def _occurrences(text: Column, needle: str) -> Column:
    """Non-overlapping occurrence count of a literal substring —
    (len(s) − len(replace(s, needle, ''))) / len(needle); portable to
    any SQL engine (no regex)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = GOPHER_MIN_WORDS,
    max_words: int = GOPHER_MAX_WORDS,
) -> DataFrame:
    """Per-document rule flags + composite ``keep`` for the Gopher-style
    quality filter.

    Adds: ``n_words``, ``mean_word_len``, ``symbol_ratio``,
    ``bullet_frac``, ``ellipsis_frac``, ``dup_line_frac``,
    ``stopword_hits`` and the boolean rule columns
    ``rule_word_count``, ``rule_word_len``, ``rule_symbol``,
    ``rule_bullet``, ``rule_ellipsis``, ``rule_dup_lines``, ``keep``.

    ``keep`` is the conjunction of the six structural rules. The
    stopword rule is reported (``stopword_hits``) but not part of
    ``keep`` by default: the driver corpus is synthetic-vocabulary text
    where English stopwords are legitimately absent.

    Zero shuffles, zero UDFs — the filter is a pure row-local
    expression and scales embarrassingly at 100 TB. The token and line
    arrays are materialized in their own projection first: higher-order
    lambdas get no subexpression elimination, so inline ``split(...)``
    would re-split once per referencing expression (same barrier trick
    as ``dedup.shingle_rows``).
    """
    # NULL ≡ empty: features computed on coalesced text so a NULL doc
    # gets n_words=0 / keep=false deterministically in BOTH engines
    # instead of NULL rule columns whose filter behavior is
    # engine-specific (NULL-text fuzz finding); the stored text column
    # itself is left untouched.
    txt = F.coalesce(F.col(text_col), F.lit(""))
    df = df.withColumns(
        {
            "__toks": ws_tokens(txt),
            "__lines": F.split(txt, r"\n"),
        }
    )
    t = txt
    toks = F.col("__toks")
    n_words = token_count_ws(t)
    safe_words = F.greatest(n_words, F.lit(1)).cast("double")
    # exact mean word length: sum of token lengths / token count
    tok_chars = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda a, x: a + x
    )
    mean_word_len = tok_chars.cast("double") / safe_words
    symbol_ratio = (
        (_occurrences(t, "#") + _occurrences(t, "...")).cast("double") / safe_words
    )
    lines = F.col("__lines")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda ln: ln.startswith("- ")
                | ln.startswith("* ")
                | ln.startswith("• "),
            )
        ).cast("double")
        / n_lines
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda ln: ln.endswith("..."))).cast("double")
        / n_lines
    )
    # within-doc repetition: fraction of lines that duplicate an
    # earlier line (Gopher's duplicate-line-fraction rule)
    dup_line_frac = (
        (F.size(lines) - F.size(F.array_distinct(lines))).cast("double") / n_lines
    )
    stop_hits = sum(
        F.array_contains(toks, w).cast("int") for w in ENGLISH_STOPWORDS
    )
    out = df.withColumns(
        {
            "n_words": n_words.cast("long"),
            "mean_word_len": mean_word_len,
            "symbol_ratio": symbol_ratio,
            "bullet_frac": bullet_frac,
            "ellipsis_frac": ellipsis_frac,
            "dup_line_frac": dup_line_frac,
            "stopword_hits": stop_hits.cast("int"),
        }
    )
    return out.withColumns(
        {
            "rule_word_count": (F.col("n_words") >= min_words)
            & (F.col("n_words") <= max_words),
            "rule_word_len": (F.col("mean_word_len") >= GOPHER_MIN_MEAN_WORD_LEN)
            & (F.col("mean_word_len") <= GOPHER_MAX_MEAN_WORD_LEN),
            "rule_symbol": F.col("symbol_ratio") < GOPHER_MAX_SYMBOL_RATIO,
            "rule_bullet": F.col("bullet_frac") < GOPHER_MAX_BULLET_FRAC,
            "rule_ellipsis": F.col("ellipsis_frac") < GOPHER_MAX_ELLIPSIS_FRAC,
            "rule_dup_lines": F.col("dup_line_frac") < GOPHER_MAX_DUP_LINE_FRAC,
        }
    ).withColumn(
        "keep",
        F.col("rule_word_count")
        & F.col("rule_word_len")
        & F.col("rule_symbol")
        & F.col("rule_bullet")
        & F.col("rule_ellipsis")
        & F.col("rule_dup_lines"),
    ).drop("__toks", "__lines")


def gopher_filter(df: DataFrame, text_col: str = "text", **kw) -> DataFrame:
    """``df`` minus documents failing the Gopher-style rules."""
    flagged = gopher_rules(df, text_col, **kw)
    return flagged.filter(F.col("keep")).select(*df.columns)


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: RE2-and-Java-compatible patterns (no lookaround, no backrefs) so the
#: identical literals run in Spark (Java regex) and DuckDB (RE2).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+\d[\d ]{5,14}\d"


def pii_counts(text: Column) -> dict[str, Column]:
    """Match counts per PII class (before redaction).

    NULL text counts 0 for every class (NULL ≡ empty — ``size(NULL)``
    is -1 under ansi=false while the DuckDB oracle's ``len(NULL)`` is
    NULL; both sides pin 0 instead, NULL-text fuzz finding). The
    redacted TEXT still propagates NULL → NULL, matching the oracle's
    ``regexp_replace(NULL)``."""
    t = F.coalesce(text, F.lit(""))
    return {
        "n_emails": F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), F.lit(0))),
        "n_ips": F.size(F.regexp_extract_all(t, F.lit(PII_IPV4_RE), F.lit(0))),
        "n_phones": F.size(
            F.regexp_extract_all(t, F.lit(PII_PHONE_RE), F.lit(0))
        ),
    }


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails → ``<EMAIL>``, IPv4s → ``<IP>``, then phone-shaped
    ``+``-digit runs → ``<PHONE>``, in that order (emails and IPs are
    swallowed before the looser phone pattern can touch their digits).

    Adds ``n_emails``/``n_ips``/``n_phones`` match counts and replaces
    ``text_col`` with the redacted text. Pure row-local regex — zero
    shuffles; at 100 TB this is a map-only pass that scales with
    partitions.
    """
    t = F.col(text_col)
    counts = pii_counts(t)
    red = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    red = F.regexp_replace(red, PII_IPV4_RE, "<IP>")
    red = F.regexp_replace(red, PII_PHONE_RE, "<PHONE>")
    return df.withColumns({**counts, text_col: red})


# ---------------------------------------------------------------------------
# Benchmark-contamination check (n-gram overlap)
# ---------------------------------------------------------------------------


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """(doc_id, n_overlap): corpus documents sharing ≥1 distinct k-gram
    with the benchmark set, with the count of distinct shared k-grams.

    The decontamination primitive: train docs overlapping an eval set
    must be dropped. Both sides shingle once; the join key is the
    portable 60-bit md5 shingle hash (8-byte shuffle payload — the
    oracle reproduces the same hash, so even collisions agree). The
    benchmark k-gram set is tiny relative to the corpus → Catalyst
    broadcasts it; the corpus side never shuffles.
    """
    from financial_data_pipeline_spark.operators.dedup import (
        _hash60,
        shingles_from_tokens,
        tokens,
    )

    def kgram_hashes(df: DataFrame, keep_id: bool) -> DataFrame:
        with_toks = df.select(
            F.col(id_col), tokens(F.col(text_col)).alias("__toks")
        )
        cols = [id_col] if keep_id else []
        return with_toks.select(
            *cols,
            F.explode(shingles_from_tokens(F.col("__toks"), k)).alias("__sh"),
        ).select(*cols, _hash60(F.col("__sh")).alias("shh"))

    bench_grams = kgram_hashes(benchmark, keep_id=False).distinct()
    # No corpus-side distinct() and a plain count(*): per-doc shingles
    # are already distinct strings (array_distinct in
    # shingles_from_tokens), so the joined rows are an identical
    # multiset in any engine — count(*) needs ONE exchange where
    # count(DISTINCT shh) plans two. n_overlap counts a doc's distinct
    # k-grams that hit the benchmark (intra-doc 60-bit hash collisions
    # could double-count a gram; at ~10² grams/doc over a 2^60 space
    # that is ~1e-14 per doc, and the oracle counts identically).
    corpus_grams = kgram_hashes(corpus, keep_id=True)
    return (
        corpus_grams.join(F.broadcast(bench_grams), on="shh", how="inner")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_overlap: int = 1,
) -> DataFrame:
    """``corpus`` minus documents with ≥ ``min_overlap`` distinct
    k-grams shared with ``benchmark`` (left-anti against the overlap)."""
    hits = contamination_overlap(corpus, benchmark, text_col, id_col, k).filter(
        F.col("n_overlap") >= min_overlap
    )
    return corpus.join(hits.select(id_col), on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# Deterministic stratified sampling + domain mixture planning
# ---------------------------------------------------------------------------

SAMPLE_MOD = 1_000_000


def _sample_bucket(id_col: Column) -> Column:
    """Stable per-row sample bucket in [0, SAMPLE_MOD): md5-prefix hash
    of the id string — portable (DuckDB twin:
    ``('0x' || substr(md5(id::VARCHAR), 1, 15))::BIGINT % 1000000``),
    deterministic across runs/engines, uniform enough for rate
    sampling. No RNG → resumable and exactly reproducible, unlike
    ``df.sample`` whose seed is partition-layout-dependent.
    """
    h = F.conv(F.substring(F.md5(id_col.cast("string")), 1, 15), 16, 10)
    return h.cast("long") % F.lit(SAMPLE_MOD)


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
) -> DataFrame:
    """Keep each row iff hash_bucket(id) < rate(stratum) · SAMPLE_MOD —
    per-stratum Bernoulli sampling with a deterministic hash instead of
    an RNG.

    Exactly reproducible on any engine and under any partitioning
    (membership depends only on the id), so the oracle checks row-level
    membership, not just sizes. Pure filter: no shuffle, fully pushed
    past the scan when ``strata_col`` is a partition key.

    Rate → threshold conversion happens driver-side in INTEGER space
    (``int(round(rate · SAMPLE_MOD))``): engines disagree on
    double→int cast rounding (Spark truncates, DuckDB rounds), so no
    float ever reaches the comparison.
    """
    threshold = F.lit(int(round(float(default_rate) * SAMPLE_MOD)))
    for s, r in sorted(rates.items()):
        threshold = F.when(
            F.col(strata_col) == s, F.lit(int(round(float(r) * SAMPLE_MOD)))
        ).otherwise(threshold)
    return df.filter(_sample_bucket(F.col(id_col)) < threshold)


def mixture_plan(
    df: DataFrame,
    target_weights: dict[str, float],
    token_budget: int,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Domain-mixing plan: per stratum — available docs/tokens, the
    sampling ``rate`` that hits ``token_budget · weight`` tokens, and
    the resulting ``expected_tokens``.

    rate = min(1, budget·w / available): strata with fewer tokens than
    their target are taken whole (the standard epoch-repeat decision is
    left to the caller). One groupBy over (stratum) — a tiny aggregate
    even at 100 TB (partial aggregation map-side; |strata| rows).
    """
    weights = sorted(target_weights.items())
    w_col = F.lit(None).cast("double")
    for s, w in weights:
        w_col = F.when(F.col(strata_col) == s, F.lit(float(w))).otherwise(w_col)
    agg = (
        df.groupBy(strata_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count_ws(F.col(text_col))).alias("tokens"),
        )
        .withColumn("weight", w_col)
        .filter(F.col("weight").isNotNull())
    )
    target = F.col("weight") * F.lit(float(token_budget))
    rate = F.least(F.lit(1.0), target / F.col("tokens").cast("double"))
    return agg.select(
        strata_col,
        "n_docs",
        "tokens",
        F.round(rate, 6).alias("rate"),
        F.round(rate * F.col("tokens"), 2).alias("expected_tokens"),
    )


def exact_k_sample(
    df: DataFrame, k: int, id_col: str = "doc_id"
) -> DataFrame:
    """Exactly-k uniform sample without replacement: the k rows with
    the smallest portable id-hash (ties broken by id). Deterministic
    across engines/partitionings, and executes as TakeOrdered (top-k
    heap per partition + driver merge) — never a global sort, so it
    scales to any corpus size. The distributed stand-in for reservoir
    sampling when the sample must be reproducible.
    """
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    return (
        df.withColumn("__rank", h)
        .orderBy(F.asc("__rank"), F.asc(id_col))
        .limit(k)
        .drop("__rank")
    )


def length_percentiles(
    df: DataFrame,
    strata_col: str = "source",
    text_col: str = "text",
    percentiles: tuple = (0.5, 0.95),
) -> DataFrame:
    """Per-stratum token-count distribution: n_docs + exact interpolated
    percentiles (p<NN> columns) — the corpus length-profile report that
    drives curation thresholds. Exact ``percentile`` for oracle parity;
    swap to ``percentile_approx`` at 100 TB (documented tolerance)."""
    n_tokens = token_count_ws(F.col(text_col))
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for p in percentiles:
        name = f"p{int(p * 100)}"
        aggs.append(
            F.round(F.percentile(n_tokens, F.lit(p)), 6).alias(name)
        )
    return df.groupBy(strata_col).agg(*aggs)


# ---------------------------------------------------------------------------
# Document chunking (sequence prep)
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    size: int = 500,
    overlap: int = 100,
) -> DataFrame:
    """Overlapping-window chunking: every position of ``text_col`` is
    covered by at least one chunk, consecutive chunks share ``overlap``
    characters, and no chunk exceeds ``size``.

    Map-only: offsets come from a per-row ``sequence`` + ``explode``
    (stride = size − overlap), the chunk text from ``substring`` — no
    shuffle, no Python, output ≈ len/stride rows per doc. Adds
    ``chunk_off`` (0-based), ``chunk_text``, ``chunk_len``; empty
    documents produce no rows.
    """
    if not 0 <= overlap < size:
        raise ValueError("need 0 <= overlap < size")
    stride = size - overlap
    offs = F.sequence(
        F.lit(0),
        F.greatest(F.length(text_col) - overlap, F.lit(1)) - 1,
        F.lit(stride),
    )
    out = df.filter(F.length(text_col) > 0).select(
        "*", F.explode(offs).alias("__off")
    )
    chunk = F.substring(F.col(text_col), F.col("__off") + 1, size)
    return out.select(
        *[c for c in df.columns],
        F.col("__off").cast("int").alias("chunk_off"),
        chunk.alias("chunk_text"),
        F.length(chunk).cast("int").alias("chunk_len"),
    )


# ---------------------------------------------------------------------------
# Prototypicality-based data pruning (embedding-space curation)
# ---------------------------------------------------------------------------


def prototypicality_rank(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-cluster prototypicality: cosine distance to the cluster
    centroid, ranked hardest-first (Sorscher et al. 2022, *Beyond
    neural scaling laws* — data pruning by keeping the most/least
    prototypical examples per cluster).

    ``df`` must already carry a cluster id in ``label_col`` — compose
    with ``ml_ann.kmeans_assign`` (trained cells) or any deterministic
    assignment. Centroids come from ``similarity.ivf_build_centroids``
    (one component-triple shuffle) and broadcast back onto the corpus;
    the distance is a codegen array fold, and the rank window runs per
    cluster — never a global sort.

    Emits ``proto_dist`` (1 − cosine, rounded at full precision),
    ``proto_rank`` (1 = farthest from centroid, per cluster, ties by
    id) and ``cluster_n``.
    """
    from pyspark.sql import Window

    from financial_data_pipeline_spark.operators.similarity import (
        cosine,
        ivf_build_centroids,
    )

    cent = ivf_build_centroids(df, vec_col, label_col)
    joined = df.join(F.broadcast(cent), label_col)
    dist = 1.0 - cosine(f"`{vec_col}`", "centroid")
    w = Window.partitionBy(label_col).orderBy(
        F.desc("proto_dist"), F.asc(id_col)
    )
    wn = Window.partitionBy(label_col)
    return (
        joined.withColumn("proto_dist", dist)
        .withColumn("proto_rank", F.row_number().over(w))
        .withColumn("cluster_n", F.count(F.lit(1)).over(wn))
        .drop("centroid")
    )


def prototypicality_prune(
    df: DataFrame,
    keep_frac: float,
    keep: str = "hard",
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Keep ``ceil(keep_frac · n)`` examples per cluster: the HARD ones
    (far from centroid — the right prune when data is abundant) or the
    EASY prototypes (the right prune in the scarce regime). Exact
    per-cluster counts, deterministic ties."""
    if not 0 < keep_frac <= 1:
        raise ValueError("keep_frac must be in (0, 1]")
    if keep not in ("hard", "easy"):
        raise ValueError(f"keep must be hard|easy, got {keep!r}")
    ranked = prototypicality_rank(df, vec_col, label_col, id_col)
    quota = F.ceil(F.lit(keep_frac) * F.col("cluster_n"))
    if keep == "hard":
        cond = F.col("proto_rank") <= quota
    else:
        cond = F.col("proto_rank") > F.col("cluster_n") - quota
    return ranked.filter(cond)


def cluster_balanced_sample(
    df: DataFrame,
    per_cluster: int,
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exactly ``min(per_cluster, n)`` rows per cluster, chosen by the
    same portable md5 id-hash as ``exact_k_sample`` — the diversity
    sampler for embedding-clustered corpora (every semantic region
    keeps representation instead of the head clusters swamping the
    sample). One rank window per cluster (no global order, no RNG);
    deterministic across engines and partitionings, so re-runs and
    oracles reproduce the exact row set."""
    from pyspark.sql import Window

    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = Window.partitionBy(label_col).orderBy(F.asc("__rank"), F.asc(id_col))
    return (
        df.withColumn("__rank", h)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= per_cluster)
        .drop("__rank", "__rn")
    )


def temperature_mixture_plan(
    df: DataFrame,
    token_budget: int,
    alpha: float = 0.3,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled domain mixing: sampling weights
    w_i ∝ tokens_iᵅ (the multilingual-LM α-sampling rule — α = 1 is
    proportional, α → 0 uniform; low α up-samples small domains so head
    domains don't swamp the mix). Same one-tiny-aggregate shape as
    ``mixture_plan``, but the weights come from the corpus itself
    instead of a hand-written dict: per-stratum token counts → powered
    shares → normalized over the window of all strata (|strata| rows,
    a no-op shuffle). ``rate`` caps at 1; epoch-repeat for over-asked
    small strata stays the caller's decision."""
    from pyspark.sql import Window

    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    agg = df.groupBy(strata_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_ws(F.col(text_col))).alias("tokens"),
    )
    powered = F.pow(F.col("tokens").cast("double"), F.lit(float(alpha)))
    w_all = Window.partitionBy()
    share = powered / F.sum(powered).over(w_all)
    target = share * F.lit(float(token_budget))
    rate = F.least(F.lit(1.0), target / F.col("tokens").cast("double"))
    return agg.select(
        strata_col,
        "n_docs",
        "tokens",
        F.round(share, 6).alias("weight"),
        F.round(rate, 6).alias("rate"),
        F.round(rate * F.col("tokens"), 2).alias("expected_tokens"),
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "compression_ratio",
    level: int = 6,
) -> DataFrame:
    """Per-doc zlib compression ratio (compressed/raw bytes) — the
    entropy-proxy quality signal large corpus pipelines use to flag
    boilerplate and template spam (highly repetitive pages compress
    far below prose; pure noise compresses above it). Prose lands
    ~0.3–0.6; thresholds are corpus config.

    zlib has no SQL twin, so this is one of the honest Python kernels:
    an Arrow-batched ``mapInPandas`` (never row-at-a-time UDF) that
    appends one double per row — scan-bound, map-only, no shuffle.
    Empty/null texts get ratio 1.0 (nothing to compress)."""
    import pandas as pd

    fields = df.schema.fields
    out_schema = T.StructType(
        [*fields, T.StructField(out_col, T.DoubleType())]
    )

    def kernel(batches):
        import zlib

        for pdf in batches:
            txt = pdf[text_col].fillna("")
            raw = txt.str.encode("utf-8")
            pdf[out_col] = [
                (len(zlib.compress(b, level)) / len(b)) if len(b) else 1.0
                for b in raw
            ]
            yield pdf

    return df.mapInPandas(kernel, out_schema)


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    seed: int = 0,
    id_col: str = "doc_id",
    fast_hash: bool = False,
) -> DataFrame:
    """Deterministic global shuffle into training shards — the final
    step of every corpus pipeline (training order must be random,
    reproducible, and resumable). Shard = hash(id, seed) mod n_shards;
    within-shard order = the same hash (then id) — so the full corpus
    permutation is a pure function of (ids, seed): re-runs, engines and
    partitionings all agree, and changing ``seed`` is a fresh epoch
    permutation.

    Scale shape: one hash-partitioned exchange on the shard id + a
    per-shard sort — there is NO global sort, no RNG state, and the
    sort key is an 8-byte long. Emits ``shard`` and ``shard_pos`` (the
    within-shard training order); write with
    ``partitionBy("shard")`` for one output directory per shard.

    The hash is the portable md5-prefix form every sampler here uses
    (engine-reproducible, so the oracle recomputes membership);
    ``fast_hash=True`` swaps in ``xxhash64`` when cross-engine
    reproducibility isn't needed (same permutation properties, less
    CPU)."""
    from pyspark.sql import Window

    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col(id_col).cast("string"), F.lit(seed))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    if fast_hash:
        h = F.xxhash64(F.col(id_col), F.lit(seed))
    shard = F.pmod(h, F.lit(n_shards)).cast("int")
    w = Window.partitionBy("shard").orderBy(F.col("__h").asc(), F.col(id_col).asc())
    return (
        df.withColumn("__h", h)
        .withColumn("shard", shard)
        .withColumn("shard_pos", F.row_number().over(w) - 1)
        .drop("__h")
    )


# ---------------------------------------------------------------------------
# Source/keyword policy filter (C4-style URL + badword filtering)
# ---------------------------------------------------------------------------


def source_policy_flags(
    df: DataFrame,
    blocked_sources: list[str] = (),
    badwords: list[str] = (),
    min_chars: int = 0,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """C4-style provenance + content policy filter (Raffel et al. 2020):
    drop documents from a blocked source/domain list, documents whose
    text matches a word-boundary badword list, and documents below a
    length floor — in that order, labeling each doc with the FIRST rule
    that drops it (``drop_reason`` null = kept), the same
    first-stage-wins attrition accounting as ``curate_corpus``.

    The source check is the URL/domain blocklist stand-in (the test
    corpus carries a ``source`` column, not URLs; on a real crawl the
    column would be the registrable domain parsed at ingest). Scale
    design: pure map-only codegen — the blocklist folds into an
    ``isin`` literal (for lists beyond literal size, swap for a
    broadcast left-semi join), the badword list compiles to ONE
    RE2∩Java-safe alternation scanned once per doc, no shuffle.
    """
    text = F.col(text_col)
    reason = F.lit(None).cast("string")
    checks = []
    if blocked_sources:
        checks.append((F.col(source_col).isin(list(blocked_sources)), "blocked_source"))
    if badwords:
        # escape each term: a badword containing regex metacharacters
        # ('c++', 'a.b') must match literally, not change the
        # alternation's semantics or fail to compile
        import re as _re

        pat = (
            r"(?i)\b(" + "|".join(_re.escape(w) for w in badwords) + r")\b"
        )
        checks.append((text.rlike(pat), "badword"))
    if min_chars:
        checks.append((F.length(text) < min_chars, "too_short"))
    for cond, label in reversed(checks):
        reason = F.when(cond, F.lit(label)).otherwise(reason)
    return df.withColumn("drop_reason", reason)


def source_policy_filter(df: DataFrame, **kw) -> DataFrame:
    """Survivors of :func:`source_policy_flags` (flag column dropped)."""
    return (
        source_policy_flags(df, **kw)
        .filter(F.col("drop_reason").isNull())
        .drop("drop_reason")
    )


def weighted_k_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly-k WEIGHTED sample without replacement — Efraimidis–
    Spirakis A-ES: each row gets key u^(1/w) (u uniform, w > 0 its
    weight) and the k largest keys are the sample; inclusion
    probabilities follow the weights without replacement.

    u comes from the same portable md5 bucket as
    :func:`stratified_sample` ((bucket + 0.5)/SAMPLE_MOD — the +0.5
    keeps u in (0,1) so the key is finite), so the draw is
    deterministic, partitioning-independent and engine-reproducible —
    the oracle checks row-level membership. Rows with null or
    non-positive weight are excluded (a zero-weight row can never win
    under A-ES anyway). Executes as TakeOrdered (per-partition top-k
    heap + driver merge), never a global sort — the same 100 TB
    contract as :func:`exact_k_sample`, which this generalizes
    (all-equal weights reduce to it up to the u vs ln u monotone map).
    """
    w = F.col(weight_col).cast("double")
    u = (_sample_bucket(F.col(id_col)) + 0.5) / float(SAMPLE_MOD)
    key = F.pow(u, 1.0 / w)
    return (
        df.filter(w > 0)
        .withColumn("__key", key)
        .orderBy(F.desc("__key"), F.asc(id_col))
        .limit(k)
        .drop("__key")
    )
