"""Text analysis for LLM training-data pipelines (beyond-reference scope).

The reference has no text operators; these are the standard large-scale
corpus-prep primitives (language ID, quality scoring, token counting,
fingerprinting) the north star asks for, built entirely on JVM-side
``pyspark.sql.functions`` — no Python UDFs in any hot path, so every
expression stays inside whole-stage codegen and scales linearly with
partitions.

Runs against the driver ``documents`` table
(doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword
# heuristic language ID. Deliberately small + deterministic so the
# DuckDB oracle can replicate them verbatim.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["的", "是", "了", "在", "我"],
}

# A BPE-ish tokenizer regex: words, numbers, or single non-space symbols.
# The whitespace set is pinned explicitly (not `\s`): Java's \s includes
# vertical tab \x0B but RE2/DuckDB's does not, so `\s`-based classes
# tokenize U+000B differently across engines (r8 ADVICE finding).
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"

ENGLISH_STOPWORDS = [
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
]


# The canonical whitespace-token pattern, shared by ws_tokens /
# token_count_ws and every DuckDB oracle twin. The class is pinned
# EXPLICITLY to Java's ASCII \s set [ \t\n\x0B\f\r] rather than written
# as `\S+`: Java's \s includes vertical tab U+000B but RE2/DuckDB's
# does not, so a bare `\S+` tokenizes '\x0Ba\x0Bb' as two tokens in the
# engine and one in every oracle (r8 ADVICE finding). Spelling out the
# complement class makes both engines agree byte-for-byte.
WS_TOKEN_RE = r"[^ \t\n\x0B\f\r]+"


def ws_tokens(text: Column, lower: bool = True) -> Column:
    """Canonical whitespace token array = non-whitespace runs, with the
    whitespace set pinned to Java's ASCII ``\\s`` = ``[ \\t\\n\\x0B\\f\\r]``
    (see ``WS_TOKEN_RE`` — a bare ``\\S+`` diverges on U+000B because
    RE2's ``\\s`` lacks vertical tab).

    NOT ``split(trim(x), '\\s+')``: trim strips only ASCII spaces, so a
    newline-led doc keeps a phantom leading '' token under Java split
    (which also drops trailing empties) while DuckDB's split keeps
    both — three different token lists for the same degenerate doc
    (fuzzed-table finding). Run extraction yields exactly the
    non-whitespace runs — [] for empty/whitespace-only text.

    Case folding is ASCII-ONLY (``translate``, not ``lower``): unicode
    lowercasing is engine-specific (U+0130 'İ' maps to i+combining-dot
    under the JVM's full mapping but plain 'i' under utf8proc), so
    token identity diverged across engines on non-ASCII capitals
    (fuzzed-table finding). Non-ASCII letters keep their case — a
    documented contract, not a lossy fold. DuckDB twin:
    ``regexp_extract_all(translate(text, 'A..Z', 'a..z'),
    '[^ \\t\\n\\x0B\\f\\r]+')``."""
    t = (
        F.translate(
            text,
            "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
            "abcdefghijklmnopqrstuvwxyz",
        )
        if lower
        else text
    )
    # NULL text ≡ empty text: coalesce to [] so size() is 0 (not the
    # ansi=false size(NULL) = -1) and explode/transform emit nothing —
    # the registry-wide NULL-doc convention (r8 ADVICE + NULL-text fuzz)
    return F.coalesce(
        F.regexp_extract_all(t, F.lit(WS_TOKEN_RE), F.lit(0)),
        F.array().cast("array<string>"),
    )


def token_count_ws(text: Column) -> Column:
    """Whitespace token count = number of ``WS_TOKEN_RE`` runs (the
    pinned Java-``\\s`` complement class); empty/blank text → 0.

    NOT trim+split: Spark ``trim`` strips only ASCII spaces, so a
    newline-led doc kept a leading '' token (Java split preserves
    leading empties) and overcounted by one, while DuckDB's
    ``len(string_split_regex('', ...))`` is 1 — both engines disagree
    with each other AND with the intended semantics on degenerate docs
    (fuzzed-table finding). Counting non-whitespace runs is 0 on
    empty/whitespace-only text and identical in Java and RE2.
    NULL text counts 0 (the NULL ≡ empty convention — a bare size()
    would return -1 under ansi=false)."""
    return F.size(
        F.coalesce(
            F.regexp_extract_all(text, F.lit(WS_TOKEN_RE), F.lit(0)),
            F.array().cast("array<string>"),
        )
    )


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count via the word/number/symbol regex."""
    # same NULL ≡ empty coalesce as token_count_ws (size(NULL) is -1)
    return F.size(
        F.coalesce(
            F.regexp_extract_all(text, F.lit(BPE_TOKEN_RE), F.lit(0)),
            F.array().cast("array<string>"),
        )
    )


# The language-marker expressions are built as SQL text over the text
# column NAME (one py4j round trip per language instead of ~15 per
# marker word — r10, guide §7.3 applied to construction).


def _sql_str(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _padded_sql(t: str) -> str:
    # ASCII fold (see ws_tokens): full-unicode lower() makes the padded
    # string and therefore marker counts engine-specific around U+0130.
    # NULL ≡ empty: without the coalesce, concat propagates NULL (see
    # word_count_marker's docstring).
    return (
        f"concat(' ', translate(coalesce({t}, ''), "
        f"'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')"
    )


def _word_count_marker_sql(t: str, word: str) -> str:
    padded = _padded_sql(t)
    needle = f" {word} "
    return (
        f"CAST((length({padded}) - length(replace({padded}, "
        f"{_sql_str(needle)}, ''))) / {len(needle)} AS INT)"
    )


def word_count_marker(text: str, word: str) -> Column:
    """Occurrences of ``word`` as a whitespace-delimited token in the
    ``text`` column (SQL text). (len(s) - len(replace(s, needle, '')))
    / len(needle) counts non-overlapping occurrences — portable to any
    SQL engine. NULL ≡ empty: a NULL doc scores 0 for every language,
    not NULL, so the detect_language argmax yields 'und' (NULL-text
    fuzz finding: lang_detect once said 'de' for a NULL doc)."""
    return F.expr(_word_count_marker_sql(text, word))


def _lang_score_sql(t: str, words: list[str]) -> str:
    return "(" + " + ".join(["0"] + [_word_count_marker_sql(t, w) for w in words]) + ")"


def language_scores(text: str) -> dict[str, Column]:
    """Marker-hit score per language (the n-gram heuristic)."""
    return {
        lang: F.expr(_lang_score_sql(text, words))
        for lang, words in LANG_MARKERS.items()
    }


def detect_language(text: str) -> Column:
    """argmax of language_scores; ties and zero-hits → 'und'.

    Deterministic tiebreak: language name ascending among max scores —
    the struct compare is score first, then priority (higher =
    alphabetically earlier), same as an ordered SQL CASE chain.
    """
    langs = sorted(LANG_MARKERS)
    pairs = "array(" + ", ".join(
        f"named_struct('score', {_lang_score_sql(text, LANG_MARKERS[lang])}, "
        f"'pri', {len(langs) - 1 - i}, 'lang', {_sql_str(lang)})"
        for i, lang in enumerate(langs)
    ) + ")"
    return F.expr(
        f"CASE WHEN (array_max({pairs})).score <= 0 THEN 'und' "
        f"ELSE (array_max({pairs})).lang END"
    )


# Markup/whitespace normalization — the ingest-time text scrub every
# web-scrape corpus needs before tokenization. Patterns live in the
# Java-regex ∩ RE2 intersection (same discipline as the PII regexes in
# curation.py) so the DuckDB oracle applies the identical pipeline.
HTML_TAG_RE = r"<[^>]+>"
CONTROL_CHAR_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
# `\s+` here is exempt from the WS_TOKEN_RE \x0B pinning: the only char
# where Java's and RE2's \s disagree (U+000B) is deleted by
# CONTROL_CHAR_RE in the step before this collapse runs, on both the
# engine and the oracle side, so the collapse never sees it.
WS_RUN_RE = r"\s+"


def clean_text_expr(text: Column) -> Column:
    """Markup-strip + control-char-strip + whitespace-collapse + trim,
    in that order (tag removal inserts a space so `a<br>b` keeps its
    word boundary; the collapse then canonicalizes)."""
    t = F.regexp_replace(text, HTML_TAG_RE, " ")
    t = F.regexp_replace(t, CONTROL_CHAR_RE, "")
    t = F.regexp_replace(t, WS_RUN_RE, " ")
    return F.trim(t)


def clean_text(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Map-only text normalization (pure codegen, no shuffle, no UDF).

    ``out_col=None`` rewrites ``text_col`` in place."""
    return df.withColumn(out_col or text_col, clean_text_expr(F.col(text_col)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality signals: lengths, token counts, punctuation /
    digit / uppercase / stopword ratios, mean word length.

    All ratios are over character or token counts as appropriate;
    denominators guarded against zero (empty docs score 0). NULL text
    is coalesced to '' at entry (the registry-wide NULL ≡ empty
    convention) — without it every length() feature is NULL and the
    engine/oracle columns dtype-diverge (NULL-text fuzz finding).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(t)
    n_tokens = token_count_ws(t)
    n_punct = F.length(t) - F.length(
        F.regexp_replace(t, r"[^\w \t\n\x0B\f\r]", "")
    )
    n_digit = F.length(t) - F.length(F.regexp_replace(t, r"[0-9]", ""))
    n_upper = F.length(t) - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    # one expr for the stopword sum (str fast path; the marker wraps
    # its input in coalesce(·, '') again, matching the Column form's
    # coalesce(coalesce(text, ''), '') tree exactly)
    n_stop = F.expr(
        _lang_score_sql(f"coalesce(`{text_col}`, '')", ENGLISH_STOPWORDS)
    )
    safe_chars = F.greatest(n_chars, F.lit(1))
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    return df.withColumns(
        {
            "n_chars_computed": n_chars,
            "n_tokens": n_tokens,
            "n_tokens_bpe": token_count_bpe(t),
            "punct_ratio": n_punct / safe_chars,
            "digit_ratio": n_digit / safe_chars,
            "upper_ratio": n_upper / safe_chars,
            "stopword_ratio": n_stop / safe_tokens,
            "mean_word_len": (n_chars - (n_tokens - 1)) / safe_tokens,
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite [0,1] quality score: rewards stopword presence and
    moderate length; penalizes punctuation/digit excess. Weights are
    fixed and documented so the oracle can reproduce them."""
    df = quality_features(df, text_col)
    len_score = F.least(F.col("n_tokens") / F.lit(64.0), F.lit(1.0))
    stop_score = F.least(F.col("stopword_ratio") * 4.0, F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - F.col("punct_ratio") * 4.0)
    digit_pen = F.greatest(F.lit(0.0), F.lit(1.0) - F.col("digit_ratio") * 4.0)
    return df.withColumn(
        "quality",
        len_score * 0.3 + stop_score * 0.3 + punct_pen * 0.2 + digit_pen * 0.2,
    )


def top_ngram_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Most-frequent word n-gram per document + the fraction of the
    document's characters it covers (count × n-gram length / chars) —
    the Gopher/RefinedWeb "top n-gram repetition" quality signal that
    catches boilerplate loops the duplicate-LINE rule misses.

    Relational shape (explode → count → rank) rather than a per-row
    array fold: the same plan works when one document is 500 MB of
    tokens (the fold would build the whole n-gram array in one task
    row), and Catalyst keeps the shuffle keyed on (doc, n-gram) with
    map-side partial counts. Ties break on the lexicographically
    smallest n-gram. Documents with fewer than ``n`` tokens produce no
    n-grams and are absent from the output (callers left-join).
    """
    from pyspark.sql import Window

    toks = ws_tokens(F.col(text_col))
    base = df.select(
        id_col, F.length(text_col).alias("__chars"), toks.alias("__toks")
    ).filter(F.size("__toks") >= n)
    idx = F.sequence(F.lit(0), F.size("__toks") - n)
    grams = base.select(
        id_col,
        "__chars",
        F.explode(
            F.transform(
                idx, lambda i: F.array_join(F.slice("__toks", i + 1, n), " ")
            )
        ).alias("ngram"),
    )
    counts = grams.groupBy(id_col, "__chars", "ngram").count()
    w = Window.partitionBy(id_col).orderBy(F.desc("count"), F.asc("ngram"))
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            id_col,
            F.col("ngram").alias("top_ngram"),
            F.col("count").alias("top_ngram_count"),
            (
                F.col("count") * F.length("ngram") / F.col("__chars")
            ).alias("top_ngram_char_frac"),
        )
    )


def unigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Self-trained unigram negative-log-likelihood per document — the
    LM-free stand-in for CCNet-style perplexity filtering: documents
    whose tokens are collectively improbable under the corpus's own
    unigram distribution (gibberish, boilerplate codes, wrong-language
    fragments) score HIGH; fluent in-distribution text scores low.

    Output: (id, n_tokens, avg_neg_logprob) where avg_neg_logprob =
    mean over tokens of −ln(count(token)/total_tokens). Every token
    has count ≥ 1 by construction (the "model" is trained on the same
    corpus), so no smoothing is needed; to score NEW docs against a
    frozen corpus, persist the vocab frame and left-join with a
    smoothing floor instead.

    Plan: one tokenize+explode pass → vocab aggregate (token counts,
    map-side combined) → token rows re-join vocab on the token (AQE
    handles the stopword-skewed keys) → per-doc aggregate. The corpus
    total rides in via a one-row broadcast crossJoin.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            ws_tokens(F.col(text_col))
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    total = vocab.agg(F.sum("tf").alias("__total"))
    scored = (
        toks.join(vocab, on="tok")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            (-F.log(F.col("tf") / F.col("__total"))).alias("nll"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg("nll").alias("avg_neg_logprob"),
    )


FINGERPRINT_MOD = 2147483647  # 2^31 − 1: keeps h*31 + tok < 2^63 in any engine


def doc_fingerprint(text: Column, mod: int = FINGERPRINT_MOD) -> Column:
    """Polynomial rolling hash over whitespace tokens (document
    fingerprint): fold(h = (h*31 + md5_60(token) % mod) % mod).

    Uses ``aggregate`` (higher-order fn, JVM-side) over the token array
    — no UDF. The md5-prefix token hash and the small modulus keep the
    arithmetic portable (no int64 overflow, identical in DuckDB:
    ``list_reduce`` with the same fold).
    """
    tokens = ws_tokens(text, lower=False)
    tok_hash = lambda x: (
        F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long") % F.lit(mod)
    )
    return F.aggregate(
        tokens,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(31) + tok_hash(x)) % F.lit(mod),
    )


def nb_class_scores(
    df: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Self-trained multinomial Naive-Bayes document scorer — the
    fastText-style quality/language classifier stage of an LLM data
    pipeline, with no external model: ``label`` is a weak boolean
    signal (heuristic rule, metadata field, seed-domain membership)
    and every document is scored by the per-token log-odds the two
    classes assign to its text.

    Output: (id, n_tokens, avg_log_odds rounded 4) where
    avg_log_odds = mean over token OCCURRENCES of
    ln((c_pos(t)+1)/(T_pos+V)) − ln((c_neg(t)+1)/(T_neg+V))
    (Laplace-smoothed multinomial NB weights; V = vocabulary size,
    T_c = total token occurrences in class c). Positive ⇒ the text
    looks like the positive class. The class-prior term is a single
    constant per corpus — deliberately excluded so the score is a
    pure per-token signal (callers thresholding can fold the prior
    into the threshold).

    Plan (everything JVM built-ins, one tokenize pass):
    tokenize+explode → per-token class counts in ONE groupBy (the
    train step — conditional sums, map-side combined) → one-row
    corpus totals crossJoined onto the count frame to form weights →
    token rows re-join the weight frame on the token (AQE splits the
    stopword-skewed keys) → per-doc aggregate. Training and scoring
    share the same exploded frame, so the corpus text is read once.
    At 100 TB the weight frame is bounded by vocabulary (≪ corpus)
    and the only wide shuffles are the two token-keyed aggregates.
    """
    toks = df.select(
        F.col(id_col),
        label.cast("long").alias("__y"),
        F.explode(
            ws_tokens(F.col(text_col))
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(
        F.sum("__y").alias("c_pos"),
        F.sum(F.lit(1) - F.col("__y")).alias("c_neg"),
    )
    totals = counts.agg(
        F.sum("c_pos").alias("__t_pos"),
        F.sum("c_neg").alias("__t_neg"),
        F.count(F.lit(1)).alias("__v"),
    )
    weights = counts.crossJoin(F.broadcast(totals)).select(
        "tok",
        (
            F.log((F.col("c_pos") + 1) / (F.col("__t_pos") + F.col("__v")))
            - F.log((F.col("c_neg") + 1) / (F.col("__t_neg") + F.col("__v")))
        ).alias("__w"),
    )
    return (
        toks.join(weights, on="tok")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("__w"), 4).alias("avg_log_odds"),
        )
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 retrieval scoring (Robertson/Spärck Jones, the standard
    lexical ranker): score(d) = Σ_t idf(t) · tf·(k1+1) /
    (tf + k1·(1 − b + b·dl/avgdl)), idf = ln(1 + (N − df + 0.5)/(df +
    0.5)). Returns (id, bm25) for every doc matching ≥ 1 query term.

    Plan shape — one tokenize pass, everything after is tiny:
    per-doc term frequencies for the QUERY TERMS ONLY ride out of the
    explode (filtered before the aggregate, so the shuffle carries
    O(matching docs · |query|) rows, not the vocabulary); N/avgdl are
    a one-row crossJoin; df per term is a |query|-row broadcast. The
    idf/tf algebra is plain codegen — engine-portable, so the oracle
    recomputes every stage."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]
    toks = df.select(
        F.col(id_col).alias("id"),
        ws_tokens(F.col(text_col)).alias("t"),
    ).select("id", F.size("t").alias("dl"), F.explode("t").alias("tok"))
    # Corpus stats WITHOUT the explode (r9, guide §2.3): N and avgdl
    # only need per-doc token COUNTS, so tokenizing into a size() is
    # enough — no row multiplication, no groupBy(id) shuffle. The doc
    # set is identical to the former explode→groupBy derivation
    # (explode emits no rows for empty/null token arrays ⇔ size <= 0
    # filtered here), and dl are integers, so the avg's double sum is
    # exact in any order — values unchanged.
    corpus = (
        df.select(F.size(ws_tokens(F.col(text_col))).alias("dl"))
        .filter(F.col("dl") > 0)
        .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    )
    hits = toks.filter(F.col("tok").isin(terms))
    tf = hits.groupBy("id", "tok").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(corpus))
        .select(
            "id",
            "tok",
            (
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1
                    * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("term_score"),
        )
    )
    # ORDERED fold, not F.sum: the per-doc score sums ≤|query| doubles
    # whose accumulation order would otherwise follow partition layout,
    # so reruns could ULP-flip deep lexical ranks (the r08 sf0.1 sweep
    # caught an 8e-6 RRF drift from exactly this). Summing in sorted
    # token order pins the result — same device as major_value_parts'
    # ordered part_value fold; the oracle mirrors it with
    # list(expr ORDER BY tok).
    return (
        scored.groupBy("id")
        .agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("tok"), F.col("term_score")))
                ),
                F.lit(0.0),
                lambda a, x: a + x["term_score"],
            ).alias("bm25")
        )
        .select(F.col("id").alias(id_col), "bm25")
    )


def token_entropy(text: Column) -> dict[str, Column]:
    """Per-document token-level Shannon entropy (bits) + type-token
    ratio — the direct repetition/diversity quality signals next to
    :func:`quality_features`'s ratio family (and the SQL-expressible
    companion of ``curation.compression_ratio``'s zlib proxy; template
    spam shows low entropy AND low TTR, keyword stuffing low entropy
    with high length).

    Scale design: NO explode and NO shuffle. Tokens are sorted within
    the row's array and the entropy falls out of one run-length
    ``aggregate`` fold over the sorted array (state = (previous token,
    run length, Σ c·log2 c)); −Σ (c/n)·log2(c/n) is then recovered as
    log2(n) − (Σ c·log2 c)/n, so the fold never needs n mid-stream.
    Per-row O(k log k) for k tokens, all codegen, map-only — at 100 TB
    this rides the document scan, versus the explode+groupBy form
    which shuffles one row per token (~30× row amplification on prose).
    """
    toks = F.array_sort(ws_tokens(text))
    n = F.size(toks)
    # fold state: (prev token, current run length, sum of c*log2(c))
    state0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0.0).alias("s"),
    )
    clog2c = lambda c: c.cast("double") * F.log2(c.cast("double"))  # noqa: E731
    folded = F.aggregate(
        toks,
        state0,
        lambda st, x: F.struct(
            x.alias("prev"),
            F.when(x == st.prev, st.run + 1).otherwise(F.lit(1)).alias("run"),
            (
                st.s
                + F.when(
                    (x != st.prev) & (st.run > 0), clog2c(st.run)
                ).otherwise(F.lit(0.0))
            ).alias("s"),
        ),
        lambda st: st.s + F.when(st.run > 0, clog2c(st.run)).otherwise(F.lit(0.0)),
    )
    entropy = F.when(
        n > 0, F.log2(n.cast("double")) - folded / n.cast("double")
    ).otherwise(F.lit(0.0))
    ttr = F.when(
        n > 0, F.size(F.array_distinct(toks)) / n.cast("double")
    ).otherwise(F.lit(0.0))
    return {"token_entropy": entropy, "type_token_ratio": ttr}


def readability_features(text: Column) -> dict[str, Column]:
    """Flesch reading-ease + its raw counts (sentences, words,
    syllable estimate) — the classic document-difficulty signal
    corpus-quality stacks report next to :func:`quality_features`.

    All three counts are single ``regexp_count`` scans (pure codegen,
    cross-engine-identical RE2∩Java patterns):

    - sentences: maximal runs of ``.!?`` (floor 1 so a fragment
      doesn't divide by zero);
    - words: whitespace tokens;
    - syllables: the standard vowel-group heuristic (runs of
      ``aeiouy``), floor 1 per word via ``greatest`` with the word
      count — a word with no vowels ("rhythm" loses to this, "7th")
      still counts one syllable.

    FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words);
    empty/whitespace docs get null (no text to score).
    """
    words = F.size(ws_tokens(text, lower=False))
    sentences = F.greatest(F.regexp_count(text, F.lit(r"[.!?]+")), F.lit(1))
    # ASCII fold (see ws_tokens): JVM lower() of U+0130 injects a vowel
    vowel_groups = F.regexp_count(
        F.translate(text, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"), F.lit(r"[aeiouy]+")
    )
    syllables = F.greatest(vowel_groups, words)
    fre = (
        F.lit(206.835)
        - 1.015 * (words.cast("double") / sentences.cast("double"))
        - 84.6 * (syllables.cast("double") / words.cast("double"))
    )
    return {
        "n_sentences": sentences,
        "n_words": words,
        "n_syllables": syllables,
        "flesch_reading_ease": F.when(words > 0, fre),
    }


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Corpus-order n-gram novelty per document: the fraction of a
    document's DISTINCT word n-grams whose first corpus appearance
    (minimum ``id_col``) is this document — the cheap global
    repetition signal between exact dedup (whole-text) and MinHash
    (pairwise): a document that introduces almost nothing new
    (novelty → 0) is boilerplate recombination even when no single
    pair-similarity fires.

    Plan: explode distinct (doc, gram) pairs once; one groupBy(gram)
    computes each gram's first owner; one broadcast-free join back on
    gram and a final per-doc aggregate. Two key-hashed shuffles on
    already-deduplicated rows — linear in corpus token count, no
    pairwise stage anywhere, which is what lets the same plan run at
    100 TB (the gram table is the inverted index dedup already
    builds). Documents with fewer than ``n`` tokens have no grams and
    are absent (callers left-join).

    Same tokenization as :func:`top_ngram_stats` (lower, trim, split
    on whitespace runs).
    """
    toks = ws_tokens(F.col(text_col))
    base = df.select(id_col, toks.alias("__toks")).filter(
        F.size("__toks") >= n
    )
    idx = F.sequence(F.lit(0), F.size("__toks") - n)
    grams = base.select(
        id_col,
        F.explode(
            F.array_distinct(
                F.transform(
                    idx,
                    lambda i: F.array_join(F.slice("__toks", i + 1, n), " "),
                )
            )
        ).alias("__gram"),
    )
    # First-owner via a window over the gram partition instead of
    # groupBy + join-back (r9, guide §2.4 — remove shuffles outright):
    # the join shape planned the explode subtree TWICE (once under the
    # aggregate, once as the probe side — no subtree sharing without a
    # materialization) and sort-merge-joined on the gram string, i.e.
    # two tokenize+explode passes, two gram-keyed exchanges and two
    # sorts. min(id) OVER (PARTITION BY gram) computes the identical
    # first owner (exact long min, same values) in ONE explode pass
    # with ONE gram-keyed exchange+sort; per-partition window groups
    # are doc-counts-per-gram, the same bound the join blowup had.
    from pyspark.sql import Window as _W

    first = F.min(id_col).over(_W.partitionBy("__gram"))
    return (
        grams.select(
            id_col, (first == F.col(id_col)).cast("long").alias("__novel")
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("__novel").alias("n_novel"),
            (
                F.sum("__novel") / F.count(F.lit(1)).cast("double")
            ).alias("novelty_frac"),
        )
    )


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    n: int = 5,
) -> DataFrame:
    """Pairwise n-gram Jaccard overlap BETWEEN SOURCES — the corpus
    mixture diagnostic (mirror sites, syndicated feeds, cross-source
    contamination show up as high off-diagonal overlap before any
    per-document dedup runs; the source-level view of what
    ``contamination_overlap`` does against a benchmark).

    Plan: distinct (source, gram) postings — ONE explode+distinct —
    then a self-equi-join on gram (source_a < source_b) counts
    intersections; per-source gram totals broadcast onto the pair
    frame give |A∪B| = |A|+|B|−|A∩B|. The join key is the gram, so
    the blowup per gram is (sources sharing it)², bounded by the
    source count — never document-pairwise. Output one row per source
    pair with any overlap.
    """
    toks = ws_tokens(F.col(text_col))
    base = df.select(source_col, toks.alias("__toks")).filter(
        F.size("__toks") >= n
    )
    idx = F.sequence(F.lit(0), F.size("__toks") - n)
    postings = (
        base.select(
            source_col,
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.array_join(F.slice("__toks", i + 1, n), " "),
                )
            ).alias("__gram"),
        )
        .distinct()
    )
    sizes = postings.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("__sz")
    )
    a = postings.select(
        F.col(source_col).alias("source_a"), "__gram"
    )
    b = postings.select(
        F.col(source_col).alias("source_b"), "__gram"
    )
    inter = (
        a.join(b, "__gram")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col(source_col).alias("source_a"),
                    F.col("__sz").alias("__sza"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col(source_col).alias("source_b"),
                    F.col("__sz").alias("__szb"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_common",
            (F.col("__sza") + F.col("__szb") - F.col("n_common")).alias(
                "n_union"
            ),
            (
                F.col("n_common")
                / (
                    F.col("__sza") + F.col("__szb") - F.col("n_common")
                ).cast("double")
            ).alias("jaccard"),
        )
    )
    return out


def bigram_logprob_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Self-trained BIGRAM negative-log-likelihood per document — the
    order-aware upgrade of :func:`unigram_logprob_score`: each token is
    scored by −ln P(w_t | w_{t−1}) under the corpus's own bigram
    counts, so scrambled or templated text that unigram statistics
    can't separate scores high. No smoothing is needed: the "model"
    is trained on the same corpus, so every observed bigram has
    count ≥ 1.

    Output: (id, n_bigrams, avg_neg_logprob) over documents with ≥2
    tokens; P(w_t | w_{t−1}) = c(w_{t−1}, w_t) / c_ctx(w_{t−1}) where
    the context count is the number of bigrams starting with w_{t−1}.

    Plan: bigrams are formed INSIDE the token array (zip of the array
    with its own 1-shift) before a single explode — no per-token
    window, no positional shuffle; then one bigram-count aggregate,
    one context-count aggregate, and a re-join (AQE absorbs stopword-
    pair skew). Everything is built-ins; at 100 TB the two count
    frames are the only shuffles and both are map-side combined.
    """
    arr = F.filter(
        ws_tokens(F.col(text_col)),
        lambda x: x != "",
    )
    pairs = F.zip_with(
        F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    b = (
        df.select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    # vb is pinned (r9, guide §5) because TWO consumers reference it
    # (the context rollup below and the scoring join), and each
    # reference re-ran the corpus tokenize+explode+count; the frame is
    # distinct-bigram-sized. ctx then rolls up from vb instead of
    # re-aggregating the exploded rows — count(*) by w1 over bigram
    # rows ≡ sum(cb) by w1 over bigram counts (exact integers), one
    # fewer corpus pass (3 → 2 explodes, and the remaining two are the
    # floor: one to train counts, one to score rows).
    vb = (
        b.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
        .localCheckpoint(eager=False)
    )
    ctx = vb.groupBy("w1").agg(
        F.sum("cb").cast("double").alias("cc")
    )
    scored = (
        b.join(vb, on=["w1", "w2"])
        .join(ctx, on="w1")
        .select(id_col, (-F.log(F.col("cb") / F.col("cc"))).alias("nll"))
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("nll").alias("avg_neg_logprob"),
    )
