"""LLM-data operator tests: dedup recall, ANN recall, text analysis,
multimodal plumbing."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from financial_data_pipeline_spark.operators import dedup, similarity, text
from financial_data_pipeline_spark.operators.multimodal import (
    attach_media_meta,
    decode_features,
    frame_sample,
)
from financial_data_pipeline_spark.sources.adapters import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings").cache()


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], ["doc_id", "text"]
    )
    out = {r.doc_id: r.dup_count for r in dedup.exact_dedup(df).collect()}
    assert out == {1: 2, 3: 1}


def test_shingles_count(spark):
    df = spark.createDataFrame([("a b c d e",)], ["text"])
    out = df.select(dedup.shingles(F.col("text"), 3).alias("s")).first()["s"]
    assert out == ["a b c", "b c d", "c d e"]


def test_minhash_lsh_recall_vs_exact_jaccard(spark, docs):
    """LSH candidates must recover (here: all) true near-dup pairs."""
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.jaccard_pairs(docs, k=3, threshold=0.5).collect()
    }
    cand = dedup.lsh_candidates(docs, num_perm=16, bands=8)
    via_lsh = {
        (r.id_a, r.id_b)
        for r in dedup.jaccard_pairs(
            docs, k=3, threshold=0.5, candidates=cand
        ).collect()
    }
    assert exact, "fixture should contain near-dup documents"
    recall = len(via_lsh & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall}"


def test_hot_bucket_cap_bounds_planted_stopword_blowup(spark):
    """A shingle planted into EVERY doc creates one bucket of size n →
    n²/2 pairs without the cap. With the cap, the degenerate bucket is
    dropped (surfaced via Observation) and the pair count stays at
    what the distinct texts alone produce."""
    from pyspark.sql import Observation

    n = 80
    boiler = " ".join(f"common{j}" for j in range(10))
    rows = [
        # 10-token boilerplate (8 shared shingles) + per-doc unique tail
        (i, f"{boiler} unique{i}")
        for i in range(n)
    ]
    # one genuine near-dup pair in a small (uncapped) bucket
    rows += [(900, "rare alpha beta gamma"), (901, "rare alpha beta gamma delta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # threshold 0: every pair sharing >=1 shingle is emitted
    uncapped = dedup.jaccard_pairs(df, k=3, threshold=0.0).count()
    assert uncapped == n * (n - 1) / 2 + 1  # the blowup + the real pair
    obs = Observation()
    capped = dedup.jaccard_pairs(
        df, k=3, threshold=0.0, max_bucket_size=10, observation=obs
    ).collect()
    # the planted stopword buckets are gone; the real pair survives
    assert {(r.id_a, r.id_b) for r in capped} == {(900, 901)}
    assert obs.get["dropped_buckets"] >= 1
    assert obs.get["max_bucket_docs"] == n

    # candidate generation: degenerate band buckets likewise capped
    obs2 = Observation()
    cands = dedup.lsh_candidates(
        df, num_perm=16, bands=8, max_bucket_size=10, observation=obs2
    ).count()
    uncapped_cands = dedup.lsh_candidates(df, num_perm=16, bands=8).count()
    assert cands < uncapped_cands
    assert obs2.get["dropped_buckets"] >= 1


def test_simhash_near_dups_have_small_hamming(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again!"),
            (3, "completely different words about spark query engines at scale"),
        ],
        ["doc_id", "text"],
    )
    fp = {
        r.doc_id: r.fp
        for r in df.select("doc_id", dedup.simhash(F.col("text")).alias("fp")).collect()
    }
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(fp[1], fp[2]) < ham(fp[1], fp[3])


def test_simhash_pairs_uncapped_past_default_bucket_cap(spark):
    """SimHash chunk blocking is lossless (pigeonhole), so unlike the
    capped pair operators it keeps EVERY pair of a chunk bucket holding
    more docs than their default cap (1000)."""
    n = 1001
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("one boilerplate sentence repeated verbatim").alias("text"),
    )
    got = (
        dedup.simhash_pairs(df)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("hamming").alias("max_ham"),
            F.sum((F.col("id_a") >= F.col("id_b")).cast("int")).alias("bad"),
        )
        .first()
    )
    assert (got.n, got.max_ham, got.bad) == (n * (n - 1) // 2, 0, 0)


def test_simhash_kernel_matches_sql_fold(spark, docs):
    """The Arrow numpy kernel must be bit-identical to the pure-SQL
    higher-order-aggregate specification (same token hash, same ±1
    fold, same >0 tie rule)."""
    via_kernel = dedup.simhash_fingerprints(docs, token_hash="xx")
    via_fold = docs.select(
        "doc_id", dedup.simhash(F.col("text")).alias("fp")
    )
    mismatches = (
        via_kernel.alias("a")
        .join(via_fold.alias("b"), "doc_id")
        .filter(F.col("a.fp") != F.col("b.fp"))
        .count()
    )
    assert mismatches == 0


def test_brute_force_topk_self_first(spark, emb):
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    top = similarity.brute_force_topk(emb, q, k=5).collect()
    assert top[0].vec_id == 0
    assert abs(top[0].cos_sim - 1.0) < 1e-6
    sims = [r.cos_sim for r in top]
    assert sims == sorted(sims, reverse=True)


def test_lsh_ann_self_first_and_bucket_restricted(spark, emb):
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    planes = similarity.seeded_planes(6, 64, seed=7)
    top = similarity.lsh_ann_topk(emb, planes, q, k=5).collect()
    assert top[0].vec_id == 0 and abs(top[0].cos_sim - 1.0) < 1e-6
    qb = {
        r.vec_id
        for r in emb.select(
            "vec_id", similarity.lsh_bucket("embedding", planes).alias("b")
        )
        .filter(
            F.col("b")
            == emb.select(
                similarity.lsh_bucket("embedding", planes)
            ).filter("vec_id = 0").first()[0]
        )
        .collect()
    }
    assert {r.vec_id for r in top} <= qb


def test_ivf_recall_vs_brute_force(spark, emb):
    q = [float(x) for x in emb.filter("vec_id = 7").first()["embedding"]]
    brute = [r.vec_id for r in similarity.brute_force_topk(emb, q, k=10).collect()]
    cents = similarity.ivf_build_centroids(emb)
    ivf = [
        r.vec_id
        for r in similarity.ivf_topk(emb, cents, q, k=10, nprobe=3).collect()
    ]
    recall = len(set(brute) & set(ivf)) / 10
    assert recall >= 0.5, f"IVF nprobe=3 recall {recall}"


def test_cosine_pairs_blocked_matches_exact_within_blocks(spark, emb):
    """The applyInPandas block path must equal the exact all-pairs
    result restricted to same-bucket pairs — no lost or invented
    pairs, identical rounded similarities."""
    planes = similarity.seeded_planes(4, 64, seed=7)
    bucketed = emb.withColumn(
        "bucket", similarity.lsh_bucket("embedding", planes)
    )
    blocked = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in similarity.cosine_pairs(
            bucketed, threshold=0.4, block_col="bucket"
        ).collect()
    }
    bucket_of = {
        r.vec_id: r.b
        for r in bucketed.select("vec_id", F.col("bucket").alias("b")).collect()
    }
    exact_same_bucket = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in similarity.cosine_pairs(emb, threshold=0.4).collect()
        if bucket_of[r.id_a] == bucket_of[r.id_b]
    }
    assert blocked == exact_same_bucket and len(blocked) > 0


def test_cosine_pairs_side_cap_raises(spark, emb):
    with pytest.raises(ValueError, match="max_side_rows"):
        similarity.cosine_pairs(emb, threshold=0.4, max_side_rows=10)


def test_knn_join_matches_per_query_brute_force(spark, emb):
    """knn_join's batched kernel must agree with brute_force_topk run
    per query (self-neighbor included, cos 1.0, k rows each)."""
    queries = emb.filter(F.col("vec_id") < 5)
    got = similarity.knn_join(emb, queries, k=4).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.neighbor_id, r.cos_sim))
    assert set(by_q) == {0, 1, 2, 3, 4}
    for qid, rows in by_q.items():
        assert len(rows) == 4
        qv = [float(x) for x in emb.filter(F.col("vec_id") == qid).first()["embedding"]]
        brute = [
            (r.vec_id, r.cos_sim)
            for r in similarity.brute_force_topk(emb, qv, k=4).collect()
        ]
        assert sorted(rows) == sorted(brute), f"query {qid}"
        assert (qid, 1.0) in rows  # self neighbor


def test_knn_join_query_cap_raises(spark, emb):
    with pytest.raises(ValueError, match="max_query_rows"):
        similarity.knn_join(emb, emb, k=3, max_query_rows=10)


def test_cosine_matches_numpy(spark, emb):
    rows = emb.orderBy("vec_id").limit(2).collect()
    a = np.array(rows[0]["embedding"], dtype=np.float64)
    b = np.array(rows[1]["embedding"], dtype=np.float64)
    want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    got = (
        spark.createDataFrame(
            [(rows[0]["embedding"], rows[1]["embedding"])], ["a", "b"]
        )
        .select(similarity.cosine("a", "b").alias("c"))
        .first()["c"]
    )
    assert abs(got - want) < 1e-9


def test_clean_text_normalizes_markup_and_whitespace(spark):
    rows = [
        (1, "<p>Hello <b>world</b></p>"),
        (2, "a<br>b"),                      # tag is a word boundary
        (3, "  spaced\t\tout\n\nlines  "),
        (4, "ctrl\x00char\x1fhere"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.text for r in text.clean_text(df).collect()}
    assert got == {
        1: "Hello world",
        2: "a b",
        3: "spaced out lines",
        4: "ctrlcharhere",
        5: "",
    }


def test_unigram_logprob_ranks_gibberish_above_fluent(spark):
    """Rare-token docs must score higher (more surprising) than docs
    made of corpus-common tokens."""
    common = "the market closed higher today " * 10
    rows = [
        (1, common),
        (2, common),
        (3, common),
        (4, "zxqv jkwp qqrst plmnb vvxyz"),  # singleton tokens
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in text.unigram_logprob_score(df).collect()}
    assert got[4].avg_neg_logprob > got[1].avg_neg_logprob
    assert got[1].avg_neg_logprob == got[2].avg_neg_logprob
    assert got[4].n_tokens == 5


def test_line_dedup_semantics(spark):
    """Corpus-wide first occurrence wins; within-doc repeats drop;
    blank lines survive; a fully-duplicated doc collapses to ''."""
    rows = [
        (1, "alpha line\n\nbeta line\nalpha line"),  # self-dup + blank
        (2, "beta line\ngamma line"),                # beta seen in doc 1
        (3, "alpha line\nbeta line"),                # fully duplicated
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.text for r in dedup.line_dedup(df).collect()}
    assert got[1] == "alpha line\n\nbeta line"
    assert got[2] == "gamma line"
    assert got[3] == ""


def test_top_ngram_stats_finds_planted_repetition(spark):
    rows = [
        (1, "buy now " * 50 + "unique tail words"),   # heavy bigram loop
        (2, "all words here are fully distinct ones"),
        (3, "x"),                                      # < n tokens: absent
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in text.top_ngram_stats(df, n=2).collect()}
    assert set(got) == {1, 2}
    assert got[1].top_ngram in ("buy now", "now buy")
    assert got[1].top_ngram_count >= 49
    assert got[1].top_ngram_char_frac > 0.5
    assert got[2].top_ngram_count == 1
    # tie on count=1 → lexicographically smallest bigram
    assert got[2].top_ngram == "all words"


def test_token_counts_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, ""), (3, "12 foo-bar!")],
        ["doc_id", "text"],
    )
    out = text.quality_score(df).orderBy("doc_id").toPandas()
    assert out["n_tokens"].tolist() == [6, 0, 2]
    # "12 foo-bar!" → [12][foo][-][bar][!]
    assert out["n_tokens_bpe"].tolist()[2] == 5
    assert out["quality"].between(0, 1).all()
    assert out.loc[0, "stopword_ratio"] == pytest.approx(2 / 6)


def test_detect_language_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of a house"),
            (2, "el perro y la casa de que y el"),
            (3, "zzz qqq www"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r.lang
        for r in df.select(
            "doc_id", text.detect_language("text").alias("lang")
        ).collect()
    }
    assert out == {1: "en", 2: "es", 3: "und"}


def test_doc_fingerprint_deterministic_and_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "a b d")], ["doc_id", "text"]
    )
    out = {
        r.doc_id: r.fp
        for r in df.select(
            "doc_id", text.doc_fingerprint(F.col("text")).alias("fp")
        ).collect()
    }
    assert out[1] == out[2] != out[3]


def test_multimodal_decode_plumbing(spark, docs):
    media = docs.withColumn("payload", F.encode("text", "UTF-8"))
    meta = attach_media_meta(media)
    r = meta.select("media_meta.*").first()
    assert r.media_type == "image" and r.size_bytes > 0
    feats = decode_features(meta, n_features=8).toPandas()
    assert len(feats) == docs.count()
    assert all(len(f) == 8 for f in feats["features"])
    assert feats["decode_ok"].all()
    # deterministic: same payload → same features
    f2 = decode_features(meta, n_features=8).toPandas()
    merged = feats.merge(f2, on="doc_id")
    assert all(
        list(a) == list(b) for a, b in zip(merged["features_x"], merged["features_y"])
    )


def test_multimodal_real_decode_raises(spark, docs):
    media = docs.limit(2).withColumn("payload", F.encode("text", "UTF-8"))
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        decode_features(media, fake=False).collect()


def test_frame_sample_calendar(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"xx"), 3500)], ["doc_id", "payload", "duration_ms"]
    )
    out = frame_sample(df, every_ms=1000).toPandas()
    assert out["frame_ms"].tolist() == [0, 1000, 2000, 3000]


def test_resize_media_plumbing(spark, docs):
    from financial_data_pipeline_spark.operators.multimodal import resize_media

    media = docs.limit(5).withColumn("payload", F.encode("text", "UTF-8"))
    out = resize_media(media, target_w=4, target_h=3).toPandas()
    assert len(out) == 5
    assert (out["width"] == 4).all() and (out["height"] == 3).all()
    # strided fake resample: output length = min(target area, input len)
    src = {r.doc_id: len(bytes(r.payload)) for r in media.collect()}
    for _, r in out.iterrows():
        assert len(bytes(r.payload)) == min(12, src[r.doc_id])
    # deterministic
    o2 = resize_media(media, target_w=4, target_h=3).toPandas()
    m = out.merge(o2, on="doc_id")
    assert all(bytes(a) == bytes(b) for a, b in zip(m.payload_x, m.payload_y))


def test_dedup_clusters_and_canonical(spark):
    from financial_data_pipeline_spark.operators import dedup

    # components: {1,2,3,4} (chain), {10,11}, singletons 20 (self-loop-free)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.dedup_clusters(pairs).collect()
    }
    assert clusters == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 4, 10, 11, 20]],
        "doc_id long, text string",
    )
    kept = sorted(
        r["doc_id"] for r in dedup.keep_canonical(docs, pairs).collect()
    )
    assert kept == [1, 10, 20]


def test_backup_manager_round_trip(tmp_path):
    from datetime import datetime, timedelta, timezone

    from financial_data_pipeline_spark.sources.backup import BackupManager

    src = tmp_path / "data.csv"
    src.write_text("a,b\n1,2\n")
    now = datetime(2025, 6, 1, tzinfo=timezone.utc)
    ticks = [now + timedelta(seconds=i) for i in range(10)]
    bm = BackupManager(str(tmp_path / "bk"), clock=lambda: ticks.pop(0))

    meta = bm.create_backup(str(src), "first")
    assert bm.verify_backup(meta["timestamp"])
    # corrupt the original, restore, verify content
    src.write_text("corrupted")
    bm.restore_backup(meta["timestamp"])
    assert src.read_text() == "a,b\n1,2\n"

    # compressed variant round-trips too
    meta_gz = bm.create_backup(str(src), compress=True)
    out = tmp_path / "restored.csv"
    bm.restore_backup(meta_gz["timestamp"], str(out))
    assert out.read_text() == "a,b\n1,2\n"

    assert bm.list_backups()[0]["timestamp"] == meta_gz["timestamp"]


def test_backup_retention(tmp_path):
    from datetime import datetime, timedelta, timezone

    from financial_data_pipeline_spark.sources.backup import BackupManager

    src = tmp_path / "f.txt"
    src.write_text("x")
    base = datetime(2025, 1, 1, tzinfo=timezone.utc)
    # 6 old backups (40+ days before "now"), then cleanup at `now`
    times = [base + timedelta(minutes=i) for i in range(6)] + [
        base + timedelta(days=40)
    ]
    bm = BackupManager(str(tmp_path / "bk"), clock=lambda: times.pop(0))
    stamps = [bm.create_backup(str(src))["timestamp"] for _ in range(6)]
    deleted = bm.cleanup(keep_days=30, minimum_keep=5)
    # oldest beyond the minimum-keep 5 is deleted, newest 5 survive
    assert deleted == [stamps[0]]
    assert len(bm.list_backups()) == 5


def test_shared_shingle_pass_matches_default(docs):
    """dual_hashed_shingle_rows-fed LSH+jaccard ≡ the default two-pass
    plans (same candidate pairs, same verified pairs)."""
    sh = dedup.dual_hashed_shingle_rows(docs)
    cand_default = dedup.lsh_candidates(docs, num_perm=16, bands=8)
    cand_shared = dedup.lsh_candidates(
        docs, num_perm=16, bands=8, shingle_rows_df=sh
    )
    as_set = lambda df: {tuple(r) for r in df.collect()}
    assert as_set(cand_default) == as_set(cand_shared)
    ver_default = dedup.jaccard_pairs(
        docs, k=3, threshold=0.3, candidates=cand_default
    )
    ver_shared = dedup.jaccard_pairs(
        docs, k=3, threshold=0.3, candidates=cand_shared, shingle_rows_df=sh
    )
    assert as_set(ver_default) == as_set(ver_shared)


def test_dedup_clusters_driver_and_distributed_paths_agree(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (5, 3)],
        "id_a long, id_b long",
    )
    as_set = lambda df: {tuple(r) for r in df.collect()}
    driver = dedup.dedup_clusters(pairs)  # under threshold → union-find
    dist = dedup.dedup_clusters(pairs, driver_threshold=0)  # force loop
    assert as_set(driver) == as_set(dist)
    # component minima are the labels
    got = dict(sorted(as_set(driver)))
    assert got == {1: 1, 2: 1, 3: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_clusters_deep_chain(spark):
    """r9 pointer-jumping escalation: a chain component whose diameter
    EXCEEDS max_iter converges anyway once the label-of-label hop
    engages (round >= hop_from) — plain min-propagation moves the
    minimum one hop per round and would return unconverged labels.
    Also pins hop-vs-plain label equality on a graph where the plain
    path CAN converge."""
    as_map = lambda df: {r.doc_id: r.cluster_id for r in df.collect()}
    # 0-1-2-...-35 chain: diameter 35 > max_iter=12 plain rounds, but
    # ~log2 rounds with the hop (engaged from round 3)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(35)], "id_a long, id_b long"
    )
    got = as_map(
        dedup.dedup_clusters(chain, max_iter=12, driver_threshold=0)
    )
    assert got == {i: 0 for i in range(36)}
    # hop forced from round 0 vs plain-until-converged: identical labels
    short = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    plain = as_map(
        dedup.dedup_clusters(short, driver_threshold=0, hop_from=99)
    )
    hop = as_map(dedup.dedup_clusters(short, driver_threshold=0, hop_from=0))
    assert plain == hop == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_recall_at_k_exact_vs_itself_is_one(spark, emb):
    queries = emb.filter(F.col("vec_id") < 4)
    exact = similarity.knn_join(emb, queries, k=5)
    out = similarity.recall_at_k(exact, exact, k=5).collect()
    assert len(out) == 4
    assert all(r.hits == 5 and r.recall == 1.0 for r in out)


def test_lsh_topk_join_recall_bounded_and_self_hit(spark, emb):
    planes = similarity.seeded_planes(4, 64, seed=7)
    queries = emb.filter(F.col("vec_id") < 4)
    exact = similarity.knn_join(emb, queries, k=5)
    ann = similarity.lsh_topk_join(emb, planes, queries, k=5)
    # every query lands in its own bucket with cos=1 → rank 1 on both
    # sides → at least the self neighbor always overlaps
    out = similarity.recall_at_k(exact, ann, k=5).collect()
    assert len(out) == 4
    assert all(1 <= r.hits <= 5 for r in out)
    assert all(0.0 < r.recall <= 1.0 for r in out)
    # batch form agrees with the single-query operator per query
    for qid in range(4):
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).first()["embedding"]
        ]
        single = {
            r.vec_id
            for r in similarity.lsh_ann_topk(emb, planes, qvec, k=5).collect()
        }
        batch = {
            r.neighbor_id
            for r in ann.filter(F.col("query_id") == qid).collect()
        }
        assert batch == single


def test_nb_class_scores_separates_disjoint_vocab(spark):
    rows = []
    for i in range(20):
        rows.append((i, "alpha beta gamma delta epsilon", 1))
    for i in range(20, 40):
        rows.append((i, "zork quux blarg frob wibble", 0))
    df = spark.createDataFrame(rows, ["doc_id", "text", "y"])
    out = text.nb_class_scores(df, F.col("y") == 1).collect()
    scores = {r.doc_id: r.avg_log_odds for r in out}
    assert len(scores) == 40
    # disjoint vocabularies → every positive doc scores strictly above
    # every negative doc, with the sign telling the class
    assert all(scores[i] > 0 for i in range(20))
    assert all(scores[i] < 0 for i in range(20, 40))
    assert all(r.n_tokens == 5 for r in out)


def test_nb_class_scores_matches_hand_computation(spark):
    # 2 docs, tiny vocab — weights computable by hand
    df = spark.createDataFrame(
        [(0, "a a b", 1), (1, "b c", 0)], ["doc_id", "text", "y"]
    )
    out = {
        r.doc_id: r.avg_log_odds
        for r in text.nb_class_scores(df, F.col("y") == 1).collect()
    }
    import math

    # vocab = {a, b, c} (V=3), T_pos=3, T_neg=2
    def w(cp, cn):
        return math.log((cp + 1) / (3 + 3)) - math.log((cn + 1) / (2 + 3))

    exp0 = round((2 * w(2, 0) + w(1, 1)) / 3, 4)
    exp1 = round((w(1, 1) + w(0, 1)) / 2, 4)
    assert out[0] == pytest.approx(exp0, abs=1e-4)
    assert out[1] == pytest.approx(exp1, abs=1e-4)


def test_multiprobe_recall_dominates_single_probe(spark, emb):
    planes = similarity.seeded_planes(6, 64, seed=7)
    queries = emb.filter(F.col("vec_id") < 8)
    exact = similarity.knn_join(emb, queries, k=10)
    r0 = {
        r.query_id: r.hits
        for r in similarity.recall_at_k(
            exact, similarity.lsh_topk_join(emb, planes, queries, k=10), 10
        ).collect()
    }
    r1 = {
        r.query_id: r.hits
        for r in similarity.recall_at_k(
            exact,
            similarity.lsh_topk_join(emb, planes, queries, k=10, probe_bits=1),
            10,
        ).collect()
    }
    # multi-probe candidates are a superset → per-query hits can only
    # stay equal or rise, and recall must improve somewhere at 6 planes
    assert all(r1[q] >= r0[q] for q in r0)
    assert sum(r1.values()) > sum(r0.values())


def test_ivf_topk_join_matches_single_query_operator(spark, emb):
    cents = similarity.ivf_build_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 4)
    batch = similarity.ivf_topk_join(emb, cents, queries, k=5, nprobe=2)
    rows = batch.collect()
    assert {r.query_id for r in rows} == {0, 1, 2, 3}
    for qid in range(4):
        qvec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == qid).first()["embedding"]
        ]
        single = {
            r.vec_id
            for r in similarity.ivf_topk(
                emb, cents, qvec, k=5, nprobe=2
            ).collect()
        }
        got = {r.neighbor_id for r in rows if r.query_id == qid}
        assert got == single


def test_semantic_dedup_removes_planted_near_identical(spark, emb):
    base = emb.select("vec_id", "embedding")
    clone = base.filter(F.col("vec_id") == 0).withColumn(
        "vec_id", F.lit(9999).cast("long")
    )
    corpus = base.unionByName(clone)
    out = similarity.semantic_dedup(corpus, threshold=0.99)
    kept = {r.vec_id for r in out.select("vec_id").collect()}
    # the exact clone clusters with vec 0; min id (0) survives
    assert 0 in kept and 9999 not in kept
    # nothing else should pair at cos >= 0.99 in this corpus
    assert len(kept) == base.count()


def test_exact_dedup_keep_n_caps_copies(spark):
    rows = [(i, "same text") for i in range(5)] + [(10, "unique")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = {
        r.doc_id for r in dedup.exact_dedup_keep_n(df, keep_n=2).collect()
    }
    assert kept == {0, 1, 10}  # lowest 2 of the 5 copies + the unique
    kept1 = {
        r.doc_id for r in dedup.exact_dedup_keep_n(df, keep_n=1).collect()
    }
    assert kept1 == {0, 10}  # keep_n=1: the lowest id per content hash


# ---------------------------------------------------------------------------
# Mergeable HLL sketches (operators/sketches.py)
# ---------------------------------------------------------------------------

from financial_data_pipeline_spark.operators import sketches


def test_sketch_exact_in_coupon_mode_and_rollup_equals_rescan(spark):
    # 3 groups x 300 distinct keys each, plus overlap across groups —
    # well inside lg_k=14 coupon mode, so estimates must be EXACT, and
    # the weekly rollup must equal a direct whole-scan sketch.
    sizes = {"a": 300, "b": 251, "c": 407}
    rows = [(g, k) for g, n in sizes.items() for k in range(n)]
    df = spark.createDataFrame(rows, ["grp", "key"])
    daily = sketches.distinct_sketches(df, ["grp"], "key")
    est = {
        r.grp: r.n_distinct
        for r in sketches.estimate(daily).collect()
    }
    exact = {
        r.grp: r.n
        for r in df.groupBy("grp").agg(F.countDistinct("key").alias("n")).collect()
    }
    assert est == exact
    # rollup of per-group sketches == sketch of the whole frame
    total = sketches.estimate(
        sketches.rollup_sketches(daily.withColumn("all", F.lit(1)), ["all"])
    ).collect()[0].n_distinct
    whole = sketches.estimate(
        sketches.distinct_sketches(df.withColumn("all", F.lit(1)), ["all"], "key")
    ).collect()[0].n_distinct
    assert total == whole
    assert total == df.select("key").distinct().count()


def test_sketch_error_bound_past_coupon_mode(spark):
    # 60k distincts saturates lg_k=12 into HLL mode: estimate is no
    # longer exact but must stay within ~3x the theoretical RSE
    # (1.04 / sqrt(2^12) ~= 1.6%).
    n = 60_000
    df = spark.range(n).withColumn("grp", F.lit(1))
    est = sketches.estimate(
        sketches.distinct_sketches(df, ["grp"], "id", lg_k=12)
    ).collect()[0].n_distinct
    assert abs(est - n) / n < 0.05


def test_quantize_roundtrip_error_bound(spark, emb):
    """|x − dequantize(quantize(x))| ≤ half a quantization step per
    dimension — the defining property of round-to-nearest int8 codes."""
    from financial_data_pipeline_spark.operators.similarity import (
        dequantize,
        embedding_minmax,
        quantize_codes,
    )

    lo, hi = embedding_minmax(emb)
    step = max((h - l) / 255.0 for l, h in zip(lo, hi))
    out = emb.select(
        F.max(
            F.aggregate(
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    dequantize(
                        quantize_codes(F.col("embedding"), lo, hi), lo, hi
                    ),
                    lambda x, d: F.abs(x - d),
                ),
                F.lit(0.0),
                lambda acc, e: F.greatest(acc, e),
            )
        ).alias("max_err")
    ).first()
    assert out["max_err"] <= step / 2.0 + 1e-12


def test_quantized_codes_fit_int8_range(spark, emb):
    from financial_data_pipeline_spark.operators.similarity import (
        embedding_minmax,
        quantize_codes,
    )

    lo, hi = embedding_minmax(emb)
    row = (
        emb.select(quantize_codes(F.col("embedding"), lo, hi).alias("c"))
        .select(
            F.min(F.array_min("c")).alias("cmin"),
            F.max(F.array_max("c")).alias("cmax"),
        )
        .first()
    )
    assert 0 <= row["cmin"] and row["cmax"] <= 255


def test_quantized_ann_recall_floor(spark, emb):
    """int8 + 4× overfetch + exact rerank should recover nearly all of
    the exact top-10 — assert a 0.8 mean-recall floor (measured, the
    harness query tracks the exact value per round)."""
    from financial_data_pipeline_spark.operators.similarity import (
        knn_join,
        quantized_topk_join,
        recall_at_k,
    )

    queries = emb.filter(F.col("vec_id") < 8)
    exact = knn_join(emb, queries, k=10)
    ann = quantized_topk_join(emb, queries, k=10, mult=4)
    rec = recall_at_k(exact, ann, k=10)
    mean_recall = rec.agg(F.avg("recall")).first()[0]
    assert mean_recall >= 0.8, mean_recall


def test_bm25_ranks_term_dense_docs_higher(spark):
    from financial_data_pipeline_spark.operators.text import bm25_scores

    df = spark.createDataFrame(
        [
            (1, "data data data query window"),
            (2, "data query"),
            (3, "nothing relevant here at all"),
            (4, "filler " * 200 + "data"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.bm25 for r in bm25_scores(df, ["data", "query"]).collect()}
    assert 3 not in got                      # no query term -> no row
    assert got[1] > got[2] > got[4] > 0      # tf and length norm both bite
    import pytest as _pytest

    with _pytest.raises(ValueError):
        bm25_scores(df, [])


def test_kll_sketch_rollup_and_rank_error(spark):
    """Mergeable quantiles: weekly p50 served from merged DAILY
    sketches must (a) equal the sketch built directly on the weekly
    data and (b) return a value whose exact rank is within the KLL
    rank-error bound of the true median rank."""
    from financial_data_pipeline_spark.operators import sketches as sk
    from financial_data_pipeline_spark.sources.adapters import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        F.to_date("ts").alias("day"),
        F.weekofyear(F.to_date("ts")).alias("wk"),
        "value",
    )
    daily = sk.quantile_sketches(ev, "value", ["day", "wk"])
    weekly_m = sk.rollup_quantile_sketches(daily.drop("day"), ["wk"])
    direct = sk.quantile_sketches(ev, "value", ["wk"])
    pm = {r.wk: r.p50 for r in sk.sketch_quantiles(weekly_m, [0.5]).collect()}
    pd_ = {r.wk: r.p50 for r in sk.sketch_quantiles(direct, [0.5]).collect()}
    assert set(pm) == set(pd_)

    for wk, v in pm.items():
        vals = sorted(
            r.value for r in ev.filter(F.col("wk") == wk).collect()
        )
        n = len(vals)
        rank = sum(1 for x in vals if x <= v)
        assert abs(rank - 0.5 * n) <= max(2, 0.04 * n), (wk, rank, n)


def test_theta_retention_matches_exact_sets(spark):
    from financial_data_pipeline_spark.operators import sketches as sk
    from financial_data_pipeline_spark.sources.adapters import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").withColumn(
        "day", F.to_date("ts")
    )
    th = sk.theta_sketches(ev, "user_id", ["day"])
    days = sorted(r.day for r in th.select("day").collect())[:2]
    got = sk.retention_between(th, "day", days[0], days[1]).first()
    a = {r.user_id for r in ev.filter(F.col("day") == days[0])
         .select("user_id").distinct().collect()}
    b = {r.user_id for r in ev.filter(F.col("day") == days[1])
         .select("user_id").distinct().collect()}
    assert (got.n_a, got.n_b) == (len(a), len(b))
    assert got.retained == len(a & b)
    assert got.churned == len(a - b)
    assert got.new_users == len(b - a)


def test_token_entropy_matches_python(spark):
    """Shuffle-free run-length-fold entropy ≡ textbook counter form,
    incl. empty / single-token / all-same edge docs."""
    import math
    from collections import Counter

    from financial_data_pipeline_spark.operators.text import token_entropy

    texts = [
        "the quick brown fox jumps over the lazy dog the end",
        "spam spam spam spam spam",
        "one",
        "",
        "   ",
        "a b a b a b c",
        "Mixed CASE mixed case MIXED",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    te = token_entropy(F.col("text"))
    got = (
        df.select("id", te["token_entropy"].alias("h"),
                  te["type_token_ratio"].alias("ttr"))
        .orderBy("id")
        .toPandas()
    )
    for i, t in enumerate(texts):
        toks = [x for x in t.lower().split() if x]
        if not toks:
            want_h, want_ttr = 0.0, 0.0
        else:
            n = len(toks)
            cnt = Counter(toks)
            want_h = -sum((c / n) * math.log2(c / n) for c in cnt.values())
            want_ttr = len(cnt) / n
        assert abs(got.h[i] - want_h) < 1e-12, (i, t)
        assert abs(got.ttr[i] - want_ttr) < 1e-12, (i, t)


def test_readability_hand_example(spark):
    from financial_data_pipeline_spark.operators.text import readability_features

    texts = [
        # 2 sentences, 6 words; syllables: the(1) cat(1) sat(1) it(1)
        # was(1) flat(1) = 6
        "The cat sat. It was flat!",
        "xyz",      # no vowels: syllables floored to word count (1)
        "",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    rf = readability_features(F.col("text"))
    got = df.select(
        "id",
        rf["n_sentences"].alias("s"),
        rf["n_words"].alias("w"),
        rf["n_syllables"].alias("sy"),
        rf["flesch_reading_ease"].alias("fre"),
    ).orderBy("id").toPandas()
    r0 = got.iloc[0]
    assert (r0.s, r0.w, r0.sy) == (2, 6, 6)
    assert abs(r0.fre - (206.835 - 1.015 * 3.0 - 84.6 * 1.0)) < 1e-9
    r1 = got.iloc[1]
    assert (r1.s, r1.w, r1.sy) == (1, 1, 1)
    assert pd.isna(got.iloc[2].fre)


def test_cms_never_undercounts_and_bound_holds(spark):
    import math

    from financial_data_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    rng = np.random.default_rng(41)
    # zipf-ish key stream
    keys = [f"k{int(v)}" for v in rng.zipf(1.5, 20000) % 500]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    depth, width = 4, 1024
    cms = cms_build(df, "k", depth=depth, width=width).cache()
    true = pd.Series(keys).value_counts()
    probe = spark.createDataFrame(
        [(k,) for k in true.index[:100]], "k string"
    )
    est = (
        cms_estimate(cms, probe, "k", depth=depth, width=width)
        .toPandas()
        .set_index("key")
        .est_count
    )
    n = len(keys)
    eps = math.e / width
    over = 0
    for k in est.index:
        assert est[k] >= true[k], k          # never undercounts
        if est[k] > true[k] + eps * n:
            over += 1
    # P(fail) per key <= e^-depth ~ 1.8%; 100 keys, generous cap
    assert over <= 10

    # mergeability: build(a) + build(b) == build(a ∪ b) exactly
    d1 = spark.createDataFrame([(k,) for k in keys[:10000]], "k string")
    d2 = spark.createDataFrame([(k,) for k in keys[10000:]], "k string")
    merged = cms_merge(
        cms_build(d1, "k", depth=depth, width=width),
        cms_build(d2, "k", depth=depth, width=width),
    )
    diff = (
        merged.withColumnRenamed("c", "cm")
        .join(cms, on=["d", "w"], how="full")
        .filter(F.coalesce("cm", F.lit(-1)) != F.coalesce("c", F.lit(-2)))
        .count()
    )
    assert diff == 0


def test_lloyd_kmeans_matches_numpy_reference(spark, emb):
    """Differential: 3 Lloyd rounds from the deterministic lowest-id
    init must produce the same assignment and centroids as a plain
    NumPy implementation of the identical recipe (empty clusters keep
    their centroid; argmin ties to the lowest index)."""
    k, iters = 6, 3
    assigned, cents = similarity.lloyd_kmeans(emb, k=k, iters=iters)
    pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
    X = np.array([np.array(v, dtype=np.float64) for v in pdf.embedding])
    ids = pdf.vec_id.to_numpy()
    C = X[:k].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)  # numpy argmin ties -> lowest index
        for c in range(k):
            if (lab == c).any():
                C[c] = X[lab == c].mean(axis=0)
    d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    lab = d.argmin(axis=1)
    got = {
        r["vec_id"]: r["cluster"]
        for r in assigned.select("vec_id", "cluster").collect()
    }
    want = dict(zip(ids.tolist(), lab.tolist()))
    mism = [i for i in want if got[i] != want[i]]
    assert not mism, f"{len(mism)} assignment mismatches, e.g. {mism[:5]}"
    assert np.allclose(np.array(cents), C, rtol=1e-6, atol=1e-8)


def test_kmeans_assign_tie_breaks_low_index(spark):
    df = spark.createDataFrame([(1, [0.0, 0.0])], "vec_id long, embedding array<double>")
    out = similarity.kmeans_assign(df, [[1.0, 0.0], [0.0, 1.0]])
    row = out.first()
    assert row["cluster"] == 0 and row["sq_dist"] == 1.0


def test_ngram_novelty_orders_recombination_low(spark):
    """Doc 1 introduces all its grams (novelty 1); doc 3, a pure
    recombination of doc 1's text, introduces none (novelty 0)."""
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words appear in this one"),
            (3, "the quick brown fox jumps"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.ngram_novelty(df, n=3).collect()}
    assert out[1]["novelty_frac"] == 1.0
    assert out[2]["novelty_frac"] == 1.0
    assert out[3]["novelty_frac"] == 0.0
    assert out[3]["n_grams"] == 3 and out[3]["n_novel"] == 0


def test_source_overlap_detects_mirror(spark):
    """A mirrored source pair scores Jaccard 1.0; an unrelated pair
    is absent (no shared grams -> no row)."""
    a = "alpha beta gamma delta epsilon zeta eta theta"
    b = "one two three four five six seven eight nine"
    df = spark.createDataFrame(
        [("s1", a), ("s2", a), ("s3", b)],
        "source string, text string",
    )
    rows = {
        (r["source_a"], r["source_b"]): r
        for r in text.source_overlap(df, n=5).collect()
    }
    assert rows[("s1", "s2")]["jaccard"] == 1.0
    assert ("s1", "s3") not in rows and ("s2", "s3") not in rows


def test_boilerplate_lines_finds_planted_chrome(spark):
    """Planted header/footer chrome in >=20% of a source's docs is
    reported with the right doc counts; rare lines and short lines
    stay out. (The driver corpus has no repeated lines — this is the
    behavioral proof behind the 0-row driver check.)"""
    from financial_data_pipeline_spark.plans.driver_queries import QUERIES

    header = "SUBSCRIBE TO OUR NEWSLETTER TODAY"
    rows = []
    for i in range(10):
        body = f"unique content line number {i} with enough length"
        text = (header + "\n" + body) if i < 4 else body
        rows.append((i, "sA", text))
    rows.append((100, "sB", header))  # 1 of 1 doc, but < 3 docs -> out
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    import financial_data_pipeline_spark.plans.driver_queries as dq

    # drive the same plan the query builds, against the planted frame
    dl = (
        df.select(
            "doc_id", "source", F.explode(F.split("text", "\n")).alias("r")
        )
        .select("doc_id", "source", F.trim("r").alias("line"))
        .filter(F.length("line") >= 10)
        .distinct()
    )
    src = dl.groupBy("source").agg(F.countDistinct("doc_id").alias("n_docs"))
    cnt = dl.groupBy("source", "line").agg(F.count(F.lit(1)).alias("n"))
    out = (
        cnt.join(src, "source")
        .filter((F.col("n") >= 3) & (F.col("n") / F.col("n_docs") >= 0.2))
        .collect()
    )
    assert len(out) == 1
    r = out[0]
    assert r["source"] == "sA" and r["line"] == header
    assert r["n"] == 4 and r["n_docs"] == 10


def test_bigram_logprob_matches_pure_python(spark):
    """Exact differential vs a dict-counted bigram model, plus:
    scrambled word order must score higher than the fluent original
    even when unigram counts are identical."""
    import math
    from collections import Counter

    fluent = "the market closed higher today and the market closed lower"
    scrambled = "closed the today market and higher lower market the closed"
    rows = [(1, fluent), (2, fluent), (3, scrambled), (4, "solo")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in text.bigram_logprob_score(df).collect()}

    docs = {i: t.lower().split() for i, t in rows}
    bi = Counter()
    ctx = Counter()
    for t in docs.values():
        for a, b in zip(t, t[1:]):
            bi[(a, b)] += 1
            ctx[a] += 1
    for i, t in docs.items():
        pairs = list(zip(t, t[1:]))
        if not pairs:
            assert i not in got  # <2 tokens: absent
            continue
        want = sum(-math.log(bi[p] / ctx[p[0]]) for p in pairs) / len(pairs)
        assert got[i].n_bigrams == len(pairs)
        assert abs(got[i].avg_neg_logprob - want) < 1e-9
    # order-awareness: same unigrams, different sequence → higher NLL
    assert got[3].avg_neg_logprob > got[1].avg_neg_logprob


def test_token_sort_dedup_catches_shuffled_copies(spark):
    """Reordered copies share a fingerprint; different multisets
    (even same vocab, different counts) do not."""
    from pyspark.sql import Window

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "Delta gamma BETA alpha"),      # case+order shuffle of 1
        (3, "alpha beta gamma"),             # subset: distinct
        (4, "alpha alpha beta gamma delta"),  # multiset differs: distinct
        (5, "  alpha   beta gamma delta "),   # whitespace noise of 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    arr = F.array_sort(
        F.filter(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
            lambda x: x != "",
        )
    )
    w = Window.partitionBy("fp")
    got = (
        df.select("doc_id", F.md5(F.concat_ws(" ", arr)).alias("fp"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .filter(F.col("group_size") >= 2)
        .collect()
    )
    by_id = {r.doc_id: r for r in got}
    assert set(by_id) == {1, 2, 5}
    assert {by_id[i].canonical_id for i in (1, 2, 5)} == {1}
    assert by_id[1].group_size == 3


def test_containment_pairs_catches_excerpts_jaccard_misses(spark):
    """A short quote fully inside a long doc: containment = 1.0 even
    though Jaccard is tiny; unrelated docs stay absent."""
    base = " ".join(f"w{i}" for i in range(120))       # 118 3-shingles
    quote = " ".join(f"w{i}" for i in range(10))       # 8 3-shingles, all inside
    rows = [
        (1, base),
        (2, quote),
        (3, "completely different tokens " * 5),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.id_a, r.id_b): r.containment
           for r in dedup.containment_pairs(df, k=3, threshold=0.8).collect()}
    assert got == {(1, 2): 1.0}
    jac = {(r.id_a, r.id_b): r.jaccard
           for r in dedup.jaccard_pairs(df, k=3, threshold=0.01).collect()}
    assert jac[(1, 2)] < 0.1  # the excerpt is invisible to Jaccard
