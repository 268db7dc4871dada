"""Tests for the scale extensions: dedup recall, ANN recall vs exact,
simhash behavior, multimodal plumbing — properties the rows-only
driver check can't see."""

from __future__ import annotations

from pyspark.sql import functions as F

from fordgobike_data_pipeline_spark.io import load_tables
from fordgobike_data_pipeline_spark.operators import dedup, multimodal, similarity, text

from .conftest import SF_SMOKE


def _docs(spark):
    return load_tables(spark, SF_SMOKE, ("documents",))["documents"]


def _emb(spark):
    return load_tables(spark, SF_SMOKE, ("embeddings",))["embeddings"]


def test_minhash_recall_vs_exact(spark):
    """MinHash-LSH (64 hashes / 16 bands) must recover ≥90% of the
    exact Jaccard≥0.8 pairs, with zero false positives (verify step)."""
    docs = _docs(spark)
    sh = dedup.token_shingles(docs, k=3)
    exact = {
        (r.id_a, r.id_b) for r in dedup.exact_jaccard_pairs(sh, threshold=0.8).collect()
    }
    mh = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(docs, threshold=0.8).collect()}
    assert mh <= exact  # exact-verify: no false positives
    if exact:
        assert len(mh) / len(exact) >= 0.9


def test_jaccard_stop_shingle_cap(spark):
    """max_shingle_freq drops only hot shingles: a huge cap changes
    nothing; cap=1 on a corpus sharing one stop-shingle kills the pairs
    that relied on it while pairs matching on rare shingles survive."""
    docs = _docs(spark)
    sh = dedup.token_shingles(docs, k=3)
    uncapped = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.exact_jaccard_pairs(sh, threshold=0.8).collect()
    }
    huge_cap = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.exact_jaccard_pairs(
            sh, threshold=0.8, max_shingle_freq=10**9
        ).collect()
    }
    assert huge_cap == uncapped
    # planted: two docs identical except one rare shingle each, plus a
    # shingle shared by EVERY doc (hot) — capping at 1 removes all
    # intersection evidence that goes through the hot shingle
    data = [(1, "a b c x1 y1 z1"), (2, "a b c x1 y1 z1"), (3, "a b c q r s")]
    planted = spark.createDataFrame(data, ["doc_id", "text"])
    psh = dedup.token_shingles(planted, k=3)
    full = {(r.id_a, r.id_b) for r in dedup.exact_jaccard_pairs(psh, threshold=0.5).collect()}
    assert (1, 2) in full
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.exact_jaccard_pairs(psh, threshold=0.5, max_shingle_freq=2).collect()
    }
    assert (1, 2) in capped  # pair survives on its rare shingles
    assert (1, 3) not in capped and (2, 3) not in capped
    # post-cap set sizes (stop-shingle semantics): identical docs score
    # exactly 1.0 even though they share a capped hot shingle — sizes
    # from the uncapped table would give (n-1)/(n+1) false negatives
    capped_jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.exact_jaccard_pairs(
            psh, threshold=0.5, max_shingle_freq=2
        ).collect()
    }
    assert capped_jac[(1, 2)] == 1.0


def test_exact_dedup_on_planted_duplicates(spark):
    docs = _docs(spark)
    dup = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    with_dups = docs.unionByName(dup)
    out = dedup.exact_dedup(with_dups, ["text"])
    assert out.count() == docs.count()  # dups collapsed
    assert out.filter(F.col("n_copies") == 2).count() == 3
    # survivor is the min id (the original)
    assert out.filter((F.col("n_copies") == 2) & (F.col("keep_id") >= 1_000_000)).count() == 0


def test_connected_components_transitive(spark):
    """A~B, B~C, D~E ⇒ components {A,B,C} and {D,E}; chain longer than
    one propagation round converges via the fixpoint loop."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a LONG, id_b LONG"
    )
    comp = {r.node: r.component for r in dedup.connected_components(pairs).collect()}
    assert {comp[i] for i in (1, 2, 3, 4, 5)} == {1}
    assert comp[10] == comp[11] == 10


def test_dedup_clusters_keeps_one_per_component(spark):
    docs = _docs(spark).limit(30).select("doc_id", "text")
    pairs = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "id_a LONG, id_b LONG")
    kept = {r.doc_id for r in dedup.dedup_clusters(docs, pairs).collect()}
    assert 0 in kept and 1 not in kept and 2 not in kept
    assert 5 in kept and 6 not in kept
    assert 7 in kept  # singletons untouched
    assert len(kept) == 30 - 3


def test_simhash_contract(spark):
    """(a) an exact duplicate (hamming 0) is always found — the ≤3
    pigeonhole guarantee; (b) every reported hamming equals the true
    XOR popcount of the signatures; (c) no pair above max_hamming."""
    docs = _docs(spark).limit(10)
    dup = docs.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 500).alias("doc_id"), "text"
    )
    both = docs.select("doc_id", "text").unionByName(dup)
    sig = {r.doc_id: r.simhash for r in dedup.simhash_signatures(both).collect()}
    assert sig[0] == sig[500]
    pairs = dedup.simhash_pairs(both, max_hamming=3).collect()
    assert any({p.id_a, p.id_b} == {0, 500} and p.hamming == 0 for p in pairs)
    for p in pairs:
        true_h = bin((sig[p.id_a] ^ sig[p.id_b]) & ((1 << 64) - 1)).count("1")
        assert p.hamming == true_h <= 3


def test_simhash_signature_is_deterministic(spark):
    docs = _docs(spark).limit(5)
    a = {r.doc_id: r.simhash for r in dedup.simhash_signatures(docs).collect()}
    b = {r.doc_id: r.simhash for r in dedup.simhash_signatures(docs).collect()}
    assert a == b
    assert all(isinstance(v, int) for v in a.values())


def test_ann_lsh_recalls_planted_near_dups(spark):
    """LSH's contract is near-duplicate recall: a vector pointing in the
    same direction (cos=1) has the identical signature and MUST land in
    the query's bucket as its top-1; and every returned sim must be a
    true cosine from the exact scan."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 5)
    # plant colinear twins (2× scaling → same direction, same signature)
    twins = queries.select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(twins)
    approx = similarity.lsh_ann_topk(corpus, queries, k=3, n_planes=6)
    top1 = {r.query_id: (r.cand_id, r.sim) for r in approx.collect() if r.rank == 1}
    for qid in range(5):
        cand, sim = top1[qid]
        assert cand == qid + 10_000 and sim == 1.0
    # returned sims are true cosines (verified against the exact scan)
    full = {
        (r.query_id, r.cand_id): r.sim
        for r in similarity.cosine_topk(corpus, queries, k=10_000).collect()
    }
    for r in approx.collect():
        assert abs(full[(r.query_id, r.cand_id)] - r.sim) < 1e-9


def test_lsh_multiprobe_improves_recall(spark):
    """Probing hamming-1 buckets must not lose candidates and should
    recover strictly more of the exact top-k on random vectors."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.cand_id)
        for r in similarity.cosine_topk(emb, queries, k=10).collect()
    }
    single = {
        (r.query_id, r.cand_id)
        for r in similarity.lsh_ann_topk(emb, queries, k=10, n_planes=6).collect()
    }
    multi = {
        (r.query_id, r.cand_id)
        for r in similarity.lsh_ann_topk(
            emb, queries, k=10, n_planes=6, multiprobe=1
        ).collect()
    }
    assert len(multi & exact) >= len(single & exact)
    assert len(multi) >= len(single)  # more candidates reached


def test_containment_catches_doc_inclusion(spark):
    """The asymmetric case Jaccard misses: a short doc embedded verbatim
    in a much longer one scores containment 1.0 but Jaccard ≪ threshold."""
    short = "alpha beta gamma delta epsilon zeta"
    long_ = short + " " + " ".join(f"filler{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, short), (2, long_)], "doc_id bigint, text string"
    )
    sh = dedup.token_shingles(docs, k=3)
    cont = dedup.containment_pairs(sh, threshold=0.9).collect()
    assert [(r.id_a, r.id_b, r.containment) for r in cont] == [(1, 2, 1.0)]
    jac = dedup.exact_jaccard_pairs(sh, threshold=0.5).collect()
    assert jac == []  # symmetric metric blind to the same pair


def test_containment_respects_hot_shingle_cap(spark):
    """The quadratic guard carries over: a shingle planted in every doc
    must not create all-pairs candidates once capped."""
    base = [(i, f"unique{i}a unique{i}b HOT KEY PHRASE") for i in range(20)]
    docs = spark.createDataFrame(base, "doc_id bigint, text string")
    sh = dedup.token_shingles(docs, k=3)
    capped = dedup.containment_pairs(sh, threshold=0.01, max_shingle_freq=10)
    assert capped.count() == 0  # the only shared shingles were hot → dropped


def test_top_ngrams_exact_counts(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "z")], "doc_id bigint, text string"
    )
    got = {(r.ngram, r.n_occurrences) for r in text.top_ngrams(docs, n=2, k=10).collect()}
    assert got == {("a b", 3), ("b a", 1), ("b c", 1), ("z", 1)}
    # k bound + deterministic ordering at ties (count desc, ngram asc)
    top2 = [r.ngram for r in text.top_ngrams(docs, n=2, k=2).collect()]
    assert top2 == ["a b", "b a"]


def test_semantic_dedup_recalls_planted_near_dups(spark):
    """SemDeDup's contract: a near-identical twin (cos≈1) lands in the
    same k-means cell as its original, so the pair is always emitted at
    dedup thresholds; and every emitted sim is a true cosine (subset of
    the brute-force result)."""
    emb = _emb(spark)
    twins = emb.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 3.0).alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(twins)
    pairs = similarity.semantic_dedup_pairs(corpus, threshold=0.95, centroid_mod=40)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    for qid in range(8):
        assert (qid, qid + 10_000) in found, f"twin pair for {qid} missed"
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in similarity.cosine_pairs(corpus, threshold=0.95).collect()
    }
    for r in pairs.collect():
        assert (r.id_a, r.id_b) in exact
        assert abs(exact[(r.id_a, r.id_b)] - r.cos_sim) < 1e-9


def test_semantic_dedup_shard_cap_bounds_pairs(spark):
    """With max_cluster_size forcing sub-shards, the result stays a
    deterministic subset of the uncapped within-cluster pairs."""
    emb = _emb(spark)
    capped = similarity.semantic_dedup_pairs(
        emb, threshold=0.3, centroid_mod=500, max_cluster_size=20
    )
    uncapped = similarity.semantic_dedup_pairs(
        emb, threshold=0.3, centroid_mod=500, max_cluster_size=10**9
    )
    c = {(r.id_a, r.id_b) for r in capped.collect()}
    u = {(r.id_a, r.id_b) for r in uncapped.collect()}
    assert c <= u
    c2 = {(r.id_a, r.id_b) for r in capped.collect()}
    assert c == c2  # deterministic across runs


def test_semantic_dedup_keep_drops_min_id_survivors(spark):
    emb = _emb(spark)
    twins = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.col("embedding"),
        "label",
    )
    corpus = emb.unionByName(twins)
    kept = similarity.semantic_dedup_keep(corpus, threshold=0.999, centroid_mod=40)
    kept_ids = {r.vec_id for r in kept.select("vec_id").collect()}
    for qid in range(5):
        assert qid in kept_ids  # min-id survives
        assert qid + 10_000 not in kept_ids  # twin dropped


def test_topk_two_phase_matches_window(spark):
    """The salted two-phase top-k must equal the naive window top-k."""
    from pyspark.sql import Window

    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 3)
    got = similarity.cosine_topk(emb, queries, k=7)
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    c = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    sim = F.round(similarity.cosine(F.col("qv"), F.col("cv")), 6)
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    want = (
        c.crossJoin(q)
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 7)
    )
    gs = {(r.query_id, r.rank, r.cand_id) for r in got.collect()}
    ws = {(r.query_id, r.rank, r.cand_id) for r in want.collect()}
    assert gs == ws


def test_ivf_recalls_planted_near_dups(spark):
    """A colinear twin shares its query's nearest centroid, so IVF with
    any nprobe ≥ 1 must return it as top-1 with sim 1.0; and every
    returned sim must be a true cosine."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 5)
    twins = queries.select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 3.0).alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(twins)
    out = similarity.ivf_ann_topk(corpus, queries, k=3, centroid_mod=10, nprobe=2)
    top1 = {r.query_id: (r.cand_id, r.sim) for r in out.collect() if r.rank == 1}
    for qid in range(5):
        cand, sim = top1[qid]
        assert cand == qid + 10_000 and sim == 1.0
    full = {
        (r.query_id, r.cand_id): r.sim
        for r in similarity.cosine_topk(corpus, queries, k=10_000).collect()
    }
    for r in out.collect():
        assert abs(full[(r.query_id, r.cand_id)] - r.sim) < 1e-9


def test_kmeans_centroids_improve_quantization(spark):
    """Lloyd rounds must improve (not just preserve) the spherical
    quantization objective over the modulus seeds: mean best-centroid
    cosine rises, centroid count stays k, vectors stay unit-norm.
    (Measured 0.268 → 0.348 over 2 rounds at sf0.01.)"""
    emb = _emb(spark)
    c = emb.select(similarity.unit_normalize(F.col("embedding")).alias("v"))

    def objective(cent):
        return (
            c.crossJoin(F.broadcast(cent))
            .select(
                similarity.dot(F.col("v"), F.col("cent_vec")).alias("s"), F.col("v")
            )
            .groupBy("v")
            .agg(F.max("s").alias("best"))
            .agg(F.avg("best"))
            .first()[0]
        )

    seeds = similarity.kmeans_centroids(emb, n_iter=0, centroid_mod=25)
    fitted = similarity.kmeans_centroids(emb, n_iter=2, centroid_mod=25)
    assert fitted.count() == seeds.count()
    assert objective(fitted) > objective(seeds) + 0.01
    norms = [
        r.n
        for r in fitted.select(
            similarity.l2_norm(F.col("cent_vec")).alias("n")
        ).collect()
    ]
    assert all(abs(n - 1.0) < 1e-9 for n in norms)


def test_winnowing_robust_to_local_edits(spark):
    """A doc with a small local edit shares most fingerprints with the
    original (only windows near the edit change)."""
    docs = _docs(spark).limit(5)
    mutated = docs.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 900).alias("doc_id"),
        F.concat(F.lit("EDIT "), F.col("text")).alias("text"),
    )
    both = docs.select("doc_id", "text").unionByName(mutated)
    fp = text.winnowing_fingerprints(both, k=5, window=4)
    sets: dict[int, set] = {}
    for r in fp.collect():
        sets.setdefault(r.doc_id, set()).add(r.fingerprint)
    a, b = sets[0], sets[900]
    overlap = len(a & b) / len(a | b)
    assert overlap > 0.8
    # and unrelated docs share almost nothing
    other = sets[1]
    assert len(a & other) / len(a | other) < 0.2


def test_winnowing_window_one_keeps_every_gram_and_rejects_zero(spark):
    import pytest

    docs = spark.createDataFrame([(1, "abcabcab")], "doc_id LONG, text STRING")
    fp = {r.fingerprint for r in text.winnowing_fingerprints(docs, k=3, window=1).collect()}
    grams = {r.h for r in spark.createDataFrame(
        [("abc",), ("bca",), ("cab",)], "g STRING"
    ).select(F.xxhash64("g").alias("h")).collect()}
    assert fp == grams
    with pytest.raises(ValueError, match="window"):
        text.winnowing_fingerprints(docs, k=3, window=0)


def test_deterministic_sample_properties(spark):
    """Same rows across runs AND across repartitionings; rate ≈
    requested; stratified keeps 100% strata intact."""
    from fordgobike_data_pipeline_spark.io import load_tables
    from fordgobike_data_pipeline_spark.operators import sampling

    ev = load_tables(spark, SF_SMOKE, ("events",))["events"]
    a = {r.event_id for r in sampling.deterministic_sample(ev, "event_id", 0.2).collect()}
    b = {
        r.event_id
        for r in sampling.deterministic_sample(ev.repartition(17), "event_id", 0.2).collect()
    }
    assert a == b  # partition-layout independent
    n = ev.count()
    assert 0.1 * n < len(a) < 0.3 * n  # ≈20%
    strat = sampling.stratified_deterministic_sample(
        ev, "event_id", "event_type", {"error": 1.0}, default_rate=0.0
    )
    assert strat.count() == ev.filter(F.col("event_type") == "error").count()
    # rate monotonicity: lower rate is a subset of higher rate
    small = {r.event_id for r in sampling.deterministic_sample(ev, "event_id", 0.05).collect()}
    assert small <= a


def test_operator_argument_validation(spark):
    import pytest

    from fordgobike_data_pipeline_spark.operators import sessions

    docs = _docs(spark).limit(2)
    with pytest.raises(ValueError, match="divisible"):
        dedup.minhash_lsh_pairs(docs, n_hashes=64, n_bands=10)
    with pytest.raises(ValueError, match="threshold"):
        dedup.minhash_lsh_pairs(docs, threshold=1.5)
    with pytest.raises(ValueError, match="gap_seconds"):
        sessions.session_windows(docs, gap_seconds=0)
    with pytest.raises(ValueError, match="n_planes"):
        similarity.lsh_ann_topk(_emb(spark), _emb(spark).limit(1), n_planes=40)


def test_lang_id_shape(spark):
    out = text.lang_id(_docs(spark))
    rows = out.collect()
    assert len(rows) == _docs(spark).count()
    assert all(r.lang_guess in {"en", "es", "fr", "de", "und"} for r in rows)


def test_approx_sketches_accuracy(spark):
    """The harness query emits the error bound AS DATA (exact counts +
    in-bounds booleans, oracle-comparable); this test pins both that
    contract and a tighter raw-sketch accuracy than the 15% the query
    guarantees: HLL within 5% of exact and t-digest p50 within 5% of
    the exact interpolated median at sf0.001."""
    from fordgobike_data_pipeline_spark import harness

    for r in harness.all_queries()["q_approx_sketches"](spark, SF_SMOKE).collect():
        assert r.hll_ok and r.p50_ok, r
    ev = load_tables(spark, SF_SMOKE, ("events",))["events"]
    raw = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("users"),
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile("value", F.lit(0.5)).alias("p50"),
        F.percentile_approx("value", 0.5, 1000).alias("approx_p50"),
    )
    for r in raw.collect():
        assert abs(r.approx_users - r.users) / r.users <= 0.05
        assert abs(r.approx_p50 - r.p50) <= max(0.05 * abs(r.p50), 0.5)


def test_multimodal_plumbing(spark):
    docs = _docs(spark).limit(20)
    media = multimodal.attach_binary(docs)
    feats = multimodal.extract_image_features(
        multimodal.repartition_for_media(media, target_bytes_per_partition=4096)
    )
    rows = feats.collect()
    assert len(rows) == 20
    assert all(r.decoder in {"stub", "pil"} for r in rows)
    assert all(r.width > 0 and r.height > 0 for r in rows)
    # deterministic across runs
    again = {r.media_id: (r.width, r.height, r.mean_luma) for r in feats.collect()}
    assert {r.media_id: (r.width, r.height, r.mean_luma) for r in rows} == again


def test_resize_images_shape_and_determinism(spark):
    docs = _docs(spark).limit(20)
    media = multimodal.attach_binary(docs)
    resized = multimodal.resize_images(media, width=32, height=32)
    rows = resized.collect()
    assert len(rows) == 20
    assert all(r.width == 32 and r.height == 32 for r in rows)
    assert all(r.decoder in {"stub", "pil"} for r in rows)
    # stub payload never exceeds the target pixel count
    assert all(len(bytes(r.content)) <= 32 * 32 for r in rows if r.decoder == "stub")
    again = {r.media_id: bytes(r.content) for r in resized.collect()}
    assert {r.media_id: bytes(r.content) for r in rows} == again
    import pytest

    with pytest.raises(ValueError):
        multimodal.resize_images(media, width=0, height=32)


def _has_pil() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


import pytest  # noqa: E402


@pytest.mark.skipif(
    not _has_pil(),
    reason="PIL not installed in this container — decoder='pil' branch is "
    "environment-gated (VERDICT r1 #7); the stub branch above covers the "
    "Spark-side plumbing. This test runs wherever PIL exists.",
)
def test_image_features_real_pil_branch(spark):
    """With PIL present the decode must actually go through it: a real
    1x1 PNG decodes to its true dimensions and decoder='pil'."""
    import base64

    # 1x1 black PNG, generated once with PIL and inlined
    png = base64.b64decode(
        "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAAAAAA6fptVAAAACklEQVR4nGNgAAAAAgAB"
        "SK+kcQAAAABJRU5ErkJggg=="
    )
    media = spark.createDataFrame(
        [(1, bytearray(png))], "media_id LONG, content BINARY"
    ).withColumn("meta", F.struct(F.length("content").cast("long").alias("n_bytes")))
    feats = multimodal.extract_image_features(media)
    row = feats.collect()[0]
    assert row.decoder == "pil" and row.width == 1 and row.height == 1


def test_audio_features_wave_branch_and_stub(spark):
    """The real `wave` branch decodes a generated RIFF/WAV correctly
    (rate-aware duration, known-sine RMS ≈ amplitude/√2); non-WAV
    payloads take the deterministic stub branch."""
    import io
    import math
    import wave

    import numpy as np

    rate, secs, amp = 8000, 2, 0.5
    t = np.arange(rate * secs)
    sine = (amp * 32767 * np.sin(2 * math.pi * 440 * t / rate)).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(sine.tobytes())
    wav_bytes = buf.getvalue()

    media = spark.createDataFrame(
        [(1, bytearray(wav_bytes)), (2, bytearray(b"not a wav, just bytes!"))],
        "media_id bigint, content binary",
    ).withColumn(
        "meta",
        F.struct(
            F.lit("audio/wav").alias("mime"),
            F.length("content").cast("long").alias("n_bytes"),
            F.sha2("content", 256).alias("sha256"),
        ),
    )
    rows = {r.media_id: r for r in multimodal.extract_audio_features(media).collect()}
    wav = rows[1]
    assert wav.decoder == "wave"
    assert wav.n_samples == rate * secs
    assert abs(wav.duration_sec - secs) < 1e-9  # uses the FILE's rate
    assert abs(wav.rms_level - amp / math.sqrt(2)) < 0.01
    assert abs(wav.peak_level - amp) < 0.01
    stub = rows[2]
    assert stub.decoder == "stub"
    assert stub.n_samples == len(b"not a wav, just bytes!") // 2
    # stub is a pure function of the payload: re-run matches exactly
    again = {r.media_id: r for r in multimodal.extract_audio_features(media).collect()}
    assert again[2] == stub


def test_frame_sample_bounded_fanout(spark):
    docs = _docs(spark)
    media = multimodal.attach_binary(docs)
    frames = multimodal.sample_frames(media, every_n_bytes=64, max_frames=4)
    per_doc = frames.groupBy("media_id").count().agg(F.max("count")).first()[0]
    assert per_doc <= 4
    offs = frames.filter(F.col("media_id") == 0).orderBy("frame_idx").collect()
    assert [o.byte_offset for o in offs] == [i * 64 for i in range(len(offs))]


def test_persisted_ivf_index_matches_inline_ivf(spark, tmp_path):
    """Build-once/query-many must return exactly what the inline IVF
    computes (same deterministic quantizer fit), and the index read
    must be partition-pruned to the probed lists."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 5)
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, idx, centroid_mod=25, kmeans_iters=2)
    got = similarity.query_ivf_index(spark, idx, queries, k=10, nprobe=3)
    want = similarity.ivf_ann_topk(
        emb, queries, k=10, centroid_mod=25, nprobe=3, kmeans_iters=2
    )
    as_set = lambda df: {  # noqa: E731
        (r.query_id, r.rank, r.cand_id, r.sim) for r in df.collect()
    }
    assert as_set(got) == as_set(want)

    # partition pruning: the lists scan carries a partition filter
    cent = spark.read.parquet(f"{idx}/centroids")
    ids, m = similarity._collect_centers(cent)
    probes = queries.select(
        similarity._nearest_centroid_udf(ids, m, nprobe=3)("embedding").alias("ls")
    )
    probe_lists = {l for r in probes.collect() for l in r.ls}
    lists = spark.read.parquet(f"{idx}/lists").filter(
        F.col("list_id").cast("long").isin(sorted(probe_lists))
    )
    plan = lists._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters" in plan and "list_id" in plan.split("PartitionFilters")[1][:200]

    # ...and query_ivf_index's OWN plan (not just a hand-built scan)
    # must carry the same partition filter on the lists read — the
    # contract that keeps a probe O(probed lists), not O(index)
    got_plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pruned_scans = [
        seg[:200]
        for seg in got_plan.split("PartitionFilters")[1:]
        if "list_id" in seg[:200]
    ]
    assert pruned_scans, "query_ivf_index lists scan lost its partition filter"


def test_char_entropy_known_values(spark):
    docs = spark.createDataFrame(
        [(1, "aabb"), (2, "abcd"), (3, "aaaa"), (4, "")],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r.entropy for r in text.char_entropy(docs).collect()}
    assert rows[1] == 1.0 and rows[2] == 2.0 and rows[3] == 0.0
    assert 4 not in rows  # empty doc: no character mass, no row
    # prose scores well below random over its alphabet
    prose = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id bigint, text string",
    )
    h = text.char_entropy(prose).collect()[0].entropy
    assert 3.5 < h < 4.8


def test_new_operator_plan_shapes(spark):
    """Physical-plan contracts for the round-3 operators: top-k n-grams
    must be a TakeOrderedAndProject (per-partition heaps, no global
    sort); chunking must be shuffle-free (no Exchange); entropy must
    keep partial aggregation (two-phase, map-side combine)."""

    def plan_of(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    from fordgobike_data_pipeline_spark.operators import curation

    docs = _docs(spark)
    p = plan_of(text.top_ngrams(docs, n=2, k=20))
    assert "TakeOrderedAndProject" in p
    assert "Sort " not in p  # no global sort operator

    p = plan_of(curation.chunk_documents(docs, chunk_tokens=64, stride=32))
    assert "Exchange" not in p  # embarrassingly parallel

    p = plan_of(text.char_entropy(docs))
    assert "partial_count" in p or "partial_" in p  # map-side combine


def test_random_projection_jl_properties(spark):
    """Sharp JL properties on isotropic data: (a) linearity — a scaled
    twin projects to an exactly-colinear vector (cos=1 under the
    projection); (b) pairwise cosines correlate with the originals at
    the theory rate (signal std 1/sqrt(64) vs noise std 1/sqrt(16)
    gives Pearson ~0.45; assert > 0.3); (c) deterministic re-runs."""
    import numpy as np

    emb = _emb(spark)
    twins = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 10_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(twins)
    proj = {
        r.vec_id: np.array(r.proj, dtype=float)
        for r in similarity.random_projection(corpus, out_dim=16).collect()
    }
    assert len(next(iter(proj.values()))) == 16
    cos = lambda u, v: float(  # noqa: E731
        (u / np.linalg.norm(u)) @ (v / np.linalg.norm(v))
    )
    for q in range(5):
        assert abs(cos(proj[q], proj[q + 10_000]) - 1.0) < 1e-9  # linearity
    orig = {r.vec_id: np.array(r.embedding, dtype=float) for r in emb.collect()}
    ids = sorted(orig)[:60]
    xs, ys = [], []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            xs.append(cos(orig[a], orig[b]))
            ys.append(cos(proj[a], proj[b]))
    assert np.corrcoef(xs, ys)[0, 1] > 0.3
    again = {
        r.vec_id: np.array(r.proj, dtype=float)
        for r in similarity.random_projection(corpus, out_dim=16).collect()
    }
    assert all((again[k] == proj[k]).all() for k in proj)


def test_shingle_cap_joins_on_hash_without_forced_broadcast(spark):
    """The hot-shingle cap must key its df-agg and anti-join on
    xxhash64(shingle) (8-byte keys, no shingle text in the shuffle) and
    must NOT force a broadcast — the >threshold set grows with the
    corpus, so AQE has to choose (dedup.py _pair_overlap_stats)."""
    import re

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta unique{i} epsilon") for i in range(1, 20)],
        ["doc_id", "text"],
    )
    sh = dedup.token_shingles(docs, k=3)
    out = dedup.exact_jaccard_pairs(sh, threshold=0.5, max_shingle_freq=5)
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in optimized, optimized
    anti = [ln for ln in optimized.splitlines() if "LeftAnti" in ln]
    assert anti and all(re.search(r"_shh#\d+L? = ", ln) for ln in anti), anti


def test_duplicated_span_stats_planted(spark):
    """A 5-gram shared by two docs flags exactly its covered token
    positions in each; unique docs report zero; in-doc-only repetition
    does NOT flag (cross-doc means ≥2 distinct docs)."""
    data = [
        (1, "the quick brown fox jumps over the lazy dog end"),
        (2, "prefix words here the quick brown fox jumps something else"),
        (3, "totally different unrelated content right here now ok fine yes"),
        # the same 5-gram twice WITHIN one doc only — must not flag
        (4, "p q r s t p q r s t"),
    ]
    docs = spark.createDataFrame(data, ["doc_id", "text"])
    got = {r.doc_id: r for r in dedup.duplicated_span_stats(docs, k=5).collect()}
    assert got[1].n_tokens == 10 and got[1].n_dup_tokens == 5
    assert abs(got[1].dup_ratio - 0.5) < 1e-9
    assert got[2].n_dup_tokens == 5
    assert got[3].n_dup_tokens == 0
    assert got[4].n_dup_tokens == 0


def test_remove_duplicated_spans_planted(spark):
    """Covered spans are cut, survivors keep original order, and a
    fully-duplicated doc survives as an empty row."""
    data = [
        (1, "the quick brown fox jumps over the lazy dog end"),
        (2, "prefix words here the quick brown fox jumps something else"),
        (10, "identical clone text goes here exactly"),
        (11, "identical clone text goes here exactly"),
    ]
    docs = spark.createDataFrame(data, ["doc_id", "text"])
    got = {r.doc_id: r for r in dedup.remove_duplicated_spans(docs, k=5).collect()}
    assert got[1].clean_text == "over the lazy dog end" and got[1].n_kept == 5
    assert got[2].clean_text == "prefix words here something else"
    assert got[10].clean_text == "" and got[10].n_kept == 0
    assert got[11].clean_text == "" and got[11].n_kept == 0


def test_duplicated_spans_short_docs_and_hash_parity(spark):
    """Docs shorter than k emit their full span as one gram (identical
    short docs are fully covered); the md5 parity hash family flags the
    same spans as the production xxhash64 family."""
    data = [
        (1, "tiny twin doc"),
        (2, "tiny twin doc"),
        (3, "lonely short one"),
    ]
    docs = spark.createDataFrame(data, ["doc_id", "text"])
    got = {r.doc_id: r for r in dedup.duplicated_span_stats(docs, k=5).collect()}
    assert got[1].n_dup_tokens == 3 and got[2].n_dup_tokens == 3
    assert got[3].n_dup_tokens == 0
    prod = dedup.duplicated_span_stats(docs, k=5, hash_fn="xxhash64").collect()
    parity = dedup.duplicated_span_stats(docs, k=5, hash_fn="md5").collect()
    assert sorted(map(tuple, prod)) == sorted(map(tuple, parity))


def test_pq_udf_encoder_matches_exact_assign(spark):
    """The production Arrow einsum encoder must assign the same codes
    as the relational exact_assign oracle path (same tie-break)."""
    emb = _emb(spark)
    cb = similarity.pq_codebooks(emb, dim=64, n_subspaces=4, seed_mod=40, n_iter=0)
    exact = {
        (r.vec_id, r.subspace): r.code_id
        for r in similarity.pq_encode(emb, cb, dim=64, exact_assign=True).collect()
    }
    prod = {
        (r.vec_id, r.subspace): r.code_id
        for r in similarity.pq_encode(emb, cb, dim=64, exact_assign=False).collect()
    }
    assert prod == exact


def test_pq_seed_vectors_encode_to_themselves(spark):
    """A seed vector is one of the codes in every subspace, so it must
    encode to its own code_id at distance 0 — the crisp PQ invariant."""
    emb = _emb(spark)
    cb = similarity.pq_codebooks(emb, dim=64, n_subspaces=4, seed_mod=40, n_iter=0)
    enc = similarity.pq_encode(emb, cb, dim=64, exact_assign=True)
    seeds = enc.filter(F.col("vec_id") % 40 == 0).collect()
    assert seeds
    for r in seeds:
        assert r.code_id == r.vec_id and r.dist == 0.0, r


def test_pq_lloyd_reduces_distortion(spark):
    """Two Lloyd rounds must not increase total quantization distortion
    vs the raw seeds (k-means monotonicity, allowing fp slack)."""
    emb = _emb(spark)

    def distortion(n_iter):
        cb = similarity.pq_codebooks(emb, dim=64, n_subspaces=4, seed_mod=40, n_iter=n_iter)
        enc = similarity.pq_encode(emb, cb, dim=64, exact_assign=True)
        return enc.agg(F.sum("dist")).first()[0]

    d0, d2 = distortion(0), distortion(2)
    assert d2 <= d0 * 1.0001, (d0, d2)


def test_pq_adc_equals_distance_to_reconstruction(spark):
    """The ADC identity: approx_dist(q, cand) must equal the exact
    squared L2 between q and the candidate's PQ RECONSTRUCTION
    (concatenated assigned codes) — Σⱼ ‖qⱼ − c_codeⱼ‖². This pins the
    whole LUT/sum plumbing without depending on data geometry (on
    near-random embeddings neighbor recall is a property of the data,
    not the operator)."""
    import numpy as np

    emb = _emb(spark)
    cb = similarity.pq_codebooks(emb, dim=64, n_subspaces=4, seed_mod=40, n_iter=2)
    enc = similarity.pq_encode(emb, cb, dim=64, exact_assign=True)
    codes = enc.select("vec_id", "subspace", "code_id")
    queries = emb.filter(F.col("vec_id") < 3)
    adc = similarity.pq_adc_topk(codes, queries, cb, k=10, dim=64)

    cbmap = {(r.subspace, r.code_id): np.asarray(r.code_vec) for r in cb.collect()}
    assign = {}
    for r in codes.collect():
        assign.setdefault(r.vec_id, {})[r.subspace] = r.code_id
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.collect()}
    for r in adc.collect():
        recon = np.concatenate(
            [cbmap[(j, assign[r.cand_id][j])] for j in range(4)]
        )
        want = float(((vecs[r.query_id] - recon) ** 2).sum())
        assert abs(r.approx_dist - want) < 1e-4, (r, want)


def test_gopher_rules_planted_extremes(spark):
    """Each Gopher rule fails on its crafted violator and the clean doc
    passes every rule."""
    ok_doc = "the quick brown fox jumps over a lazy dog " * 5 + "value table row key"
    docs = spark.createDataFrame(
        [
            (1, ok_doc),                                   # passes all
            (2, "short doc only"),                         # word count
            (3, " ".join(["supercalifragilistic"] * 60)),  # mean word len
            (4, " ".join(["£§" for _ in range(60)])),      # alpha fraction
            (5, " ".join(["#tag" if i % 5 else "word" for i in range(60)])),  # symbols
            (6, " ".join(f"w{i}" for i in range(60))),     # stopwords
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r
        for r in text.gopher_quality_flags(
            docs, min_words=30, stopwords=("the", "a", "value", "table", "row", "key")
        ).collect()
    }
    assert got[1].gopher_pass
    assert not got[2].ok_word_count and not got[2].gopher_pass
    assert not got[3].ok_mean_len and not got[3].gopher_pass
    assert not got[4].ok_alpha and not got[4].gopher_pass
    assert not got[5].ok_symbols and not got[5].gopher_pass
    assert not got[6].ok_stopwords and not got[6].gopher_pass


def test_append_to_ivf_index_matches_inline_under_same_centroids(spark, tmp_path):
    """build(half) + append(rest) must answer queries exactly like the
    inline IVF over the UNION with the index's own (frozen) centroids —
    append changes coverage, never the quantizer."""
    path = str(tmp_path / "ivf_idx")
    emb = _emb(spark)
    first = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    similarity.build_ivf_index(first, path, centroid_mod=25, kmeans_iters=0)
    similarity.append_to_ivf_index(rest, path, 1)

    queries = emb.filter(F.col("vec_id") < 5)
    got = {
        (r.query_id, r.rank): (r.cand_id, r.sim)
        for r in similarity.query_ivf_index(spark, path, queries, k=5, nprobe=3).collect()
    }
    cent = spark.read.parquet(f"{path}/centroids")
    want = {
        (r.query_id, r.rank): (r.cand_id, r.sim)
        for r in similarity.ivf_ann_topk(
            emb, queries, k=5, nprobe=3, centroids=cent
        ).collect()
    }
    assert got == want and got
    # appended rows landed inside the partition layout (pruning intact)
    import os
    assert any(d.startswith("list_id=") for d in os.listdir(f"{path}/lists"))


def test_append_to_ivf_index_replay_replaces_its_batch(spark, tmp_path):
    """Appending the same batch twice leaves it once: the lists hold
    |build| + |rest| rows and queries answer as after one append. Batch
    0 is the build and cannot be appended."""
    emb = _emb(spark)
    first = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 5)

    def answer(path):
        return {
            (r.query_id, r.rank, r.cand_id, r.sim)
            for r in similarity.query_ivf_index(spark, path, queries, k=5, nprobe=3).collect()
        }

    once, twice = str(tmp_path / "once"), str(tmp_path / "twice")
    for path in (once, twice):
        similarity.build_ivf_index(first, path, centroid_mod=25, kmeans_iters=0)
        similarity.append_to_ivf_index(rest, path, 1)
    similarity.append_to_ivf_index(rest, twice, 1)

    assert spark.read.parquet(f"{twice}/lists").count() == emb.count()
    assert answer(twice) == answer(once)
    with pytest.raises(ValueError):
        similarity.append_to_ivf_index(rest, twice, 0)


def test_bigram_lm_flags_shuffled_text(spark):
    """The bigram model's contract: with the same unigram content, text
    whose TRANSITIONS are common scores lower than text spliced from
    rare transitions. Doc 3 reuses doc-1/doc-2 words in orders never
    seen elsewhere in the corpus — unigram stats can't separate it,
    bigram cross-entropy must."""
    a = "the cat sat on the mat " * 10
    b = "a dog ran in a park " * 10
    spliced = "cat a the dog mat in sat park on ran the a"
    docs = spark.createDataFrame(
        [(1, a.strip()), (2, b.strip()), (3, spliced)], ["doc_id", "text"]
    )
    got = {r.doc_id: r.cross_entropy for r in text.bigram_cross_entropy(docs).collect()}
    assert got[3] > got[1] and got[3] > got[2], got
    # docs shorter than 2 tokens drop out
    tiny = spark.createDataFrame([(1, "word"), (2, "two words")], ["doc_id", "text"])
    out = {r.doc_id for r in text.bigram_cross_entropy(tiny).collect()}
    assert out == {2}


def test_round4_operator_plan_shapes(spark):
    """Physical-plan contracts for the round-4 operators: the cheap
    gates (Gopher flags, HTML strip, winnowing) must be shuffle-free;
    URL dedup exactly one exchange (the hash agg); span-dedup joins
    must carry no forced broadcast hint (AQE decides — the dup-gram
    set grows with the corpus); packing must reuse the bucket
    partitioning (one exchange total)."""

    import re

    def plan_of(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    def n_nodes(plan, kind):
        # formatted plans list each node twice (tree + detail) — count
        # distinct numbered nodes
        return len(set(re.findall(rf"\((\d+)\) {kind}\b", plan)))

    from pyspark.sql import functions as FF

    from fordgobike_data_pipeline_spark.operators import curation

    docs = _docs(spark)
    p = plan_of(text.gopher_quality_flags(docs))
    assert "Exchange" not in p

    p = plan_of(docs.select("doc_id", curation.strip_html(FF.col("text")).alias("t")))
    assert "Exchange" not in p

    # winnowing stays free of KEYED shuffles and window functions; the
    # only Exchange allowed is skew.fan_out's round-robin input
    # rebalance (fires when the test corpus scan is under-partitioned,
    # no-op at scale)
    p = plan_of(text.winnowing_fingerprints(docs))
    assert "Window" not in p and "hashpartitioning" not in p
    assert n_nodes(p, "Exchange") <= 1

    with_url = docs.select(
        "doc_id", FF.concat(FF.lit("https://x.com/"), FF.col("doc_id").cast("string")).alias("url")
    )
    p = plan_of(curation.url_dedup(with_url))
    assert n_nodes(p, "Exchange") == 1

    optimized = (
        dedup.duplicated_span_stats(docs, k=5)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "ResolvedHint" not in optimized

    with_ids = docs.select(
        "doc_id",
        FF.transform(FF.split("text", " "), lambda w: FF.length(w).cast("int")).alias(
            "token_ids"
        ),
    )
    p = plan_of(curation.pack_token_ids(with_ids, seq_len=128, n_buckets=8))
    assert n_nodes(p, "Exchange") == 1 and "Window" in p


def test_source_centroid_drift_flags_planted_shift(spark):
    """A group whose vectors are uniformly offset from the rest must
    show the largest centroid distance; equal groups show ~0."""
    import numpy as np

    rng = [[float((i * 7 + d) % 5 - 2) for d in range(8)] for i in range(30)]
    rows = []
    for i, v in enumerate(rng):
        grp = "shifted" if i < 10 else ("a" if i % 2 == 0 else "b")
        vec = [x + (5.0 if grp == "shifted" else 0.0) for x in v]
        rows.append((i, grp, i, vec))
    docs = spark.createDataFrame(
        [(r[0], r[1]) for r in rows], "doc_id LONG, source STRING"
    )
    emb = spark.createDataFrame(
        [(r[2], r[3]) for r in rows], "vec_id LONG, embedding ARRAY<FLOAT>"
    )
    got = {
        r.source: r.dist_to_global
        for r in similarity.source_centroid_drift(docs, emb).collect()
    }
    assert got["shifted"] > got["a"] and got["shifted"] > got["b"]
    assert got["shifted"] > 5.0  # 10/30 of mass offset by 5 per dim


def test_edit_distance_join_catches_every_edit_type(spark):
    """Substitution, insertion, and deletion are all within distance 1
    and must be found; a distance-2 pair must be blocked by the verify
    at k=1 (deletion neighborhoods collide up to distance 2k, so the
    levenshtein filter is load-bearing) and found at k=2."""
    left = spark.createDataFrame(
        [(1, "widget"), (2, "gasket"), (3, "flange")], "lid long, name string"
    )
    right = spark.createDataFrame(
        [
            (10, "wadget"),   # substitution of 'i' -> distance 1 to widget
            (11, "widgets"),  # insertion -> distance 1 to widget
            (12, "gaset"),    # deletion of 'k' -> distance 1 to gasket
            (13, "flanch"),   # distance 2 to flange (g->c, e->h)
            (14, "zzzzzz"),   # matches nothing
        ],
        "rid long, name string",
    )
    k1 = {
        (r.lid, r.rid, r.distance)
        for r in dedup.edit_distance_join(left, right, "lid", "rid", "name", 1).collect()
    }
    assert k1 == {(1, 10, 1), (1, 11, 1), (2, 12, 1)}
    k2 = {
        (r.lid, r.rid)
        for r in dedup.edit_distance_join(left, right, "lid", "rid", "name", 2).collect()
    }
    assert (3, 13) in k2 and (1, 10) in k2 and (1, 14) not in k2


def test_round5_operator_plan_shapes(spark):
    """Physical-plan contracts for the round-5 additions: the Bloom
    bit-test must sit in a Filter on the fact side BEFORE the semi
    join; global_row_index's offset table must broadcast (never a
    shuffled join on _pid); knn_graph must contain no broadcast of the
    corpus (bucket equi-join is shuffle-shuffle) and no cartesian."""

    def plan_of(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    from fordgobike_data_pipeline_spark.functions import bloom
    from fordgobike_data_pipeline_spark.io import load_tables
    from fordgobike_data_pipeline_spark.operators import retrieval, warehouse

    from .conftest import SF_SMOKE

    t = load_tables(spark, SF_SMOKE, ("orders", "customer", "events", "embeddings"))

    p = plan_of(
        bloom.bloom_prefiltered_semi_join(
            t["orders"],
            t["customer"].filter(F.col("c_mktsegment") == "BUILDING"),
            "o_custkey",
            "c_custkey",
            m_bits=1 << 12,
        )
    )
    assert "LeftSemi" in p
    # the k bit tests run as a Filter condition (codegen), not post-join
    filter_sections = [
        seg for seg in p.split("\n\n") if seg.startswith("(") and "Filter" in seg
    ]
    assert any("shiftrightunsigned" in seg for seg in filter_sections), p[:500]

    p = plan_of(warehouse.global_row_index(t["events"], ["ts", "event_id"]))
    assert "BroadcastHashJoin" in p  # offsets join must broadcast
    assert "SortMergeJoin" not in p

    p = plan_of(retrieval.knn_graph(t["embeddings"].limit(500), k=3, n_planes=4))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_capped_topk_cap_and_plan(spark):
    """No group exceeds the cap; ranks are contiguous; the global
    phase is TakeOrderedAndProject, not a global Sort."""
    from fordgobike_data_pipeline_spark.io import load_tables
    from fordgobike_data_pipeline_spark.operators import sampling

    from .conftest import SF_SMOKE

    docs = load_tables(spark, SF_SMOKE, ("documents",))["documents"]
    out = sampling.capped_topk(
        docs.select("doc_id", "source", "n_chars"),
        "n_chars", "source", "doc_id", per_group_cap=5, k=30,
    )
    rows = out.collect()
    assert len(rows) == 30
    assert [r.sel_rank for r in sorted(rows, key=lambda r: r.sel_rank)] == list(
        range(1, 31)
    )
    per = {}
    for r in rows:
        per[r.source] = per.get(r.source, 0) + 1
    assert max(per.values()) <= 5
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_favors_heavy_and_is_deterministic(spark):
    """Heavier keys are selected far above their uniform share, and
    reruns return the identical sample."""
    rows = [(i, 1000.0 if i < 50 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, w double")
    from fordgobike_data_pipeline_spark.operators import sampling

    s1 = sampling.weighted_sample(df, "k", "w", n=100).collect()
    heavy = sum(1 for r in s1 if r.k < 50)
    # 50 heavy keys at 1000x weight should nearly all make a 100-sample
    assert heavy >= 40
    s2 = sampling.weighted_sample(df, "k", "w", n=100).collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))


def test_readability_orders_simple_above_complex(spark):
    """Short simple sentences score higher Flesch than long
    polysyllabic prose, and counts match hand values."""
    rows = [
        (1, "The cat sat. The dog ran."),
        (2, "Extraordinarily complicated considerations necessitate "
            "comprehensive multidimensional characterization methodologies."),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.readability(docs).collect()}
    assert out[1].n_sentences == 2 and out[1].n_words == 6
    assert out[1].flesch > out[2].flesch


def test_oov_rate_flags_divergent_source(spark):
    """A source of made-up tokens shows ~100% OOV against a vocab
    dominated by the common source."""
    common = [(i, "the quick brown fox jumps", "web") for i in range(50)]
    weird = [(100 + i, f"zzqx{i} vvwp{i} qqrr{i}", "junk") for i in range(5)]
    docs = spark.createDataFrame(common + weird, "doc_id long, text string, source string")
    out = {r.source: r for r in text.oov_rate(docs, vocab_size=5).collect()}
    assert out["web"].oov_rate == 0.0
    assert out["junk"].oov_rate == 1.0


def test_pmi_collocations_finds_planted_phrase(spark):
    """A phrase always occurring together tops the PMI list; a pair of
    independently-frequent words scores near zero."""
    rows = (
        [(i, "alpha beta common filler " + f"x{i} y{i}") for i in range(20)]
        + [(100 + i, "common filler gamma " + f"z{i}") for i in range(20)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.pmi_collocations(docs, k=10, min_count=5).collect()
    top = (out[0].a, out[0].b)
    assert top == ("alpha", "beta")  # perfect collocation
    by_pair = {(r.a, r.b): r.pmi for r in out}
    # 'common filler' co-occurs every time but both words are globally
    # frequent — PMI must rank it below the exclusive pair
    assert by_pair[("alpha", "beta")] > by_pair.get(("common", "filler"), -99)


def test_multidim_topk_matches_per_dim_cosine_topk(spark):
    """The single-scan multi-width top-k must equal running cosine_topk
    once per truncation width (the r7 q_matryoshka_recall plan)."""
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") < 3)
    tops = {
        r["query_id"]: r
        for r in similarity.cosine_topk_multidim(
            emb, queries, dims=(8, 16, 32), k=5
        ).collect()
    }
    for d in (8, 16, 32):
        src = emb.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        want = {}
        for r in similarity.cosine_topk(
            src, src.filter(F.col("vec_id") < 3), k=5
        ).collect():
            want.setdefault(r.query_id, []).append((r.rank, r.cand_id, r.sim))
        for qid, rows in want.items():
            got = [
                (i + 1, e.cand_id, -e.neg_sim)
                for i, e in enumerate(tops[qid][f"top{d}"])
            ]
            assert got == sorted(rows), (d, qid)
