"""Tests for training-data pipeline operators: text analysis, dedup
(exact/minhash/simhash/jaccard/embedding), similarity search, multimodal
plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tsengine.operators import dedup, multimodal, similarity, textops


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat and the dog sat too"),
        (1, "the cat sat on the mat and the dog sat too"),        # exact dup of 0
        (2, "the cat sat on the mat and the dog stood too"),      # near dup
        (3, "el perro y el gato que corren en la casa de los"),
        (4, "completely different words about spark query engines"),
        (5, "  the   cat sat on the mat and the dog sat too  "),  # ws-normalized dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count(spark, docs):
    out = {r["doc_id"]: (r["n_tokens"], r["n_tokens_bpe"]) for r in textops.token_count(docs).collect()}
    assert out[0][0] == 11
    assert out[4][0] == 7
    assert out[5][0] == 11  # trimmed + split on runs


def test_quality_and_langid(spark, docs):
    q = {r["doc_id"]: r for r in textops.quality_score(docs).collect()}
    assert q[0]["stop_ratio"] > q[4]["stop_ratio"]
    lang = {r["doc_id"]: r["lang_pred"] for r in textops.language_id(docs).collect()}
    assert lang[0] == "en"
    assert lang[3] == "es"


def test_fingerprint_normalizes_whitespace(spark, docs):
    fp = {r["doc_id"]: r["fp_md5"] for r in textops.fingerprint(docs).collect()}
    assert fp[0] == fp[1] == fp[5]
    assert fp[0] != fp[2]


def test_dedup_exact(spark, docs):
    out = dedup.dedup_exact(docs).collect()
    groups = {r["keep_doc_id"]: r["n_dupes"] for r in out}
    assert groups[0] == 3  # docs 0,1,5
    assert groups[2] == 1 and groups[3] == 1 and groups[4] == 1


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(docs, num_hashes=16, bands=8).collect()
    }
    assert (0, 1) in pairs and (0, 5) in pairs and (1, 5) in pairs
    assert (0, 2) in pairs  # near dup shares most shingles
    assert (0, 4) not in pairs and (3, 4) not in pairs


def test_ngram_jaccard(spark, docs):
    pairs = dedup.lsh_candidate_pairs(docs, num_hashes=16, bands=8)
    j = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, pairs).collect()
    }
    assert j[(0, 1)] == 1.0
    assert 0.0 < j[(0, 2)] < 1.0


def test_simhash_hamming(spark, docs):
    out = dedup.simhash_near_dups(docs, bits=16, max_hamming=3).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out}
    assert pairs[(0, 1)] == 0 and pairs[(0, 5)] == 0
    sig = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, bits=16).collect()}
    assert sig[0] == sig[1] == sig[5]
    assert sig[0] != sig[4]


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(0)
    base = rng.normal(size=(8, 16))
    rows = []
    for i in range(8):
        rows.append((i, base[i].astype("float32").tolist()))
    # 8 is a near-copy of 0
    rows.append((8, (base[0] + rng.normal(scale=0.01, size=16)).astype("float32").tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_near_dups(spark, emb):
    out = dedup.embedding_near_dups(emb, threshold=0.9, planes=4)
    pairs = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in out.collect()}
    assert (0, 8) in pairs and pairs[(0, 8)] > 0.99


def test_cosine_topk(spark, emb):
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    top = similarity.cosine_topk_bruteforce(emb, list(q), k=3).collect()
    assert top[0]["vec_id"] == 0 and abs(top[0]["cosine"] - 1.0) < 1e-6
    assert top[1]["vec_id"] == 8


def test_ivf_matches_bruteforce_on_probed_cells(spark, emb):
    q = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    cents = similarity.train_centroids(emb, n_cells=2, iters=3)
    ivf = similarity.ivf_topk(emb, q, cents, k=1, nprobe=2)  # nprobe=all -> exact
    bf = similarity.cosine_topk_bruteforce(emb, q, k=1)
    assert ivf.first()["vec_id"] == bf.first()["vec_id"]


def test_knn_all_pairs(spark, emb):
    out = similarity.knn_all_pairs_topk(emb, k=1)
    by_id = {r["vec_id"]: r["neighbor"] for r in out.collect()}
    assert by_id[0] == 8 and by_id[8] == 0


def test_multimodal_plumbing(spark):
    media = multimodal.synth_media(spark, n=12)
    img = multimodal.image_features(media, target=(4, 4)).collect()
    assert len(img) == 4  # kinds cycle image/audio/video
    assert all(len(r["feature"]) == 16 for r in img)
    aud = multimodal.audio_features(media, n_bands=6).collect()
    assert len(aud) == 4 and all(len(r["feature"]) == 6 for r in aud)
    vid = multimodal.video_frame_sample(media, every_n=24).collect()
    assert len(vid) == 16  # 4 videos x 96 frames / 24
    # determinism
    img2 = multimodal.image_features(media, target=(4, 4)).collect()
    assert sorted(map(tuple, img)) == sorted(map(tuple, img2))


def test_multiprobe_recovers_flipped_bit_pairs(spark, emb):
    e = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    strict = {
        (r["vec_a"], r["vec_b"])
        for r in dedup.embedding_near_dups(e, threshold=0.9, planes=12).collect()
    }
    probed = {
        (r["vec_a"], r["vec_b"])
        for r in dedup.embedding_near_dups_multiprobe(
            e, threshold=0.9, planes=12
        ).collect()
    }
    # multiprobe is a superset of the strict buckets and must find the
    # planted near-copy pair even when 12 planes split hairline sign bits
    assert strict <= probed
    assert (0, 8) in probed


def test_distributed_kmeans_matches_driver_kmeans_assignment(spark, emb):
    e = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    cents = similarity.train_centroids_distributed(e, n_cells=2, iters=4)
    assert len(cents) == 2 and len(cents[0]) == 16
    assigned = {
        r["vec_id"]: r["ivf_cell"] for r in similarity.ivf_assign(e, cents).collect()
    }
    # the planted near-copy lands in the same cell as its original
    assert assigned[8] == assigned[0]
    # both cells are used
    assert len(set(assigned.values())) == 2


def test_jaccard_default_is_exact(spark, docs):
    """ADVICE r2: pairs=None now defaults to the EXACT inverted-index join
    (max_doc_freq=None); the df-cap is an explicit opt-in whose result on a
    corpus with no shingle above the cap is identical."""
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, pairs=None).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, pairs=None, max_doc_freq=100).collect()
    }
    assert exact == capped
    assert exact[(0, 1)] == 1.0 and 0.0 < exact[(0, 2)] < 1.0


def test_embedding_near_dups_plan_only_with_n_dim(spark, emb):
    """With n and dim supplied, embedding_near_dups builds its plan without
    running ANY Spark job (VERDICT r2 #5 — the scale path is action-free)."""
    e = emb.withColumn("embedding", F.col("embedding").cast("array<double>"))
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None))
    out = dedup.embedding_near_dups(e, threshold=0.9, n=9, dim=16)
    mp = dedup.embedding_near_dups_multiprobe(e, threshold=0.9, planes=4, dim=16)
    assert len(tracker.getJobIdsForGroup(None)) == before
    # plans still execute correctly afterwards
    assert (0, 8) in {(r["vec_a"], r["vec_b"]) for r in out.collect()}
    assert (0, 8) in {(r["vec_a"], r["vec_b"]) for r in mp.collect()}


def test_multiprobe_recall(spark):
    """Measured recall pin for the multiprobe tradeoff (VERDICT r2 #5):
    ground truth = all pairs with cosine >= 0.95 (numpy brute force over the
    same vectors); multiprobe at 10 planes must recover a measured fraction
    of them and strictly dominate the single-bucket recall."""
    rng = np.random.RandomState(7)
    base = rng.normal(size=(60, 16))
    vecs = [base[i] for i in range(60)]
    for i in range(30):  # plant 30 near-copies of the first 30
        vecs.append(base[i] + rng.normal(scale=0.05, size=16))
    vv = np.array(vecs)
    nn = vv / np.linalg.norm(vv, axis=1, keepdims=True)
    cos = nn @ nn.T
    truth = {
        (a, b)
        for a in range(len(vecs))
        for b in range(a + 1, len(vecs))
        if cos[a, b] >= 0.95
    }
    assert len(truth) >= 25
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    strict = {
        (r["vec_a"], r["vec_b"])
        for r in dedup.embedding_near_dups(df, threshold=0.95, planes=10, dim=16).collect()
    }
    probed = {
        (r["vec_a"], r["vec_b"])
        for r in dedup.embedding_near_dups_multiprobe(
            df, threshold=0.95, planes=10, dim=16
        ).collect()
    }
    strict_recall = len(strict & truth) / len(truth)
    probe_recall = len(probed & truth) / len(truth)
    # measured on this fixture: strict ~0.6-0.8 (10 planes split hairline
    # sign bits), multiprobe recovers the 1-bit flips
    assert probe_recall >= strict_recall
    assert probe_recall >= 0.9, (strict_recall, probe_recall)
    # no false positives: every returned pair really clears the threshold
    assert probed <= truth


def test_jaccard_no_pairs_plan_is_df_capped(spark, docs):
    """Plan pin for the scale fix: the pairs=None path must filter the
    inverted index by document frequency BEFORE any self-join — no raw
    shingle-key join survives in the physical plan."""
    out = dedup.ngram_jaccard_pairs(docs, pairs=None, max_doc_freq=7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_df" in plan and "<= 7" in plan, plan[:2000]


def test_gopher_quality_rules(spark):
    rows = [
        (0, " ".join(["the and of to in wordiness"] * 10)),  # 60 words, passes
        (1, "too short"),                                     # word-count fail
        (2, " ".join(["the and of to in ######"] * 10)),     # symbol-ratio fail
        (3, "- bullet\n- bullet\n- bullet"),                  # bullets + no stopwords
        (4, ""),                                              # empty
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textops.gopher_quality(docs).collect()}
    assert out[0]["n_words"] == 60 and out[0]["gopher_pass"] == 1
    assert out[1]["gopher_pass"] == 0
    assert out[2]["symbol_ratio"] > 0.1 and out[2]["gopher_pass"] == 0
    assert out[3]["bullet_ratio"] == 1.0 and out[3]["gopher_pass"] == 0
    assert out[4]["n_words"] == 0 and out[4]["gopher_pass"] == 0
    # ellipsis: 2 of 4 lines end in ..., ratio 0.5 > 0.3
    e = spark.createDataFrame(
        [(0, "a line...\nplain\nanother one...\nplain")], "doc_id long, text string"
    )
    r = textops.gopher_quality(e).collect()[0]
    assert r["ellipsis_ratio"] == 0.5 and r["gopher_pass"] == 0


def test_repetition_stats_hand_computed(spark):
    # "a b a b a b": len 11; 2-grams = [a b, b a, a b, b a, a b]
    # top 2-gram "a b" x3, len 3 -> 9/11; 5-grams: "a b a b a" x1, "b a b a b" x1
    # -> dup5 frac 0
    docs = spark.createDataFrame(
        [(0, "a b a b a b"), (1, "x y x y x y x y")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in textops.repetition_stats(docs).collect()}
    assert abs(out[0]["top2gram_char_frac"] - round(9 / 11, 6)) < 1e-9
    assert out[0]["dup5gram_char_frac"] == 0.0
    # doc 1: len 15, 5-grams: "x y x y x" x2, "y x y x y" x2 -> (2*9+2*9)/15 = 2.4
    assert abs(out[1]["dup5gram_char_frac"] - 2.4) < 1e-9
    # deterministic tie-break: "b a" also appears but "a b" wins (count desc)
    # and at equal counts the lexically-smaller ngram is chosen
    tie = spark.createDataFrame([(0, "b a b a")], "doc_id long, text string")
    r = textops.repetition_stats(tie).collect()[0]
    # 2-grams: "b a" x2, "a b" x1 -> top is "b a": 2*3/7
    assert abs(r["top2gram_char_frac"] - round(6 / 7, 6)) < 1e-9


def test_repetition_short_doc_no_ngrams(spark):
    docs = spark.createDataFrame([(0, "one two")], "doc_id long, text string")
    r = textops.repetition_stats(docs).collect()[0]
    assert r["top3gram_char_frac"] == 0.0 and r["dup5gram_char_frac"] == 0.0


def test_pii_scrub(spark):
    rows = [
        (0, "mail a.b+c@foo-bar.org or x@y.io, server 192.168.1.250, tel +34 600 123 456"),
        (1, "no pii here at all"),
        (2, "ip 1.2.3.4 then 999.999.999.999 stays redacted too"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textops.pii_scrub(docs).collect()}
    assert (out[0]["n_emails"], out[0]["n_ipv4"], out[0]["n_phones"]) == (2, 1, 1)
    assert out[0]["text_clean"] == "mail <EMAIL> or <EMAIL>, server <IP>, tel <PHONE>"
    assert out[1]["text_clean"] == "no pii here at all"
    assert (out[1]["n_emails"], out[1]["n_ipv4"], out[1]["n_phones"]) == (0, 0, 0)
    # the dotted-quad pattern is syntactic (1-3 digit octets), not semantic
    assert out[2]["n_ipv4"] == 2 and "<IP>" in out[2]["text_clean"]


def test_lsh_incremental_ingest_invariant(spark, docs):
    """union(historical pairs, incremental pairs) == full-corpus pairs:
    deduping a new batch against the stored band index loses nothing vs
    re-running LSH over everything."""
    from pyspark.sql import functions as F

    old = docs.where(F.col("doc_id") < 4)
    new = docs.where(F.col("doc_id") >= 4)

    def pairs(df_pairs):
        return {(r["doc_a"], r["doc_b"]) for r in df_pairs.collect()}

    full = pairs(dedup.lsh_candidate_pairs(docs, num_hashes=8, bands=4))
    hist = pairs(dedup.lsh_candidate_pairs(old, num_hashes=8, bands=4))
    idx = dedup.lsh_band_rows(old, num_hashes=8, bands=4)
    nb = dedup.lsh_band_rows(new, num_hashes=8, bands=4)
    incr = pairs(dedup.lsh_pairs_incremental(nb, idx))
    assert hist | incr == full
    assert full, "fixture should produce at least one candidate pair"
    # incremental pairs all touch the new batch
    assert all(a >= 4 or b >= 4 for a, b in incr)


def test_centroid_similarity(spark):
    from pyspark.sql import functions as F

    from tsengine.operators.similarity import centroid_similarity, group_centroids

    # two tight clusters along different axes + one group aligned with g0
    rows = (
        [(i, [1.0, 0.0, 0.0, float(i % 2) * 1e-7], 0) for i in range(4)]
        + [(10 + i, [0.0, 1.0, 0.0, 0.0], 1) for i in range(4)]
        + [(20 + i, [2.0, 0.0, 0.0, 0.0], 2) for i in range(4)]
    )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    cent = group_centroids(emb, dim=4)
    got = {r["label"]: (r["centroid"], r["n"]) for r in cent.collect()}
    assert got[1] == ([0.0, 1.0, 0.0, 0.0], 4)
    assert got[2] == ([2.0, 0.0, 0.0, 0.0], 4)
    sim = {
        (r["group_a"], r["group_b"]): r["cos"]
        for r in centroid_similarity(cent).collect()
    }
    assert sim[(0, 2)] == 1.0      # same direction, different magnitude
    assert sim[(0, 1)] == 0.0      # orthogonal
    assert sim[(1, 2)] == 0.0
    assert len(sim) == 3           # a < b pairs only
    # single codegen aggregate for the centroids (no posexplode shuffle)
    plan = group_centroids(emb, dim=4)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_containment_detects_subset_doc(spark):
    """A doc fully quoted inside a longer one: jaccard is low but
    containment_a_in_b is 1.0 — the asymmetric case symmetric dedup
    misses."""
    from pyspark.sql import functions as F  # noqa: F401

    small = "alpha beta gamma delta epsilon"
    big = small + " zeta eta theta iota kappa " + "lambda mu nu xi omicron pi"
    df = spark.createDataFrame([(1, small), (2, big)], "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    [r] = dedup.ngram_jaccard_pairs(
        df, pairs, threshold=0.9, emit="containment"
    ).collect()
    assert r["containment_a_in_b"] == 1.0        # small fully inside big
    assert r["containment_b_in_a"] < 0.3
    assert r["jaccard"] < 0.3                     # symmetric score misses it
    # jaccard emit is unchanged and would drop the pair at this threshold
    assert dedup.ngram_jaccard_pairs(df, pairs, threshold=0.9).count() == 0


def test_duplicate_spans(spark):
    """Two docs sharing one verbatim 10-token license block: the merged
    span covers exactly the block in both docs; unique text emits nothing;
    an internal repetition within ONE doc is also caught (occurrences, not
    distinct docs)."""
    lic = "this block is licensed under the common public attribution terms"  # 10 tokens
    rows = [
        (1, "alpha beta " + lic + " gamma delta"),
        (2, lic + " totally different tail words here"),
        (3, "entirely unique words that appear nowhere else in this corpus"),
        (4, "x y " + "rep rep rep rep rep rep rep rep rep rep rep rep"),  # self-repeat
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["start_tok"], r["end_tok"], r["n_windows"])
        for r in dedup.duplicate_spans(df, span_tokens=8).collect()
        if r["doc_id"] in (1, 2, 3)
    }
    # doc 1: lic occupies tokens 2..12 (0-based); 8-token windows fully
    # inside it start at 2,3,4 -> merged span [2, 12)
    assert got[1] == (2, 12, 3)
    assert got[2] == (0, 10, 3)
    assert 3 not in got
    # doc 4's 'rep'*12 run self-repeats: windows at 2..6 are identical
    [r4] = [r for r in dedup.duplicate_spans(df, span_tokens=8).collect()
            if r["doc_id"] == 4]
    assert (r4["start_tok"], r4["end_tok"]) == (2, 14)


def test_ivf_search_batch_matches_per_query_and_plan(spark):
    """The batched ANN join returns, per query, what the single-query IVF
    search returns (same codebook/nprobe/k) — and plans a broadcast join,
    not a shuffle of the corpus per query."""
    from pyspark.sql import functions as F

    from tsengine.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    cents = similarity.fixed_centroids(4, 64, seed=7)
    queries = emb.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["cosine"])
        for r in similarity.ivf_search_batch(
            emb, queries, cents, k=3, nprobe=2
        ).collect()
    }
    for q in [r["query_id"] for r in queries.select("query_id").collect()]:
        qv = [float(x) for x in emb.where(F.col("vec_id") == q).first()["embedding"]]
        single = similarity.ivf_topk(emb, qv, cents, k=3, nprobe=2).collect()
        for rank, row in enumerate(single, 1):
            assert batch[(q, rank)] == (row["vec_id"], row["cosine"]), (q, rank)
    plan = (
        similarity.ivf_search_batch(emb, queries, cents, k=3, nprobe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_corpus_curation_plan_hygiene(spark):
    """The four-stage curation composition must stay join-planned: no
    CartesianProduct / BroadcastNestedLoopJoin anywhere in the chained
    quality + dedup + decontamination + sampling plan."""
    from driver_queries.data import q_corpus_curation

    plan = (
        q_corpus_curation(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_lsh_incremental_validate_overlap(spark, docs):
    """validate=True raises when a doc_id appears in both the new batch and
    the stored index (self-pairs would silently mask real collisions)."""
    import pytest as _pt
    from pyspark.sql import functions as F

    old = docs.where(F.col("doc_id") < 4)
    new = docs.where(F.col("doc_id") >= 3)  # doc 3 overlaps
    idx = dedup.lsh_band_rows(old, num_hashes=8, bands=4)
    nb = dedup.lsh_band_rows(new, num_hashes=8, bands=4)
    with _pt.raises(ValueError, match="present in both"):
        dedup.lsh_pairs_incremental(nb, idx, validate=True)
    # disjoint inputs pass validation and return the same pairs as unvalidated
    nb2 = dedup.lsh_band_rows(docs.where(F.col("doc_id") >= 4),
                              num_hashes=8, bands=4)
    a = {(r["doc_a"], r["doc_b"])
         for r in dedup.lsh_pairs_incremental(nb2, idx, validate=True).collect()}
    b = {(r["doc_a"], r["doc_b"])
         for r in dedup.lsh_pairs_incremental(nb2, idx).collect()}
    assert a == b


def test_ivf_recall_curve(spark):
    """VERDICT r03 task 8: measured IVF recall@10 vs nprobe against
    brute-force on the sf0.01 embeddings (trained 16-cell codebook,
    seed-deterministic).  Measured curve: nprobe 2/4/8 -> 0.425/0.625/0.775
    mean recall; pinned with tolerance, monotone, and exhaustive probing
    (nprobe = n_cells) must equal brute force exactly.  Documented next to
    q_knn_ivf (driver_queries/data.py)."""
    import numpy as np

    from tsengine.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet") \
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    cents = S.train_centroids(emb, n_cells=16, iters=5, seed=42)
    assigned = S.ivf_assign(emb, cents).persist()
    qs = [[float(x) for x in r["embedding"]]
          for r in emb.where(F.col("vec_id") % 151 == 0)
                      .orderBy("vec_id").limit(4).collect()]
    K = 10
    cents_np = np.array(cents)
    truth = [
        {r["vec_id"] for r in S.cosine_topk_bruteforce(emb, qv, k=K).collect()}
        for qv in qs
    ]

    def mean_recall(nprobe):
        recs = []
        for qv, tr in zip(qs, truth):
            order = (((cents_np - np.array(qv)) ** 2).sum(1)) \
                .argsort(kind="stable")[:nprobe].tolist()
            got = {r["vec_id"]
                   for r in S.cosine_topk_bruteforce(
                       assigned.filter(F.col("ivf_cell").isin(order)),
                       qv, k=K).collect()}
            recs.append(len(got & tr) / K)
        return sum(recs) / len(recs)

    curve = {p: mean_recall(p) for p in (2, 4, 8, 16)}
    assigned.unpersist()
    # measured pins (±0.15 tolerance for codebook/testdata drift)
    assert abs(curve[2] - 0.425) <= 0.15, curve
    assert abs(curve[4] - 0.625) <= 0.15, curve
    assert abs(curve[8] - 0.775) <= 0.15, curve
    # monotone: more probes never lose recall
    assert curve[2] <= curve[4] <= curve[8] <= curve[16], curve
    # exhaustive probing IS brute force
    assert curve[16] == 1.0, curve


def test_real_codecs_roundtrip_and_edge_cases():
    """Stdlib codec parsers (VERDICT r04 task 3): WAV/PPM/BMP decode REAL
    encoded bytes exactly — including odd-width BMP row padding, top-down
    BMP, PPM header comments, WAV extra chunks and stereo downmix — and the
    honest NotImplemented boundary stays for formats without a codec."""
    import struct

    import numpy as np

    from tsengine.operators import multimodal as mm

    # PPM roundtrip, exact pixels
    img = np.random.RandomState(7).randint(0, 256, size=(5, 9, 3), dtype=np.uint8)
    assert (mm._ppm_decode(mm.encode_ppm(img), {}) == img).all()
    # PPM with comments and ragged whitespace in the header
    hdr = b"P6 # comment\n# full line comment\n 9\t5 # trailing\n255\n"
    assert (mm._ppm_decode(hdr + img.tobytes(), {}) == img).all()

    # BMP roundtrip at odd width (9*3=27 bytes/row -> 1 pad byte)
    assert (mm._bmp_decode(mm.encode_bmp(img), {}) == img).all()
    # top-down BMP (negative height): the same byte rows, read in file
    # order instead of reversed — encoding img[::-1] bottom-up then
    # declaring top-down must decode back to img
    blob = bytearray(mm.encode_bmp(img[::-1]))
    struct.pack_into("<i", blob, 22, -5)  # declare top-down
    assert (mm._bmp_decode(bytes(blob), {}) == img).all()

    # WAV roundtrip: planted int16 values decode bit-exactly
    samples = np.array([0.0, 0.5, -0.5, 1.0, -1.0, 0.25], dtype="float64")
    dec = mm._wav_decode(mm.encode_wav(samples, 8000), {})
    exp = np.clip(np.round(samples * 32767), -32768, 32767).astype("int16").astype("float32") / 32768.0
    assert dec.dtype == np.float32 and np.array_equal(dec, exp)
    # chunk walking: a LIST chunk between fmt and data is skipped
    wav = mm.encode_wav(samples, 8000)
    fmt_chunk, data_chunk = wav[12:36], wav[36:]
    extra = struct.pack("<4sI", b"LIST", 4) + b"INFO"
    hacked = wav[:12] + fmt_chunk + extra + data_chunk
    hacked = hacked[:4] + struct.pack("<I", len(hacked) - 8) + hacked[8:]
    assert np.array_equal(mm._wav_decode(hacked, {}), exp)
    # stereo downmix by mean
    stereo_pcm = np.array([100, 200, -100, 300], dtype="<i2")  # L,R,L,R
    data = stereo_pcm.tobytes()
    st = struct.pack("<4sI4s4sIHHIIHH4sI", b"RIFF", 36 + len(data), b"WAVE",
                     b"fmt ", 16, 1, 2, 8000, 32000, 4, 16, b"data", len(data)) + data
    got = mm._wav_decode(st, {})
    assert np.allclose(got, [(100 + 200) / 2 / 32768.0, (-100 + 300) / 2 / 32768.0])

    # honest boundaries
    with pytest.raises(NotImplementedError, match="no codec"):
        mm.decode_media(b"\xff\xd8\xff", {"format": "jpeg"})
    with pytest.raises(NotImplementedError, match="PCM16"):
        bad = bytearray(st)
        struct.pack_into("<H", bad, 20, 3)  # IEEE float fmt tag
        mm._wav_decode(bytes(bad), {})


def test_synth_media_payloads_are_genuinely_encoded(spark):
    """The synthetic media table now carries real containers: every image
    payload parses as PPM/BMP with the advertised dimensions; every audio
    payload is a RIFF/WAVE file whose decoded length matches the metadata."""
    import numpy as np

    from tsengine.operators import multimodal as mm

    rows = mm.synth_media(spark, n=24).collect()
    kinds = {r["kind"] for r in rows}
    assert kinds == {"image", "audio", "video"}
    for r in rows:
        payload, meta = bytes(r["payload"]), dict(r["meta"])
        if r["kind"] == "image":
            assert meta["format"] in ("ppm", "bmp")
            magic = b"P6" if meta["format"] == "ppm" else b"BM"
            assert payload.startswith(magic)
            img = mm.decode_media(payload, meta)
            assert img.shape == (int(meta["height"]), int(meta["width"]), 3)
        elif r["kind"] == "audio":
            assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
            wav = mm.decode_media(payload, meta)
            assert wav.size == int(float(meta["duration_s"]) * int(meta["sample_rate"]))
            # the planted tone dominates: spectral peak at ~220*(1+i%5) Hz
            spec = np.abs(np.fft.rfft(wav))
            peak_hz = spec.argmax() / float(meta["duration_s"])
            assert abs(peak_hz - 220.0 * (1 + r["media_id"] % 5)) < 4.0


def test_semantic_pairs_probe_spread_on_narrow_input(spark):
    """A 1-partition corpus must NOT compute the in-cell pairwise join in a
    single task: _semantic_pairs respreads the assigned frame to the
    session's shuffle parallelism (visible as a RoundRobinPartitioning
    exchange), an already-wide frame is left untouched, and the respread
    changes no values (semantic_dedup output identical either way)."""
    from pyspark.sql import functions as F

    from tsengine.operators import similarity

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )
    cents = similarity.fixed_centroids(4, 64, seed=7)
    narrow = emb.coalesce(1)
    assert narrow.rdd.getNumPartitions() == 1

    plan_narrow = (
        dedup._semantic_pairs(narrow, cents, threshold=0.3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "RoundRobinPartitioning" in plan_narrow, plan_narrow

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wide = emb.repartition(n_shuffle, "vec_id")
    plan_wide = (
        dedup._semantic_pairs(wide, cents, threshold=0.3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "RoundRobinPartitioning" not in plan_wide, plan_wide

    got_narrow = sorted(
        (r["vec_id"], r["component"], r["is_canonical"])
        for r in dedup.semantic_dedup(narrow, cents, threshold=0.3).collect()
    )
    got_wide = sorted(
        (r["vec_id"], r["component"], r["is_canonical"])
        for r in dedup.semantic_dedup(wide, cents, threshold=0.3).collect()
    )
    assert got_narrow == got_wide


def test_semantic_pairs_width_check_runs_no_job(spark):
    """Over a shuffled input, planning the in-cell pairs starts no Spark
    job: the narrow-input check reads the planned width instead of
    building the RDD, which would run the upstream shuffle.  The shuffle is
    narrower than the session's parallelism, so it is still respread."""
    from tsengine.operators import similarity

    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, rng.standard_normal(64).tolist()) for i in range(64)],
        "vec_id long, embedding array<double>",
    ).repartition(2, "vec_id")
    cents = similarity.fixed_centroids(4, 64, seed=7)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup()
    pairs = dedup._semantic_pairs(emb, cents, threshold=0.3)
    assert tracker.getJobIdsForGroup() == before
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan, plan


def test_semantic_pairs_non_numeric_shuffle_partitions(spark, monkeypatch):
    """Some platforms set spark.sql.shuffle.partitions to a non-numeric
    value such as "auto".  The narrow-input respread must then fall back to
    the context's default parallelism instead of raising ValueError."""
    from pyspark.sql.conf import RuntimeConfig

    from tsengine.operators import similarity

    real_get = RuntimeConfig.get

    def stub_get(self, key, *args, **kwargs):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *args, **kwargs)

    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(i, rng.standard_normal(64).tolist()) for i in range(32)],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    cents = similarity.fixed_centroids(4, 64, seed=7)
    monkeypatch.setattr(RuntimeConfig, "get", stub_get)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "auto"
    plan = (
        dedup._semantic_pairs(emb, cents, threshold=0.3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    n = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({n})" in plan, plan
