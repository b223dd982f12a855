"""Deduplication operators for training-data pipelines (task brief):
exact (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-duplicates.

Scale design:
- exact dedup is a single hash-shuffle on the fingerprint;
- MinHash/LSH: shingle -> K minhashes -> B bands -> self-join per band
  bucket (candidate pairs only; never O(n²));
- SimHash: 64-bit majority-vote signature from md5-derived token hashes
  (pure explode + bit arithmetic, no UDF);
- embedding cosine: LSH via random-hyperplane signs (seeded, deterministic)
  to bucket, exact cosine within buckets.

All hashes are md5-derived so DuckDB oracles can reproduce them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tsengine.operators.textops import (
    fingerprint,
    shingle_rows_raw,
)
from tsengine.session import shuffle_parallelism


def dedup_exact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: keep the min doc_id per normalized-text fingerprint.
    One shuffle on the md5 key; map-side partial min."""
    fp = fingerprint(df, text_col)
    return (
        fp.groupBy("fp_md5")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dupes"))
    )


MINHASH_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def minhash_affine(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for the i-th universal hash h_i(x) = (a*x+b) mod P.
    a*x fits int64 for x < P, so the same formula evaluates identically in
    Spark (wrapping longs never reached) and DuckDB (strict BIGINT)."""
    a = (1103515245 * (i + 1) + 12345) % MINHASH_P or 1
    b = (2027 * i + 577) % MINHASH_P
    return a, b


def minhash_signatures(
    df: DataFrame, text_col: str = "text", num_hashes: int = 16, shingle_k: int = 3
) -> DataFrame:
    """K minhash values per doc via ONE md5 base hash per shingle plus K
    affine universal hashes (a_i*h + b_i) mod (2^31-1) — instead of K md5
    calls per shingle, which dominated the old profile.
    Output: doc_id, mh (array<long> length K).

    Shuffles exactly once: raw (duplicate-preserving) shingle explode feeds
    the groupBy(doc_id) min-agg directly, so only partially-aggregated K min
    values per doc cross the wire.  min() over a multiset equals min() over
    the set, so no shingle dedup is needed — a ``.distinct()`` here would
    shuffle the entire exploded stream for an identical result (verified:
    0 differing rows on sf0.1; 103.6 s vs 6.0 s cold at the bench conf)."""
    base = (
        F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10).cast("long")
        % F.lit(MINHASH_P)
    )
    e = shingle_rows_raw(df, text_col, k=shingle_k).withColumn("_h", base)
    mh_cols = []
    for i in range(num_hashes):
        a, b = minhash_affine(i)
        mh_cols.append(
            F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{i}")
        )
    sig = e.groupBy("doc_id").agg(*mh_cols)
    return sig.select("doc_id", F.array(*[f"mh{i}" for i in range(num_hashes)]).alias("mh"))


def lsh_band_rows(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """The persistable minhash-LSH INDEX: (doc_id, band, bh) rows, one per
    band per doc.  Store these (e.g. as a snapshot table) and incremental
    ingest never re-signatures the existing corpus — new batches join
    against the stored rows (:func:`lsh_pairs_incremental`)."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, num_hashes, shingle_k)
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.array_join(
                                F.transform(
                                    F.slice("mh", b * rows_per_band + 1, rows_per_band),
                                    lambda x: x.cast("string"),
                                ),
                                ",",
                            )
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: docs sharing any band bucket.
    Returns distinct (doc_a, doc_b) with doc_a < doc_b.

    Shuffle profile: one agg for signatures, one explode->self-join keyed by
    (band, band_hash) — the join keys are uniformly distributed md5 buckets,
    so no skew; AQE handles residual imbalance.
    """
    banded = lsh_band_rows(df, text_col, num_hashes, bands, shingle_k)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def lsh_pairs_incremental(
    new_bands: DataFrame, index_bands: DataFrame, validate: bool = False
) -> DataFrame:
    """Incremental-ingest candidates: every pair with at least one side in
    the NEW batch — new x index (the stored :func:`lsh_band_rows` of the
    existing corpus, never re-signatured) plus new x new.  Together with
    the index's own historical pairs this reconstructs exactly the
    full-corpus candidate set (pinned in tests), which is what makes LSH
    dedup O(batch) per ingest instead of O(corpus).

    Cost shape: the join probes only the new batch's band buckets; doc ids
    must be disjoint between the two inputs (an id in both would pair with
    itself and be dropped by the ``doc_id !=`` filter, silently hiding a
    real collision).  ``validate=True`` enforces that precondition with a
    cheap distinct-ids semi-join (one bounded extra action on the two
    id sets, never the band rows) and raises listing the overlap count —
    use it at ingest-pipeline boundaries; leave it off inside loops where
    the caller already guarantees disjointness."""
    if validate:
        overlap = (
            new_bands.select("doc_id")
            .distinct()
            .join(index_bands.select("doc_id").distinct(), "doc_id", "left_semi")
            .count()
        )
        if overlap:
            raise ValueError(
                f"lsh_pairs_incremental: {overlap} doc_id(s) present in both "
                "new_bands and index_bands — self-pairs would be silently "
                "dropped; dedupe the batch against the index first"
            )
    a = new_bands.alias("a")
    b = index_bands.unionByName(new_bands).alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")))
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.0,
    max_doc_freq: int | None = None,
    emit: str = "jaccard",
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.
    ``emit="containment"`` adds the asymmetric |A∩B|/|A| scores (and
    thresholds on the larger one) — the doc-inside-doc detector.
    Output: doc_a, doc_b, jaccard.

    With ``pairs=None``, candidates come from an inverted-index self-join.
    ``max_doc_freq=None`` (default) keeps that join EXACT — every co-shingled
    pair is a candidate — which is the right default for a recall-sensitive
    caller but quadratic on skewed keys: one stop-word shingle ("of the and")
    occurring in f·n documents produces (f·n)^2 join rows, which a 100 TB
    corpus cannot survive.  Scale callers MUST opt into the cap: with
    ``max_doc_freq=K`` candidate generation is restricted to RARE shingles
    (document frequency <= K), bounding every join key at K rows while the
    jaccard itself stays exact over the full shingle sets — only pairs whose
    EVERY common shingle is more frequent than the cap are missed (recall
    tradeoff, explicit at the call site per ADVICE r2).  For threshold-driven
    dedup prefer LSH candidates (:func:`lsh_candidate_pairs`), which bound
    recall by the band construction instead."""
    from pyspark.sql import Window

    if pairs is not None:
        # confirm-stage scan reduction: only docs that appear in a candidate
        # pair need exact shingle sets — at web scale the candidate fraction
        # is small, so the semi-join turns two full-corpus shingle passes
        # into one (LSH) plus one over the candidates.  Shuffles doc ids
        # only; AQE broadcasts the candidate side when it is small enough.
        cand_ids = pairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        ).distinct()
        df = df.join(cand_ids, "doc_id", "left_semi")

    # shingle rows carry their doc's shingle-set size so the sizes ride
    # through the join (no per-doc sizes table, no extra joins at the end).
    # ONE exchange builds both: groupBy(doc_id).collect_set dedups map-side
    # and yields the set AND its size in the same pass — where the previous
    # shape paid the `.distinct()` exchange on (doc_id, s) PLUS a second
    # exchange + sort for the count-over-doc window.
    sh = (
        shingle_rows_raw(df, text_col, k=shingle_k)
        .groupBy("doc_id")
        .agg(F.collect_set("s").alias("_ss"))
        .select("doc_id", F.size("_ss").alias("n"), F.explode("_ss").alias("s"))
    )
    if pairs is None and max_doc_freq is None:
        # exact inverted-index self-join: every co-shingled pair is a
        # candidate (unbounded join keys — see docstring for why scale
        # callers must pass max_doc_freq)
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(b, F.col("a.s") == F.col("b.s"))
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("inter"),
                 F.first(F.col("a.n")).alias("na"), F.first(F.col("b.n")).alias("nb"))
        )
    elif pairs is None:
        # document frequency as a WINDOW over the shingle key: the window's
        # Exchange(s) already gives the self-join its clustering, so this is
        # the plain inverted-index self-join plan plus one window pass — and
        # the join now runs only on shingles with df <= max_doc_freq (every
        # join key bounded; a stop-word shingle in f·n docs can no longer
        # produce (f·n)^2 rows).  The intersection splits exactly:
        #   inter(a,b) = |rare(a) ∩ rare(b)| + |freq(a) ∩ freq(b)|
        # where the freq part joins the candidate pairs against only the
        # small high-df slice (few distinct shingles by Zipf).
        sh2 = sh.withColumn("_df", F.count("*").over(Window.partitionBy("s")))
        rare = sh2.filter(F.col("_df") <= int(max_doc_freq))
        a, b = rare.alias("a"), rare.alias("b")
        rare_inter = (
            a.join(b, F.col("a.s") == F.col("b.s"))
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("_ri"),
                 F.first(F.col("a.n")).alias("na"), F.first(F.col("b.n")).alias("nb"))
        )
        hot = sh2.filter(F.col("_df") > int(max_doc_freq)).select("doc_id", "s")
        hot_inter = (
            rare_inter.select("doc_a", "doc_b")
            .join(hot.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a")
            .join(hot.select(F.col("doc_id").alias("doc_b"), "s"), ["doc_b", "s"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("_hi"))
        )
        inter = (
            rare_inter.join(hot_inter, ["doc_a", "doc_b"], "left")
            .select(
                "doc_a", "doc_b",
                (F.col("_ri") + F.coalesce(F.col("_hi"), F.lit(0))).alias("inter"),
                "na", "nb",
            )
        )
    else:
        # equi-join on BOTH (doc, shingle) keys: joining on doc alone and
        # filtering s == s2 afterwards would materialize a per-pair cartesian
        # of the two shingle sets (|A| x |B| rows per candidate pair)
        inter = (
            pairs.join(
                sh.select(F.col("doc_id").alias("doc_a"), "s",
                          F.col("n").alias("na")), "doc_a")
            .join(
                sh.select(F.col("doc_id").alias("doc_b"), "s",
                          F.col("n").alias("nb")), ["doc_b", "s"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter"),
                 F.first("na").alias("na"), F.first("nb").alias("nb"))
        )
    jac = F.round(
        F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
    )
    if emit == "containment":
        # asymmetric scores: |A∩B|/|A| — near 1.0 when one doc is a
        # quote/subset of the other even though jaccard stays low (the
        # doc-inside-doc case symmetric dedup misses).  Threshold applies
        # to the larger containment.
        c_ab = F.round(F.col("inter") / F.col("na"), 6)
        c_ba = F.round(F.col("inter") / F.col("nb"), 6)
        out = inter.select(
            "doc_a", "doc_b", jac.alias("jaccard"),
            c_ab.alias("containment_a_in_b"), c_ba.alias("containment_b_in_a"),
        )
        return out.filter(
            F.greatest("containment_a_in_b", "containment_b_in_a") >= threshold
        )
    out = inter.select("doc_a", "doc_b", jac.alias("jaccard"))
    return out.filter(F.col("jaccard") >= threshold)


def simhash(df: DataFrame, text_col: str = "text", bits: int = 16) -> DataFrame:
    """SimHash signature: per token take `bits` bits of md5(token); each bit
    position votes +1/-1; signature bit = majority.  Expressed as
    explode(token) x explode(bit position) -> conditional agg -> bit OR.
    Output: doc_id, simhash (long)."""
    from tsengine.operators.textops import tokens_expr

    toks = df.select(
        "doc_id", F.explode(F.transform(tokens_expr(F.col(text_col)), F.lower)).alias("tok")
    )
    h = toks.withColumn(
        "th", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = h.groupBy("doc_id").agg(*votes)
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig + F.when(F.col(f"v{b}") > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0))
    return agg.select("doc_id", sig.alias("simhash"))


def simhash_near_dups(df: DataFrame, text_col: str = "text", bits: int = 16, max_hamming: int = 2) -> DataFrame:
    """Near-dup pairs by simhash hamming distance <= max_hamming, bucketed by
    simhash bands (two halves) so the self-join never goes O(n²)."""
    s = simhash(df, text_col, bits)
    half = bits // 2
    banded = s.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("band"), F.shiftright("simhash", half).alias("key")),
                F.struct(
                    F.lit(1).alias("band"),
                    F.col("simhash").bitwiseAND(F.lit(2**half - 1)).alias("key"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.key")
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.key") == F.col("b.key")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def embedding_near_dups(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    planes: int | None = None,
    seed: int = 42,
    target_bucket: int = 128,
    n: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicates: random-hyperplane LSH bucket, exact
    cosine inside buckets, keep pairs >= threshold.

    ``planes=None`` (default) scales the bucket count with the corpus:
    planes = ceil(log2(n / target_bucket)), keeping expected bucket size
    ~``target_bucket`` so the within-bucket self-join stays ~n·target_bucket
    pairs TOTAL at any n.  A fixed plane count is a scale bug — 2^planes
    buckets means O(n²/2^planes) pairs, quadratic again once n outgrows the
    constant.

    REPRODUCIBILITY CAVEAT (ADVICE r2): with ``planes=None`` the plane count
    — and therefore the returned pair set — depends on the corpus size, so
    identical vectors can yield different pairs as the table grows.  Pin an
    explicit ``planes`` for reproducible pipelines (the driver query pins 6
    so the DuckDB oracle can mirror the hyperplanes as literals).

    Actions: pass ``n`` (row count) and ``dim`` (vector length) to make this
    call plan-only; when omitted they are computed with one ``count()`` /
    ``first()`` action each — convenient interactively, wrong in a hot loop.

    Recall note: more planes = stricter buckets; near-duplicate pairs at
    cosine >= ~0.95 flip few sign bits; use
    :func:`embedding_near_dups_multiprobe` if recall at the chosen plane
    count measures short (measured recall pinned in
    tests/test_dataops.py::test_multiprobe_recall)."""
    import math

    import numpy as np

    if planes is None:
        if n is None:
            n = emb.count()
        planes = max(1, math.ceil(math.log2(max(n, 2) / target_bucket)))
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    rng = np.random.RandomState(seed)
    hyper = rng.normal(size=(planes, dim))
    return _hyperplane_near_dups(emb, hyper, vec_col, id_col, threshold, False)


def embedding_near_dups_multiprobe(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Multiprobe variant: the LEFT side of the candidate join also enters
    every bucket at Hamming distance 1 from its signature (flip each single
    plane bit), the right side stays exact — so pairs whose signatures
    differ in at most ONE plane are candidates, recovering the near-dups a
    single strict bucket loses when the plane count grows with n.  Join
    volume grows by a factor of (planes+1) on one side only.  Pass ``dim``
    to keep the call plan-only (otherwise one ``first()`` action)."""
    import numpy as np

    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    rng = np.random.RandomState(seed)
    hyper = rng.normal(size=(planes, dim))
    return _hyperplane_near_dups(emb, hyper, vec_col, id_col, threshold, True)


def _hyperplane_near_dups(emb, hyper, vec_col, id_col, threshold, multiprobe):

    planes = len(hyper)
    v = F.col(vec_col)
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    sig = F.lit(0).cast("long")
    for p in range(planes):
        plane = F.lit(hyper[p].tolist())
        dot = F.aggregate(
            F.zip_with(v, plane, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        sig = sig + F.when(dot > 0, F.lit(2**p).cast("long")).otherwise(F.lit(0))
    e = emb.select(F.col(id_col).alias("vid"), v.alias("vec"), norm.alias("nrm"), sig.alias("bucket"))
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(2**p).cast("long")) for p in range(planes)],
        )
        a = e.select("vid", "vec", "nrm", F.explode(probes).alias("bucket")).alias("a")
    else:
        a = e.alias("a")
    b = e.alias("b")
    dot_ab = F.aggregate(
        F.zip_with(F.col("a.vec"), F.col("b.vec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    out = (
        a.join(b, F.col("a.bucket") == F.col("b.bucket"))
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
            F.round(dot_ab / (F.col("a.nrm") * F.col("b.nrm")), 6).alias("cosine"),
        )
    )
    if multiprobe:
        out = out.distinct()  # a pair can match via several probe buckets
    return out.filter(F.col("cosine") >= threshold)


def semantic_dedup(
    emb: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): coarse-
    quantize every embedding into a cell (broadcast codebook literals, argmin
    squared-L2 in codegen), compute exact pairwise cosine WITHIN each cell
    only, then resolve duplicate clusters over pairs >= threshold with
    distributed connected components and keep the min-id vector per cluster.

    Output: (vec_id, component, is_canonical) for EVERY input vector —
    ``where(is_canonical)`` is the semantically-deduplicated corpus.

    Scale shape: the self-join is cell-bucketed (never all-pairs; codebook
    size controls expected cell population), the transitive closure is the
    O(log n)-round star algorithm, and the final resolution join broadcasts
    the (small) paired-node frame against the full corpus.  Codebook choice:
    :func:`~tsengine.operators.similarity.fixed_centroids` for a
    deterministic/oracle-able pipeline, ``train_centroids_distributed`` for
    quantizer quality at scale."""
    from tsengine.operators.components import dedup_resolve

    pairs = _semantic_pairs(emb, centroids, threshold, vec_col, id_col)
    return dedup_resolve(
        emb.select(F.col(id_col)), pairs, id_col=id_col, src="vec_a", dst="vec_b"
    )


def _planned_width(df: DataFrame) -> int:
    """Partitions of ``df`` as planned, read without running a job.

    A plan with exchanges is adaptive, and building its RDD would run the
    upstream shuffles: its width is the initial plan's output partitioning
    (0 when that is unknown, which reads as narrow).  An exchange-free
    plan's RDD is its scans', and building it runs nothing."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        return plan.executedPlan().outputPartitioning().numPartitions()
    return plan.execute().getNumPartitions()


def _semantic_pairs(
    emb: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """In-cell cosine candidate pairs for :func:`semantic_dedup` —
    ``(vec_a, vec_b)`` with ``vec_a < vec_b`` and cosine >= threshold.

    Parallelism floor: on a broadcast-sized corpus Catalyst turns the
    in-cell self-join into a broadcast hash join, which keeps the STREAMED
    side's input partitioning — a single-file scan then computes every
    in-cell pair in ONE task (the join output explodes quadratically in
    cell population, so AQE's input-size stats can't see it coming).  When
    the assigned frame is narrower than the session's shuffle parallelism
    (as planned: :func:`_planned_width` runs no job) it is round-robin
    respread first; both join aliases read the respread frame, so
    whichever side Catalyst broadcasts, the streamed side stays wide.  At cluster scale the scan is already >= that wide and no extra
    exchange is ever added to the big path."""
    from tsengine.operators.similarity import _dot, _norm, ivf_assign

    a = ivf_assign(emb, centroids, vec_col, id_col).select(
        F.col("vec_id").alias("vid"),
        F.col(vec_col).alias("vec"),
        "ivf_cell",
        _norm(F.col(vec_col)).alias("nrm"),
    )
    n_shuffle = shuffle_parallelism(emb.sparkSession)
    if _planned_width(a) < n_shuffle:
        a = a.repartition(n_shuffle)
    x, y = a.alias("x"), a.alias("y")
    cos = F.round(
        _dot(F.col("x.vec"), F.col("y.vec")) / (F.col("x.nrm") * F.col("y.nrm")), 6
    )
    return (
        x.join(y, (F.col("x.ivf_cell") == F.col("y.ivf_cell")) & (F.col("x.vid") < F.col("y.vid")))
        .where(cos >= threshold)
        .select(F.col("x.vid").alias("vec_a"), F.col("y.vid").alias("vec_b"))
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    span_tokens: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Exact duplicated-span detection at token granularity — the
    distributed analogue of ExactSubstr dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"), which
    removes any span repeated verbatim anywhere in the corpus (boilerplate,
    licenses, quoted chains) that document-level near-dup scoring misses.
    Where the paper builds one giant suffix array, the Spark shape is:
    hash every ``span_tokens``-token window (explode with position), count
    occurrences per hash corpus-wide (map-side combine; the count frame is
    bounded by distinct spans), keep windows whose hash occurs
    ``min_occurrences``+ times anywhere, and merge each doc's overlapping
    duplicated windows into maximal intervals with the classic
    islands-by-running-max window pass.

    Output: (doc_id, start_tok inclusive, end_tok exclusive, n_windows) —
    one row per maximal duplicated span.  A caller cuts these spans (or
    drops docs whose duplicated fraction is high).  md5 window hashes:
    deterministic, cross-engine reproducible; collisions (2^-60) over-mark
    a span, never corrupt structure.
    """
    from tsengine.operators.textops import tokens_expr

    L = int(span_tokens)
    toks = df.select("doc_id", tokens_expr(F.col(text_col)).alias("_t"))
    grams = toks.where(F.size("_t") >= L).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("_t") - L + 1),
                lambda i: F.md5(F.array_join(F.slice("_t", i, L), " ")),
            )
        ).alias("p", "h"),
    )
    dup_h = (
        grams.groupBy("h").agg(F.count("*").alias("_n"))
        .where(F.col("_n") >= int(min_occurrences))
        .select("h")
    )
    dup = grams.join(dup_h, "h", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("p")
    # islands: a window starts a new span iff it begins past the running
    # max end of everything before it
    run_end = F.max(F.col("p") + L).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup.withColumn(
        "_new", F.when(run_end.isNull() | (F.col("p") > run_end), 1).otherwise(0)
    ).withColumn(
        "_island",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        marked.groupBy("doc_id", "_island")
        .agg(
            F.min("p").alias("start_tok"),
            (F.max("p") + L).alias("end_tok"),
            F.count("*").alias("n_windows"),
        )
        .select("doc_id", "start_tok", "end_tok", "n_windows")
    )
