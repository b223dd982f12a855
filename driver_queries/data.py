"""Driver-contract queries for the training-data pipeline operators
(dedup / text analysis / similarity / multimodal / compression), over the
documents + embeddings tables, with DuckDB oracles wherever the op is
SQL-expressible.

Hash parity: Spark conv(substr(md5(x),1,15),16,10)::long ==
DuckDB CAST('0x'||substr(md5(x),1,15) AS BIGINT) — verified.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from tsengine.operators import dedup, multimodal, similarity, textops

N_MINHASH = 8
SIMHASH_BITS = 16

# ---------------------------------------------------------------- engine side

_tables_root: str | None = None


def table_dir(name: str) -> str:
    """A fresh directory for one table a query builds, inside this
    process's one ``tseng_tables_*`` directory, which is removed when the
    process exits."""
    global _tables_root
    if _tables_root is None:
        _tables_root = tempfile.mkdtemp(prefix="tseng_tables_")
        atexit.register(shutil.rmtree, _tables_root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"{name}_", dir=_tables_root)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _vectors(spark, sf_dir):
    return _emb(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )


def q_dedup_exact(spark, sf_dir):
    return dedup.dedup_exact(_docs(spark, sf_dir))


def q_token_count(spark, sf_dir):
    return textops.token_count(_docs(spark, sf_dir))


def q_quality_score(spark, sf_dir):
    return textops.quality_score(_docs(spark, sf_dir))


def q_language_id(spark, sf_dir):
    return textops.language_id(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    return textops.fingerprint(_docs(spark, sf_dir))


def q_gopher_quality(spark, sf_dir):
    return textops.gopher_quality(_docs(spark, sf_dir))


def q_repetition(spark, sf_dir):
    return textops.repetition_stats(_docs(spark, sf_dir))


def q_pii_scrub(spark, sf_dir):
    """PII redaction made value-checkable on PII-free synthetic docs by
    deterministically injecting fake PII derived from doc_id (every 2nd doc
    an email, every 3rd an IP, every 5th a phone), mirrored verbatim in the
    oracle's SQL concat — the scrubbed text and per-kind counts must match
    character-for-character."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit(" reach me at user"), F.col("doc_id"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" call +34 600 "), (100 + F.col("doc_id") % 900).cast("string"), F.lit(" 123")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return textops.pii_scrub(d)


def q_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir), bits=SIMHASH_BITS)


def q_simhash_near_dups(spark, sf_dir):
    # banded simhash self-join (half-signature buckets) + hamming confirm
    out = dedup.simhash_near_dups(_docs(spark, sf_dir), bits=SIMHASH_BITS, max_hamming=3)
    return out.select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


def q_minhash(spark, sf_dir):
    sig = dedup.minhash_signatures(_docs(spark, sf_dir), num_hashes=N_MINHASH)
    return sig.select(
        "doc_id", *[F.col("mh")[i].alias(f"mh{i}") for i in range(N_MINHASH)]
    )


JACCARD_DF_CAP = 64


def q_jaccard_pairs(spark, sf_dir):
    # no-candidates path with the document-frequency cap: candidates come
    # from rare shingles only (bounded join keys), jaccard stays exact
    docs = _docs(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(
        docs, pairs=None, shingle_k=3, threshold=0.2, max_doc_freq=JACCARD_DF_CAP
    )


def q_lsh_near_dups(spark, sf_dir):
    # fully value-checked: the affine minhash family + md5 band hashes are
    # deterministic and mirrored in the DuckDB oracle below
    docs = _docs(spark, sf_dir)
    pairs = dedup.lsh_candidate_pairs(docs, num_hashes=16, bands=8)
    return dedup.ngram_jaccard_pairs(docs, pairs, threshold=0.5)


SPAN_L = 8


def q_duplicate_spans(spark, sf_dir):
    """ExactSubstr-style duplicated-span detection (Lee et al. 2022):
    every maximal token span whose 8-token windows all repeat verbatim
    somewhere in the corpus — DuckDB mirror recomputes the window hashes,
    the corpus-wide occurrence counts and the islands merge."""
    docs = _docs(spark, sf_dir)
    out = dedup.duplicate_spans(docs, span_tokens=SPAN_L, min_occurrences=2)
    return out.select(
        "doc_id",
        F.col("start_tok").cast("long").alias("start_tok"),
        F.col("end_tok").cast("long").alias("end_tok"),
        "n_windows",
    )


def q_containment(spark, sf_dir):
    """Asymmetric containment scores over LSH candidates: |A∩B|/|A| near
    1.0 flags quote/subset duplication jaccard misses.  (LSH bands recall
    symmetric near-dups; a dedicated substring pass would band the small
    side only — noted in the operator docstring.)"""
    docs = _docs(spark, sf_dir)
    cand = dedup.lsh_candidate_pairs(docs, num_hashes=16, bands=8)
    return dedup.ngram_jaccard_pairs(docs, cand, threshold=0.5,
                                     emit="containment")


def q_lsh_incremental(spark, sf_dir):
    """Incremental-ingest dedup: docs with doc_id % 10 == 0 arrive as a NEW
    batch and are deduped against the stored LSH index of the rest —
    candidates touch only pairs with a new side (new x index + new x new),
    then the usual jaccard confirm.  The DuckDB oracle recomputes the full
    banded join restricted by the same at-least-one-new-side predicate."""
    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") % 10 != 0)
    new = docs.where(F.col("doc_id") % 10 == 0)
    idx = dedup.lsh_band_rows(old, num_hashes=16, bands=8)
    nb = dedup.lsh_band_rows(new, num_hashes=16, bands=8)
    cand = dedup.lsh_pairs_incremental(nb, idx)
    return dedup.ngram_jaccard_pairs(docs, cand, threshold=0.5)


def q_dedup_clusters(spark, sf_dir):
    """Full near-dup DEDUP pipeline, not just pairs: LSH candidates ->
    jaccard confirm (>= 0.5) -> distributed connected components
    (large-star/small-star) -> canonical min-id doc per duplicate cluster,
    resolved over the whole documents table.  The DuckDB oracle recomputes
    the same pair set and closes it transitively with a recursive CTE.

    The CONFIRMED pairs are persisted through the snapshot table before the
    CC closure (the production shape: pairs are the expensive output of the
    LSH+confirm stages, and the iterative CC consumer re-reads them — a
    durable table survives executor loss where a localCheckpoint would not,
    and later incremental dedup batches append to the same pair table)."""
    from tsengine.operators.components import dedup_resolve
    from tsengine.sources.snapshots import SnapshotTable

    docs = _docs(spark, sf_dir)
    cand = dedup.lsh_candidate_pairs(docs, num_hashes=16, bands=8)
    # the confirm stage references cand twice (semi-join ids + the pair
    # join) — checkpoint the tiny candidate frame once instead of
    # re-running the LSH chain per reference (right call at 100 TB too:
    # candidates are the small output of the heavy stage)
    cand = cand.localCheckpoint(eager=True)
    pairs = dedup.ngram_jaccard_pairs(docs, cand, threshold=0.5)
    pair_tbl = SnapshotTable(table_dir("pairs"), ts_col=None)
    pair_tbl.append(pairs)
    out = dedup_resolve(docs, pair_tbl.read(spark))
    return out.select(
        "doc_id", "component", F.col("is_canonical").cast("long").alias("is_canonical")
    )


SEMDEDUP_CELLS, SEMDEDUP_THRESHOLD = 8, 0.3


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup over the embeddings table with the deterministic literal
    codebook: cell assignment, in-cell cosine pairs and the connected-
    components closure are all mirrored exactly in the DuckDB oracle."""
    emb = _vectors(spark, sf_dir)
    cents = similarity.fixed_centroids(SEMDEDUP_CELLS, 64, seed=7)
    out = dedup.semantic_dedup(emb, cents, threshold=SEMDEDUP_THRESHOLD)
    return out.select(
        "vec_id", "component", F.col("is_canonical").cast("long").alias("is_canonical")
    )


def q_knn_bruteforce(spark, sf_dir):
    emb = _vectors(spark, sf_dir)
    qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    return similarity.cosine_topk_bruteforce(emb, qv, k=25)


def q_embedding_near_dups(spark, sf_dir):
    emb = _vectors(spark, sf_dir)
    return dedup.embedding_near_dups(emb, threshold=0.5, planes=6)


def q_centroid_similarity(spark, sf_dir):
    """Per-label centroid cosine matrix over the embeddings table — the
    label-noise / redundant-source diagnostic.  Centroid components are
    rounded to 6dp (the published artifact) so the DuckDB mirror's
    differently-ordered float sums agree; the pairwise join is quadratic
    in GROUPS (10), never vectors."""
    emb = _emb(spark, sf_dir)
    cent = similarity.group_centroids(emb, group="label", vec="embedding",
                                      dim=64)
    out = similarity.centroid_similarity(cent, group="label")
    return out.select(
        F.col("group_a").cast("long").alias("label_a"),
        F.col("group_b").cast("long").alias("label_b"),
        "cos",
    )


ANN_MOD, ANN_NPROBE, ANN_K = 50, 3, 5


def q_ann_join(spark, sf_dir):
    """Batched ANN join: top-5 cosine neighbors for EVERY query vector
    (vec_id % 50 == 0) in one plan — shared literal codebook, per-query
    nprobe cell expansion, broadcast probe join, rank window.  DuckDB
    mirror recomputes assignment, probes, cosine and rank identically."""
    emb = _vectors(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % ANN_MOD == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = similarity.fixed_centroids(IVF_CELLS, 64, seed=7)
    return similarity.ivf_search_batch(
        emb, queries, cents, k=ANN_K, nprobe=ANN_NPROBE
    )


IVF_CELLS, IVF_NPROBE, IVF_K = 8, 3, 10


def q_knn_ivf(spark, sf_dir):
    """Value-checked IVF search: the codebook is a seeded deterministic
    literal (similarity.fixed_centroids), so cell assignment, nprobe pruning
    and cosine scoring are all mirrored exactly in the DuckDB oracle.  The
    k-means-trained codebook path stays pytest-covered
    (tests/test_dataops.py::test_ivf_matches_bruteforce_on_probed_cells)."""
    emb = _vectors(spark, sf_dir)
    qv = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    cents = similarity.fixed_centroids(IVF_CELLS, 64, seed=7)
    return similarity.ivf_topk(emb, qv, cents, k=IVF_K, nprobe=IVF_NPROBE)


def q_compress_roundtrip(spark, sf_dir):
    """Gorilla+DoD roundtrip over the events series: the oracle is the
    IDENTITY query — decode(encode(x)) must equal the raw series."""
    from tsengine import compress as C
    from tsengine.core import events_as_series

    ev = events_as_series(spark, sf_dir)
    cols = dict(group_cols=("series_id",), epoch_col="epoch", value_cols=("value",))
    back = C.decompress_table(C.compress_table(ev, **cols), **cols)
    return back.select("series_id", "epoch", F.round("value", 6).alias("value"))


ROLE_VOCAB = ["click", "error", "purchase", "signup", "view"]
TOOL_VOCAB = ["big", "small"]


# (map column, output prefix, vocabulary) of the tiers' count columns
_DISTS = (("role", "r", ROLE_VOCAB), ("tool", "t", TOOL_VOCAB))


def project_tier(out, dists=True):
    """Common driver projection of a tier frame: the 6dp-rounded value
    plane and, with ``dists``, the role/tool dist maps pivoted to count
    columns, encoding-proof for the value-hash compare.  Buckets whose only
    turn is a conversation's first have no latency: min/max/sum/mean are
    NULL, coalesced to 0.0 on BOTH sides (cnt_lat=0 marks them) so the
    value-hash never mixes None/NaN encodings.  Oracle: tier_sql."""
    plane = [
        F.coalesce(F.round(c, 6), F.lit(0.0)).alias(c)
        for c in ("vmin", "vmax", "vsum", "vmean")
    ]
    counts = [
        F.coalesce(F.element_at(F.col(f"{k}_dist"), F.lit(v)), F.lit(0).cast("long"))
        .alias(f"{p}_{v}")
        for k, p, vocab in _DISTS for v in vocab
    ] if dists else []
    return out.select("conv_id", "bucket", "cnt", "cnt_lat", *plane, *counts)


def tier_sql(width, dists=True):
    """DuckDB mirror of project_tier over the ``width``-second tier rolled
    up straight from the events-derived ``transcripts``."""
    src = cols = counts = ""
    if dists:
        src = """
         event_type AS role,
         CASE WHEN value >= 50 THEN 'big' ELSE 'small' END AS tool,"""
        cols = " role, tool,"
        counts = "".join(
            f",\n       CAST(sum(CASE WHEN {k} = '{v}' THEN 1 ELSE 0 END) AS BIGINT) AS {p}_{v}"
            for k, p, vocab in _DISTS for v in vocab
        )
    return f"""
WITH t AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS epoch,{src}
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_idx
  FROM events),
l AS (
  SELECT conv_id, epoch,{cols}
         CAST(epoch - lag(epoch) OVER (PARTITION BY conv_id ORDER BY turn_idx)
              AS DOUBLE) AS value
  FROM t)
SELECT conv_id, {width}*(epoch//{width}) AS bucket,
       count(*) AS cnt, count(value) AS cnt_lat,
       coalesce(round(min(value), 6), 0.0) AS vmin,
       coalesce(round(max(value), 6), 0.0) AS vmax,
       coalesce(round(sum(value), 6), 0.0) AS vsum,
       coalesce(round(avg(value), 6), 0.0) AS vmean{counts}
FROM l GROUP BY 1, 2
"""


def _turns(spark, sf_dir, *cols):
    """The events table as transcripts: conv_id = user_id, turns numbered
    by (ts, event_id), plus ``cols`` over each event row."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.row_number().over(w).alias("turn_idx"),
        *cols,
    )


def transcripts(spark, sf_dir):
    """The tier source: role = event_type, tool = big/small by value, empty
    text; the shape tier_sql mirrors."""
    return _turns(
        spark, sf_dir,
        F.col("event_type").alias("role"),
        F.lit("").alias("text"),
        F.when(F.col("value") >= 50, "big").otherwise("small").alias("tool"),
        F.col("ts").cast("timestamp").alias("ts"),
    )


def q_transcript_rollup_1m(spark, sf_dir):
    """North-star tier rollup (with_latency -> rollup_raw_to_tier) made
    fully value-checkable: the transcript table is derived deterministically
    from the events parquet (conv_id=user_id, turn order by (ts, event_id)),
    and the role/tool distribution maps are flattened to per-key count
    columns so the DuckDB oracle can pin them.  The synthetic-transcripts
    variant stays bit-for-bit pinned in tests/test_rollup.py."""
    from tsengine.operators import rollup as R

    return project_tier(R.rollup_raw_to_tier(
        R.with_latency(transcripts(spark, sf_dir)), "1m",
        role_vocab=ROLE_VOCAB, tool_vocab=TOOL_VOCAB,
    ))


def q_salted_rollup_1m(spark, sf_dir):
    """Skew path value-checked: the two-phase salted rollup must produce
    EXACTLY the rows of the direct rollup (count/min/max/sum compose across
    salt buckets), so it shares q_transcript_rollup_1m's numeric-plane
    oracle verbatim."""
    from tsengine import skew
    from tsengine.operators import rollup as R

    t = _turns(spark, sf_dir, F.col("ts").cast("timestamp").alias("ts"))
    out = skew.salted_rollup(R.with_latency(t), width=60, buckets=8)
    return project_tier(out, dists=False)


def _typed_events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        # NTZ source: epoch seconds via double cast (session tz pinned UTC)
        F.col("ts").cast("timestamp").cast("long").alias("ep"),
    )


def q_asof_join(spark, sf_dir):
    """As-of join (pandas merge_asof / kdb aj): every click event picks the
    latest purchase at-or-before it per user — the union + keyed window +
    last(ignorenulls) rewrite (one shuffle, no inequality join).  Oracle:
    DuckDB's native ASOF LEFT JOIN, an entirely independent implementation
    of the same semantics."""
    from tsengine.operators.joins import asof_join

    ev = _typed_events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ep")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ep")
        .agg(F.max("value").alias("pval"))
    )
    out = asof_join(clicks, purchases, on="ep", by="user_id")
    return out.select(
        "event_id", "user_id", F.col("ep").alias("epoch"),
        F.coalesce(F.col("ep_r"), F.lit(-1)).alias("epoch_r"),
        F.round(F.coalesce(F.col("pval"), F.lit(0.0)), 6).alias("pval"),
    )


RANGE_JOIN_WINDOW = 21600


def q_range_join(spark, sf_dir):
    """Bucketed range join: clicks matched into per-user [purchase,
    purchase+6h) windows via bucket-explode + equi-join + residual (never
    a nested-loop plan — pinned by test_joins), then per-window counts.
    Oracle: the plain inequality join DuckDB runs natively."""
    from tsengine.operators.joins import range_join

    ev = _typed_events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("ep").alias("cep"), F.col("value").alias("cval")
    )
    iv = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ep").alias("start"),
        (F.col("ep") + RANGE_JOIN_WINDOW).alias("end"),
        F.col("event_id").alias("iid"),
    )
    out = range_join(clicks, iv, by="user_id", on="cep", bucket_sec=3600)
    return out.groupBy("iid").agg(
        F.count("*").alias("n_clicks"),
        F.round(F.sum("cval"), 6).alias("click_value_sum"),
    )


SESSION_GAP = 1800


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization of the events stream: 30-minute inactivity
    timeout per user, (ts, event_id) ordering for duplicate-timestamp
    determinism.  Oracle: the same lag + running-sum in DuckDB window SQL."""
    from tsengine.operators.eventops import sessionize

    ev = _typed_events(spark, sf_dir)
    out = sessionize(ev, by="user_id", ts="ep", gap_sec=SESSION_GAP, tiebreak="event_id")
    return out.select("event_id", "user_id", "session_idx")


M4_WIDTH = 21600


def q_session_stats(spark, sf_dir):
    """Per-session rollups (duration, counts, value sums) in the same
    single exchange as the sessionization — DuckDB window + group mirror."""
    from tsengine.operators.eventops import session_stats

    ev = _typed_events(spark, sf_dir)
    return session_stats(ev, by="user_id", ts="ep", val="value",
                         gap_sec=SESSION_GAP, tiebreak="event_id")


def q_m4_downsample(spark, sf_dir):
    """M4 visual downsample (Jugel et al. VLDB'14) of each user's value
    series at 6h pixel columns: first/last/min/max values AND timestamps
    per bucket, with documented deterministic tie-breaks so the DuckDB
    oracle (group-by + scalar subqueries per extreme) pins every field."""
    from tsengine.operators.eventops import m4_downsample

    ev = _typed_events(spark, sf_dir).select(
        "user_id", "ep", F.col("value").cast("double").alias("value")
    )
    out = m4_downsample(ev, by="user_id", ts="ep", val="value", width_sec=M4_WIDTH)
    r6 = lambda c: F.round(c, 6).alias(c)  # noqa: E731
    return out.select(
        "user_id", "bucket", "ts_first", r6("v_first"), "ts_last", r6("v_last"),
        "ts_min", r6("v_min"), "ts_max", r6("v_max"), "n_points",
    )


TWA_WIDTH = 3600


def q_time_weighted_avg(spark, sf_dir):
    """LOCF time-weighted average per (user, 1h bucket) over the irregular
    events stream — the TimescaleDB time_weight analogue.  Oracle: the same
    lead-window weight assignment + grouped ratio in DuckDB."""
    from tsengine.operators.eventops import time_weighted_avg

    ev = _typed_events(spark, sf_dir).select(
        "user_id", "ep", F.col("value").cast("double").alias("value"), "event_id"
    )
    out = time_weighted_avg(ev, by="user_id", ts="ep", val="value",
                            width_sec=TWA_WIDTH, tiebreak="event_id")
    return out.select(
        "user_id", "bucket", F.round("twa", 6).alias("twa"),
        "covered_sec", "n_points",
    )


Z_WINDOW = 3600
Z_K = 3.0


def q_rolling_zscore(spark, sf_dir):
    """Trailing-1h rolling z-score per user (RANGE frame, duplicate-ts
    deterministic); anomaly flag recomputed from the 6dp-rounded score in
    BOTH engines so the boundary comparison is hash-stable."""
    from tsengine.operators.eventops import rolling_zscore

    ev = _typed_events(spark, sf_dir).select(
        "event_id", "user_id", "ep", F.col("value").cast("double").alias("value")
    )
    out = rolling_zscore(ev, by="user_id", ts="ep", val="value",
                         window_sec=Z_WINDOW, k=Z_K)
    # NULL z (zero-variance window) -> 0.0 in the driver projection only:
    # nullable doubles round-trip as NaN through the comparator's pandas
    # fetch, so the hashable plane must be non-null.  Operator NULL
    # semantics are pinned by tests/test_eventops.py.
    zr = F.coalesce(F.round("zscore", 6), F.lit(0.0))
    return out.select(
        "event_id", "user_id", "ep", zr.alias("zscore"),
        (F.abs(zr) > Z_K).alias("is_anomaly"),
    )


PCT_WIDTH = 21600
PCT_PS = (0.25, 0.5, 0.75, 0.95, 0.99)


def q_latency_percentiles(spark, sf_dir):
    """Exact SLO percentile plane per (user, 6h bucket): linear-interpolated
    p25/p50/p75/p95/p99 + IQR over the value series — Spark's exact
    ``percentile`` (per-group sort inside one hash aggregate) vs DuckDB's
    ``quantile_cont``, two independent implementations of the same
    type-7 interpolation."""
    from tsengine.operators.eventops import bucket_percentiles

    ev = _typed_events(spark, sf_dir).select(
        "user_id", "ep", F.col("value").cast("double").alias("value")
    )
    out = bucket_percentiles(ev, by="user_id", ts="ep", val="value",
                             width_sec=PCT_WIDTH, ps=PCT_PS)
    r6 = lambda c: F.round(c, 6).alias(c)  # noqa: E731
    return out.select(
        "user_id", "bucket", r6("p25"), r6("p50"), r6("p75"),
        r6("p95"), r6("p99"), r6("iqr"), "n_points",
    )


CORR_WIDTH = 86400


def q_trend_corr(spark, sf_dir):
    """Within-day trend detector: Pearson r between time-of-day and value
    per (user, day).  The x plane is re-based to the bucket start
    (correlation is translation-invariant) so the co-moment accumulation
    is well-conditioned in BOTH engines — correlating raw ~1.7e9 epochs
    would put the numerics at the mercy of catastrophic cancellation.
    NULL r (zero variance / n<2) -> 0.0 in the hashable projection only."""
    from tsengine.operators.eventops import bucket_corr

    ev = _typed_events(spark, sf_dir).select(
        "user_id", "ep", F.col("value").cast("double").alias("value")
    )
    day = (F.floor(F.col("ep") / CORR_WIDTH) * CORR_WIDTH).cast("long")
    ev = ev.withColumn("dx", (F.col("ep") - day).cast("double"))
    out = bucket_corr(ev, by="user_id", ts="ep", x="dx", y="value",
                      width_sec=CORR_WIDTH)
    return out.select(
        "user_id", "bucket",
        F.coalesce(F.round("r", 6), F.lit(0.0)).alias("r"),
        "n_points",
    )


MIX_RATES = {"en": 0.5, "zh": 0.9, "de": 0.25}
MIX_DEFAULT = 0.1
SPLIT_FRACS = {"train": 0.8, "val": 0.1, "test": 0.1}
CONTAM_MOD = 50


def q_stratified_sample(spark, sf_dir):
    """Deterministic mixture sampling: per-language keep rates over a
    md5-derived 60-bit draw — the exact kept subset is reproduced by the
    DuckDB oracle from the same expression, proving the sample is a pure
    function of (key, salt), not of partitioning or RNG state."""
    from tsengine.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stratified_sample(docs, key_col="doc_id", class_col="lang",
                            rates=MIX_RATES, default_rate=MIX_DEFAULT,
                            salt="mix1")
    return out.select("doc_id", "lang")


def q_hash_split(spark, sf_dir):
    """Leakage-free train/val/test assignment audit: per (split, lang)
    row counts under cumulative hash thresholds."""
    from tsengine.operators.sampling import hash_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = hash_split(docs, key_col="doc_id", fracs=SPLIT_FRACS, salt="split")
    return out.groupBy("split", "lang").agg(F.count("*").alias("n"))


def q_contamination(spark, sf_dir):
    """Benchmark-decontamination screen: every doc's distinct 3-gram
    shingle overlap with a deterministic eval subset (doc_id % 50 == 0).
    The eval docs themselves must come back contam_frac = 1.0."""
    from tsengine.operators.textops import contamination_check

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % CONTAM_MOD == 0)
    out = contamination_check(docs, bench, k=3, threshold=0.5)
    return out.select("doc_id", "n_shingles", "n_overlap",
                      "contam_frac", "contaminated")


CURATION_RATE = 0.5


def q_corpus_curation(spark, sf_dir):
    """Flagship composition — the full curation pipeline as ONE lazy plan:
    Gopher quality gate -> exact-dedup canonicalization (min doc per
    fingerprint) -> benchmark decontamination (eval subset excluded by
    construction) -> deterministic Bernoulli sampling.  Every stage is an
    already-oracle-checked operator; this query proves they compose (and
    Catalyst plans the whole chain together).  The DuckDB oracle chains
    the same four mirrors."""
    from tsengine.operators import sampling
    from tsengine.operators.textops import contamination_check

    docs = _docs(spark, sf_dir)
    # quality gate from the audited feature plane: the composite
    # gopher_pass is stopword-gated (correct for web text, vacuous on this
    # stopword-poor synthetic corpus), so the pipeline composes its own
    # rule set — exactly the "filter rule-by-rule" use the operator emits
    # the features for.  n_words >= 40 is the discriminating rule here.
    g = textops.gopher_quality(docs).select(
        "doc_id",
        (
            (F.col("n_words") >= 40)
            & (F.col("mean_word_len") >= 3.0)
            & (F.col("mean_word_len") <= 10.0)
            & (F.col("symbol_ratio") <= 0.1)
            & (F.col("alpha_frac") >= 0.8)
        ).alias("quality_pass"),
    )
    fp = textops.fingerprint(docs)
    canon = (
        fp.withColumn(
            "_keep", F.min("doc_id").over(Window.partitionBy("fp_md5"))
        )
        .where(F.col("doc_id") == F.col("_keep"))
        .select("doc_id")
    )
    bench = docs.where(F.col("doc_id") % CONTAM_MOD == 0)
    cont = contamination_check(docs, bench, k=3, threshold=0.5).select(
        "doc_id", "contaminated"
    )
    kept = (
        docs.join(g, "doc_id")
        .join(canon, "doc_id", "left_semi")
        .join(cont, "doc_id")
        .where(F.col("quality_pass") & (~F.col("contaminated")))
    )
    return sampling.hash_sample(
        kept, key_col="doc_id", rate=CURATION_RATE, salt="cur"
    ).select("doc_id", "lang", "source")


def q_dup_rate_by_source(spark, sf_dir):
    """Duplication rate per source — the curation report that decides
    which sources get the expensive near-dup pass: exact-fingerprint
    canonical per doc (min doc id per fp), then per-source doc counts,
    canonical counts and dup fraction.  DuckDB window/group mirror."""
    docs = _docs(spark, sf_dir)
    fp = textops.fingerprint(docs).select("doc_id", "fp_md5")
    canon = fp.withColumn(
        "_keep", F.min("doc_id").over(Window.partitionBy("fp_md5"))
    ).select("doc_id", (F.col("doc_id") == F.col("_keep")).alias("_is_canon"))
    return (
        docs.join(canon, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("_is_canon").cast("long")).alias("n_canonical"),
            F.round(
                1.0 - F.sum(F.col("_is_canon").cast("long")) / F.count("*"), 6
            ).alias("dup_frac"),
        )
    )


BUDGETS = {"src0": 3000.0, "src1": 20000.0, "src2": 1000.0}
BUDGET_DEFAULT = 4000.0


def q_budget_sample(spark, sf_dir):
    """Budget-capped mixture sampling: per-source keep rates derived
    IN-PLAN from char budgets (rate = min(1, budget/total_chars), window
    sum per source, no driver action) — src1's budget exceeds its total
    (kept whole), the others downsample.  DuckDB mirrors the rate
    arithmetic and the md5 draw exactly."""
    from tsengine.operators.sampling import budget_sample

    docs = _docs(spark, sf_dir)
    out = budget_sample(docs, key_col="doc_id", class_col="source",
                        weight_col="n_chars", budgets=BUDGETS,
                        default_budget=BUDGET_DEFAULT, salt="budget")
    return out.select("doc_id", "source", "n_chars")


QUOTA_N = 10
PACK_MAXLEN = 512
PACK_SHARDS = 4


def q_source_quota(spark, sf_dir):
    """Per-source document cap (over-represented-domain guard): keep at
    most 10 docs per source, ranked by the deterministic md5 draw — the
    exact survivor set is reproduced by the DuckDB window oracle."""
    from tsengine.operators.sampling import source_quota

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = source_quota(docs, class_col="source", key_col="doc_id",
                       quota=QUOTA_N, salt="quota")
    return out.select("doc_id", "source")


def q_pack_sequences(spark, sf_dir):
    """Greedy concat-and-chunk sequence-packing plan: BPE-ish token counts
    laid end-to-end per shard, cut into 512-token sequences; every doc's
    (shard, offset, chunk span) value-checked against the DuckDB window
    cumsum mirror."""
    from tsengine.operators.sampling import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.ceil(F.length("text") / 4.0).cast("long").alias("n_tokens")
    )
    return pack_sequences(docs, key_col="doc_id", len_col="n_tokens",
                          max_len=PACK_MAXLEN, shards=PACK_SHARDS, salt="pack")


EWMA_ALPHA = 0.3


def q_ewma(spark, sf_dir):
    """Exponentially weighted moving average per user (adjust=False
    recursion) — the inherently-sequential per-series operator, run as a
    vectorized applyInPandas kernel.  Oracle: a DuckDB RECURSIVE CTE
    computing the identical recursion ``0.3*x + 0.7*prev`` — an
    independent engine executing the same defining equation."""
    from tsengine.operators.eventops import ewma

    ev = _typed_events(spark, sf_dir).select(
        "user_id", "event_id", "ep", F.col("value").cast("double").alias("value")
    )
    out = ewma(ev, by="user_id", ts="ep", val="value",
               alpha=EWMA_ALPHA, tiebreak="event_id")
    return out.select(
        "user_id", "event_id", "ep", F.round("ewma", 6).alias("ewma")
    )


TOPK_WIDTH = 86400
TOPK_K = 3


def q_top_events(spark, sf_dir):
    """Exact top-3 event types per (user, day) with deterministic
    (count desc, item asc) tie-break — DuckDB window mirror."""
    from tsengine.operators.eventops import top_items

    ev = _typed_events(spark, sf_dir)
    return top_items(ev, by="user_id", ts="ep", item="event_type",
                     width_sec=TOPK_WIDTH, k=TOPK_K).withColumn(
        "rank", F.col("rank").cast("long"))


def q_conversation_stats(spark, sf_dir):
    """Per-conversation curation gate over the events-derived transcripts:
    turn counts, role-alternation violations, latency plane, tool fraction,
    text payload — every column value-checked against the DuckDB window
    mirror."""
    from tsengine.operators import rollup as R

    return R.conversation_stats(_turns(
        spark, sf_dir,
        F.col("event_type").alias("role"),
        F.concat(F.lit("turn-"), F.col("event_id").cast("string")).alias("text"),
        F.when(F.col("value") >= 50, "big").otherwise("").alias("tool"),
        F.col("ts").cast("timestamp").alias("ts"),
    ))


def q_latency_transitions(spark, sf_dir):
    """Turn latency attributed to role transitions on the events-derived
    transcripts (same adapter as q_conversation_stats) — user->assistant is
    response time, assistant->user is think time; blending them is the
    classic latency-metric mistake.  DuckDB lag-window + quantile_cont
    mirror."""
    from tsengine.operators import rollup as R

    return R.latency_by_transition(_turns(
        spark, sf_dir,
        F.col("event_type").alias("role"),
        F.col("ts").cast("timestamp").alias("ts"),
    ))


HOLT_A, HOLT_B = 0.3, 0.1


def q_holt(spark, sf_dir):
    """Holt double exponential smoothing (level + trend) per user — the
    applyInPandas recursion, value-checked against a DuckDB RECURSIVE CTE
    carrying (level, trend) through the identical op order so the doubles
    match at 6dp."""
    from tsengine.operators.eventops import holt_smooth

    ev = _typed_events(spark, sf_dir).select(
        "user_id", "event_id", "ep", F.col("value").cast("double").alias("value")
    )
    out = holt_smooth(ev, by="user_id", ts="ep", val="value",
                      alpha=HOLT_A, beta=HOLT_B, tiebreak="event_id")
    return out.select(
        "user_id", "event_id", "ep",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
    )


CUSUM_TARGET = 50.0
CUSUM_K = 5.0
CUSUM_H = 200.0


def q_cusum(spark, sf_dir):
    """CUSUM drift detection per user against a fixed target level —
    sequential recursion via applyInPandas, value-checked against a DuckDB
    RECURSIVE CTE carrying both one-sided sums."""
    from tsengine.operators.eventops import cusum

    ev = _typed_events(spark, sf_dir).select(
        "user_id", "event_id", "ep", F.col("value").cast("double").alias("value")
    )
    out = cusum(ev, by="user_id", ts="ep", val="value",
                target=CUSUM_TARGET, k=CUSUM_K, h=CUSUM_H,
                tiebreak="event_id")
    return out.select(
        "user_id", "event_id", "ep",
        F.round("cusum_hi", 6).alias("cusum_hi"),
        F.round("cusum_lo", 6).alias("cusum_lo"),
        "alarm",
    )


PRIO_K = 5


def q_priority_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (priority
    sampling, Duffield-Lund-Thorup): top-5 docs per language by priority
    w·H/(h+1) with the md5 draw — pure IEEE multiply/divide, so the DuckDB
    mirror reproduces the exact sample, priorities AND the unbiased
    max(w, tau) subset-sum weights."""
    from tsengine.operators.sampling import priority_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "weight", F.col("n_chars").cast("double")
    )
    return priority_sample(docs, key_col="doc_id", weight_col="weight",
                           k=PRIO_K, by="lang", salt="prio")


def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix over events: users keyed by first active
    day, distinct-user counts per (cohort, day offset) and the retention
    fraction — DuckDB window/group mirror."""
    from tsengine.operators.eventops import cohort_retention

    ev = _typed_events(spark, sf_dir)
    return cohort_retention(ev, key="user_id", ts="ep", width_sec=86400).select(
        "cohort", "offset", "n_users", "retention"
    )


def q_derivative_integral(spark, sf_dir):
    """Point-wise dv/dt plus per-hour trapezoid integral of value per user
    — InfluxDB derivative/integral parity, DuckDB lag/lead-window mirrors
    joined on (user, bucket).  NULL deriv (first point / dt=0) -> 0.0 in
    the hashable projection only."""
    from tsengine.operators.eventops import derivative, trapezoid_integral

    ev = _typed_events(spark, sf_dir)
    d = derivative(ev, by="user_id", ts="ep", val="value",
                   tiebreak="event_id").select(
        "user_id", "ep",
        # + 0.0 collapses IEEE -0.0 (engines disagree on the sign of a
        # rounded tiny negative; the comparator formats the sign)
        (F.coalesce(F.round("deriv", 6), F.lit(0.0)) + F.lit(0.0)).alias("deriv"),
    )
    ti = trapezoid_integral(ev, by="user_id", ts="ep", val="value",
                            width_sec=3600, tiebreak="event_id")
    b = (F.floor(F.col("ep") / 3600) * 3600).cast("long")
    return d.withColumn("bucket", b).join(ti, ["user_id", "bucket"]).select(
        "user_id", "ep", "deriv", "bucket", "integral", "covered_sec", "n_points"
    )


def q_state_durations(spark, sf_dir):
    """Wall-time per event-type state per (user, hour): LOCF holds that
    cross bucket boundaries, clipped per bucket — DuckDB lead-window +
    generate_series mirror."""
    from tsengine.operators.eventops import state_durations

    ev = _typed_events(spark, sf_dir)
    return state_durations(ev, by="user_id", ts="ep", state="event_type",
                           width_sec=3600, tiebreak="event_id")


def q_autocorr(spark, sf_dir):
    """Lag-1 autocorrelation of value per user under (ep, event_id)
    ordering — persistence screen; DuckDB lag-window + co-moment mirror,
    NULL r (zero variance / <2 pairs) -> 0.0 in the hashable projection."""
    from tsengine.operators.eventops import autocorr

    ev = _typed_events(spark, sf_dir)
    out = autocorr(ev, by="user_id", ts="ep", val="value",
                   lag_k=1, tiebreak="event_id")
    return out.select(
        "user_id", "lag",
        F.coalesce(F.round("r", 6), F.lit(0.0)).alias("r"),
        "n_pairs",
    )


CMS_DEPTH, CMS_WIDTH = 3, 64


def q_cms_counts(spark, sf_dir):
    """Count-min sketch tier fold: hour CMS rows merged into days by
    integer cell sums, then per-event-type point estimates (min over the
    depth rows) from the MERGED sketch; the DuckDB oracle rebuilds the day
    CMS directly from raw events with the same md5 cell hashes — the hash
    match proves the merge identity and the estimator cross-engine."""
    from tsengine.operators import sketches

    ev = _typed_events(spark, sf_dir)
    hour = sketches.cms_rows(ev, item="event_type", ts="ep", width_sec=3600,
                             depth=CMS_DEPTH, width=CMS_WIDTH)
    day = sketches.cms_merge(hour, width_sec=86400)
    items = ev.select("event_type").distinct()
    return sketches.cms_estimate(day, items, item="event_type",
                                 depth=CMS_DEPTH, width=CMS_WIDTH)


HOP_W, HOP_S = 3600, 900


def q_hopping_rollup(spark, sf_dir):
    """1h windows sliding every 15m over events.value — Spark's native
    window() expansion; the DuckDB oracle derives each event's covering
    window starts with explicit generate_series arithmetic."""
    from tsengine.operators.eventops import hopping_rollup

    ev = _typed_events(spark, sf_dir)
    return hopping_rollup(ev, ts="ep", val="value",
                          width_sec=HOP_W, slide_sec=HOP_S)


HIST_EDGES = [float(2**i) for i in range(-2, 10)]  # 0.25 .. 512, exact doubles


def q_hist_quantile_merged(spark, sf_dir):
    """Prometheus-style histogram quantiles, tier-merged: Spark builds 1m
    fixed-edge histograms, merges them into hours by vector addition, and
    interpolates p50/p95 from the MERGED counts; the DuckDB oracle bins raw
    events straight into hours and applies the same interpolation rule —
    a hash match proves both the merge identity and the estimator."""
    from tsengine.operators import sketches

    ev = _typed_events(spark, sf_dir).select(
        "ep", F.col("value").cast("double").alias("value")
    )
    m1 = sketches.fixed_histogram(ev, val="value", ts="ep",
                                  width_sec=60, edges=HIST_EDGES)
    h1 = sketches.histogram_merge(m1, width_sec=3600,
                                  nbins=len(HIST_EDGES) + 1)
    return h1.select(
        "bucket",
        F.aggregate("hist", F.lit(0).cast("long"), lambda a, x: a + x).alias("n"),
        sketches.histogram_quantile("hist", HIST_EDGES, 0.5).alias("p50"),
        sketches.histogram_quantile("hist", HIST_EDGES, 0.95).alias("p95"),
    )


FUNNEL_STEPS = ["view", "click", "purchase"]
FUNNEL_W = 21600  # 6h conversion window: sf0.01 users straddle all 3 depths


def q_funnel(spark, sf_dir):
    """Windowed conversion funnel (view -> click -> purchase within 6h of
    the first view, ClickHouse-windowFunnel greedy semantics) — the JVM
    fold over per-user sorted event arrays, value-checked against a DuckDB
    chain of min-aggregate CTEs implementing the same rule."""
    from tsengine.operators.eventops import funnel

    ev = _typed_events(spark, sf_dir)
    out = funnel(ev, FUNNEL_STEPS, by="user_id", ts="ep",
                 within_sec=FUNNEL_W)
    # not-reached steps are NULL longs; the comparator's pandas fetch turns
    # those into NaN floats (same as q_rolling_zscore) — emit -1 sentinels
    # on both sides instead
    return out.select(
        "user_id",
        *[F.coalesce(F.col(f"t_{s}"), F.lit(-1)).alias(f"t_{s}")
          for s in FUNNEL_STEPS],
        "steps_reached",
    )


DECAY_REF = 1706659200  # API_NOW anchor (2024-01-31)


def q_decayed_counts(spark, sf_dir):
    """Exponentially time-decayed event-type scores per user (0.5/day):
    every term is a dyadic rational so both engines' sums are exact —
    value-checked bitwise against the DuckDB power-sum mirror.

    Bitwise-exactness preconditions (both hold for the fixed Jan-2024
    events range vs DECAY_REF = Jan-31): no event is newer than DECAY_REF
    (enforced in-plan by decayed_counts' default on_future='raise'), and
    the age span is < 53 daily buckets so every partial sum is an exactly
    representable dyadic rational regardless of map-side summation order.
    A future dataset spanning more must switch the oracle comparison to a
    rounded tolerance."""
    from tsengine.operators.eventops import decayed_counts

    ev = _typed_events(spark, sf_dir)
    return decayed_counts(ev, by="user_id", item="event_type", ts="ep",
                          ref_ts=DECAY_REF, width_sec=86400, decay=0.5)


SLIDE_W, SLIDE_S, SLIDE_K = 3600, 900, 16


def q_sliding_distinct(spark, sf_dir):
    """Sliding-window distinct users — notoriously awkward (distinct
    doesn't decompose over overlapping windows) but trivial by
    composition here: explode each event to its covering 1h-by-15m window
    starts (the hopping rule), then KMV per window start (pass the start
    as the sketch's ts with width = slide, so bucket == start).  DuckDB
    mirrors the window arithmetic and the sketch exactly."""
    from tsengine.operators import sketches

    ev = _typed_events(spark, sf_dir)
    ws = ev.select(
        "user_id",
        F.explode(
            F.sequence(
                (F.floor((F.col("ep") - SLIDE_W) / SLIDE_S) + 1) * SLIDE_S,
                (F.floor(F.col("ep") / SLIDE_S)) * SLIDE_S,
                F.lit(SLIDE_S),
            )
        ).alias("w_start"),
    )
    sk = sketches.kmv_sketch(ws, key="user_id", ts="w_start",
                             width_sec=SLIDE_S, k=SLIDE_K)
    return sk.select(
        F.col("bucket").alias("w_start"),
        F.size("kmv").cast("long").alias("n_sketch"),
        sketches.kmv_estimate("kmv", SLIDE_K).alias("est_users"),
    )


KMV_HOUR_K = 16
KMV_DAY_K = 64


def q_kmv_distinct_hour(spark, sf_dir):
    """Per-hour distinct-user KMV sketch + estimate.  At sf0.01 hours hold
    4-28 distinct users around k=16, so BOTH estimator branches are
    value-checked: short sketches return the exact distinct count, full
    ones the (k-1)·H/h_(k) estimate.  DuckDB mirror recomputes the md5
    draws, the k-min rank and the identical double arithmetic."""
    from tsengine.operators import sketches

    ev = _typed_events(spark, sf_dir)
    sk = sketches.kmv_sketch(ev, key="user_id", ts="ep",
                             width_sec=3600, k=KMV_HOUR_K)
    return sk.select(
        "bucket",
        F.size("kmv").cast("long").alias("n_sketch"),
        sketches.kmv_estimate("kmv", KMV_HOUR_K).alias("est_users"),
    )


def q_kmv_cut_invariant(spark, sf_dir):
    """The cut-prefilter scale path value-checked cross-engine: a tight
    hash-space cut (most buckets fall back, some complete under the
    filter) must produce EXACTLY the uncut sketch — the oracle is the
    plain hour-KMV mirror, no cut anywhere, so a hash match IS the
    result-invariance proof on real data."""
    from tsengine.operators import sketches

    ev = _typed_events(spark, sf_dir)
    sk = sketches.kmv_sketch(ev, key="user_id", ts="ep", width_sec=3600,
                             k=KMV_HOUR_K, cut=16**15 // 2)
    return sk.select(
        "bucket",
        F.size("kmv").cast("long").alias("n_sketch"),
        sketches.kmv_estimate("kmv", KMV_HOUR_K).alias("est_users"),
    )


def q_kmv_day_merged(spark, sf_dir):
    """Cross-engine proof of KMV mergeability: Spark builds per-HOUR
    sketches and merges them into days (never touching raw data at day
    granularity); the DuckDB oracle computes the day sketch DIRECTLY from
    raw events.  A hash match means merged == direct exactly — the
    property that lets tier rollups carry distinct counts."""
    from tsengine.operators import sketches

    ev = _typed_events(spark, sf_dir)
    hour = sketches.kmv_sketch(ev, key="user_id", ts="ep",
                               width_sec=3600, k=KMV_DAY_K)
    day = sketches.kmv_merge(hour, width_sec=86400, k=KMV_DAY_K)
    return day.select(
        "bucket",
        sketches.kmv_estimate("kmv", KMV_DAY_K).alias("est_users"),
    )


def q_multimodal_image_features(spark, sf_dir):
    media = multimodal.synth_media(spark, n=48)
    return multimodal.image_features(media, target=(4, 4)).select(
        "media_id", F.round("pixel_mean", 6).alias("pixel_mean")
    )


def q_multimodal_audio_features(spark, sf_dir):
    """Audio band-energy features (decode -> rFFT -> 8 band means) over the
    synthetic media table, exploded to (media_id, band, energy) rows; the
    oracle recomputes the deterministic fake-decode + FFT chain in numpy
    with no shared engine code."""
    media = multimodal.synth_media(spark, n=48)
    out = multimodal.audio_features(media, n_bands=8)
    return out.select(
        "media_id", F.posexplode("feature").alias("band", "energy")
    ).select(
        "media_id",
        F.col("band").cast("long").alias("band"),
        F.round("energy", 6).alias("energy"),
    )


def q_multimodal_frame_sample(spark, sf_dir):
    media = multimodal.synth_media(spark, n=48)
    return multimodal.video_frame_sample(media, every_n=24)


# ---------------------------------------------------------------- oracle SQL

_H15 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"
_TOKS = "list_transform(string_split_regex(trim(text), '\\s+'), x -> lower(x))"
_TOKS_CASED = "string_split_regex(trim(text), '\\s+')"
_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_SHINGLES = (
    "list_distinct([array_to_string(" + _TOKS + "[i:i+2], ' ') "
    "for i in range(1, greatest(len(" + _TOKS + ") - 2, 0) + 1)])"
)

ORACLE: dict[str, str] = {}

ORACLE["q_dedup_exact"] = f"""
SELECT md5({_NORM}) AS fp_md5, min(doc_id) AS keep_doc_id, count(*) AS n_dupes
FROM documents GROUP BY 1
"""

ORACLE["q_token_count"] = f"""
SELECT doc_id,
  CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS_CASED}) END::BIGINT AS n_tokens,
  CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_bpe,
  length(text)::BIGINT AS n_chars_computed
FROM documents
"""

_STOP_EN = "['the','and','of','to','in']"
ORACLE["q_quality_score"] = f"""
WITH t AS (
  SELECT doc_id, length(text)::DOUBLE AS n_chars,
    len({_TOKS_CASED})::DOUBLE AS n_toks,
    (length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')))::DOUBLE AS n_punct,
    len(list_filter({_TOKS}, x -> list_contains({_STOP_EN}, x)))::DOUBLE AS n_stop
  FROM documents)
SELECT doc_id,
  floor((CASE WHEN n_toks > 0 THEN n_chars / n_toks ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS mean_tok_len,
  floor((CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS punct_ratio,
  floor((CASE WHEN n_toks > 0 THEN n_stop / n_toks ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS stop_ratio,
  floor((0.4 * least(n_chars / 500.0, 1.0)
      + 0.3 * least(CASE WHEN n_toks > 0 THEN n_stop / n_toks ELSE 0.0 END * 5, 1.0)
      + 0.3 * (1.0 - least(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END * 10, 1.0))
      ) * 1000000.0 + 0.5) / 1000000.0 AS quality
FROM t
"""

_LANGS = {
    "de": "['der','die','und','das','ist']",
    "en": "['the','and','of','to','in']",
    "es": "['el','la','de','que','los']",
    "fr": "['le','la','et','les','des']",
    "zh": "['的','是','不','了','在']",
}
_hits = ",\n  ".join(
    f"len(list_filter({_TOKS}, x -> list_contains({arr}, x)))::BIGINT AS hits_{lg}"
    for lg, arr in _LANGS.items()
)
_gh = "greatest(" + ", ".join(f"hits_{lg}" for lg in sorted(_LANGS)) + ")"
_pred = "CASE "
for lg in sorted(_LANGS):
    _pred += f"WHEN {_gh} > 0 AND hits_{lg} = {_gh} THEN '{lg}' "
_pred += "ELSE 'und' END"
ORACLE["q_language_id"] = f"""
WITH h AS (SELECT doc_id, {_hits} FROM documents)
SELECT doc_id, {', '.join('hits_' + lg for lg in sorted(_LANGS))}, {_pred} AS lang_pred
FROM h
"""

ORACLE["q_fingerprint"] = f"""
SELECT doc_id, md5({_NORM}) AS fp_md5,
       CAST(('0x' || substr(md5({_NORM}), 1, 15)) AS BIGINT) AS fp_int
FROM documents
"""

def _ngrams_raw(n: int, tk: str = "tk") -> str:
    """Raw (multiset) word n-grams over a lowercased token list column."""
    return (
        f"[array_to_string({tk}[i:i+{n - 1}], ' ') "
        f"for i in range(1, greatest(len({tk}) - {n - 1}, 0) + 1)]"
    )


_Q6 = "floor(({x}) * 1000000.0 + 0.5) / 1000000.0"

ORACLE["q_gopher_quality"] = f"""
WITH t AS (
  SELECT doc_id, text,
    (CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS_CASED}) END)::DOUBLE AS n_words,
    length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE AS tok_chars,
    (length(text) - length(replace(text, '#', '')))::DOUBLE AS n_hash,
    ((length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE AS n_ell,
    string_split(text, chr(10)) AS lines,
    len(list_filter({_TOKS_CASED}, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE AS n_alpha,
    len(list_filter({_STOP_EN}, w -> list_contains({_TOKS}, w)))::BIGINT AS stop_hits
  FROM documents),
f AS (
  SELECT doc_id, n_words, stop_hits,
    CASE WHEN n_words > 0 THEN tok_chars / n_words ELSE 0.0 END AS mean_wl,
    CASE WHEN n_words > 0 THEN (n_hash + n_ell) / n_words ELSE 0.0 END AS symbol_ratio,
    len(list_filter(lines, x -> regexp_matches(trim(x), '^[-\\*•]')))::DOUBLE
      / len(lines) AS bullet_ratio,
    len(list_filter(lines, x -> regexp_matches(trim(x), '\\.\\.\\.$')))::DOUBLE
      / len(lines) AS ell_ratio,
    CASE WHEN n_words > 0 THEN n_alpha / n_words ELSE 0.0 END AS alpha_frac
  FROM t)
SELECT doc_id,
  CAST(n_words AS BIGINT) AS n_words,
  {_Q6.format(x='mean_wl')} AS mean_word_len,
  {_Q6.format(x='symbol_ratio')} AS symbol_ratio,
  {_Q6.format(x='bullet_ratio')} AS bullet_ratio,
  {_Q6.format(x='ell_ratio')} AS ellipsis_ratio,
  {_Q6.format(x='alpha_frac')} AS alpha_frac,
  stop_hits AS stopword_hits,
  CAST(n_words >= {textops.GOPHER_MIN_WORDS} AND n_words <= {textops.GOPHER_MAX_WORDS}
   AND mean_wl >= {textops.GOPHER_MIN_MEAN_WORD_LEN} AND mean_wl <= {textops.GOPHER_MAX_MEAN_WORD_LEN}
   AND symbol_ratio <= {textops.GOPHER_MAX_SYMBOL_RATIO}
   AND bullet_ratio <= {textops.GOPHER_MAX_BULLET_RATIO}
   AND ell_ratio <= {textops.GOPHER_MAX_ELLIPSIS_RATIO}
   AND alpha_frac >= {textops.GOPHER_MIN_ALPHA_FRAC}
   AND stop_hits >= {textops.GOPHER_MIN_STOPWORD_HITS} AS BIGINT) AS gopher_pass
FROM f
"""


# the composition oracle chains the gopher / fingerprint / contamination /
# sampling mirrors verbatim (same f-string pieces and thresholds as the
# individual oracles above/below)
ORACLE["q_corpus_curation"] = f"""
WITH t AS (
  SELECT doc_id,
    (CASE WHEN trim(text) = '' THEN 0 ELSE len({_TOKS_CASED}) END)::DOUBLE AS n_words,
    length(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE AS tok_chars,
    (length(text) - length(replace(text, '#', '')))::DOUBLE AS n_hash,
    ((length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE AS n_ell,
    len(list_filter({_TOKS_CASED}, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE AS n_alpha
  FROM documents),
gp AS (
  SELECT doc_id FROM (
    SELECT doc_id, n_words,
      CASE WHEN n_words > 0 THEN tok_chars / n_words ELSE 0.0 END AS mean_wl,
      CASE WHEN n_words > 0 THEN (n_hash + n_ell) / n_words ELSE 0.0 END AS symbol_ratio,
      CASE WHEN n_words > 0 THEN n_alpha / n_words ELSE 0.0 END AS alpha_frac
    FROM t)
  WHERE n_words >= 40
    AND mean_wl >= 3.0 AND mean_wl <= 10.0
    AND symbol_ratio <= 0.1
    AND alpha_frac >= 0.8),
fp AS (
  SELECT doc_id, md5({_NORM}) AS h FROM documents),
canon AS (
  SELECT doc_id FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS k FROM fp)
  WHERE doc_id = k),
sh AS (SELECT DISTINCT doc_id, s
       FROM (SELECT doc_id, unnest({_SHINGLES}) AS s FROM documents)),
bs AS (SELECT DISTINCT s FROM sh WHERE doc_id % {CONTAM_MOD} = 0),
jn AS (SELECT sh.doc_id, (bs.s IS NOT NULL)::INT AS h
       FROM sh LEFT JOIN bs ON sh.s = bs.s),
co AS (SELECT doc_id,
              floor(CAST(sum(h) AS DOUBLE) / count(*) * 1000000.0 + 0.5)
                / 1000000.0 AS contam_frac
       FROM jn GROUP BY 1)
SELECT d.doc_id, d.lang, d.source
FROM documents d
JOIN gp ON gp.doc_id = d.doc_id
JOIN canon ON canon.doc_id = d.doc_id
JOIN co ON co.doc_id = d.doc_id
WHERE co.contam_frac < 0.5
  AND CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || 'cur'), 1, 15)) AS BIGINT)
        < {int(CURATION_RATE * 16**15)}
"""

ORACLE["q_pii_scrub"] = f"""
WITH d AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 2 = 0
            THEN ' reach me at user' || doc_id || '@example.com' ELSE '' END
    || CASE WHEN doc_id % 3 = 0
            THEN ' from 10.0.' || (doc_id % 256) || '.7' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' call +34 600 ' || (100 + doc_id % 900) || ' 123' ELSE '' END
    AS text
  FROM documents),
s1 AS (
  SELECT doc_id,
    len(regexp_extract_all(text, '{textops.PII_EMAIL}'))::BIGINT AS n_emails,
    regexp_replace(text, '{textops.PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM d),
s2 AS (
  SELECT doc_id, n_emails,
    len(regexp_extract_all(t1, '{textops.PII_IPV4}'))::BIGINT AS n_ipv4,
    regexp_replace(t1, '{textops.PII_IPV4}', '<IP>', 'g') AS t2
  FROM s1)
SELECT doc_id, n_emails, n_ipv4,
  len(regexp_extract_all(t2, '{textops.PII_PHONE}'))::BIGINT AS n_phones,
  regexp_replace(t2, '{textops.PII_PHONE}', '<PHONE>', 'g') AS text_clean
FROM s2
"""


def _rep_cov(n: int) -> str:
    """Char coverage of the most frequent n-gram (count desc, ngram asc)."""
    return f"""c{n} AS (
  SELECT doc_id, s, count(*) AS c
  FROM (SELECT doc_id, unnest({_ngrams_raw(n)}) AS s FROM toks)
  GROUP BY 1, 2),
b{n} AS (
  SELECT doc_id, c * length(s) AS cov
  FROM c{n}
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, s ASC) = 1)"""


ORACLE["q_repetition"] = f"""
WITH toks AS (SELECT doc_id, length(text)::DOUBLE AS tlen, {_TOKS} AS tk FROM documents),
{_rep_cov(2)},
{_rep_cov(3)},
{_rep_cov(4)},
c5 AS (
  SELECT doc_id, s, count(*) AS c
  FROM (SELECT doc_id, unnest({_ngrams_raw(5)}) AS s FROM toks)
  GROUP BY 1, 2),
d5 AS (
  SELECT doc_id, sum(c * length(s)) AS cov FROM c5 WHERE c > 1 GROUP BY 1)
SELECT t.doc_id,
  {_Q6.format(x='coalesce(b2.cov, 0.0) / greatest(t.tlen, 1.0)')} AS top2gram_char_frac,
  {_Q6.format(x='coalesce(b3.cov, 0.0) / greatest(t.tlen, 1.0)')} AS top3gram_char_frac,
  {_Q6.format(x='coalesce(b4.cov, 0.0) / greatest(t.tlen, 1.0)')} AS top4gram_char_frac,
  {_Q6.format(x='coalesce(d5.cov, 0.0) / greatest(t.tlen, 1.0)')} AS dup5gram_char_frac
FROM toks t
LEFT JOIN b2 USING (doc_id)
LEFT JOIN b3 USING (doc_id)
LEFT JOIN b4 USING (doc_id)
LEFT JOIN d5 USING (doc_id)
"""

_simhash_votes = ",\n  ".join(
    f"sum(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(SIMHASH_BITS)
)
_simhash_sig = " + ".join(
    f"CASE WHEN v{b} > 0 THEN {2**b}::BIGINT ELSE 0 END" for b in range(SIMHASH_BITS)
)
ORACLE["q_simhash"] = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
h AS (SELECT doc_id, {_H15.format(x='tok')} AS th FROM toks),
v AS (SELECT doc_id, {_simhash_votes} FROM h GROUP BY doc_id)
SELECT doc_id, {_simhash_sig} AS simhash FROM v
"""

# banded near-dups mirror the ENGINE's candidate rule (one half-signature
# bucket must match exactly), then the hamming confirm — not plain all-pairs
# hamming, which the banding intentionally under-recalls for spread bits
_SH_HALF = SIMHASH_BITS // 2
ORACLE["q_simhash_near_dups"] = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
h AS (SELECT doc_id, {_H15.format(x='tok')} AS th FROM toks),
v AS (SELECT doc_id, {_simhash_votes} FROM h GROUP BY doc_id),
sigs AS (SELECT doc_id, {_simhash_sig} AS simhash FROM v),
bands AS (
  SELECT doc_id, simhash, 0 AS band, simhash >> {_SH_HALF} AS key FROM sigs
  UNION ALL
  SELECT doc_id, simhash, 1 AS band, simhash & {2**_SH_HALF - 1} AS key FROM sigs),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming FROM cand WHERE hamming <= 3
"""

from tsengine.operators.dedup import MINHASH_P, minhash_affine

_mh_cols = ",\n  ".join(
    "min(({a} * h + {b}) % {p}) AS mh{i}".format(
        a=minhash_affine(i)[0], b=minhash_affine(i)[1], p=MINHASH_P, i=i
    )
    for i in range(N_MINHASH)
)
ORACLE["q_minhash"] = f"""
WITH sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM documents),
h AS (SELECT doc_id, ({_H15.format(x='s')}) % {MINHASH_P} AS h FROM sh)
SELECT doc_id, {_mh_cols} FROM h GROUP BY doc_id
"""

ORACLE["q_jaccard_pairs"] = f"""
WITH sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM documents),
freq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
rare AS (SELECT sh.doc_id, sh.s FROM sh JOIN freq ON sh.s = freq.s
         WHERE freq.df <= {JACCARD_DF_CAP}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       round(i / (na.n + nb.n - i), 6) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE round(i / (na.n + nb.n - i), 6) >= 0.2
"""

# Full MinHash-LSH chain in SQL: the affine hash family made signatures,
# band hashes, candidate pairs and the jaccard confirm all deterministic and
# DuckDB-expressible, upgrading this from a rows-only check to a full
# value-checked oracle (num_hashes=16, bands=8 mirror q_lsh_near_dups).
_lsh_mh = ",\n  ".join(
    "min(({a} * h + {b}) % {p}) AS mh{i}".format(
        a=minhash_affine(i)[0], b=minhash_affine(i)[1], p=MINHASH_P, i=i
    )
    for i in range(16)
)
_lsh_bands = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, md5(CAST(mh{2*b} AS VARCHAR) || ',' || "
    f"CAST(mh{2*b+1} AS VARCHAR)) AS bh FROM sig"
    for b in range(8)
)
_LSH_CTES = f"""sh AS (SELECT doc_id, unnest({_SHINGLES}) AS s FROM documents),
h AS (SELECT doc_id, s, ({_H15.format(x='s')}) % {MINHASH_P} AS h FROM sh),
sig AS (SELECT doc_id, {_lsh_mh} FROM h GROUP BY doc_id),
bands AS ({_lsh_bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
  WHERE a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.doc_a
  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
  GROUP BY 1, 2)"""

ORACLE["q_duplicate_spans"] = f"""
WITH t AS (
  SELECT doc_id, {_TOKS_CASED} AS toks FROM documents),
g AS (
  SELECT doc_id,
         unnest(generate_series(0, len(toks) - {SPAN_L}, 1)) AS p,
         toks
  FROM t WHERE len(toks) >= {SPAN_L}),
grams AS (
  SELECT doc_id, p,
         md5(array_to_string(list_slice(toks, p + 1, p + {SPAN_L}), ' ')) AS h
  FROM g),
duph AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
d AS (SELECT doc_id, p FROM grams JOIN duph USING (h)),
m AS (
  SELECT doc_id, p,
         max(p + {SPAN_L}) OVER (PARTITION BY doc_id ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_end
  FROM d),
i AS (
  SELECT doc_id, p,
         sum(CASE WHEN run_end IS NULL OR p > run_end THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY p) AS island
  FROM m)
SELECT doc_id, min(p) AS start_tok, (max(p) + {SPAN_L})::BIGINT AS end_tok,
       count(*) AS n_windows
FROM i GROUP BY doc_id, island
"""

ORACLE["q_containment"] = f"""
WITH {_LSH_CTES}
SELECT doc_a, doc_b,
       round(i / (na.n + nb.n - i), 6) AS jaccard,
       round(i / na.n, 6) AS containment_a_in_b,
       round(i / nb.n, 6) AS containment_b_in_a
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE greatest(round(i / na.n, 6), round(i / nb.n, 6)) >= 0.5
"""

# incremental-ingest variant: same CTE chain, candidate join restricted to
# pairs with at least one side in the new batch (doc_id % 10 = 0)
_LSH_CTES_INCR = _LSH_CTES.replace(
    "WHERE a.doc_id < b.doc_id),",
    "WHERE a.doc_id < b.doc_id"
    " AND (a.doc_id % 10 = 0 OR b.doc_id % 10 = 0)),",
)

ORACLE["q_lsh_incremental"] = f"""
WITH {_LSH_CTES_INCR}
SELECT doc_a, doc_b, round(i / (na.n + nb.n - i), 6) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE round(i / (na.n + nb.n - i), 6) >= 0.5
"""

ORACLE["q_lsh_near_dups"] = f"""
WITH {_LSH_CTES}
SELECT doc_a, doc_b, round(i / (na.n + nb.n - i), 6) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE round(i / (na.n + nb.n - i), 6) >= 0.5
"""

# transitive closure of the confirmed LSH pairs by recursive CTE, then
# min-reachable-id labeling — the oracle for the distributed
# large-star/small-star connected components + canonical resolution
ORACLE["q_dedup_clusters"] = f"""
WITH RECURSIVE {_LSH_CTES},
pairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes na ON na.doc_id = doc_a
  JOIN sizes nb ON nb.doc_id = doc_b
  WHERE round(i / (na.n + nb.n - i), 6) >= 0.5),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
comp AS (SELECT u AS doc_id, least(u, min(v)) AS component FROM reach GROUP BY u)
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS component,
       CAST(coalesce(c.component, d.doc_id) = d.doc_id AS BIGINT) AS is_canonical
FROM documents d LEFT JOIN comp c USING (doc_id)
"""

ORACLE["q_asof_join"] = """
WITH e AS (SELECT event_id, user_id, event_type, value,
                  CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
c AS (SELECT event_id, user_id, ep FROM e WHERE event_type = 'click'),
p AS (SELECT user_id, ep, max(value) AS pval FROM e
      WHERE event_type = 'purchase' GROUP BY 1, 2)
SELECT c.event_id, c.user_id, c.ep AS epoch,
       coalesce(p.ep, -1) AS epoch_r,
       round(coalesce(p.pval, 0.0), 6) AS pval
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ep >= p.ep
"""

ORACLE["q_range_join"] = f"""
WITH e AS (SELECT event_id, user_id, event_type, value,
                  CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
c AS (SELECT user_id, ep, value FROM e WHERE event_type = 'click'),
i AS (SELECT user_id, ep AS s, ep + {RANGE_JOIN_WINDOW} AS en, event_id AS iid
      FROM e WHERE event_type = 'purchase')
SELECT i.iid, count(*) AS n_clicks, round(sum(c.value), 6) AS click_value_sum
FROM c JOIN i ON c.user_id = i.user_id AND c.ep >= i.s AND c.ep < i.en
GROUP BY 1
"""

ORACLE["q_sessionize"] = f"""
WITH e AS (SELECT event_id, user_id,
                  CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
g AS (
  SELECT event_id, user_id, ep,
         CASE WHEN lag(ep) OVER w IS NULL
                OR ep - lag(ep) OVER w > {SESSION_GAP} THEN 1 ELSE 0 END AS ns
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id))
SELECT event_id, user_id,
       CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ep, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
FROM g
"""

ORACLE["q_session_stats"] = f"""
WITH e AS (SELECT event_id, user_id, value::DOUBLE AS v,
                  CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
g AS (
  SELECT event_id, user_id, ep, v,
         CASE WHEN lag(ep) OVER w IS NULL
                OR ep - lag(ep) OVER w > {SESSION_GAP} THEN 1 ELSE 0 END AS ns
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)),
s AS (
  SELECT user_id, ep, v,
         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ep, event_id
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM g)
SELECT user_id, session_idx, count(*) AS n_events,
       min(ep) AS start_ep, max(ep) AS end_ep,
       (max(ep) - min(ep))::BIGINT AS duration_sec,
       round(sum(v), 6) AS value_sum
FROM s GROUP BY 1, 2
"""

ORACLE["q_m4_downsample"] = f"""
WITH base AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep, value::DOUBLE AS value,
         ({M4_WIDTH} * (CAST(floor(epoch(ts)) AS BIGINT) // {M4_WIDTH}))::BIGINT AS bucket
  FROM events),
s AS (
  SELECT user_id, bucket,
         min(ep) AS ts_first, max(ep) AS ts_last,
         min(value) AS v_min, max(value) AS v_max,
         count(*) AS n_points
  FROM base GROUP BY 1, 2)
SELECT s.user_id, s.bucket, s.ts_first,
  round((SELECT min(b.value) FROM base b WHERE b.user_id = s.user_id
         AND b.bucket = s.bucket AND b.ep = s.ts_first), 6) AS v_first,
  s.ts_last,
  round((SELECT max(b.value) FROM base b WHERE b.user_id = s.user_id
         AND b.bucket = s.bucket AND b.ep = s.ts_last), 6) AS v_last,
  (SELECT min(b.ep) FROM base b WHERE b.user_id = s.user_id
         AND b.bucket = s.bucket AND b.value = s.v_min) AS ts_min,
  round(s.v_min, 6) AS v_min,
  (SELECT max(b.ep) FROM base b WHERE b.user_id = s.user_id
         AND b.bucket = s.bucket AND b.value = s.v_max) AS ts_max,
  round(s.v_max, 6) AS v_max,
  s.n_points
FROM s
"""

ORACLE["q_time_weighted_avg"] = f"""
WITH e AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         value::DOUBLE AS v,
         ({TWA_WIDTH} * (CAST(floor(epoch(ts)) AS BIGINT) // {TWA_WIDTH}))::BIGINT AS bucket
  FROM events),
w AS (
  SELECT user_id, bucket, v,
         (COALESCE(lead(ep) OVER (PARTITION BY user_id, bucket
                                  ORDER BY ep, event_id),
                   bucket + {TWA_WIDTH}) - ep)::DOUBLE AS wt
  FROM e)
SELECT user_id, bucket,
       round(sum(v * wt) / sum(wt), 6) AS twa,
       CAST(sum(wt) AS BIGINT) AS covered_sec,
       count(*) AS n_points
FROM w GROUP BY 1, 2
"""

ORACLE["q_rolling_zscore"] = f"""
WITH e AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         value::DOUBLE AS v FROM events),
z AS (
  SELECT event_id, user_id, ep,
         round(CASE WHEN stddev_pop(v) OVER w > 0
               THEN (v - avg(v) OVER w) / stddev_pop(v) OVER w END, 6) AS zscore
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ep
               RANGE BETWEEN {Z_WINDOW} PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, ep,
       COALESCE(zscore, 0.0) AS zscore,
       abs(COALESCE(zscore, 0.0)) > {Z_K} AS is_anomaly
FROM z
"""

ORACLE["q_latency_percentiles"] = f"""
WITH e AS (
  SELECT user_id, value::DOUBLE AS v,
         ({PCT_WIDTH} * (CAST(floor(epoch(ts)) AS BIGINT) // {PCT_WIDTH}))::BIGINT AS bucket
  FROM events),
q AS (
  SELECT user_id, bucket,
         quantile_cont(v, [0.25, 0.5, 0.75, 0.95, 0.99]) AS qs,
         count(*) AS n_points
  FROM e GROUP BY 1, 2)
SELECT user_id, bucket,
       round(qs[1], 6) AS p25, round(qs[2], 6) AS p50, round(qs[3], 6) AS p75,
       round(qs[4], 6) AS p95, round(qs[5], 6) AS p99,
       round(qs[3] - qs[1], 6) AS iqr, n_points
FROM q
"""

ORACLE["q_trend_corr"] = f"""
WITH e AS (
  SELECT user_id,
         ({CORR_WIDTH} * (CAST(floor(epoch(ts)) AS BIGINT) // {CORR_WIDTH}))::BIGINT AS bucket,
         (CAST(floor(epoch(ts)) AS BIGINT) % {CORR_WIDTH})::DOUBLE AS dx,
         value::DOUBLE AS v
  FROM events)
SELECT user_id, bucket,
       COALESCE(round(CASE WHEN stddev_samp(dx) > 0 AND stddev_samp(v) > 0
                 THEN covar_samp(dx, v) / (stddev_samp(dx) * stddev_samp(v))
                 END, 6), 0.0) AS r,
       count(*) AS n_points
FROM e GROUP BY 1, 2
"""

_H60_DOC = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '{salt}'), 1, 15)) AS BIGINT)"
_HSPACE = 16**15


def _thr(rate: float) -> int:
    return int(rate * _HSPACE)


ORACLE["q_stratified_sample"] = f"""
SELECT doc_id, lang FROM documents
WHERE {_H60_DOC.format(salt='mix1')} <
  CASE lang WHEN 'en' THEN {_thr(MIX_RATES['en'])}
            WHEN 'zh' THEN {_thr(MIX_RATES['zh'])}
            WHEN 'de' THEN {_thr(MIX_RATES['de'])}
            ELSE {_thr(MIX_DEFAULT)} END
"""

ORACLE["q_hash_split"] = f"""
WITH s AS (
  SELECT lang,
    CASE WHEN {_H60_DOC.format(salt='split')} < {_thr(0.8)} THEN 'train'
         WHEN {_H60_DOC.format(salt='split')} < {_thr(0.9)} THEN 'val'
         ELSE 'test' END AS split
  FROM documents)
SELECT split, lang, count(*) AS n FROM s GROUP BY 1, 2
"""

ORACLE["q_contamination"] = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES}) AS s FROM documents),
bs AS (SELECT DISTINCT s FROM sh WHERE doc_id % {CONTAM_MOD} = 0),
j AS (SELECT sh.doc_id, (bs.s IS NOT NULL)::INT AS h
      FROM sh LEFT JOIN bs ON sh.s = bs.s),
o AS (SELECT doc_id, count(*) AS n_shingles,
             CAST(sum(h) AS BIGINT) AS n_overlap
      FROM j GROUP BY 1)
SELECT doc_id, n_shingles, n_overlap,
       floor(n_overlap::DOUBLE / n_shingles * 1000000.0 + 0.5) / 1000000.0 AS contam_frac,
       (floor(n_overlap::DOUBLE / n_shingles * 1000000.0 + 0.5) / 1000000.0) >= 0.5 AS contaminated
FROM o
"""

ORACLE["q_top_events"] = f"""
WITH c AS (
  SELECT user_id,
         ({TOPK_WIDTH} * (CAST(floor(epoch(ts)) AS BIGINT) // {TOPK_WIDTH}))::BIGINT AS bucket,
         event_type, count(*) AS n
  FROM events GROUP BY 1, 2, 3),
r AS (
  SELECT user_id, bucket, event_type, n,
         row_number() OVER (PARTITION BY user_id, bucket
                            ORDER BY n DESC, event_type ASC) AS rank
  FROM c)
SELECT user_id, bucket, event_type, n, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {TOPK_K}
"""

# KMV sketch mirrors: same md5 60-bit draw, same k-min rank, same estimator
# arithmetic ((k-1)*16^15 is exact in double; round(x, 3) agrees between
# engines away from exact .0005 ties, which the md5 draw space makes
# unreachable in practice).  q_kmv_day_merged's oracle computes the DAY
# sketch directly from raw events while Spark merges hour sketches — the
# hash match proves the merge identity cross-engine.
_KMV_SPACE = float(16**15)


def _kmv_oracle(width: int, k: int, with_size: bool) -> str:
    size_col = f"CAST(least(max(n), {k}) AS BIGINT) AS n_sketch,\n  " if with_size else ""
    return f"""
WITH d AS (
  SELECT DISTINCT
         ({width} * (CAST(floor(epoch(ts)) AS BIGINT) // {width}))::BIGINT AS bucket,
         {_H15.format(x="CAST(user_id AS VARCHAR)")} AS h
  FROM events),
r AS (
  SELECT bucket, h,
         row_number() OVER (PARTITION BY bucket ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY bucket) AS n
  FROM d)
SELECT bucket,
  {size_col}CASE WHEN max(n) < {k} THEN CAST(max(n) AS DOUBLE)
       ELSE round(({k} - 1) * {_KMV_SPACE} / max(CASE WHEN rn = {k} THEN h END), 3)
  END AS est_users
FROM r WHERE rn <= {k}
GROUP BY bucket
"""


# histogram-quantile mirror: same 1-based slot rule (1 + count of edges <=
# v), same interpolation lo + (hi-lo)*(q*n - cumbelow)/cnt with identical op
# order, q and n forced to DOUBLE (DuckDB's bare 0.5 is DECIMAL).  Slots
# with zero count never appear in the grouped frame, which implements the
# estimator's skip-empty-bins rule for free.
_HIST_NB = len(HIST_EDGES) + 1
_HIST_SLOT = "1 + " + " + ".join(
    f"(v >= CAST({e} AS DOUBLE))::INT" for e in HIST_EDGES
)
_HIST_EDGE_ROWS = ", ".join(
    f"({s}, CAST({HIST_EDGES[s - 2]} AS DOUBLE), CAST({HIST_EDGES[s - 1]} AS DOUBLE))"
    for s in range(2, _HIST_NB)
)


def _hist_q_sql(q: float, alias: str) -> str:
    return f"""
  SELECT c.bucket,
    round(CASE WHEN sel.slot = 1 THEN CAST({HIST_EDGES[0]} AS DOUBLE)
               WHEN sel.slot = {_HIST_NB} THEN CAST({HIST_EDGES[-1]} AS DOUBLE)
               ELSE ed.lo + (ed.hi - ed.lo)
                    * (CAST({q} AS DOUBLE) * CAST(t.n AS DOUBLE)
                       - CAST(c.cum - c.cnt AS DOUBLE))
                    / CAST(c.cnt AS DOUBLE)
          END, 6) AS {alias}
  FROM (SELECT bucket, min(slot) AS slot
        FROM cum JOIN tot USING (bucket)
        WHERE CAST(cum AS DOUBLE) >= CAST({q} AS DOUBLE) * CAST(n AS DOUBLE)
        GROUP BY bucket) sel
  JOIN cum c ON c.bucket = sel.bucket AND c.slot = sel.slot
  JOIN tot t ON t.bucket = sel.bucket
  LEFT JOIN edges ed ON ed.slot = sel.slot
"""


ORACLE["q_centroid_similarity"] = """
WITH x AS (
  SELECT label, unnest(generate_series(1, len(embedding))) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
c AS (
  SELECT label, dim, round(avg(v), 6) AS cv
  FROM x GROUP BY 1, 2),
n AS (SELECT label, sqrt(sum(cv * cv)) AS nrm FROM c GROUP BY 1),
d AS (
  SELECT a.label AS la, b.label AS lb, sum(a.cv * b.cv) AS dot
  FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
  GROUP BY 1, 2)
SELECT CAST(la AS BIGINT) AS label_a, CAST(lb AS BIGINT) AS label_b,
       round(dot / (na.nrm * nb.nrm), 6) AS cos
FROM d JOIN n na ON na.label = la JOIN n nb ON nb.label = lb
"""

ORACLE["q_derivative_integral"] = """
WITH e AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         value::DOUBLE AS v
  FROM events),
d AS (
  SELECT user_id, ep,
         COALESCE(round(
           (v - lag(v) OVER w) / nullif((ep - lag(ep) OVER w)::DOUBLE, 0.0),
           6), 0.0) + 0.0 AS deriv,
         (3600 * (ep // 3600))::BIGINT AS bucket
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)),
p AS (
  SELECT user_id, (3600 * (ep // 3600))::BIGINT AS bucket, ep, v,
         lead(ep) OVER w2 AS nt, lead(v) OVER w2 AS nv
  FROM e
  WINDOW w2 AS (PARTITION BY user_id, (3600 * (ep // 3600)) ORDER BY ep, event_id)),
i AS (
  SELECT user_id, bucket,
         round(COALESCE(sum((v + nv) / 2.0 * (nt - ep)::DOUBLE), 0.0), 6) AS integral,
         (max(ep) - min(ep))::BIGINT AS covered_sec,
         count(*) AS n_points
  FROM p GROUP BY 1, 2)
SELECT d.user_id, d.ep, d.deriv, d.bucket, i.integral, i.covered_sec, i.n_points
FROM d JOIN i ON i.user_id = d.user_id AND i.bucket = d.bucket
"""

ORACLE["q_state_durations"] = """
WITH e AS (
  SELECT user_id, event_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM events),
h AS (
  SELECT user_id, event_type, ep AS t,
         coalesce(lead(ep) OVER (PARTITION BY user_id ORDER BY ep, event_id),
                  3600 * (ep // 3600) + 3600) AS t_end
  FROM e),
x AS (
  SELECT user_id, event_type, t, t_end,
         unnest(generate_series(3600 * (t // 3600),
                                3600 * ((t_end - 1) // 3600), 3600)) AS b
  FROM h WHERE t_end > t)
SELECT user_id, b AS bucket, event_type,
       CAST(sum(least(t_end, b + 3600) - greatest(t, b)) AS BIGINT) AS sec,
       count(*) AS n_holds
FROM x GROUP BY 1, 2, 3
"""

ORACLE["q_autocorr"] = """
WITH e AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         value::DOUBLE AS y
  FROM events),
p AS (
  SELECT user_id, y,
         lag(y, 1) OVER (PARTITION BY user_id ORDER BY ep, event_id) AS x
  FROM e)
SELECT user_id, CAST(1 AS BIGINT) AS lag,
       COALESCE(round(CASE WHEN stddev_samp(x) > 0 AND stddev_samp(y) > 0
                 THEN covar_samp(x, y) / (stddev_samp(x) * stddev_samp(y))
                 END, 6), 0.0) AS r,
       count(*) AS n_pairs
FROM p WHERE x IS NOT NULL
GROUP BY 1
"""

_CMS_CELL = (
    f"j * {CMS_WIDTH} + "
    + _H15.format(x="event_type || 'cms' || CAST(j AS VARCHAR)")
    + f" % {CMS_WIDTH}"
)

ORACLE["q_cms_counts"] = f"""
WITH e AS (
  SELECT (86400 * (CAST(floor(epoch(ts)) AS BIGINT) // 86400))::BIGINT AS bucket,
         event_type
  FROM events),
j(j) AS (VALUES {", ".join(f"({j})" for j in range(CMS_DEPTH))}),
cms AS (
  SELECT bucket, {_CMS_CELL} AS cell, count(*) AS cnt
  FROM e CROSS JOIN j GROUP BY 1, 2),
it AS (SELECT DISTINCT event_type FROM e),
probe AS (SELECT event_type, {_CMS_CELL} AS cell FROM it CROSS JOIN j),
b AS (SELECT DISTINCT bucket FROM e)
SELECT b.bucket, probe.event_type,
       CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
FROM b CROSS JOIN probe
LEFT JOIN cms ON cms.bucket = b.bucket AND cms.cell = probe.cell
GROUP BY 1, 2
"""

ORACLE["q_hopping_rollup"] = f"""
WITH e AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ep, CAST(value AS DOUBLE) AS v
  FROM events),
x AS (
  SELECT unnest(generate_series(
           {HOP_S} * ((ep - {HOP_W}) // {HOP_S}) + {HOP_S},
           {HOP_S} * (ep // {HOP_S}),
           {HOP_S})) AS w_start, v
  FROM e)
SELECT w_start, count(*) AS n,
       round(sum(v), 6) AS sum_val,
       round(sum(v) / count(*), 6) AS mean_val
FROM x GROUP BY 1
"""

ORACLE["q_hist_quantile_merged"] = f"""
WITH e AS (
  SELECT (3600 * (CAST(floor(epoch(ts)) AS BIGINT) // 3600))::BIGINT AS bucket,
         CAST(value AS DOUBLE) AS v
  FROM events),
b AS (SELECT bucket, {_HIST_SLOT} AS slot FROM e),
c AS (SELECT bucket, slot, count(*) AS cnt FROM b GROUP BY 1, 2),
cum AS (
  SELECT bucket, slot, cnt,
         sum(cnt) OVER (PARTITION BY bucket ORDER BY slot) AS cum
  FROM c),
tot AS (SELECT bucket, sum(cnt)::BIGINT AS n FROM c GROUP BY 1),
edges(slot, lo, hi) AS (VALUES {_HIST_EDGE_ROWS}),
q50 AS ({_hist_q_sql(0.5, "p50")}),
q95 AS ({_hist_q_sql(0.95, "p95")})
SELECT tot.bucket, n, p50, p95
FROM tot JOIN q50 ON q50.bucket = tot.bucket
         JOIN q95 ON q95.bucket = tot.bucket
"""

ORACLE["q_funnel"] = f"""
WITH e AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM events),
s1 AS (
  SELECT user_id, min(ep) AS t1 FROM e
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1),
s2 AS (
  SELECT e.user_id, min(ep) AS t2 FROM e JOIN s1 USING (user_id)
  WHERE event_type = '{FUNNEL_STEPS[1]}'
    AND ep >= t1 AND ep <= t1 + {FUNNEL_W} GROUP BY 1),
s3 AS (
  SELECT e.user_id, min(ep) AS t3
  FROM e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
  WHERE event_type = '{FUNNEL_STEPS[2]}'
    AND ep >= t2 AND ep <= t1 + {FUNNEL_W} GROUP BY 1)
SELECT s1.user_id, t1 AS t_{FUNNEL_STEPS[0]},
       coalesce(t2, -1) AS t_{FUNNEL_STEPS[1]},
       coalesce(t3, -1) AS t_{FUNNEL_STEPS[2]},
       (1 + (t2 IS NOT NULL)::INT + (t3 IS NOT NULL)::INT)::BIGINT
         AS steps_reached
FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id
"""

ORACLE["q_dup_rate_by_source"] = f"""
WITH fp AS (
  SELECT doc_id, source, md5({_NORM}) AS h FROM documents),
c AS (
  SELECT source, doc_id,
         (doc_id = min(doc_id) OVER (PARTITION BY h))::INT AS is_canon
  FROM fp)
SELECT source, count(*) AS n_docs,
       CAST(sum(is_canon) AS BIGINT) AS n_canonical,
       round(1.0 - CAST(sum(is_canon) AS DOUBLE) / count(*), 6) AS dup_frac
FROM c GROUP BY 1
"""

ORACLE["q_budget_sample"] = f"""
WITH t AS (
  SELECT doc_id, source, n_chars,
         sum(CAST(n_chars AS DOUBLE)) OVER (PARTITION BY source) AS total
  FROM documents),
r AS (
  SELECT doc_id, source, n_chars,
         least(CAST(1.0 AS DOUBLE),
               CAST(CASE source
                      WHEN 'src0' THEN {BUDGETS["src0"]}
                      WHEN 'src1' THEN {BUDGETS["src1"]}
                      WHEN 'src2' THEN {BUDGETS["src2"]}
                      ELSE {BUDGET_DEFAULT}
                    END AS DOUBLE) / total) AS rate
  FROM t)
SELECT doc_id, source, n_chars FROM r
WHERE CAST({_H15.format(x="CAST(doc_id AS VARCHAR) || 'budget'")} AS DOUBLE)
      < rate * CAST(1152921504606846976 AS DOUBLE)
"""

ORACLE["q_priority_sample"] = f"""
WITH b AS (
  SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS weight,
         CAST(n_chars AS DOUBLE) * 1152921504606846976.0
           / ({_H15.format(x="CAST(doc_id AS VARCHAR) || 'prio'")} + 1) AS q
  FROM documents WHERE n_chars > 0),
r AS (
  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS rn
  FROM b),
t AS (SELECT lang, q AS tau FROM r WHERE rn = {PRIO_K} + 1)
SELECT r.lang, doc_id, weight,
       round(q, 6) AS priority,
       round(greatest(weight, coalesce(tau, 0.0)), 6) AS est_weight
FROM r LEFT JOIN t ON r.lang = t.lang
WHERE rn <= {PRIO_K}
"""

ORACLE["q_cohort_retention"] = """
WITH a AS (
  SELECT DISTINCT user_id,
         (86400 * (CAST(floor(epoch(ts)) AS BIGINT) // 86400))::BIGINT AS b
  FROM events),
c AS (
  SELECT min(b) OVER (PARTITION BY user_id) AS cohort, b FROM a),
m AS (
  SELECT cohort, ((b - cohort) // 86400)::BIGINT AS "offset",
         count(*) AS n_users
  FROM c GROUP BY 1, 2)
SELECT cohort, "offset", n_users,
  round(n_users::DOUBLE
        / max(CASE WHEN "offset" = 0 THEN n_users END)
            OVER (PARTITION BY cohort), 6) AS retention
FROM m
"""

ORACLE["q_decayed_counts"] = f"""
SELECT user_id, event_type,
       sum(pow(0.5, ({DECAY_REF} // 86400 - CAST(floor(epoch(ts)) AS BIGINT) // 86400)::DOUBLE)) AS score,
       count(*) AS n
FROM events GROUP BY 1, 2
"""

ORACLE["q_sliding_distinct"] = f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep FROM events),
x AS (
  SELECT DISTINCT
         unnest(generate_series({SLIDE_S} * ((ep - {SLIDE_W}) // {SLIDE_S}) + {SLIDE_S},
                                {SLIDE_S} * (ep // {SLIDE_S}), {SLIDE_S})) AS w_start,
         {_H15.format(x="CAST(user_id AS VARCHAR)")} AS h
  FROM e),
r AS (
  SELECT w_start, h,
         row_number() OVER (PARTITION BY w_start ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY w_start) AS n
  FROM x)
SELECT w_start,
  CAST(least(max(n), {SLIDE_K}) AS BIGINT) AS n_sketch,
  CASE WHEN max(n) < {SLIDE_K} THEN CAST(max(n) AS DOUBLE)
       ELSE round(({SLIDE_K} - 1) * {_KMV_SPACE}
                  / max(CASE WHEN rn = {SLIDE_K} THEN h END), 3)
  END AS est_users
FROM r WHERE rn <= {SLIDE_K}
GROUP BY w_start
"""

ORACLE["q_kmv_distinct_hour"] = _kmv_oracle(3600, KMV_HOUR_K, with_size=True)
# cut-invariance: the prefiltered path mirrors against the UNCUT oracle
ORACLE["q_kmv_cut_invariant"] = _kmv_oracle(3600, KMV_HOUR_K, with_size=True)
ORACLE["q_kmv_day_merged"] = _kmv_oracle(86400, KMV_DAY_K, with_size=False)

ORACLE["q_latency_transitions"] = """
WITH t AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_idx,
         event_type AS role,
         CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM events),
d AS (
  SELECT lag(role) OVER w AS role_from, role AS role_to,
         ep - lag(ep) OVER w AS lat
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
SELECT role_from, role_to, count(*) AS n,
       round(avg(lat), 6) AS mean_latency,
       max(lat) AS max_latency,
       round(quantile_cont(lat, 0.5), 6) AS p50_latency
FROM d WHERE role_from IS NOT NULL
GROUP BY 1, 2
"""

ORACLE["q_conversation_stats"] = """
WITH t AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_idx,
         event_type AS role,
         'turn-' || CAST(event_id AS VARCHAR) AS text,
         CASE WHEN value >= 50 THEN 'big' ELSE '' END AS tool,
         CAST(floor(epoch(ts)) AS BIGINT) AS ep
  FROM events),
d AS (
  SELECT conv_id, role, tool, ep, length(text) AS chars,
         CASE WHEN role = lag(role) OVER w THEN 1 ELSE 0 END AS same_role,
         ep - lag(ep) OVER w AS lat
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
SELECT conv_id,
  count(*) AS n_turns,
  CAST(count(DISTINCT role) AS BIGINT) AS n_roles,
  (max(ep) - min(ep)) AS duration_sec,
  CAST(sum(same_role) AS BIGINT) AS alternation_violations,
  floor(COALESCE(avg(lat), 0.0) * 1000000.0 + 0.5) / 1000000.0 AS lat_mean,
  COALESCE(max(lat), 0) AS lat_max,
  floor((CAST(sum(CASE WHEN tool <> '' THEN 1 ELSE 0 END) AS DOUBLE) / count(*))
        * 1000000.0 + 0.5) / 1000000.0 AS tool_frac,
  CAST(sum(chars) AS BIGINT) AS chars_total
FROM d GROUP BY 1
"""

def q_dedup_turns(spark, sf_dir):
    """Turn-stutter dedup over the events-derived transcripts: consecutive
    turns with the same (role, text) collapse to their first occurrence and
    survivors re-rank to a dense turn_idx — the agent retry-loop artifact
    cleaner.  Text is bucketed (event_type + value quartile) so real
    consecutive duplicates exist in the data; DuckDB mirrors the lag
    compare + re-rank exactly."""
    from tsengine.operators import convops

    t = _turns(
        spark, sf_dir,
        F.col("event_type").alias("role"),
        F.concat_ws(
            "-", F.col("event_type"),
            F.floor(F.col("value") / 25).cast("int").cast("string"),
        ).alias("text"),
    )
    out = convops.dedup_turns(t, keep_cols=False)
    return out.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("orig_turn_idx").cast("long").alias("orig_turn_idx"),
        "role", "text",
    )


ORACLE["q_dedup_turns"] = """
WITH t AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_idx,
         event_type AS role,
         event_type || '-' || CAST(CAST(floor(value / 25) AS INT) AS VARCHAR) AS text
  FROM events),
k AS (
  SELECT *, CASE WHEN role = lag(role) OVER w AND text = lag(text) OVER w
                 THEN 1 ELSE 0 END AS dup
  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
s AS (SELECT conv_id, turn_idx AS orig_turn_idx, role, text FROM k WHERE dup = 0)
SELECT conv_id,
       row_number() OVER (PARTITION BY conv_id ORDER BY orig_turn_idx) AS turn_idx,
       orig_turn_idx, role, text
FROM s
"""


def q_truncate_context(spark, sf_dir):
    """Context-window assembly: per conversation keep the system turn
    (pin_first=1) plus the longest turn SUFFIX whose estimated token count
    fits a 64-token budget — one descending running sum per conversation.
    DuckDB mirrors the token estimate, the reverse cumsum and the re-rank."""
    from tsengine.operators import convops

    t = _turns(
        spark, sf_dir,
        F.col("event_type").alias("role"),
        F.concat(F.lit("turn-"), F.col("event_id").cast("string")).alias("text"),
    )
    out = convops.truncate_context(t, budget=64, pin_first=1)
    return out.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("new_turn_idx").cast("long").alias("new_turn_idx"),
        "pinned", "role", "text", "tokens",
    )


ORACLE["q_truncate_context"] = """
WITH t AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_idx,
         event_type AS role,
         'turn-' || CAST(event_id AS VARCHAR) AS text
  FROM events),
x AS (SELECT *, greatest(1, CAST(ceil(length(text) / 4.0) AS BIGINT)) AS tok FROM t),
r AS (SELECT *, sum(tok) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC) AS revcum
      FROM x),
k AS (SELECT * FROM r WHERE turn_idx <= 1 OR revcum <= 64)
SELECT conv_id, turn_idx,
       row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS new_turn_idx,
       turn_idx <= 1 AS pinned, role, text, tok AS tokens
FROM k
"""


def q_conv_forks(spark, sf_dir):
    """Fork/retry detection: conversation pairs sharing a turn prefix of
    length >= 3 (role+text equal turn-by-turn, here role=text=event_type so
    shared prefixes genuinely occur), maximal shared depth per pair, with
    max_group=3 so oversized boilerplate cells surface as TEMPLATE MARKER
    rows (r04 task 5) instead of vanishing, and confirm=True so every
    candidate pair is re-verified against the actual turn text (r04 task
    6).  DuckDB mirrors the double rolling hash (recursive power table),
    the cell split, the pair join, the max-depth collapse and the marker
    rows bit-for-bit; NULL marker fields are encoded as '~template~'/-1 in
    both engines (the comparison layer has no NULL-int convention)."""
    from tsengine.operators import convops

    t = _turns(
        spark, sf_dir,
        F.col("event_type").alias("role"),
        F.col("event_type").alias("text"),
    )
    out = convops.conv_forks(t, min_depth=3, max_depth=64, max_group=3,
                             confirm=True)
    return out.select(
        F.coalesce("conv_a", F.lit("~template~")).alias("conv_a"),
        F.coalesce("conv_b", F.lit("~template~")).alias("conv_b"),
        "shared_depth",
        "template",
        F.coalesce("group_n", F.lit(-1)).cast("long").alias("group_n"),
    )


ORACLE["q_conv_forks"] = """
WITH RECURSIVE t AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_idx,
         event_type AS role,
         event_type AS text
  FROM events),
h AS (
  SELECT conv_id, turn_idx,
         CAST('0x' || substr(md5(role || '|' || text), 1, 15) AS BIGINT) AS hv
  FROM t WHERE turn_idx <= 64),
powers(i, q1, q2) AS (
  SELECT 1, CAST(1 AS BIGINT), CAST(1 AS BIGINT)
  UNION ALL
  SELECT i + 1, (q1 * 1000003) % 2147483629, (q2 * 1000033) % 2147483587
  FROM powers WHERE i < 64),
terms AS (
  SELECT conv_id, turn_idx,
         ((hv % 2147483629) * q1) % 2147483629 AS t1,
         ((hv % 2147483587) * q2) % 2147483587 AS t2
  FROM h JOIN powers p ON p.i = h.turn_idx),
pref AS (
  SELECT conv_id, turn_idx AS depth,
         sum(t1) OVER (PARTITION BY conv_id ORDER BY turn_idx) % 2147483629 AS ph1,
         sum(t2) OVER (PARTITION BY conv_id ORDER BY turn_idx) % 2147483587 AS ph2
  FROM terms),
f AS (SELECT * FROM pref WHERE depth >= 3),
counted AS (
  SELECT depth, ph1, ph2, count(*) AS n FROM f GROUP BY 1, 2, 3),
cells AS (SELECT depth, ph1, ph2 FROM counted WHERE n BETWEEN 2 AND 3),
m AS (SELECT f.* FROM f JOIN cells USING (depth, ph1, ph2)),
pairs AS (
  SELECT a.conv_id AS conv_a, b.conv_id AS conv_b, a.depth
  FROM m a JOIN m b
    ON a.depth = b.depth AND a.ph1 = b.ph1 AND a.ph2 = b.ph2
   AND a.conv_id < b.conv_id),
collapsed AS (
  SELECT conv_a, conv_b, CAST(max(depth) AS BIGINT) AS shared_depth
  FROM pairs GROUP BY 1, 2),
-- confirm stage mirror: textual shared depth = last turn before the first
-- (role, text) mismatch within 1..shared_depth (role == text here)
confirmed AS (
  SELECT c.conv_a, c.conv_b,
         CAST(coalesce(min(CASE WHEN ta.role <> tb.role THEN ta.turn_idx END) - 1,
                       c.shared_depth) AS BIGINT) AS shared_depth
  FROM collapsed c
  JOIN t ta ON ta.conv_id = c.conv_a
           AND ta.turn_idx BETWEEN 1 AND c.shared_depth
  JOIN t tb ON tb.conv_id = c.conv_b AND tb.turn_idx = ta.turn_idx
  GROUP BY c.conv_a, c.conv_b, c.shared_depth)
SELECT conv_a, conv_b, shared_depth,
       FALSE AS template, CAST(-1 AS BIGINT) AS group_n
FROM confirmed WHERE shared_depth >= 3
UNION ALL
SELECT '~template~' AS conv_a, '~template~' AS conv_b,
       CAST(depth AS BIGINT) AS shared_depth,
       TRUE AS template, CAST(n AS BIGINT) AS group_n
FROM counted WHERE n > 3
"""


def _tool_transcripts(spark, sf_dir):
    """Events -> transcript shape with a sparse tool column: a turn is a
    tool CALL when value >= 50 (deterministic, ~half the turns), tool name
    = event_type.  Shared by q_tool_transitions / q_tool_loops."""
    return _turns(
        spark, sf_dir,
        F.when(F.col("value") >= 50, F.col("event_type")).alias("tool"),
        # events.parquet carries TIMESTAMP_NTZ; normalize so ts.cast(long)
        # inside the operator resolves (session tz is UTC repo-wide)
        F.col("ts").cast("timestamp").alias("ts"),
    )


def q_tool_transitions(spark, sf_dir):
    """Tool-call bigram rollup: per day bucket, how often does tool B
    follow tool A within a conversation — the agent-behavior transition
    matrix.  One conv_id window exchange + one partially-aggregated
    groupBy; DuckDB mirrors the call filter, lag and bucket floor."""
    from tsengine.operators import convops

    return convops.tool_transitions(
        _tool_transcripts(spark, sf_dir), width_sec=86400
    )


ORACLE["q_tool_transitions"] = """
WITH t AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_idx,
         CASE WHEN value >= 50 THEN event_type END AS tool,
         ts
  FROM events),
c AS (SELECT * FROM t WHERE tool IS NOT NULL),
p AS (SELECT *, lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
      FROM c)
SELECT CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) * 86400 AS bucket,
       prev AS tool_from, tool AS tool_to, count(*) AS n
FROM p WHERE prev IS NOT NULL
GROUP BY 1, 2, 3
"""


def q_tool_loops(spark, sf_dir):
    """Stuck-agent detection: maximal runs of >= 2 consecutive same-tool
    calls per conversation (gaps-and-islands over the call subsequence,
    ONE exchange — the run groupBy's clustering is satisfied by the lag
    window's conv_id partitioning).  DuckDB mirrors the run-id running sum
    and the island aggregate."""
    from tsengine.operators import convops

    return convops.tool_loops(_tool_transcripts(spark, sf_dir), min_run=2)


ORACLE["q_tool_loops"] = """
WITH t AS (
  SELECT CAST(user_id AS VARCHAR) AS conv_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_idx,
         CASE WHEN value >= 50 THEN event_type END AS tool
  FROM events),
c AS (SELECT conv_id, turn_idx, tool FROM t WHERE tool IS NOT NULL),
s AS (SELECT *, CASE WHEN tool IS DISTINCT FROM lag(tool) OVER w
                     THEN 1 ELSE 0 END AS st
      FROM c WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
r AS (SELECT *, sum(st) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS run
      FROM s)
SELECT conv_id, tool, count(*) AS run_len,
       CAST(min(turn_idx) AS BIGINT) AS start_turn_idx,
       CAST(max(turn_idx) AS BIGINT) AS end_turn_idx
FROM r GROUP BY conv_id, tool, run
HAVING count(*) >= 2
"""


ORACLE["q_cusum"] = f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         value::DOUBLE AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS rn
  FROM events),
rec AS (
  SELECT user_id, event_id, ep, rn,
         greatest(0.0, 0.0 + (v - {CUSUM_TARGET + CUSUM_K})) AS sh,
         greatest(0.0, 0.0 + ({CUSUM_TARGET - CUSUM_K} - v)) AS sl
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.ep, b.rn,
         greatest(0.0, r.sh + (b.v - {CUSUM_TARGET + CUSUM_K})),
         greatest(0.0, r.sl + ({CUSUM_TARGET - CUSUM_K} - b.v))
  FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1)
SELECT user_id, event_id, ep,
       round(sh, 6) AS cusum_hi, round(sl, 6) AS cusum_lo,
       (sh > {CUSUM_H} OR sl > {CUSUM_H}) AS alarm
FROM rec
"""

ORACLE["q_source_quota"] = f"""
WITH r AS (
  SELECT doc_id, source,
    row_number() OVER (PARTITION BY source
      ORDER BY {_H60_DOC.format(salt='quota')}, doc_id) AS rk
  FROM documents)
SELECT doc_id, source FROM r WHERE rk <= {QUOTA_N}
"""

ORACLE["q_pack_sequences"] = f"""
WITH d AS (
  SELECT doc_id, CAST(ceil(length(text) / 4.0) AS BIGINT) AS n,
         {_H60_DOC.format(salt='pack')} AS h
  FROM documents),
b AS (SELECT doc_id, n, CAST(h % {PACK_SHARDS} AS INT) AS shard, h
      FROM d WHERE n > 0),
c AS (SELECT doc_id, shard, n,
        -- window sum over BIGINT yields HUGEINT, which round-trips as a
        -- float through the comparator's pandas fetch: pin BIGINT
        CAST(sum(n) OVER (PARTITION BY shard ORDER BY h, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum
      FROM b)
SELECT doc_id, shard, (cum - n) AS offset,
       (cum - n) // {PACK_MAXLEN} AS seq_first,
       (cum - 1) // {PACK_MAXLEN} AS seq_last,
       ((cum - 1) // {PACK_MAXLEN} - (cum - n) // {PACK_MAXLEN} + 1) AS n_seqs
FROM c
"""

ORACLE["q_ewma"] = f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         value::DOUBLE AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS rn
  FROM events),
rec AS (
  SELECT user_id, event_id, ep, rn, v AS ewma FROM base WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.ep, b.rn,
         {EWMA_ALPHA} * b.v + (1.0 - {EWMA_ALPHA}) * r.ewma
  FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1)
SELECT user_id, event_id, ep, round(ewma, 6) AS ewma FROM rec
"""

ORACLE["q_holt"] = f"""
WITH RECURSIVE base AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ep,
         value::DOUBLE AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS rn
  FROM events),
rec AS (
  SELECT user_id, event_id, ep, rn, v AS l, CAST(0.0 AS DOUBLE) AS b
  FROM base WHERE rn = 1
  UNION ALL
  SELECT bb.user_id, bb.event_id, bb.ep, bb.rn,
         {HOLT_A} * bb.v + (1.0 - {HOLT_A}) * (r.l + r.b),
         {HOLT_B} * (({HOLT_A} * bb.v + (1.0 - {HOLT_A}) * (r.l + r.b)) - r.l)
           + (1.0 - {HOLT_B}) * r.b
  FROM rec r JOIN base bb ON bb.user_id = r.user_id AND bb.rn = r.rn + 1)
SELECT user_id, event_id, ep, round(l, 6) AS level, round(b, 6) AS trend
FROM rec
"""

ORACLE["q_compress_roundtrip"] = (
    "SELECT user_id AS series_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch, "
    "round(value, 6) AS value FROM events"
)


def _knn_sql() -> str:
    return """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
scored AS (
  SELECT vec_id,
    round(list_dot_product(embedding::DOUBLE[], q.qv) /
          (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
           sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
  FROM embeddings, q)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 25
"""


ORACLE["q_knn_bruteforce"] = _knn_sql()


def _near_dup_sql() -> str:
    import numpy as np

    rng = np.random.RandomState(42)
    hyper = rng.normal(size=(6, 64))
    sig_terms = " + ".join(
        f"CASE WHEN list_dot_product(embedding::DOUBLE[], {hyper[p].tolist()}) > 0 "
        f"THEN {2**p}::BIGINT ELSE 0 END"
        for p in range(6)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS vec,
       sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
       ({sig_terms}) AS bucket
  FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6) AS cosine
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.vec, b.vec) / (a.nrm * b.nrm), 6) >= 0.5
"""


ORACLE["q_embedding_near_dups"] = _near_dup_sql()


def _codebook_rows(cells: int) -> str:
    """similarity.fixed_centroids(cells, 64, seed=7) as (cell, DOUBLE[])
    VALUES rows: the literal codebook every IVF/SemDeDup oracle mirrors."""
    cents = similarity.fixed_centroids(cells, 64, seed=7)
    return ",\n    ".join(
        f"({i}, CAST([{', '.join(repr(x) for x in c)}] AS DOUBLE[]))"
        for i, c in enumerate(cents)
    )


def _semantic_dedup_sql() -> str:
    """Mirror of q_semantic_dedup: literal codebook cells (argmin L2, ties
    to the lowest cell — ORDER BY dist, cell == the engine's strict-< chain),
    in-cell cosine pairs >= threshold, recursive-CTE transitive closure."""
    rows = _codebook_rows(SEMDEDUP_CELLS)
    return f"""
WITH RECURSIVE cents(cell, c) AS (VALUES
    {rows}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
a AS (SELECT vec_id, vec,
        (SELECT cell FROM cents ORDER BY list_distance(cents.c, e.vec) ASC, cell ASC LIMIT 1) AS cell,
        sqrt(list_dot_product(vec, vec)) AS nrm
      FROM e),
pairs AS (
  SELECT x.vec_id AS u, y.vec_id AS v
  FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
  WHERE round(list_dot_product(x.vec, y.vec) / (x.nrm * y.nrm), 6) >= {SEMDEDUP_THRESHOLD}),
edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u),
comp AS (SELECT u AS vec_id, least(u, min(v)) AS component FROM reach GROUP BY u)
SELECT em.vec_id,
       coalesce(c.component, em.vec_id) AS component,
       CAST(coalesce(c.component, em.vec_id) = em.vec_id AS BIGINT) AS is_canonical
FROM embeddings em LEFT JOIN comp c USING (vec_id)
"""


ORACLE["q_semantic_dedup"] = _semantic_dedup_sql()

ORACLE["q_transcript_rollup_1m"] = tier_sql(60)


def _ivf_sql() -> str:
    """Mirror of q_knn_ivf: the fixed codebook as literal DOUBLE[] rows;
    assignment = argmin squared-L2 with ties to the lowest cell (strict-<
    chain in ivf_assign == ORDER BY dist, cell LIMIT 1 here); nprobe cells
    ranked by distance-to-query the same way."""
    rows = _codebook_rows(IVF_CELLS)
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
cents(cell, c) AS (VALUES
    {rows}),
probe AS (SELECT cell FROM cents, q
          ORDER BY list_distance(c, qv) ASC, cell ASC LIMIT {IVF_NPROBE}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
a AS (SELECT vec_id, vec,
        (SELECT cell FROM cents ORDER BY list_distance(cents.c, e.vec) ASC, cell ASC LIMIT 1) AS cell
      FROM e),
scored AS (
  SELECT vec_id,
    round(list_dot_product(vec, q.qv) /
          (sqrt(list_dot_product(vec, vec)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
  FROM a, q WHERE cell IN (SELECT cell FROM probe))
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT {IVF_K}
"""


ORACLE["q_knn_ivf"] = _ivf_sql()


def _ann_join_sql() -> str:
    rows = _codebook_rows(IVF_CELLS)
    return f"""
WITH cents(cell, c) AS (VALUES
    {rows}),
qs AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       FROM embeddings WHERE vec_id % {ANN_MOD} = 0),
probe AS (
  SELECT query_id, qv, cell FROM (
    SELECT query_id, qv, cell,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY list_distance(c, qv), cell) AS rn
    FROM qs CROSS JOIN cents) WHERE rn <= {ANN_NPROBE}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
a AS (SELECT vec_id, vec,
        (SELECT cell FROM cents
         ORDER BY list_distance(cents.c, e.vec), cell LIMIT 1) AS cell
      FROM e),
s AS (
  SELECT query_id, vec_id,
    round(list_dot_product(vec, qv) /
          (sqrt(list_dot_product(vec, vec)) * sqrt(list_dot_product(qv, qv))), 6)
      AS cosine
  FROM probe JOIN a USING (cell)),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id) AS rank
      FROM s)
SELECT query_id, vec_id, cosine, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= {ANN_K}
"""


ORACLE["q_ann_join"] = _ann_join_sql()

# salted two-phase rollup == direct rollup: the numeric-plane oracle of
# q_transcript_rollup_1m (the salted query carries only the latency plane)
ORACLE["q_salted_rollup_1m"] = tier_sql(60, dists=False)


def _image_features_sql() -> str:
    """Roundtrip oracle over the REAL image bytes (VERDICT r04 task 3): the
    engine path is synth pixels -> PPM/BMP ENCODE -> Spark-side stdlib
    DECODE -> mean; this oracle independently regenerates the SOURCE pixel
    arrays from the synth seed recipe and takes their mean directly, sharing
    no codec code — so any parser defect (row order, BGR swap, padding,
    header tokenizing) shows up as a value mismatch."""
    import numpy as np

    vals = []
    for i in range(48):
        if i % 3 != 0:  # kinds cycle image/audio/video
            continue
        rng = np.random.RandomState(42 + i)
        img = rng.randint(0, 256, size=(48, 64, 3), dtype=np.uint8)
        vals.append((i, float(img.mean())))
    rows = ",\n    ".join(f"({i}, {m!r})" for i, m in vals)
    return f"""
SELECT CAST(media_id AS BIGINT) AS media_id,
       round(CAST(pm AS DOUBLE), 6) AS pixel_mean
FROM (VALUES
    {rows}) AS t(media_id, pm)
"""


ORACLE["q_multimodal_image_features"] = _image_features_sql()


def _audio_features_sql(n_bands: int = 8) -> str:
    """Roundtrip oracle over the REAL WAV bytes: the engine path is synth
    samples -> RIFF PCM16 ENCODE -> Spark-side chunk-walking DECODE -> rFFT
    -> band means; this oracle regenerates the SOURCE samples from the synth
    seed recipe, applies the int16 quantization arithmetic inline (the two
    lines an independent reimplementer would also write), and runs the same
    float32 FFT chain — no engine codec code is imported, so any parser
    defect (chunk walk, scale, endianness) mismatches."""
    import numpy as np

    sr, dur = 16000, 0.5
    t = np.arange(int(sr * dur)) / sr
    vals = []
    for i in range(48):
        if i % 3 != 1:  # kinds cycle image/audio/video
            continue
        rng = np.random.RandomState(42 + i)
        freq = 220.0 * (1 + i % 5)
        samples = (0.5 * np.sin(2 * np.pi * freq * t)
                   + 0.05 * rng.standard_normal(t.size))
        # PCM16 roundtrip quantization, reimplemented inline
        pcm = np.clip(np.round(samples * 32767.0), -32768, 32767)
        wav = (pcm.astype("int16").astype("float32")) / np.float32(32768.0)
        spec = np.abs(np.fft.rfft(wav))
        for band, b in enumerate(np.array_split(spec, n_bands)):
            vals.append((i, band, float(b.mean())))
    rows = ",\n    ".join(f"({i}, {b}, {e!r})" for i, b, e in vals)
    return f"""
SELECT CAST(media_id AS BIGINT) AS media_id,
       CAST(band AS BIGINT) AS band,
       round(CAST(e AS DOUBLE), 6) AS energy
FROM (VALUES
    {rows}) AS t(media_id, band, e)
"""


ORACLE["q_multimodal_audio_features"] = _audio_features_sql()

# videos are media_id 2,5,...,47; meta is fixed fps=24 x duration 4.0s = 96
# frames, sampled every 24 -> frame_idx 0,24,48,72
ORACLE["q_multimodal_frame_sample"] = """
WITH v AS (SELECT unnest(generate_series(2, 47, 3)) AS media_id)
SELECT CAST(media_id AS BIGINT) AS media_id,
       CAST(unnest(generate_series(0, 95, 24)) AS INTEGER) AS frame_idx
FROM v
"""


QUERIES = {
    "q_dedup_exact": q_dedup_exact,
    "q_token_count": q_token_count,
    "q_quality_score": q_quality_score,
    "q_language_id": q_language_id,
    "q_fingerprint": q_fingerprint,
    "q_gopher_quality": q_gopher_quality,
    "q_repetition": q_repetition,
    "q_pii_scrub": q_pii_scrub,
    "q_asof_join": q_asof_join,
    "q_range_join": q_range_join,
    "q_sessionize": q_sessionize,
    "q_session_stats": q_session_stats,
    "q_m4_downsample": q_m4_downsample,
    "q_time_weighted_avg": q_time_weighted_avg,
    "q_rolling_zscore": q_rolling_zscore,
    "q_latency_percentiles": q_latency_percentiles,
    "q_trend_corr": q_trend_corr,
    "q_ewma": q_ewma,
    "q_holt": q_holt,
    "q_stratified_sample": q_stratified_sample,
    "q_budget_sample": q_budget_sample,
    "q_dup_rate_by_source": q_dup_rate_by_source,
    "q_hash_split": q_hash_split,
    "q_contamination": q_contamination,
    "q_source_quota": q_source_quota,
    "q_pack_sequences": q_pack_sequences,
    "q_corpus_curation": q_corpus_curation,
    "q_cusum": q_cusum,
    "q_dedup_turns": q_dedup_turns,
    "q_truncate_context": q_truncate_context,
    "q_conv_forks": q_conv_forks,
    "q_tool_transitions": q_tool_transitions,
    "q_tool_loops": q_tool_loops,
    "q_conversation_stats": q_conversation_stats,
    "q_latency_transitions": q_latency_transitions,
    "q_top_events": q_top_events,
    "q_funnel": q_funnel,
    "q_hopping_rollup": q_hopping_rollup,
    "q_cms_counts": q_cms_counts,
    "q_autocorr": q_autocorr,
    "q_state_durations": q_state_durations,
    "q_derivative_integral": q_derivative_integral,
    "q_hist_quantile_merged": q_hist_quantile_merged,
    "q_priority_sample": q_priority_sample,
    "q_cohort_retention": q_cohort_retention,
    "q_kmv_distinct_hour": q_kmv_distinct_hour,
    "q_kmv_cut_invariant": q_kmv_cut_invariant,
    "q_sliding_distinct": q_sliding_distinct,
    "q_decayed_counts": q_decayed_counts,
    "q_kmv_day_merged": q_kmv_day_merged,
    "q_simhash": q_simhash,
    "q_simhash_near_dups": q_simhash_near_dups,
    "q_minhash": q_minhash,
    "q_jaccard_pairs": q_jaccard_pairs,
    "q_lsh_near_dups": q_lsh_near_dups,
    "q_lsh_incremental": q_lsh_incremental,
    "q_containment": q_containment,
    "q_duplicate_spans": q_duplicate_spans,
    "q_dedup_clusters": q_dedup_clusters,
    "q_semantic_dedup": q_semantic_dedup,
    "q_knn_bruteforce": q_knn_bruteforce,
    "q_embedding_near_dups": q_embedding_near_dups,
    "q_knn_ivf": q_knn_ivf,
    "q_ann_join": q_ann_join,
    "q_centroid_similarity": q_centroid_similarity,
    "q_compress_roundtrip": q_compress_roundtrip,
    "q_transcript_rollup_1m": q_transcript_rollup_1m,
    "q_salted_rollup_1m": q_salted_rollup_1m,
    "q_multimodal_image_features": q_multimodal_image_features,
    "q_multimodal_frame_sample": q_multimodal_frame_sample,
    "q_multimodal_audio_features": q_multimodal_audio_features,
}
