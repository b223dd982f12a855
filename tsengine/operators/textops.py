"""Text-analysis operators for large-scale training-data pipelines
(task brief: language-ID, quality scoring, token counting, document
fingerprinting).  All pure column expressions (JVM-side, codegen'd) so the
same logic is expressible as the DuckDB oracle SQL.

Cross-engine determinism notes:
- tokenization = split on runs of whitespace after trim;
- hashes use md5 (identical in Spark and DuckDB); 64-bit integers derived
  from the first 15 hex chars (60 bits, fits signed BIGINT in both).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword seed lists for the n-gram/stopword heuristic
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
    "zh": ["的", "是", "不", "了", "在"],
}


def tokens_expr(text: Column) -> Column:
    """Whitespace tokenization; empty string -> empty array."""
    t = F.trim(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate
    (ceil(chars/4) is the common 4-chars-per-token heuristic)."""
    toks = tokens_expr(F.col(text_col))
    return df.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.ceil(F.length(text_col) / F.lit(4)).cast("long").alias("n_tokens_bpe"),
        F.length(text_col).cast("long").alias("n_chars_computed"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a composite
    score in [0,1].  All column arithmetic."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("double")
    toks = tokens_expr(t)
    n_toks = F.size(toks).cast("double")
    n_punct = (n_chars - F.length(F.regexp_replace(t, r"[\.,;:!\?]", ""))).cast("double")
    en_stop = F.lit(LANG_STOPWORDS["en"])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(en_stop, F.lower(x))))
    mean_tok_len = F.when(n_toks > 0, n_chars / n_toks).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_toks > 0, n_stop / n_toks).otherwise(F.lit(0.0))
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    score = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * F.least(stop_ratio * 5, F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0)))
    )
    # floor-based 6dp quantization: floor(x*1e6 + 0.5) is pure IEEE arithmetic,
    # bit-identical across engines, unlike round() whose half-boundary
    # behavior differs between Spark (BigDecimal HALF_UP) and DuckDB
    def q6(c):
        return F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    return df.select(
        "doc_id",
        q6(mean_tok_len).alias("mean_tok_len"),
        q6(punct_ratio).alias("punct_ratio"),
        q6(stop_ratio).alias("stop_ratio"),
        q6(score).alias("quality"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language heuristic: count per-language stopword hits in
    the token stream, pick the argmax (ties broken by language code order,
    'und' when no hits)."""
    toks = F.transform(tokens_expr(F.col(text_col)), lambda x: F.lower(x))
    out = df.select("doc_id", toks.alias("_toks"))
    hit_cols = []
    for lang, words in sorted(LANG_STOPWORDS.items()):
        arr = F.lit(words)
        c = F.size(F.filter(F.col("_toks"), lambda x: F.array_contains(arr, x)))
        hit_cols.append(c.cast("long").alias(f"hits_{lang}"))
    out = out.select("doc_id", *hit_cols)
    langs = sorted(LANG_STOPWORDS)
    # argmax with lexicographic tie-break, 'und' when no stopword hits at all
    gh = F.greatest(*[F.col(f"hits_{lg}") for lg in langs])
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when((gh > 0) & (F.col(f"hits_{lang}") == gh), F.lit(lang)).otherwise(pred)
    return out.select("doc_id", *[f"hits_{lg}" for lg in langs], pred.alias("lang_pred"))


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the whitespace-normalized lowercase text
    (content-defined identity for exact dedup joins) + its 60-bit int form."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    h = F.md5(norm)
    return df.select(
        "doc_id",
        h.alias("fp_md5"),
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long").alias("fp_int"),
    )


def shingle_rows_raw(df, text_col: str = "text", k: int = 3, id_col: str = "doc_id"):
    """Exploded RAW (id, shingle) rows — duplicates preserved, zero shuffles.
    This is the right input for any duplicate-insensitive downstream aggregate
    (minhash: min() over a multiset == min() over the set), where a dedup pass
    is pure waste: the ``.distinct()`` variant shuffles the ENTIRE exploded
    stream and then pays a second exchange because (id, s) partitioning does
    not satisfy a groupBy(id) clustering (measured 103.6 s vs 6.0 s cold on
    sf0.1 — an extra full-data shuffle is exactly what does not survive
    100 TB).  Use :func:`shingle_rows` only where set semantics matter.

    The token array is MATERIALIZED into its own projection before the
    per-index shingle lambda: with the tokenization expression inlined,
    codegen re-evaluates trim+split+lower(text) once PER SHINGLE INDEX
    inside the ``transform`` lambda — O(tokens²) work per document
    (measured 5.0 s vs 0.4 s on sf0.1 documents, a 13x penalty that grows
    with document length)."""
    toked = df.select(
        id_col,
        F.transform(tokens_expr(F.col(text_col)), lambda x: F.lower(x)).alias("_toks"),
    )
    toks = F.col("_toks")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1)))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " "))
    arr = F.when(n >= k, sh).otherwise(F.array().cast("array<string>"))
    return toked.select(id_col, F.explode(arr).alias("s"))


def shingle_rows(df, text_col: str = "text", k: int = 3, id_col: str = "doc_id"):
    """Exploded DISTINCT (id, shingle) rows, for consumers that need SET
    semantics (n-gram Jaccard set cardinalities).  Dedup happens as a hash
    aggregate AFTER the explode, not via ``array_distinct`` inside the row
    (O(S^2) per-document scan)."""
    return shingle_rows_raw(df, text_col, k, id_col).distinct()


def _q6(c: Column) -> Column:
    """floor(x*1e6+0.5)/1e6 — cross-engine-exact 6dp quantization (see
    quality_score)."""
    return F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


# Gopher rule thresholds (Rae et al. 2021, "Scaling Language Models", App. A)
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_RATIO = 0.9
GOPHER_MAX_ELLIPSIS_RATIO = 0.3
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORD_HITS = 2


def gopher_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021) as pure column
    expressions — the standard pre-training heuristic filter set: word-count
    bounds, mean word length bounds, symbol-to-word ratio (# and ...),
    bullet-start / ellipsis-end line ratios, fraction of words containing an
    alphabetic character, and distinct-stopword presence.  Emits the feature
    plane plus the composite ``gopher_pass`` flag, so pipelines can either
    filter or audit rule-by-rule.

    All JVM-side codegen (no UDF) and every fraction is floor-quantized at
    6dp, so the DuckDB oracle pins values exactly."""
    t = F.col(text_col)
    toks = tokens_expr(t)
    n_words = F.size(toks).cast("double")
    # closed-form mean word length: non-whitespace chars / words (identical
    # to avg(len(word)) for whitespace tokenization)
    tok_chars = F.length(F.regexp_replace(t, r"\s+", "")).cast("double")
    mean_wl = F.when(n_words > 0, tok_chars / n_words).otherwise(F.lit(0.0))
    n_hash = (F.length(t) - F.length(F.regexp_replace(t, r"#", ""))).cast("double")
    n_ell = (
        (F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))) / F.lit(3)
    ).cast("double")
    symbol_ratio = F.when(n_words > 0, (n_hash + n_ell) / n_words).otherwise(F.lit(0.0))
    lines = F.split(t, "\n")
    n_lines = F.size(lines).cast("double")
    n_bullet = F.size(
        F.filter(lines, lambda x: F.trim(x).rlike(r"^[-\*•]"))
    ).cast("double")
    n_ell_end = F.size(
        F.filter(lines, lambda x: F.trim(x).rlike(r"\.\.\.$"))
    ).cast("double")
    alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]"))).cast("double")
    alpha_frac = F.when(n_words > 0, alpha / n_words).otherwise(F.lit(0.0))
    low = F.transform(toks, lambda x: F.lower(x))
    stop_hits = F.size(
        F.filter(F.lit(LANG_STOPWORDS["en"]), lambda w: F.array_contains(low, w))
    ).cast("long")
    bullet_ratio = n_bullet / n_lines
    ell_ratio = n_ell_end / n_lines
    gpass = (
        (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS)
        & (mean_wl >= GOPHER_MIN_MEAN_WORD_LEN)
        & (mean_wl <= GOPHER_MAX_MEAN_WORD_LEN)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (bullet_ratio <= GOPHER_MAX_BULLET_RATIO)
        & (ell_ratio <= GOPHER_MAX_ELLIPSIS_RATIO)
        & (alpha_frac >= GOPHER_MIN_ALPHA_FRAC)
        & (stop_hits >= GOPHER_MIN_STOPWORD_HITS)
    )
    return df.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        _q6(mean_wl).alias("mean_word_len"),
        _q6(symbol_ratio).alias("symbol_ratio"),
        _q6(bullet_ratio).alias("bullet_ratio"),
        _q6(ell_ratio).alias("ellipsis_ratio"),
        _q6(alpha_frac).alias("alpha_frac"),
        stop_hits.alias("stopword_hits"),
        gpass.cast("long").alias("gopher_pass"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", top_ns: tuple = (2, 3, 4), dup_n: int = 5
) -> DataFrame:
    """Gopher-style repetition features over word n-grams: for each n in
    ``top_ns`` the fraction of text characters covered by the single MOST
    FREQUENT n-gram (count x ngram length / text length), and for ``dup_n``
    the fraction covered by all n-grams occurring more than once.

    Definition note: occurrences are the raw sliding-window multiset, so
    overlapping occurrences double-count characters — a deliberate
    simplification over Gopher's non-overlapping char accounting, applied
    identically in the DuckDB oracle (same numbers, cheaper plan).  The
    most-frequent n-gram tie-breaks deterministically (count desc, ngram
    asc), expressed as ``min(struct(-count, ngram))`` so it stays a codegen
    hash aggregate rather than a per-doc sort.

    Plan shape: one explode + two hash aggregates per n, all keyed by
    doc_id (uniform), joined back on doc_id — no windows, no UDFs,
    no driver-side state; survives arbitrary corpus width."""
    lens = df.select("doc_id", F.length(text_col).cast("double").alias("_len"))
    out = lens
    for n in list(top_ns):
        sh = shingle_rows_raw(df, text_col, k=n)
        cnts = sh.groupBy("doc_id", "s").agg(F.count("*").alias("c"))
        best = (
            cnts.groupBy("doc_id")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("s"))).alias("b"))
            .select(
                "doc_id",
                (-F.col("b.nc") * F.length("b.s")).alias(f"_cov{n}"),
            )
        )
        out = out.join(best, "doc_id", "left")
    shd = shingle_rows_raw(df, text_col, k=dup_n)
    dcnts = shd.groupBy("doc_id", "s").agg(F.count("*").alias("c"))
    dup = (
        dcnts.where(F.col("c") > 1)
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.length("s")).alias("_dcov"))
    )
    out = out.join(dup, "doc_id", "left")
    cols = [
        _q6(F.coalesce(F.col(f"_cov{n}"), F.lit(0.0)) / F.greatest("_len", F.lit(1.0))).alias(
            f"top{n}gram_char_frac"
        )
        for n in list(top_ns)
    ]
    return out.select(
        "doc_id",
        *cols,
        _q6(
            F.coalesce(F.col("_dcov"), F.lit(0.0)) / F.greatest("_len", F.lit(1.0))
        ).alias(f"dup{dup_n}gram_char_frac"),
    )


# PII patterns restricted to the Java-regex ∩ RE2 common subset (no
# backreferences / lookaround), so Spark and a DuckDB oracle match the
# same spans: emails, dotted-quad IPv4, and +international phone numbers.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d{1,3}[ -]\d{2,4}[ -]\d{3,4}[ -]\d{3,4}\b"


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-data anonymization pass: count and redact emails, IPv4
    addresses and international phone numbers with typed placeholder tags.
    Pure ``regexp_count`` / ``regexp_replace`` column expressions — one
    codegen scan, no UDF, trivially parallel at any corpus width.

    Order matters and is fixed: emails first (an email must not be
    half-eaten by the phone pattern), then IPv4, then phones over the
    already-redacted text.  The redaction counts are computed on the same
    intermediate the replacement saw, so counts always equal the number of
    placeholders inserted."""
    t = F.col(text_col)
    n_email = F.regexp_count(t, F.lit(PII_EMAIL))
    t1 = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    n_ip = F.regexp_count(t1, F.lit(PII_IPV4))
    t2 = F.regexp_replace(t1, PII_IPV4, "<IP>")
    n_phone = F.regexp_count(t2, F.lit(PII_PHONE))
    t3 = F.regexp_replace(t2, PII_PHONE, "<PHONE>")
    return df.select(
        "doc_id",
        n_email.cast("long").alias("n_emails"),
        n_ip.cast("long").alias("n_ipv4"),
        n_phone.cast("long").alias("n_phones"),
        t3.alias("text_clean"),
    )


def contamination_check(
    docs: DataFrame,
    bench: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-decontamination screen: fraction of each corpus document's
    distinct k-gram shingles that appear in a benchmark/eval set — the
    standard guard against training on test data.

    ``bench`` is the eval corpus (small by definition); its distinct
    shingle set is broadcast, so the big side is ONE pass: explode raw
    shingles (no distinct on the 100-TB side), broadcast-hash left join for
    the hit flag, dedup per (doc, shingle) in a map-side-combining hash
    aggregate, then count per doc.  No big-side self-join, no sort.

    Emits one row per document that has >= 1 shingle (short texts below k
    tokens have no shingles and are trivially clean): ``n_shingles``
    (distinct), ``n_overlap``, ``contam_frac`` (6dp-quantized), and the
    ``contaminated`` flag at ``threshold``.
    """
    bs = (
        shingle_rows(bench, text_col, k, id_col)
        .select("s")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    cs = shingle_rows_raw(docs, text_col, k, id_col)
    hit = cs.join(F.broadcast(bs), "s", "left")
    per_sh = hit.groupBy(id_col, "s").agg(F.max("_hit").alias("_h"))
    out = per_sh.groupBy(id_col).agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.coalesce(F.col("_h"), F.lit(0))).alias("n_overlap"),
    )
    frac = _q6(F.col("n_overlap") / F.col("n_shingles"))
    return out.select(
        id_col,
        "n_shingles",
        "n_overlap",
        frac.alias("contam_frac"),
        (frac >= threshold).alias("contaminated"),
    )
