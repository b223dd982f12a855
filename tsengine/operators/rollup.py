"""Retention-tier rollups over transcripts (the north-star workload).

Pipeline (BASELINE.json north_star): per-conversation turn streams ->
derived latency plane -> tumbling-window aggregates raw -> 1m -> 1h -> 1d,
each COARSER tier computed from the next finer one by partial reaggregation
(count/min/max/sum compose; mean = sum/count; distributions merge by key) —
the continuous-aggregate design the reference's `usage` recomputation lacks
(SURVEY.md §4 caching row; tf:1218-1223).

Numeric-equality note (SURVEY.md §4): latencies are integer seconds; sums of
integers are exact in float64 far beyond any bucket size, so the built-in
Spark aggregates are ALREADY bit-for-bit equal to the numpy oracle
(np.sum/amin/amax, tf:469/490/512) — no exact-kernel UDF needed for
cnt/min/max/sum/mean.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TIERS = {"1m": 60, "1h": 3600, "1d": 86400}
TIER_ORDER = ["1m", "1h", "1d"]
#: columns of every tier frame, in order
TIER_COLS = ("conv_id", "tier", "bucket", "cnt", "cnt_lat", "vmin", "vmax",
             "vsum", "vmean", "role_dist", "tool_dist")


def mean_col():
    """The one mean expression, ``vsum / nullif(cnt_lat, 0)``: every
    producer of ``vmean`` (rollups, :func:`merge_tier`, the tier read
    paths, the skew rollup) derives it here, so a stored and a derived
    ``vmean`` are bit-identical."""
    return F.col("vsum") / F.nullif(F.col("cnt_lat"), F.lit(0))


def with_mean(tier_rows: DataFrame) -> DataFrame:
    """Tier rows with ``vmean`` (re)derived from ``vsum``/``cnt_lat``, in
    :data:`TIER_COLS` order.  ``withColumn`` replaces a stored ``vmean``,
    so rows written with or without one read the same."""
    return tier_rows.withColumn("vmean", mean_col()).select(*TIER_COLS)


def with_latency(transcripts: DataFrame) -> DataFrame:
    """Derive the numeric plane: turn latency = epoch - previous epoch per
    conversation, ordered by turn_idx (stable (conv_id, turn_idx) ordering,
    input_hint invariant).  First turn has NULL latency."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    epoch = F.col("ts").cast("timestamp").cast("long")
    return (
        transcripts.withColumn("epoch", epoch)
        .withColumn("value", (epoch - F.lag(epoch).over(w)).cast("double"))
    )


def _merge_maps(list_col: str):
    """Fold a collected array of map<string,long> into one map, summing values
    per key (JVM-side higher-order functions — no UDF, no extra shuffle), with
    entries sorted by key for deterministic output bytes."""
    merged = (
        f"aggregate(filter({list_col}, m -> m is not null), "
        "cast(map() as map<string,bigint>), "
        "(acc, m) -> map_zip_with(acc, m, (k, a, b) -> coalesce(a, 0L) + coalesce(b, 0L)))"
    )
    return F.expr(f"map_from_entries(array_sort(map_entries({merged})))")


def _count_map(list_col: str):
    """Fold a collected array of strings into a map<string,long> of value
    counts (collect_list already drops nulls), entries sorted by key.
    Implemented as distinct + per-key filter-count — O(distinct x n) over a
    bucket-bounded array, all inside whole-stage codegen, no per-element
    map allocation."""
    return F.expr(
        f"map_from_entries(transform(array_sort(array_distinct({list_col})), "
        f"x -> struct(x, cast(size(filter({list_col}, y -> y = x)) as bigint))))"
    )


def _pivot_counts_raw(col: str, vocab: list, prefix: str) -> list:
    """Per-vocab-entry codegen count columns over a raw categorical column,
    plus a total non-null count used to detect values outside the vocab."""
    return [
        F.sum(F.when(F.col(col) == F.lit(v), 1).otherwise(0)).alias(f"{prefix}{i}")
        for i, v in enumerate(vocab)
    ] + [F.count(col).alias(f"{prefix}tot")]


def _pivot_counts_maps(col: str, vocab: list, prefix: str) -> list:
    """Per-vocab-entry sums over finer-tier count maps, plus the total of
    ALL map values (so out-of-vocab keys in the finer maps are counted)."""
    return [
        F.sum(F.coalesce(F.element_at(F.col(col), F.lit(v)), F.lit(0))).alias(
            f"{prefix}{i}"
        )
        for i, v in enumerate(vocab)
    ] + [
        F.sum(
            F.aggregate(
                F.map_values(F.col(col)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
        ).alias(f"{prefix}tot")
    ]


def _assemble_map(vocab: list, prefix: str):
    """Rebuild map<string,long> from the pivoted count columns — pure Column
    API (map_from_entries over struct literals), NOT interpolated SQL text:
    vocab values are data-derived, and a value containing a quote/backslash
    must never be spliced into an F.expr string.

    Completeness guard: any counted value OUTSIDE the vocab (possible only
    with a caller-supplied incomplete vocab — auto-detected vocabs are the
    exact distinct set) is recorded under the reserved ``__other__`` key
    instead of being silently dropped."""
    if not vocab:
        return F.expr("cast(map() as map<string,bigint>)")
    covered = sum(
        (F.col(f"{prefix}{i}").cast("long") for i in range(len(vocab))),
        F.lit(0).cast("long"),
    )
    other = F.col(f"{prefix}tot").cast("long") - covered
    entries = F.array(
        *[
            F.struct(
                F.lit(v).alias("k"), F.col(f"{prefix}{i}").cast("long").alias("v")
            )
            for i, v in enumerate(vocab)
        ],
        F.struct(F.lit("__other__").alias("k"), other.alias("v")),
    )
    return F.map_from_entries(F.filter(entries, lambda s: s["v"] > 0))


def _vocab(df: DataFrame, col: str, max_size: int = 256) -> list | None:
    """Distinct values of a low-cardinality categorical column (sorted).
    Returns None when the cardinality exceeds ``max_size`` — caller falls
    back to the generic collect_list path.  At scale this is a
    dictionary-column-only scan (or a maintained table property), far
    cheaper than dragging an ObjectHashAggregate through the rollup."""
    rows = (
        df.select(col).filter(F.col(col).isNotNull())
        .distinct().limit(max_size + 1).collect()
    )
    if len(rows) > max_size:
        return None
    return sorted(r[0] for r in rows)


def rollup_raw_to_tier(
    turns: DataFrame,
    tier: str = "1m",
    role_vocab: list | None = None,
    tool_vocab: list | None = None,
) -> DataFrame:
    """Finest rollup: raw turns (from :func:`with_latency`) -> tier buckets.

    Output: conv_id, tier, bucket(long epoch), cnt, cnt_lat, vmin, vmax,
    vsum, vmean, role_dist, tool_dist.

    Scale design: ONE scan of the raw table and ONE shuffle, keyed on
    (conv_id, bucket) — and the window exchange on conv_id upstream already
    satisfies the groupBy's clustering requirement, so the whole
    raw -> latency -> 1m chain is a single Exchange in the executed plan.

    Distributions: role/tool are low-cardinality categoricals, so their
    per-bucket count maps are computed as PIVOTED codegen aggregates —
    ``sum(CASE WHEN role = 'user' ...)`` per vocabulary entry — and
    assembled into map<string,long> in a projection.  This keeps the whole
    aggregate inside whole-stage-codegen HashAggregate; the previous
    collect_list design forced ObjectHashAggregate, which benchmarked ~2.5x
    slower and scales worse (object churn).  The vocabulary comes from the
    caller, or, when it passes None, from a cheap dictionary-only distinct
    pre-scan; above 256 distinct values it falls back to the generic
    collect_list + fold path.  Coarser tiers never re-read raw: see
    :func:`reaggregate`.
    """
    width = TIERS[tier]
    b = turns.withColumn(
        "bucket", (F.lit(width) * F.floor(F.col("epoch") / F.lit(width))).cast("long")
    )
    if role_vocab is None:
        role_vocab = _vocab(turns, "role")
    if tool_vocab is None:
        tool_vocab = _vocab(turns, "tool")

    core = [
        F.count("*").alias("cnt"),
        F.count("value").alias("cnt_lat"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.sum("value").alias("vsum"),
    ]

    aggs = list(core)
    if role_vocab is not None:
        aggs += _pivot_counts_raw("role", role_vocab, "_r")
    else:
        aggs.append(F.collect_list("role").alias("_roles"))
    if tool_vocab is not None:
        aggs += _pivot_counts_raw("tool", tool_vocab, "_t")
    else:
        aggs.append(F.collect_list("tool").alias("_tools"))

    out = b.groupBy("conv_id", "bucket").agg(*aggs)
    out = out.withColumn(
        "role_dist",
        _assemble_map(role_vocab, "_r") if role_vocab is not None else _count_map("_roles"),
    ).withColumn(
        "tool_dist",
        _assemble_map(tool_vocab, "_t") if tool_vocab is not None else _count_map("_tools"),
    )
    return with_mean(out.withColumn("tier", F.lit(tier)))


def reaggregate(
    finer: DataFrame,
    tier: str | int,
    role_vocab: list | None = None,
    tool_vocab: list | None = None,
) -> DataFrame:
    """Partial reaggregation: finer tier -> coarser tier without touching raw
    data.  Valid for cnt/min/max/sum (mean recomputed from sum/count).

    ``tier`` is a named tier ("1h", "1d") or an arbitrary bucket width in
    seconds (downsample-on-read: a dashboard asking for 6h points
    reaggregates the 1h tier with ``tier=21600``).  Soundness needs the
    finer width to DIVIDE the coarser one — callers route through
    :meth:`tsengine.materialize.MaterializedTiers.read_resampled`, which
    picks the coarsest stored tier that divides the request.

    Distributions: with a known vocabulary, per-key counts are
    ``sum(element_at(map, key))`` — plain codegen aggregates, map rebuilt in
    a projection (same design as :func:`rollup_raw_to_tier`).  Without one,
    falls back to a map_zip_with fold over the collected finer maps
    (<= width-ratio small maps per group).  One shuffle, no joins either
    way."""
    if isinstance(tier, int):
        width, tier = tier, f"{tier}s"
    else:
        width = TIERS[tier]
    b = finer.withColumn(
        "bucket2", (F.lit(width) * F.floor(F.col("bucket") / F.lit(width))).cast("long")
    )

    aggs = [
        F.sum("cnt").alias("cnt"),
        F.sum("cnt_lat").alias("cnt_lat"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
        F.sum("vsum").alias("vsum"),
    ]
    if role_vocab is not None:
        aggs += _pivot_counts_maps("role_dist", role_vocab, "_r")
    else:
        aggs.append(F.collect_list("role_dist").alias("_role_maps"))
    if tool_vocab is not None:
        aggs += _pivot_counts_maps("tool_dist", tool_vocab, "_t")
    else:
        aggs.append(F.collect_list("tool_dist").alias("_tool_maps"))

    out = b.groupBy("conv_id", "bucket2").agg(*aggs)
    out = out.withColumn(
        "role_dist",
        _assemble_map(role_vocab, "_r")
        if role_vocab is not None
        else _merge_maps("_role_maps"),
    ).withColumn(
        "tool_dist",
        _assemble_map(tool_vocab, "_t")
        if tool_vocab is not None
        else _merge_maps("_tool_maps"),
    )
    return with_mean(
        out.withColumn("tier", F.lit(tier)).withColumnRenamed("bucket2", "bucket")
    )


def merge_tier(*tiers: DataFrame) -> DataFrame:
    """Fold same-tier rollup frames into one — the incremental
    continuous-aggregate merge: ``merge_tier(prev_state, rollup(increment))``
    updates a materialized tier from an append-only snapshot diff
    (tsengine.sources.snapshots.SnapshotTable.incremental) without
    rescanning history.

    Sound because every column is a decomposable aggregate over disjoint-or-
    overlapping bucket slices: cnt/cnt_lat/vsum add, vmin/vmax take min/max,
    distributions merge per key, vmean recomputes from vsum/cnt_lat.  The
    caller owns the latency-plane boundary: a turn whose latency depends on a
    row in another input must appear in exactly one input with its latency
    already resolved (split appends at conversation boundaries, or carry
    last-epoch state for mid-conversation appends, as the conv-state anchors
    of tsengine.materialize do)."""
    if not tiers:
        raise ValueError("merge_tier needs at least one input")
    u = tiers[0]
    for t in tiers[1:]:
        u = u.unionByName(t)
    out = (
        u.groupBy("conv_id", "tier", "bucket")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("cnt_lat").alias("cnt_lat"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.sum("vsum").alias("vsum"),
            F.collect_list("role_dist").alias("_role_maps"),
            F.collect_list("tool_dist").alias("_tool_maps"),
        )
        .withColumn("role_dist", _merge_maps("_role_maps"))
        .withColumn("tool_dist", _merge_maps("_tool_maps"))
    )
    return with_mean(out)


def build_all_tiers(
    turns: DataFrame,
    persist: bool = False,
    role_vocab: list | None = None,
    tool_vocab: list | None = None,
) -> dict[str, DataFrame]:
    """raw -> 1m, then 1m -> 1h -> 1d by partial reaggregation.

    persist=True caches each tier before deriving the next — otherwise lazy
    lineage recomputes 1m for the 1h action and 1m+1h for the 1d action.
    (tsengine.materialize.MaterializedTiers persists tiers to snapshot
    tables instead.)"""
    out: dict[str, DataFrame] = {}
    out["1m"] = rollup_raw_to_tier(
        turns, "1m", role_vocab=role_vocab, tool_vocab=tool_vocab
    )
    if persist:
        out["1m"] = out["1m"].persist()
    out["1h"] = reaggregate(out["1m"], "1h", role_vocab=role_vocab, tool_vocab=tool_vocab)
    if persist:
        out["1h"] = out["1h"].persist()
    out["1d"] = reaggregate(out["1h"], "1d", role_vocab=role_vocab, tool_vocab=tool_vocab)
    return out


def conversation_stats(
    transcripts: DataFrame,
    user_role: str = "user",
    assistant_role: str = "assistant",
) -> DataFrame:
    """Per-conversation curation stats — the transcript-level quality gate
    a training pipeline runs before rollups/sampling ever see the data:

    - ``n_turns``, ``n_roles`` (distinct), ``duration_sec``
    - ``alternation_violations``: consecutive same-role turns (by turn_idx
      order) — a strict user/assistant dialogue has 0
    - ``lat_mean``/``lat_max`` over the derived latency plane (integer
      seconds; NULL-safe: single-turn conversations report 0)
    - ``tool_frac``: fraction of turns carrying a tool call (6dp-quantized)
    - ``chars_total``: total text payload

    One window + one hash aggregate sharing the conv_id exchange (the
    window's partition key satisfies the groupBy clustering), so at 100 TB
    the cost is the one per-conversation shuffle every turn-ordered
    derivation pays anyway.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ep = F.col("ts").cast("timestamp").cast("long")
    t = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        ep.alias("_ep"),
        F.length(F.coalesce(F.col("text"), F.lit(""))).alias("_chars"),
    )
    same_role = (F.col("role") == F.lag("role").over(w)).cast("int")
    lat = F.col("_ep") - F.lag("_ep").over(w)
    t = t.withColumn("_same", F.coalesce(same_role, F.lit(0))).withColumn("_lat", lat)
    has_tool = (F.coalesce(F.col("tool"), F.lit("")) != "").cast("int")
    q6 = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)  # noqa: E731
    return t.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        # size(collect_set) not count_distinct: the distinct-aggregate
        # rewrite would add an Expand + second exchange; the set is bounded
        # by the role vocabulary so the buffer is tiny
        F.size(F.collect_set("role")).cast("long").alias("n_roles"),
        (F.max("_ep") - F.min("_ep")).alias("duration_sec"),
        F.sum("_same").cast("long").alias("alternation_violations"),
        q6(F.coalesce(F.avg("_lat"), F.lit(0.0))).alias("lat_mean"),
        F.coalesce(F.max("_lat"), F.lit(0).cast("long")).alias("lat_max"),
        q6(F.sum(has_tool) / F.count("*")).alias("tool_frac"),
        F.sum("_chars").cast("long").alias("chars_total"),
    )


def latency_by_transition(transcripts: DataFrame) -> DataFrame:
    """Turn latency attributed to the ROLE TRANSITION that produced it —
    the transcript-native latency breakdown: user->assistant measures model
    response time, assistant->user measures human think time, tool-involved
    transitions measure execution time.  Aggregating latency without this
    split blends three unrelated distributions.

    One exchange: the per-conversation lag window (turn_idx order)
    clusters by conv_id; the (role_from, role_to) aggregate is over the
    tiny transition matrix.  Output: role_from, role_to, n, mean_latency /
    max_latency (seconds, 6dp), p50_latency (exact type-7 like the
    percentile plane)."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ep = F.col("ts").cast("timestamp").cast("long")
    t = transcripts.select(
        "conv_id",
        "turn_idx",
        F.col("role").alias("role_to"),
        ep.alias("_ep"),
    ).select(
        "*",
        F.lag("role_to").over(w).alias("role_from"),
        (F.col("_ep") - F.lag("_ep").over(w)).alias("_lat"),
    ).where(F.col("role_from").isNotNull())
    return (
        t.groupBy("role_from", "role_to")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("_lat"), 6).alias("mean_latency"),
            F.max("_lat").alias("max_latency"),
            F.round(
                F.expr("percentile(_lat, 0.5)"), 6
            ).alias("p50_latency"),
        )
    )
