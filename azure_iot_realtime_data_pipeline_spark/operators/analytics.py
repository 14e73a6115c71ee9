"""General analytics operators (§2.L): pivot, rollup, inter-event gaps,
exact multi-percentiles, and embedding centroids.

The reference's dashboard layer (reference README.MD:182,
docs/Power_BI_Dashboard.png) consumes flat per-device aggregates; these
are the next analytics asks a user of that dashboard makes (wide
per-category tables, subtotals, latency-between-events, tail
percentiles) plus the embedding-space analog (per-label centroids).

Plan shapes:
- pivot: one hash aggregate on (row_key); the pivot values are a FIXED
  list so the plan is a plain groupBy with |values| conditional
  aggregates — never a distinct-scan to discover columns.
- rollup: Spark's Expand + single hash aggregate (each input row
  contributes to every grouping set map-side; one shuffle).
- gaps: lag() over (key, time) — one shuffle on the key, the same
  partitioning the sessionizer uses.
- percentiles: rank selection (row_number + count over the key), so the
  result is an actual data value and any ANSI oracle agrees bit-for-bit
  — same policy as lower_median_per_group (operators/sessions.py).
- centroid: posexplode(embedding) -> hash agg on (label, dim). The sum
  runs over int64 micro-units (floor(v*1e6 + 0.5)) because float sums
  are accumulation-order-dependent and float->DECIMAL casts round
  differently across engines (Spark: shortest-repr; DuckDB: exact
  binary) — integer micro-units are bit-identical everywhere and make
  the aggregate order-free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from azure_iot_realtime_data_pipeline_spark.functions.rounding import round_half_up


def pivot_counts(
    df: DataFrame, row_key: str, pivot_col: str, values: list[str]
) -> DataFrame:
    """Wide per-key table: one column per pivot value with the row count
    (0, not NULL, for empty cells — ANSI FILTER semantics)."""
    wide = df.groupBy(row_key).pivot(pivot_col, values).agg(F.count(F.lit(1)))
    return wide.select(
        row_key, *[F.coalesce(F.col(v), F.lit(0)).alias(v) for v in values]
    )


def rollup_agg(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group count + decimal-exact sum WITH the grand-total row
    (group_col NULL), via ROLLUP's grouping sets."""
    dec = F.col(value_col).cast("decimal(18,2)")
    return (
        df.rollup(group_col)
        .agg(
            F.count("*").alias("n"),
            F.sum(dec).cast("double").alias("sum_value"),
        )
    )


def cube_agg(df: DataFrame, dims: list[str], count_value_col: str) -> DataFrame:
    """All 2^|dims| grouping-set subtotals in ONE pass (L7): Expand
    multiplies each input row into its grouping-set combinations
    map-side, then a single hash aggregate — one shuffle total, versus
    2^|dims| separate scans+aggs if written naively. `gid` is the
    standard grouping bit-vector (1-bit per dim, set = rolled up) so a
    dimension's real NULLs stay distinguishable from subtotal NULLs."""
    return df.cube(*dims).agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").alias("n"),
        F.sum(F.col(count_value_col)).cast("long").alias("sum_chars"),
    )


def event_gaps(
    df: DataFrame, key: str, ts_col: str, tiebreak: str, out: str = "gap_us"
) -> DataFrame:
    """Microseconds since the previous event of the same key (NULL for
    each key's first event) — the inter-arrival-time signal under
    latency dashboards and sessionization tuning."""
    ts_us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(key).orderBy(ts_us, F.col(tiebreak))
    return df.withColumn(out, ts_us - F.lag(ts_us).over(w))


def exact_percentiles(
    df: DataFrame,
    group: str,
    value_col: str,
    tiebreak: str,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Exact per-group percentiles by rank selection: the element at
    1-based position ceil(q*n) under (value, tiebreak) order — an actual
    data value (percentile_disc), never interpolation. Hot-key note:
    exact rank selection inherently orders each group's full contents in
    one task; `quantile_sketch` (L8) is the bounded-state scale path
    when the group key is low-cardinality. One shuffle on
    the group key; the quantile fan-out is a map-side explode of a
    |quantiles|-element literal array."""
    w = Window.partitionBy(group).orderBy(F.col(value_col), F.col(tiebreak))
    cnt = Window.partitionBy(group)
    qs = F.explode(F.array(*[F.lit(float(q)) for q in quantiles])).alias("q")
    ranked = (
        df.withColumn("_rn", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(cnt))
        .select(F.col(group), F.col(value_col), F.col("_rn"), F.col("_n"), qs)
    )
    return ranked.filter(
        F.col("_rn") == F.ceil(F.col("q") * F.col("_n"))
    ).select(group, "q", F.col(value_col).alias("p_value"))


MICRO = 1_000_000.0


def micro_units(v: Column) -> Column:
    """Half-up integer micro-units of a float/double value — the
    order-free, engine-portable accumulation domain (see module doc).

    Non-finite AND out-of-range maps to NULL, not 0/saturation: Spark's
    floor(NaN*1e6+0.5) silently yields 0, and any |v| >= 2^63/1e6
    (~9.22e12 — the reference's FLOAT fields carry values up to
    2.365e+305, SURVEY.md §1.2) saturates the long cast (or throws
    under ANSI), while DuckDB's CAST(floor(..) AS BIGINT) raises on
    all of these — so such a measurement would diverge from the
    oracles in any query that only filters IS NOT NULL. NULL makes
    both engines drop the row the same way (ADVICE r5 NaN, r6 +/-Inf,
    review r7 finite overflow). The bound is conservatively
    9.2233720368547e12 < (2^63-1)/1e6."""
    d = v.cast("double")
    return F.when(
        ~F.isnan(d) & (F.abs(d) < F.lit(9.2233720368547e12)),
        F.floor(d * MICRO + F.lit(0.5)).cast("long"),
    )


def embedding_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    decimals_out: int = 4,
) -> DataFrame:
    """Per-label per-dimension centroid of an array<float> column:
    (label, dim (1-based), centroid). posexplode -> ONE hash aggregate
    on (label, dim) with int64 micro-unit sums (map-side combine; at
    100 TB the shuffle carries |labels|x|dims| partial rows per task,
    not vectors)."""
    exploded = emb.select(
        F.col(label_col),
        F.posexplode(F.col(vec_col)).alias("_pos", "_v"),
    )
    # dim as int64 (matches SQL generate_series); count the VALUE column
    # so NULL elements are excluded from n exactly as the sum excludes them
    agg = exploded.groupBy(
        label_col, (F.col("_pos") + 1).cast("long").alias("dim")
    ).agg(
        F.sum(micro_units(F.col("_v"))).alias("_s"),
        F.count("_v").alias("_n"),
    )
    centroid = round_half_up(
        F.col("_s").cast("double") / F.lit(MICRO) / F.col("_n")
    )
    return agg.select(label_col, "dim", centroid.alias("centroid"))


def value_histogram(
    df: DataFrame,
    group: str,
    value_col: str,
    lo: float,
    width: float,
    n_buckets: int,
) -> DataFrame:
    """L6: fixed-width histogram per group: (group, bucket, n, bucket_lo).
    bucket = clamp(floor((v - lo)/width), 0, n_buckets-1) — pure map-side
    arithmetic (portable, unlike engine width_bucket variants), then ONE
    hash aggregate on (group, bucket) with map-side combine. Empty
    buckets are absent (sparse output), matching plain SQL GROUP BY.
    NULL measurements are dropped — greatest(NULL, 0) is 0 in Spark, so
    without the filter every NULL row would silently inflate bucket 0."""
    df = df.filter(F.col(value_col).isNotNull())
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
    bucket = F.least(F.greatest(raw, F.lit(0)), F.lit(n_buckets - 1)).cast("long")
    return (
        df.groupBy(group, bucket.alias("bucket"))
        .agg(F.count("*").alias("n"))
        .select(
            group,
            "bucket",
            "n",
            (F.lit(lo) + F.col("bucket") * F.lit(width)).alias("bucket_lo"),
        )
    )


def quantile_sketch(
    df: DataFrame,
    group: str,
    value_col: str,
    quantiles: tuple[float, ...] = (0.5, 0.95, 0.99),
    n_bins: int = 256,
    fixed_range: tuple[float, float] | None = None,
) -> DataFrame:
    """L8: binned per-group quantile ESTIMATES — the bounded-state scale
    path paired with `exact_percentiles` (which must shuffle every value
    to rank-select; the same exact-vs-sketch pairing as exact
    COUNT(DISTINCT) vs the J30 KMV sketch).

    Two passes over the corpus, both ending in tiny aggregates:
    (1) per-group (min, max) — one agg, broadcast back; (2) fixed-width
    bucket counts — bucket = clamp(floor((v - lo)/width), 0, n_bins-1)
    map-side, ONE hash aggregate on (group, bucket) with map-side
    combine, so the shuffle carries at most groups x n_bins partial
    rows per task, never values. Downstream (cumulative counts, the
    first bucket whose cumulative count reaches ceil(q*n), the
    bucket-edge estimate lo + (b+1)*width) runs on the <= groups x
    n_bins reduction. The estimate is the upper edge of the bucket
    holding the exact rank-selected value, so the error is bounded by
    one bucket width = (max-min)/n_bins — asserted against
    `exact_percentiles` in tests. All arithmetic is plain f64 in a
    fixed op order + one half-up rounding, so any engine reproduces it
    bit-for-bit. Degenerate group (max == min): every value lands in
    bucket 0 and the estimate is exactly that value.

    Returns (group, q, p_est).
    """
    df = df.filter(F.col(value_col).isNotNull())
    if fixed_range is not None:
        # streaming-compatible mode: the range is a-priori (a stream
        # cannot see its min/max up front); out-of-range values clamp
        # to the edge buckets. With the computed range the lower clamp
        # is a no-op (val >= lo always), so both modes share the shape.
        lo_f, hi_f = float(fixed_range[0]), float(fixed_range[1])
        with_rng = df.withColumn("_lo", F.lit(lo_f)).withColumn("_hi", F.lit(hi_f))
    else:
        rng = df.groupBy(group).agg(
            F.min(F.col(value_col).cast("double")).alias("_lo"),
            F.max(F.col(value_col).cast("double")).alias("_hi"),
        )
        with_rng = df.join(F.broadcast(rng), group)
    width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins))
    bucket = F.when(
        F.col("_hi") > F.col("_lo"),
        F.greatest(
            F.lit(0).cast("long"),
            F.least(
                F.lit(n_bins - 1).cast("long"),
                F.floor(
                    (F.col(value_col).cast("double") - F.col("_lo")) / width
                ).cast("long"),
            ),
        ),
    ).otherwise(F.lit(0).cast("long"))
    counts = (
        with_rng
        .groupBy(F.col(group), bucket.alias("_b"), F.col("_lo"), F.col("_hi"))
        .agg(F.count("*").alias("_c"))
    )
    wcum = (
        Window.partitionBy(group)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(group)
    cum = counts.withColumn("_cum", F.sum("_c").over(wcum)).withColumn(
        "_n", F.sum("_c").over(wtot)
    )
    qs = F.explode(
        F.array(*[F.lit(float(q)) for q in quantiles])
    ).alias("q")
    hits = cum.select(
        F.col(group), "_b", "_lo", "_hi", "_cum", "_n", qs
    ).filter(F.col("_cum") >= F.ceil(F.col("q") * F.col("_n")).cast("long"))
    first = hits.groupBy(group, "q").agg(
        F.min("_b").alias("_b"), F.min("_lo").alias("_lo"), F.min("_hi").alias("_hi")
    )
    est = F.when(
        F.col("_hi") > F.col("_lo"),
        F.col("_lo")
        + (F.col("_b") + 1).cast("double")
        * ((F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins))),
    ).otherwise(F.col("_lo"))
    return first.select(
        F.col(group), F.col("q"), round_half_up(est).alias("p_est")
    )


def ohlc_downsample(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    tiebreak: str,
    bucket_seconds: int,
) -> DataFrame:
    """L9 OHLC downsampling: per (key, epoch-aligned bucket) emit the
    open/high/low/close of the measurement — the standard lossy
    time-series compaction for dashboards (candles) and long-term
    retention, one step past the reference's raw (deviceId, ts) bar
    series (reference docs/Power_BI_Dashboard.png, README.MD:182).

    Plan shape: ONE hash aggregate on (key, bucket) with full map-side
    combine — open/close come from min/max over (epoch, tiebreak, value)
    STRUCTS (lexicographic struct ordering; (epoch, tiebreak) is unique
    per row so the value field never decides), the same
    aggregate-instead-of-window trick as latest_value_per_key (E5) and
    compact_bursts (K8). No window, no second shuffle, and at 100 TB the
    partial aggregates bound every task's state to |open-struct| +
    |close-struct| + 2 doubles per in-flight group.

    NULL measurements are dropped up front: a NULL value field inside
    the ordering struct would corrupt lexicographic min/max, and
    min/max/count semantics over the remaining fields match SQL
    aggregates that skip NULLs anyway.

    Returns (key, bucket_start, open, high, low, close, n).
    """
    ep = F.unix_micros(F.col(ts_col))
    bucket_us = bucket_seconds * 1_000_000
    bucket_start = F.timestamp_micros(
        F.floor(ep / F.lit(bucket_us)).cast("long") * bucket_us
    )
    staged = df.filter(F.col(value_col).isNotNull()).select(
        F.col(key),
        bucket_start.alias("bucket_start"),
        F.struct(
            ep.alias("_e"), F.col(tiebreak).alias("_t"), F.col(value_col).alias("_v")
        ).alias("_o"),
        F.col(value_col).alias("_val"),
    )
    return (
        staged.groupBy(key, "bucket_start")
        .agg(
            F.min("_o").getField("_v").alias("open"),
            F.max("_val").alias("high"),
            F.min("_val").alias("low"),
            F.max("_o").getField("_v").alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def winsorize(
    df: DataFrame,
    group: str,
    value_col: str,
    tiebreak: str,
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> DataFrame:
    """L10 per-group winsorization: clamp each measurement into its
    group's exact [lo_q, hi_q] percentile band — the robust outlier
    treatment for sensor glitches (a stuck barometer at 2.4e305,
    reference preview-output-example.json:13, would otherwise poison
    every mean downstream). Clipping (not dropping) preserves row count
    and time alignment.

    The thresholds are exact rank-selection values (`exact_percentiles`
    — actual data values, bit-stable vs any ANSI oracle), pivoted to
    one (lo, hi) row per group and BROADCAST back into a pure map-side
    clamp — the wide stream never shuffles for the clip itself, the
    same aggregate-then-broadcast shape as J40's quality cut.

    Returns (tiebreak, group, value, clipped).
    """
    cuts = (
        exact_percentiles(df, group, value_col, tiebreak, quantiles=(lo_q, hi_q))
        .groupBy(group)
        .agg(
            F.max(F.when(F.col("q") == lo_q, F.col("p_value"))).alias("_lo"),
            F.max(F.when(F.col("q") == hi_q, F.col("p_value"))).alias("_hi"),
        )
    )
    return (
        df.join(F.broadcast(cuts), group)
        .select(
            F.col(tiebreak),
            F.col(group),
            F.col(value_col),
            F.least(F.greatest(F.col(value_col), F.col("_lo")), F.col("_hi")).alias(
                "clipped"
            ),
        )
    )


def funnel_counts(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    stages: list[str],
) -> DataFrame:
    """L11 ordered funnel analysis: how many users completed each prefix
    of the stage sequence IN TIME ORDER (first 'view', then the first
    'click' strictly after it, then the first 'purchase' strictly after
    that, ...). The product-analytics classic; strict inequality means
    same-timestamp stage pairs do not advance the funnel (documented,
    matches the oracle).

    Plan shape: stage k is ONE filtered aggregate (min event time per
    user) joined to stage k-1's per-user frame — every aggregate and
    join keys on the user, so all |stages| steps share one hash
    partitioning and AQE coalesces them into co-partitioned exchanges;
    per-user state is a single timestamp per stage. The output is the
    tiny |stages|-row summary (stage_idx, stage, n_users).
    """
    ev = df.select(F.col(user_col), F.col(ts_col), F.col(type_col))
    reached = (
        ev.filter(F.col(type_col) == stages[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t"))
    )
    frames = [reached]
    for s in stages[1:]:
        reached = (
            ev.filter(F.col(type_col) == s)
            .join(reached.select(user_col, "_t"), user_col)
            .filter(F.col(ts_col) > F.col("_t"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("_t"))
        )
        frames.append(reached)
    parts = [
        f.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i + 1).alias("stage_idx"),
            F.lit(s).alias("stage"),
            "n_users",
        )
        for i, (s, f) in enumerate(zip(stages, frames))
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    bucket_seconds: int = 604_800,
) -> DataFrame:
    """L12 cohort retention: users bucketed by their FIRST active
    epoch-week (cohort), counted in every later week they return —
    the (cohort_week, week_offset, n_users) retention triangle behind
    every growth dashboard.

    Plan shape: distinct (user, week) pairs (one shuffle), per-user min
    week (same user partitioning), join back on the user
    (co-partitioned), final count per (cohort, offset) — the
    (user, week) table is distinct by construction so a plain COUNT
    suffices, no COUNT(DISTINCT) shuffle. Weeks are epoch-aligned
    integer indices (portable arithmetic, no calendar functions).
    """
    wk = F.floor(
        F.unix_micros(F.col(ts_col)) / F.lit(bucket_seconds * 1_000_000)
    ).cast("long")
    uw = df.select(F.col(user_col), wk.alias("_w")).distinct()
    cohort = uw.groupBy(user_col).agg(F.min("_w").alias("_c"))
    return (
        uw.join(cohort, user_col)
        .groupBy(
            F.col("_c").alias("cohort_week"),
            (F.col("_w") - F.col("_c")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def rolling_active_users(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    window_days: int = 7,
    bucket_seconds: int = 86_400,
) -> DataFrame:
    """L13 rolling distinct actives (the WAU/DAU dashboard metric):
    for every epoch-day d in the data range, the number of DISTINCT
    users active in the trailing `window_days` ending at d.

    Plan shape: each distinct (user, day) pair fans out MAP-SIDE into
    the `window_days` windows it contributes to (the hopping-window
    trick — no self-join against a calendar), then ONE distinct on
    (user, window) and a combinable count per window. Windows ending
    after the last observed day are dropped (they would report partial
    futures); the bound is an O(1) driver scalar like J33's budget
    scalars. Exactness note: the (user, window) distinct is the
    inherent cost of EXACT rolling actives — at 100 TB pair it with the
    J30 KMV sketch per window for the bounded-state estimate, the same
    exact-vs-sketch pairing as percentiles (L4/L8).

    Returns (day, n_active) with day as the epoch-day index.
    """
    day = F.floor(
        F.unix_micros(F.col(ts_col)) / F.lit(bucket_seconds * 1_000_000)
    ).cast("long")
    ud = df.select(F.col(user_col), day.alias("_d")).distinct()
    max_day = ud.agg(F.max("_d").alias("_m")).collect()[0]["_m"]
    if max_day is None:
        return ud.select(
            F.col("_d").alias("day"), F.lit(0).cast("long").alias("n_active")
        ).limit(0)
    windows = F.explode(
        F.sequence(F.col("_d"), F.col("_d") + F.lit(window_days - 1))
    ).alias("day")
    return (
        ud.select(F.col(user_col), windows)
        .filter(F.col("day") <= max_day)
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


def zscore_normalize(
    df: DataFrame,
    group: str,
    value_col: str,
    tiebreak: str,
) -> DataFrame:
    """L14 per-group z-score normalization — the feature-scaling pass
    before anomaly thresholds or model features: (v - mean) / stddev
    with POPULATION stddev, NULL when the group has no variance (a
    constant sensor has no meaningful z).

    Parity/scale shape: mean and variance come from decimal-exact
    sum / sum-of-squares in ONE map-side-combinable aggregate per group
    (double accumulation is order-dependent; v^2 at |v|<=1e4 with 2dp
    fits DECIMAL(38,4) exactly), broadcast back into a map-side
    normalize — the stream never shuffles, the J40/L10
    aggregate-then-broadcast shape. The final scalar math runs in
    double, rounded half-up to 4 decimals.

    Returns (tiebreak, group, value, zscore).
    """
    dec = F.col(value_col).cast("decimal(18,2)")
    stats = df.groupBy(group).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(dec).alias("_s"),
        F.sum(dec * dec).alias("_ss"),
    )
    mean = F.col("_s").cast("double") / F.col("_n").cast("double")
    var = F.col("_ss").cast("double") / F.col("_n").cast("double") - mean * mean
    cuts = stats.select(
        F.col(group),
        mean.alias("_mean"),
        F.when(var > 0, F.sqrt(var)).alias("_std"),
    )
    return df.join(F.broadcast(cuts), group).select(
        F.col(tiebreak),
        F.col(group),
        F.col(value_col),
        round_half_up(
            (F.col(value_col) - F.col("_mean")) / F.col("_std")
        ).alias("zscore"),
    )


def mad_per_group(
    df: DataFrame,
    group: str,
    value_col: str,
    tiebreak: str,
) -> DataFrame:
    """L15 median absolute deviation per group: MAD = median(|x - median(x)|)
    — the robust dispersion pairing for L14's z-score (stddev is
    poisoned by a single stuck-sensor extreme like 2.4e305; MAD ignores
    up to half the points being garbage). Robust anomaly thresholds are
    |x - median| > k * MAD, the standard alternative to 3-sigma.

    Both medians are exact lower-median rank selections (actual data
    values — `exact_percentiles`' ceil(0.5*n) arithmetic, bit-stable vs
    any ANSI oracle, no interpolation); the per-group median table is
    tiny and BROADCASTS back for the deviation pass, so the stream
    never shuffles for the subtraction. Two rank passes = two window
    sorts on the same group key (one partitioning, reused). NULL
    measurements are dropped up front (they would shift rank positions).

    Returns (group, median_value, mad).
    """
    clean = df.filter(F.col(value_col).isNotNull())
    med = exact_percentiles(
        clean, group, value_col, tiebreak, quantiles=(0.5,)
    ).select(F.col(group), F.col("p_value").alias("median_value"))
    dev = clean.join(F.broadcast(med), group).select(
        F.col(group),
        F.col(tiebreak),
        F.abs(F.col(value_col) - F.col("median_value")).alias("_adev"),
    )
    mad = exact_percentiles(dev, group, "_adev", tiebreak, quantiles=(0.5,)).select(
        F.col(group), F.col("p_value").alias("mad")
    )
    return med.join(F.broadcast(mad), group)


def period_over_period(
    df: DataFrame,
    group: str,
    ts_col: str,
    value_col: str,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """L16 period-over-period deltas — the dashboard "top movers"
    classic: per (group, period) count + measurement total, each period
    compared to the group's PREVIOUS OBSERVED period (lag over the
    compacted period table, the same convention every BI tool uses for
    sparse series; gap periods simply don't exist as rows).

    Plan shape: ONE hash aggregate on (group, bucket) with map-side
    combine compacts the stream to <= |groups| x |periods| rows; the
    lag window then runs over that tiny compacted table (its sort cost
    is per-group periods, never events). Measurement totals accumulate
    in int64 micro-units (order-free, engine-portable); pct_change
    rounds 4dp, NULL for the group's first period and for a zero/NULL
    previous total.

    Returns (group, period_start, n, total, prev_total, delta_total,
    pct_change).
    """
    bucket = (
        F.floor(
            F.unix_micros(F.col(ts_col)) / F.lit(bucket_seconds * 1_000_000)
        ).cast("long")
    ).alias("_b")
    daily = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(group), bucket)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(micro_units(F.col(value_col))).alias("_s"),
        )
    )
    w = Window.partitionBy(group).orderBy("_b")
    total = round_half_up(F.col("_s").cast("double") / F.lit(MICRO))
    prev_s = F.lag("_s").over(w)
    prev_total = round_half_up(prev_s.cast("double") / F.lit(MICRO))
    delta = round_half_up((F.col("_s") - prev_s).cast("double") / F.lit(MICRO))
    pct = F.when(
        prev_s.isNotNull() & (prev_s != 0),
        round_half_up((F.col("_s") - prev_s).cast("double") / F.abs(prev_s.cast("double"))),
    )
    return daily.select(
        F.col(group),
        F.timestamp_seconds(F.col("_b") * bucket_seconds).alias("period_start"),
        F.col("n"),
        total.alias("total"),
        prev_total.alias("prev_total"),
        delta.alias("delta_total"),
        pct.alias("pct_change"),
    )


def trend_per_group(
    df: DataFrame,
    group: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """L17 per-group linear trend: least-squares slope of value over
    time (per day) and the Pearson correlation — the drift detector
    behind "is this sensor degrading" dashboards and data-quality
    monitors.

    Exactness across engines: all five moments (sum x, sum y, sum x^2,
    sum xy, sum y^2) accumulate as EXACT integers — y in half-up
    micro-units, x as microseconds SINCE THE GROUP'S FIRST EVENT —
    inside DECIMAL(38,0) aggregates (order-free; a double dot-product
    would be order-dependent across partitionings). Centering x on the
    per-group minimum is what keeps x^2 inside the 38-digit budget at
    any corpus age (raw epoch^2 ~ 3e30 per ROW would overflow the
    accumulator within 1e8 rows; span-centered x^2 is bounded by the
    group's time span — slope and corr are shift-invariant, exactly so
    in integer arithmetic). The closed-form numerators/denominators are
    exact decimals cast to double once, then one division (and one
    sqrt for corr) in fixed order, rounded 4dp.

    Plan shape: a narrow (group, t0) min-aggregate BROADCASTS back into
    the stream (map-side centering), then ONE moments aggregate with
    map-side combine — the stream shuffles only its per-task partial
    moment rows. Zero-span or constant-value groups yield NULL
    slope/corr (undefined), not 0.

    Returns (group, n, slope_per_day, corr).
    """
    clean = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group),
        F.unix_micros(F.col(ts_col)).alias("_t"),
        micro_units(F.col(value_col)).alias("_y"),
    )
    t0 = clean.groupBy(group).agg(F.min("_t").alias("_t0"))
    xd = (F.col("_t") - F.col("_t0")).cast("decimal(19,0)")
    yd = F.col("_y").cast("decimal(19,0)")
    moments = (
        clean.join(F.broadcast(t0), group)
        .select(F.col(group), xd.alias("_x"), yd.alias("_yd"))
        .groupBy(group)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_x").alias("_sx"),
            F.sum("_yd").alias("_sy"),
            F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
            F.sum(F.col("_x") * F.col("_yd")).alias("_sxy"),
            F.sum(F.col("_yd") * F.col("_yd")).alias("_syy"),
        )
    )
    nd = F.col("n").cast("decimal(38,0)")
    num = (nd * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    den_x = (nd * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    den_y = (nd * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    # x in us and y in micro-units cancel: num/den_x is micro-units per
    # us = value-units per second; * 86400 = per day
    slope = round_half_up(num / den_x * F.lit(86400.0))
    corr = round_half_up(num / F.sqrt(den_x * den_y))
    return moments.select(
        F.col(group),
        F.col("n"),
        F.when(den_x != 0.0, slope).alias("slope_per_day"),
        F.when((den_x != 0.0) & (den_y != 0.0), corr).alias("corr"),
    )


def rfm_segments(
    orders: DataFrame,
    cust_col: str,
    ts_col: str,
    amount_col: str,
    as_of: str,
    segment_col: str,
) -> DataFrame:
    """L19 RFM scoring — the classic customer segmentation: per
    customer, days since last order (vs a FIXED `as_of` reference date
    — a literal, not a global-max join, so the scoring pass is
    reproducible and joins nothing), order count, and lifetime monetary
    total (int64 cents, order-free), then quartile scores per dimension
    (ntile 4 — quartile 1 = most recent / most frequent / highest
    spend) and the concatenated RFM code.

    Scores are quartiles WITHIN `segment_col` (pass e.g. the market
    segment, pre-joined onto the fact): segment-relative scoring both
    avoids cross-segment spend skew dominating the M dimension and
    keeps every ntile window PARTITIONED — a global ntile would funnel
    all customers through one task (the single-partition exchange this
    repo bans). ntile needs its partition's full order by definition
    (the two-stage top-n cap cannot apply); at a scale where one
    segment's customer count itself overwhelms a task, switch the cut
    rule to broadcast value thresholds from the L8 binned sketch (the
    J40/L10 aggregate-then-broadcast shape) and accept threshold-tie
    semantics.

    Plan shape: ONE hash aggregate compacts the fact to |customers|
    rows (map-side combine); the three ntile windows sort only the
    compact table. Returns (cust, segment, recency_days, frequency,
    monetary, r, f, m, rfm_code).
    """
    per_cust = orders.groupBy(segment_col, cust_col).agg(
        F.max(F.unix_micros(F.col(ts_col))).alias("_last_us"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            F.floor(F.col(amount_col) * 100 + F.lit(0.5)).cast("long")
        ).alias("_cents"),
    )
    recency = F.floor(
        (
            F.unix_micros(F.lit(as_of).cast("timestamp")) - F.col("_last_us")
        ) / F.lit(86_400_000_000)
    ).cast("long")
    base = per_cust.select(
        F.col(segment_col),
        F.col(cust_col),
        recency.alias("recency_days"),
        F.col("frequency"),
        round_half_up(F.col("_cents").cast("double") / F.lit(100.0)).alias(
            "monetary"
        ),
    )
    wr = Window.partitionBy(segment_col).orderBy(
        F.col("recency_days"), F.col(cust_col)
    )
    wf = Window.partitionBy(segment_col).orderBy(
        F.col("frequency").desc(), F.col(cust_col)
    )
    wm = Window.partitionBy(segment_col).orderBy(
        F.col("monetary").desc(), F.col(cust_col)
    )
    scored = base.select(
        "*",
        F.ntile(4).over(wr).alias("r"),
        F.ntile(4).over(wf).alias("f"),
        F.ntile(4).over(wm).alias("m"),
    )
    return scored.withColumn(
        "rfm_code",
        F.concat(
            F.col("r").cast("string"),
            F.col("f").cast("string"),
            F.col("m").cast("string"),
        ),
    )


def event_transitions(
    df: DataFrame,
    key: str,
    ts_col: str,
    type_col: str,
    tiebreak: str,
) -> DataFrame:
    """L20 next-event transition counts — the first-order Markov view
    of user journeys (what follows a 'view'? how often does 'click'
    lead to 'purchase'?): per key in (ts, tiebreak) order, each
    consecutive (current, next) type pair counts once; `share` is the
    row-normalized transition probability. Terminal events (no
    successor) are dropped, matching the standard transition-matrix
    convention.

    Plan shape: one lead window on the key partitioning, one hash
    aggregate to the tiny |types|^2 pair table, and the normalizing
    window runs over that pair table only. Returns
    (from_type, to_type, n, share) with share rounded 4dp.
    """
    w = Window.partitionBy(key).orderBy(F.col(ts_col), F.col(tiebreak))
    pairs = (
        df.select(
            F.col(key),
            F.col(type_col).alias("from_type"),
            F.lead(type_col).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        round_half_up(
            F.col("n").cast("double") / F.sum("n").over(tot).cast("double")
        ).alias("share"),
    )


def data_profile(
    df: DataFrame,
    distinct_cols: tuple[str, ...] = (),
    numeric_cols: tuple[str, ...] = (),
    ts_cols: tuple[str, ...] = (),
) -> DataFrame:
    """J48 data-quality profile — the Deequ/dbt-test-style single-pass
    table summary every ingestion pipeline runs before trusting a drop:
    row count, per-column null counts, exact distinct counts for the
    declared key/enum columns, and min/max for numeric and timestamp
    columns, emitted as a tall (col_name, metric, value) table (one row
    per check, double-typed — the shape monitoring systems diff
    between loads).

    Plan shape: ONE aggregate over the table — null/min/max metrics are
    plain map-side-combined expressions; each exact count_distinct adds
    an Expand duplicate of the scan rows (the standard multi-distinct
    cost — profile runs accept it; for high-cardinality columns at
    100 TB swap in the J30 KMV sketch estimate, same output contract).
    The unpivot is a literal `stack` over the single result row —
    driver-side fan-out of a handful of scalars.

    Timestamps profile as epoch SECONDS (double); numeric min/max round
    4dp (portable); null counts and distincts are exact integers in
    double form.
    """
    # (col_name, metric, agg) triples — the metric labels travel beside
    # the expressions (never parsed back out of alias names, which
    # breaks on column names containing the delimiter); agg aliases are
    # positional and inert
    metrics: list[tuple[str, str, Column]] = [
        ("rows", "rows", F.count(F.lit(1)).cast("double"))
    ]
    for c in df.columns:
        metrics.append(
            (c, "nulls", F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("double"))
        )
    for c in distinct_cols:
        metrics.append((c, "distinct", F.count_distinct(F.col(c)).cast("double")))
    for c in numeric_cols:
        metrics.append((c, "min", round_half_up(F.min(F.col(c)).cast("double"))))
        metrics.append((c, "max", round_half_up(F.max(F.col(c)).cast("double"))))
    for c in ts_cols:
        ep = F.unix_micros(F.col(c)).cast("double") / F.lit(1e6)
        metrics.append((c, "min", F.min(ep)))
        metrics.append((c, "max", F.max(ep)))
    one = df.agg(
        *[agg.alias(f"_m{i}") for i, (_, _, agg) in enumerate(metrics)]
    )

    def lit_str(s: str) -> str:
        # escape backslashes FIRST (Spark SQL literals process escape
        # sequences), then quotes — review finding: 'x\\' otherwise
        # escapes the closing quote and 'a\\b' silently becomes a\x08
        return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

    parts = [
        f"{lit_str(col)}, {lit_str(metric)}, `_m{i}`"
        for i, (col, metric, _) in enumerate(metrics)
    ]
    return one.select(
        F.expr(f"stack({len(metrics)}, {', '.join(parts)})").alias(
            "col_name", "metric", "value"
        )
    )


def audience_overlap(
    df: DataFrame,
    user_col: str,
    type_col: str,
) -> DataFrame:
    """L21 audience overlap — for every unordered pair of event types,
    how many distinct users did both, plus each side's audience and the
    Jaccard overlap: the segment-intersection matrix behind "users who
    viewed also purchased" dashboards.

    Scale shape: the naive form self-joins the distinct (user, type)
    table on the user — a second shuffle and a join that skews on power
    users. Instead each user compacts to their SET of types (bounded by
    |types|, ONE exchange on the user with a map-side-combined
    collect_set partial), and the sorted set fans out its unordered
    pairs MAP-SIDE (|types|²/2 per user at worst) straight into the
    tiny pair-count aggregate; per-type audience totals ride the same
    set table. No self-join exists in the plan.

    Returns (type_a, type_b, n_both, n_a, n_b, jaccard) with
    type_a < type_b and jaccard rounded 4dp.
    """
    sets = (
        df.filter(F.col(type_col).isNotNull() & F.col(user_col).isNotNull())
        .groupBy(user_col)
        .agg(F.sort_array(F.collect_set(F.col(type_col))).alias("_types"))
    )
    # all ordered pairs (i < j) of the sorted set, map-side
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_types"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("_types"), i + 2, F.size(F.col("_types"))
                        ),
                        lambda b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                )
            )
        ).alias("_p")
    ).select(F.col("_p.a").alias("type_a"), F.col("_p.b").alias("type_b"))
    both = pairs.groupBy("type_a", "type_b").agg(F.count(F.lit(1)).alias("n_both"))
    totals = (
        sets.select(F.explode("_types").alias("_t"))
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    ta = totals.select(F.col("_t").alias("type_a"), F.col("_n").alias("n_a"))
    tb = totals.select(F.col("_t").alias("type_b"), F.col("_n").alias("n_b"))
    out = both.join(F.broadcast(ta), "type_a").join(F.broadcast(tb), "type_b")
    jac = round_half_up(
        F.col("n_both").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double")
    )
    return out.select("type_a", "type_b", "n_both", "n_a", "n_b", jac.alias("jaccard"))


def benford_profile(
    df: DataFrame,
    group: str,
    value_col: str,
) -> DataFrame:
    """J49 Benford first-digit profile per group — the fraud/data-quality
    screen: naturally-occurring positive measurements follow
    P(d) = log10(1 + 1/d); fabricated or clipped feeds don't. Emitted
    per (group, leading digit): observed count, observed share, the
    Benford expectation, and the deviation — the tall table an anomaly
    monitor thresholds.

    The leading digit comes from INTEGER string length, never log10
    (floor(log10(v)) is a classic cross-libm trap: log10(1000) can
    evaluate just under 3 and shift the digit): for v >= 1,
    d = floor(v / 10^(len(str(floor(v))) - 1)) — exact in both engines.
    Values below 1 and NULL/NaN are excluded (Benford applies to
    magnitudes >= 1; sub-1 readings would need rescaling, which belongs
    to the caller). One map-side digit expression + ONE hash aggregate;
    shares normalize over a window on the tiny (group, digit) table.
    """
    v = F.col(value_col).cast("double")
    clean = df.filter(v.isNotNull() & ~F.isnan(v) & (v >= 1.0))
    mag = F.length(F.floor(v).cast("long").cast("string"))
    digit = F.floor(v / F.pow(F.lit(10.0), (mag - 1).cast("double"))).cast("int")
    counts = clean.groupBy(F.col(group), digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = Window.partitionBy(group)
    share = F.col("n").cast("double") / F.sum("n").over(tot).cast("double")
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return counts.select(
        F.col(group),
        F.col("digit"),
        F.col("n"),
        round_half_up(share).alias("share"),
        round_half_up(expected).alias("benford_share"),
        round_half_up(share - expected).alias("deviation"),
    )


def gini_per_group(
    df: DataFrame,
    group: str,
    value_col: str,
    tiebreak: str,
) -> DataFrame:
    """L22 Gini concentration index per group — "is usage spread evenly
    or does one device dominate": G = (2*sum(i*x_i))/(n*sum(x)) - (n+1)/n
    over the ascending-sorted non-negative values (0 = perfectly even,
    ->1 = one member holds everything). The capacity-planning /
    fairness screen beside the histogram.

    Exactness: x in int64 micro-units; rank i from one window sort on
    (value, tiebreak); sum(i*x) accumulates in DECIMAL(38,0) (rank can
    reach group cardinality, so the product outgrows int64 at scale —
    same budget argument as the trend moments). The closed form divides
    exact decimals cast to double once, rounded 4dp. Negative values
    are rejected loudly (Gini is defined on non-negative quantities);
    NULL/NaN are dropped. Groups with sum(x) = 0 yield NULL.

    One window sort + ONE aggregate, both on the group partitioning.
    """
    v = F.col(value_col).cast("double")
    clean = df.filter(v.isNotNull() & ~F.isnan(v)).select(
        F.col(group), micro_units(v).alias("_x"), F.col(tiebreak).alias("_tb")
    )
    w = Window.partitionBy(group).orderBy(F.col("_x"), F.col("_tb"))
    ranked = clean.withColumn("_i", F.row_number().over(w))
    agg = ranked.groupBy(group).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_x").alias("_mn"),
        F.sum(F.col("_x").cast("decimal(38,0)")).alias("_sx"),
        F.sum(
            (F.col("_i").cast("decimal(19,0)") * F.col("_x").cast("decimal(19,0)"))
        ).alias("_six"),
    )
    nd = F.col("n").cast("double")
    gini = (
        F.lit(2.0) * F.col("_six").cast("double") / (nd * F.col("_sx").cast("double"))
        - (nd + F.lit(1.0)) / nd
    )
    checked = F.when(
        F.col("_mn") < 0,
        F.raise_error(F.lit("gini requires non-negative values")),
    ).otherwise(F.when(F.col("_sx") != 0, round_half_up(gini)))
    return agg.select(F.col(group), F.col("n"), checked.alias("gini"))


def seasonal_baseline(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    tiebreak: str,
) -> DataFrame:
    """L31 seasonal (hour-of-day) baseline deviation — the diurnal
    anomaly screen that a global mean can't give: a thermostat reading
    of 28° is normal at 15:00 and alarming at 03:00. Each measurement
    is scored against the mean of ITS OWN (key, hour-of-day) stratum.

    Plan shape: ONE shuffle on (key, hour) serving an unordered window
    aggregate — the stratum mean rides the same partitioning as the
    rows it scores, so no second pass and no join (the stats table at
    |keys|x24 would not broadcast at fleet scale). The mean sums
    DECIMAL(18,2) for order-independence (double accumulation is
    order-dependent across engines) and divides in double only at the
    end, the L14 z-score recipe.

    NULL/NaN measurements are dropped (they have no deviation).
    Returns (tiebreak, key, hr, value, baseline, deviation), 4dp.
    """
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull() & ~F.isnan(v)).select(
        F.col(tiebreak),
        F.col(key),
        F.hour(F.col(ts_col)).alias("hr"),
        v.alias("value"),
    )
    w = Window.partitionBy(key, "hr")
    dec = F.col("value").cast("decimal(18,2)")
    mean = F.sum(dec).over(w).cast("double") / F.count(F.lit(1)).over(w).cast(
        "double"
    )
    return base.select(
        tiebreak,
        key,
        "hr",
        "value",
        round_half_up(mean).alias("baseline"),
        round_half_up(F.col("value") - mean).alias("deviation"),
    )


def referential_orphans(
    child: DataFrame,
    checks: list[tuple[str, str, DataFrame, str, bool]],
    ) -> DataFrame:
    """L32 referential-integrity audit (one child table): for each
    (relationship, fk_col, parent, pk_col, broadcast) check, count the
    child rows whose non-NULL foreign key has no parent row — the
    orphan screen every warehouse load gate runs (the reference's FK
    constraints, README.MD:159-165, enforce this; Spark tables can't,
    so it becomes a query).

    All checks against one child table share ONE scan: every parent's
    key column left-joins on (its PK assumed unique — duplicated PKs
    would fan rows out and inflate every later count), dimension-sized
    parents broadcast (map-side, zero child shuffle), big parents are
    PINNED to a shuffle hash join (without the hint Spark's
    preferSortMergeJoin default turns the orders-sized edge into the
    repo-banned SortMergeJoin once it outgrows auto-broadcast — the
    smoke-scale plan gate can't see that), and a single
    aggregate produces all orphan counts at once, unpivoted by `stack`
    into the tall (relationship, n_child, n_orphans) report. NULL
    foreign keys are not orphans (they reference nothing).
    """
    df = child
    flags: list[tuple[str, str, str]] = []
    for i, (rel, fk, parent, pk, bc) in enumerate(checks):
        pcol = f"_pk{i}"
        pr = parent.select(F.col(pk).alias(pcol))
        pr = F.broadcast(pr) if bc else pr.hint("shuffle_hash")
        df = df.join(pr, F.col(fk) == F.col(pcol), "left")
        flags.append((rel, fk, pcol))
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, (rel, fk, pcol) in enumerate(flags):
        aggs.append(
            F.count(
                F.when(F.col(fk).isNotNull() & F.col(pcol).isNull(), 1)
            ).alias(f"_o{i}")
        )
    row = df.agg(*aggs)

    def lit_str(s: str) -> str:
        # same escaping as data_profile: backslashes first (Spark SQL
        # literals process escape sequences), then quotes — an
        # un-escaped caller label like "o'brien" would break the stack()
        return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"

    stack_args = ", ".join(
        f"{lit_str(rel)}, _o{i}" for i, (rel, _, _) in enumerate(flags)
    )
    return row.selectExpr(
        f"stack({len(flags)}, {stack_args}) AS (relationship, n_orphans)",
        "_n AS n_child",
    ).select("relationship", "n_child", "n_orphans")


def chi_square_cells(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """L23 chi-square contingency screen — observed vs expected count
    per (a, b) cell under independence, with each cell's chi-square
    contribution: the categorical drift/association test (is `lang`
    independent of `source`? did a crawl snapshot shift the mix?).
    Summing `contribution` gives the classic X^2 statistic with
    (|A|-1)(|B|-1) degrees of freedom.

    Plan shape: ONE shuffle to the |A|x|B| cell table; the row, column,
    and grand totals are aggregates OF THAT TINY TABLE broadcast back
    onto it (never a partition-all window, never a second pass over the
    raw data). Expected counts and contributions are plain double math
    written identically in the oracle. NULL categories are dropped.

    Returns (col_a, col_b, observed, expected 4dp, contribution 4dp).
    """
    cells = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(col_a, col_b)
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    rt = cells.groupBy(col_a).agg(F.sum("observed").alias("_r"))
    ct = cells.groupBy(col_b).agg(F.sum("observed").alias("_c"))
    g = cells.agg(F.sum("observed").alias("_n"))
    e = (
        F.col("_r").cast("double")
        * F.col("_c").cast("double")
        / F.col("_n").cast("double")
    )
    o = F.col("observed").cast("double")
    return (
        cells.join(F.broadcast(rt), col_a)
        .join(F.broadcast(ct), col_b)
        .crossJoin(F.broadcast(g))
        .select(
            col_a,
            col_b,
            "observed",
            round_half_up(e).alias("expected"),
            round_half_up((o - e) * (o - e) / e).alias("contribution"),
        )
    )


def last_touch_attribution(
    df: DataFrame,
    key: str,
    ts_col: str,
    type_col: str,
    tiebreak: str,
    conversion_type: str,
    lookback_seconds: int,
) -> DataFrame:
    """L24 last-touch conversion attribution — for every conversion
    event, which event type the user touched LAST within the lookback
    window, rolled up to credit totals: the standard marketing
    attribution report (what drives purchases?) and, for IoT, the
    what-preceded-the-failure triage view.

    One window sort per key serves everything: the attributed
    antecedent is `last(non-conversion (ts, type), ignorenulls)` over
    rows UNBOUNDED..-1 — a rows frame with a tiebreak order, NOT a
    range frame, so coincident timestamps resolve deterministically —
    and the lookback check compares the carried antecedent timestamp
    afterwards (a range frame could filter by time but cannot carry the
    tiebreak determinism). Conversions with no in-window antecedent
    credit '(none)'. The rollup is one aggregate of |types|+1 rows.

    Returns (attributed_type, n_conversions).
    """
    ts_us = F.unix_micros(F.col(ts_col))
    w = (
        Window.partitionBy(key)
        .orderBy(ts_us, F.col(tiebreak))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.last(
        F.when(
            F.col(type_col) != conversion_type,
            F.struct(ts_us.alias("t"), F.col(type_col).alias("ty")),
        ),
        ignorenulls=True,
    ).over(w)
    attributed = F.when(
        prev.isNotNull()
        & (prev["t"] >= ts_us - F.lit(int(lookback_seconds) * 1_000_000)),
        prev["ty"],
    ).otherwise(F.lit("(none)"))
    return (
        df.withColumn("_attr", attributed)
        .filter(F.col(type_col) == conversion_type)
        .groupBy(F.col("_attr").alias("attributed_type"))
        .agg(F.count(F.lit(1)).alias("n_conversions"))
    )


def pearson_from_moments(
    m: DataFrame,
    n_col: str,
    sx: str,
    sy: str,
    sxy: str,
    sxx: str,
    syy: str,
    out_col: str = "corr",
) -> DataFrame:
    """Shared L17/L25/L26 closed form: Pearson correlation from five
    exact DECIMAL(38,0) moments — num/den cast to double ONCE, one
    division and sqrt in fixed order, NULL when either margin has zero
    variance, 4dp half-up. One implementation site so the cross-engine
    rounding/NULL-variance contract can't drift between the three
    moment consumers."""
    nd = F.col(n_col).cast("decimal(38,0)")
    num = (nd * F.col(sxy) - F.col(sx) * F.col(sy)).cast("double")
    den_x = (nd * F.col(sxx) - F.col(sx) * F.col(sx)).cast("double")
    den_y = (nd * F.col(syy) - F.col(sy) * F.col(sy)).cast("double")
    corr = round_half_up(num / F.sqrt(den_x * den_y))
    return m.withColumn(
        out_col, F.when((den_x != 0.0) & (den_y != 0.0), corr)
    )


def metric_correlation(
    df: DataFrame,
    type_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """L25 cross-metric correlation matrix — pairwise Pearson
    correlation between metric types over their aligned DAILY mean
    series: the "which sensors move together" screen behind root-cause
    triage (battery dips tracking temperature spikes) and redundant-
    feature pruning.

    Two-stage exactness: stage 1 collapses the stream to the tiny
    (type, epoch-day, mean) table — DECIMAL-exact sums, one double
    division, then the daily mean FROZEN into half-up micro-units so
    stage 2 is integer arithmetic; stage 2 self-joins that table on day
    (type_a < type_b keeps each unordered pair once), accumulates the
    five moments in DECIMAL(38,0) (order-free), and applies the L17
    closed form — one double division and sqrt in fixed order, 4dp.
    Pairs with <2 shared days or zero variance yield NULL corr.

    Plan shape: the stream shuffles ONCE (to the daily aggregate, its
    partials map-side combined); everything after runs on the
    days x types table, with the smaller join side broadcast. Returns
    (type_a, type_b, n_days, corr).
    """
    v = F.col(value_col).cast("double")
    ep_day = (F.unix_micros(F.col(ts_col)) / F.lit(86_400_000_000)).cast("long")
    daily = (
        df.filter(v.isNotNull() & ~F.isnan(v))
        .select(F.col(type_col).alias("_ty"), ep_day.alias("_day"),
                v.cast("decimal(18,2)").alias("_v"))
        .groupBy("_ty", "_day")
        .agg(
            (
                F.floor(
                    F.sum("_v").cast("double")
                    / F.count(F.lit(1)).cast("double")
                    * F.lit(1_000_000.0)
                    + F.lit(0.5)
                )
            ).alias("_m")
        )
    )
    a = daily.select(
        F.col("_ty").alias("type_a"), F.col("_day"),
        F.col("_m").cast("decimal(19,0)").alias("_ya"),
    )
    b = daily.select(
        F.col("_ty").alias("type_b"), F.col("_day").alias("_day_b"),
        F.col("_m").cast("decimal(19,0)").alias("_yb"),
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("_day") == F.col("_day_b")) & (F.col("type_a") < F.col("type_b")),
    )
    m = pairs.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("_ya").alias("_sa"),
        F.sum("_yb").alias("_sb"),
        F.sum(F.col("_ya") * F.col("_yb")).alias("_sab"),
        F.sum(F.col("_ya") * F.col("_ya")).alias("_saa"),
        F.sum(F.col("_yb") * F.col("_yb")).alias("_sbb"),
    )
    return pearson_from_moments(
        m, "n_days", "_sa", "_sb", "_sab", "_saa", "_sbb"
    ).select("type_a", "type_b", "n_days", "corr")


def autocorr_per_key(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    tiebreak: str,
) -> DataFrame:
    """L26 lag-1 autocorrelation per key — Pearson correlation between
    each measurement and its successor: the "is this series trending or
    white noise" screen that decides whether K13/K18 smoothing has
    anything to smooth, and the residual-whiteness check after a model
    fit.

    One window sort per key builds the (x_t, x_{t+1}) pairs from
    consecutive NON-NULL measurements (NULL/NaN rows are removed before
    pairing, so the lag skips them rather than voiding two pairs); the
    same (key) partitioning then accumulates the five moments as exact
    DECIMAL(38,0) integers over half-up micro-unit values (the L17/L25
    order-free recipe) and applies the closed form — one double
    division and sqrt, 4dp. Keys with <2 pairs or zero variance on
    either margin yield NULL.

    Returns (key, n_pairs, acf1).
    """
    v = F.col(value_col).cast("double")
    clean = df.filter(v.isNotNull() & ~F.isnan(v)).select(
        F.col(key),
        F.unix_micros(F.col(ts_col)).alias("_t"),
        F.col(tiebreak).alias("_tb"),
        micro_units(v).cast("decimal(19,0)").alias("_x"),
    )
    w = Window.partitionBy(key).orderBy(F.col("_t"), F.col("_tb"))
    pairs = clean.select(
        F.col(key),
        F.col("_x"),
        F.lead("_x").over(w).alias("_y"),
    ).filter(F.col("_y").isNotNull())
    m = pairs.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    return pearson_from_moments(
        m, "n_pairs", "_sx", "_sy", "_sxy", "_sxx", "_syy", out_col="acf1"
    ).select(F.col(key), "n_pairs", "acf1")


def top_journeys(
    df: DataFrame,
    key: str,
    ts_col: str,
    type_col: str,
    tiebreak: str,
    gap_seconds: int = 3600,
    top_k: int = 20,
) -> DataFrame:
    """L27 top user journeys — the most common ordered event-type paths
    per session: the qualitative companion to L20's one-step transition
    matrix (which forgets everything but adjacent pairs) and L12's
    fixed funnel (which only counts the path you asked about).

    Plan shape: K1 sessionize (one key-partitioned sort), then each
    session's path assembles MAP-SIDE on the same partitioning — the
    ordered type sequence via the array_sort(collect_list(struct))
    trick (Spark has no ordered string_agg), joined with '>'; one
    aggregate to the |distinct journeys| table; top_k via
    orderBy().limit() = TakeOrderedAndProject with a lexicographic
    tie-break, never a global sort.

    Returns (journey, n_sessions), the top_k most frequent.
    """
    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        sessionize,
    )

    sess = sessionize(df, key, ts_col, gap_seconds, tiebreak)
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.unix_micros(F.col(ts_col)).alias("t"),
                F.col(tiebreak).alias("k"),
                F.col(type_col).alias("ty"),
            )
        )
    )
    journeys = (
        sess.groupBy(key, "session_id")
        .agg(arr.alias("_a"))
        .select(
            F.concat_ws(
                ">", F.transform(F.col("_a"), lambda x: x["ty"])
            ).alias("journey")
        )
    )
    return (
        journeys.groupBy("journey")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("journey").asc())
        .limit(top_k)
    )


def impute_median(
    df: DataFrame,
    group: str,
    value_col: str,
    tiebreak: str,
) -> DataFrame:
    """L28 median imputation — fill missing (NULL or NaN) measurements
    with their group's exact lower median: the robust ML-prep default
    (mean imputation inherits the stuck-sensor 2.4e305 problem L15
    exists to dodge). The was_imputed flag stays, as every downstream
    model wants it.

    The median comes from the same exact rank selection as L15
    (`exact_percentiles` over the NON-missing rows only — missing rows
    must not occupy rank positions); the tiny per-group median table
    BROADCASTS back, so the stream never shuffles — one window sort for
    the rank pass, one map-side fill pass. Groups that are ALL missing
    have no median and stay NULL (was_imputed still true).

    Returns (tiebreak, group, value, imputed_value, was_imputed).
    """
    v = F.col(value_col).cast("double")
    missing = v.isNull() | F.isnan(v)
    med = exact_percentiles(
        df.filter(~missing), group, value_col, tiebreak, quantiles=(0.5,)
    ).select(F.col(group), F.col("p_value").alias("_med"))
    return (
        df.join(F.broadcast(med), group, "left")
        .select(
            F.col(tiebreak),
            F.col(group),
            F.col(value_col),
            F.when(missing, F.col("_med")).otherwise(v).alias("imputed_value"),
            missing.alias("was_imputed"),
        )
    )


def daily_rollup_state(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """L29a mergeable daily rollup STATE — per (key, epoch-day):
    (n, micro-unit sum, min, max) with every field chosen to be
    associatively combinable, which is the property that makes
    incremental view maintenance correct (state(old) ⊕ state(delta) =
    state(old ∪ delta), no reprocessing of history). NULL/NaN
    measurements carry no state.
    """
    v = F.col(value_col).cast("double")
    day = (F.unix_micros(F.col(ts_col)) / F.lit(86_400_000_000)).cast("long")
    return (
        df.filter(v.isNotNull() & ~F.isnan(v))
        .select(F.col(key), day.alias("day"), v.alias("_v"))
        .groupBy(key, "day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(micro_units(F.col("_v"))).alias("_sum_micro"),
            F.min("_v").alias("min_value"),
            F.max("_v").alias("max_value"),
        )
    )


def merge_rollup_states(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """L29b incremental rollup merge — combine two rollup state tables
    (yesterday's materialized view + today's delta) WITHOUT touching
    raw history: a keys-partitioned aggregate over the two SMALL state
    tables, each field merged by its own associative law (counts and
    micro-sums add, min/min and max/max). The equivalence
    state(full) = merge(state(half1), state(half2)) is the oracle
    contract of `q_rollup_incremental` and the unit gate.
    """
    return (
        a.unionByName(b)
        .groupBy(*keys)
        .agg(
            F.sum("n").alias("n"),
            F.sum("_sum_micro").alias("_sum_micro"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )


def present_rollup(state: DataFrame, keys: list[str]) -> DataFrame:
    """L29c rollup presentation: micro-unit sums to 4dp doubles, plus
    the mean derived from (sum, n) — derived measures live OUTSIDE the
    state so merging stays exact."""
    return state.select(
        *keys,
        F.col("n"),
        round_half_up(F.col("_sum_micro").cast("double") / F.lit(MICRO)).alias(
            "sum_value"
        ),
        round_half_up(
            F.col("_sum_micro").cast("double")
            / F.lit(MICRO)
            / F.col("n").cast("double")
        ).alias("avg_value"),
        round_half_up(F.col("min_value")).alias("min_value"),
        round_half_up(F.col("max_value")).alias("max_value"),
    )


def trending_counts(
    df: DataFrame,
    type_col: str,
    ts_col: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """L30 trending screen — per (type, time bucket): event count, the
    previous bucket's count, and the growth ratio. The "what just took
    off" view behind alerting on error bursts and content trends; L16's
    day-over-day is the calendar special case, this is the generic
    bucketed form with gap-aware lag (a type silent for a bucket
    compares against its LAST ACTIVE bucket, not an imaginary zero —
    documented choice, matching the oracle).

    ONE shuffle to the (type, bucket) counts (map-side combined); the
    lag window runs over that aggregated table only. Growth is NULL for
    each type's first bucket; 4dp.

    Returns (type, bucket_start, n, prev_n, growth).
    """
    b_us = int(bucket_seconds) * 1_000_000
    # floor division, NOT double-divide-and-cast: the cast truncates
    # toward zero, so pre-epoch timestamps would land one bucket high —
    # diverging from both the oracle's // and the streaming twin
    bucket = F.floor(
        F.unix_micros(F.col(ts_col)) / F.lit(b_us)
    ).cast("long") * F.lit(b_us)
    counts = (
        df.select(F.col(type_col).alias("type"), bucket.alias("_b"))
        .groupBy("type", "_b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("type").orderBy(F.col("_b"))
    return counts.select(
        "type",
        F.timestamp_micros(F.col("_b")).alias("bucket_start"),
        "n",
        F.lag("n").over(w).alias("prev_n"),
        round_half_up(
            F.col("n").cast("double") / F.lag("n").over(w).cast("double")
        ).alias("growth"),
    )


def survival_curve(
    df: DataFrame,
    key: str,
    ts_col: str,
) -> DataFrame:
    """L33 Kaplan-Meier survival curve over observed lifespans — the
    churn/retention statistic (Kaplan & Meier 1958, public): for each
    observed lifespan t (whole days between a key's first and last
    event), the fraction of the population still "alive" after t,
    S(t) = prod_{t_j <= t} (1 - d_j / n_j) with d_j deaths at t_j and
    n_j the at-risk count. Complete-observation model (every key's
    lifespan is observed — no censoring; the standard estimator
    degenerates to exactly this product, kept in KM form so censoring
    can be added without changing the algebra).

    Plan shape: ONE shuffle to per-key lifespans, one aggregate to the
    tiny (distinct-lifespan, deaths) table, then the WHOLE curve
    computes inside a single-row array fold: elements mapped to
    [d, 0] pairs, accumulator [cum_deaths, running_product] seeded
    [0, 1] — the DOUBLE[]-pair fold (NOT a struct accumulator: DuckDB
    1.0 evaluates struct-fold fields against a mutated accumulator, the
    measured K18 bug) with the oracle running list_reduce over the
    list_prepend'ed identical seed, so both engines execute the same
    IEEE multiply/divide sequence. O(n^2) prefix folds over a
    |distinct lifespans| array — bounded by the observation window in
    days, never by corpus size.

    Returns (t_days, deaths, at_risk, survival 6dp) ordered data
    (one row per distinct lifespan).
    """
    ts_us = F.unix_micros(F.col(ts_col))
    spans = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(key)
        .agg(
            ((F.max(ts_us) - F.min(ts_us)) / F.lit(86_400_000_000))
            .cast("long")
            .alias("_t")
        )
    )
    deaths = spans.groupBy("_t").agg(F.count(F.lit(1)).alias("_d"))
    one = deaths.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("_t"), F.col("_d")))
        ).alias("_arr"),
        F.sum("_d").alias("_n")
    ).filter(F.size("_arr") > 0)  # empty input: zero rows, like the
    # oracle — without this, sequence(1, 0) DESCENDS and arrays_zip
    # pads two phantom rows
    n_total = F.col("_n").cast("double")
    mapped = F.transform(
        F.col("_arr"),
        lambda x: F.array(x["_d"].cast("double"), F.lit(0.0)),
    )
    folds = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_arr"))),
        lambda i: F.aggregate(
            F.slice(mapped, 1, i),
            F.array(F.lit(0.0), F.lit(1.0)),
            lambda acc, x: F.array(
                F.element_at(acc, 1) + F.element_at(x, 1),
                F.element_at(acc, 2)
                * (
                    F.lit(1.0)
                    - F.element_at(x, 1) / (n_total - F.element_at(acc, 1))
                ),
            ),
        ),
    )
    exploded = one.select(
        F.col("_n"),
        F.posexplode(F.arrays_zip(F.col("_arr"), folds)).alias("_i", "_z")
    )
    cum_after = F.col("_z")["1"].getItem(0)
    surv = F.col("_z")["1"].getItem(1)
    return exploded.select(
        F.col("_z")["_arr"]["_t"].alias("t_days"),
        F.col("_z")["_arr"]["_d"].alias("deaths"),
        (F.col("_n") - cum_after.cast("long") + F.col("_z")["_arr"]["_d"])
        .alias("at_risk"),
        round_half_up(surv, 6).alias("survival"),
    )


def ab_mean_test(
    df: DataFrame,
    flag: Column,
    value_col: str,
) -> DataFrame:
    """L34 two-sample mean comparison — the experimentation readout
    (did variant B move the metric?): per arm n/mean/variance from ONE
    map-side-combined aggregate (DECIMAL-exact sum and sum-of-squares,
    the L14 recipe — double accumulation is order-dependent), then the
    Welch-style z statistic z = (mean_b - mean_a) /
    sqrt(var_a/n_a + var_b/n_b) with population variances, computed in
    fixed double order. No p-value (normal CDF is a cross-libm trap —
    erf differs in the last ulp between engines); |z| > 1.96 is the
    standard 5% read.

    The arm assignment is the caller's Column (a hash split, a flag
    column, a date cutoff), so the operator composes with J19's
    hash_split for real experiment plumbing. NULL/NaN measurements
    drop. Degenerate inputs stay visible instead of crashing or lying:
    an empty arm yields NULL mean/z with its n at 0 (still one row);
    constant arms clamp the FP-cancelled variance at 0 and yield NULL z
    (undefined), never sqrt(negative).

    Returns ONE row: (n_a, n_b, mean_a, mean_b, diff, z), 4dp.
    """
    v = F.col(value_col).cast("double")
    dec = v.cast("decimal(18,2)")
    tagged = df.filter(v.isNotNull() & ~F.isnan(v)).select(
        flag.alias("_b"), dec.alias("_v")
    )

    def side(cond, suffix):
        n = F.count(F.when(cond, 1)).alias(f"_n{suffix}")
        sm = F.sum(F.when(cond, F.col("_v"))).alias(f"_s{suffix}")
        ss = F.sum(F.when(cond, F.col("_v") * F.col("_v"))).alias(
            f"_ss{suffix}"
        )
        return [n, sm, ss]

    # ONE conditional aggregate — always exactly one output row, even
    # when an arm is empty (its mean/var surface as NULL, never a
    # silently-vanishing result)
    row = tagged.agg(*side(~F.col("_b"), "a"), *side(F.col("_b"), "b"))

    def stats(suffix):
        n = F.col(f"_n{suffix}").cast("double")
        mean = F.when(
            F.col(f"_n{suffix}") > 0, F.col(f"_s{suffix}").cast("double") / n
        )
        # greatest(..., 0): FP cancellation can push a constant arm's
        # moment variance to ~-1e-18; sqrt of that is NaN on the Spark
        # side and a hard error in the oracle
        var = F.greatest(
            F.col(f"_ss{suffix}").cast("double") / n - mean * mean,
            F.lit(0.0),
        )
        return n, mean, var

    na, ma, va = stats("a")
    nb, mb, vb = stats("b")
    denom = F.sqrt(va / na + vb / nb)
    z = F.when(denom > 0, (mb - ma) / denom)
    return row.select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        round_half_up(ma).alias("mean_a"),
        round_half_up(mb).alias("mean_b"),
        round_half_up(mb - ma).alias("diff"),
        round_half_up(z).alias("z"),
    )


def schema_drift(a: DataFrame, b: DataFrame) -> DataFrame:
    """L35 schema-drift report — the data-contract check run before
    appending a new batch to an existing table (the silent killer at a
    continuously-written bronze layout: an upstream type widening
    corrupts every reader downstream). PURE METADATA — no job runs; the
    result is a local relation built from the two schemas.

    Status per column: 'ok' (same type), 'type_changed', 'added' (only
    in b), 'removed' (only in a). Order: a's columns first (in a's
    order), then b-only columns in b's order. Duplicate column names
    (legal on a post-join frame, invalid for any stored table this
    check exists to protect) raise rather than silently comparing the
    last duplicate's type. Name matching is EXACT (case-sensitive) —
    a case-only rename is reported as removed+added, which for a data
    contract is the honest answer.
    """
    for side, frame in (("a", a), ("b", b)):
        names = [f.name for f in frame.schema.fields]
        if len(names) != len(set(names)):
            dupes = sorted({n for n in names if names.count(n) > 1})
            raise ValueError(
                f"schema_drift: duplicate column name(s) in {side}: {dupes}"
            )
    ta = {f.name: f.dataType.simpleString() for f in a.schema.fields}
    tb = {f.name: f.dataType.simpleString() for f in b.schema.fields}
    rows = []
    for name in [f.name for f in a.schema.fields]:
        if name not in tb:
            rows.append((name, ta[name], None, "removed"))
        elif ta[name] != tb[name]:
            rows.append((name, ta[name], tb[name], "type_changed"))
        else:
            rows.append((name, ta[name], tb[name], "ok"))
    for name in [f.name for f in b.schema.fields]:
        if name not in ta:
            rows.append((name, None, tb[name], "added"))
    return a.sparkSession.createDataFrame(
        rows, "column string, type_a string, type_b string, status string"
    )


def lorenz_curve(
    spend: DataFrame,
    key: str,
    value_col: str,
) -> DataFrame:
    """L36 Lorenz curve — the concentration curve behind L22's Gini
    scalar: for the population sorted by value ascending, each member's
    cumulative population share vs cumulative value share ("the bottom
    40% of customers carry 6% of revenue"). `value_col` must be
    integer units (cents/micro) and non-negative.

    Scale shape: rank comes from `global_row_number` and the running
    total from `global_cumsum` — the SAME range-bucketing machinery, so
    neither plans the single-task global sort this curve tempts; the
    grand totals are a one-row aggregate broadcast onto the curve.

    Returns (key, value, rank, pop_share, value_share), shares 6dp.
    """
    from azure_iot_realtime_data_pipeline_spark.operators.ordering import (
        global_rank_and_cumsum,
    )

    # materialize ONCE: the two primitives each run a quantile pass and a
    # bucket-stats pass, and the totals aggregate is a fifth consumer —
    # without the checkpoint every one of them recomputes the caller's
    # full upstream lineage (the review-measured 5x scan bill)
    base = spend.select(F.col(key), F.col(value_col).alias("_v")).localCheckpoint(
        eager=True
    )
    # fused rank+cumsum (r13): one quantile pass, one bucket-stats
    # collect and one window sort instead of two of each — values
    # bit-identical to the sequential primitives (same oracle)
    summed = global_rank_and_cumsum(base, ["_v", key], "_v", "rank", "_cum")
    totals = base.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_v").alias("_tot")
    )
    return summed.crossJoin(F.broadcast(totals)).select(
        F.col(key),
        F.col("_v").alias("value"),
        "rank",
        round_half_up(
            F.col("rank").cast("double") / F.col("_n").cast("double"), 6
        ).alias("pop_share"),
        round_half_up(
            F.col("_cum").cast("double") / F.col("_tot").cast("double"), 6
        ).alias("value_share"),
    )


def basket_lift(
    df: DataFrame,
    basket_cols: list[str],
    item_col: str,
) -> DataFrame:
    """L37 market-basket lift — association strength between item pairs
    across baskets: lift(a,b) = P(a,b) / (P(a) P(b)), computed as
    n_both * n_baskets / (n_a * n_b). Lift > 1 means the pair
    co-occurs more than independence predicts — "users who error also
    purchase?" — the counting core of association-rule mining (Agrawal
    et al. 1993, public). L21's audience overlap is the single-key
    user-intersection special case; the basket here is any composite
    key (e.g. user x day). No logarithms by design (PMI's log is a
    cross-libm trap) — lift carries the same ordering.

    Scale shape (the L21 recipe on a composite key): each basket
    compacts to its sorted item SET in ONE exchange, unordered pairs
    fan out MAP-SIDE into the tiny pair aggregate, marginals ride the
    same set table, the one-row basket count broadcasts. No self-join.

    Returns (item_a, item_b, n_both, n_a, n_b, n_baskets, lift 4dp).
    """
    clean = df.filter(F.col(item_col).isNotNull())
    for c in basket_cols:
        clean = clean.filter(F.col(c).isNotNull())
    sets = clean.groupBy(*basket_cols).agg(
        F.sort_array(F.collect_set(F.col(item_col))).alias("_items")
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_items"),
                    lambda a, i: F.transform(
                        F.slice(
                            F.col("_items"), i + 2, F.size(F.col("_items"))
                        ),
                        lambda b: F.struct(a.alias("a"), b.alias("b")),
                    ),
                )
            )
        ).alias("_p")
    ).select(F.col("_p.a").alias("item_a"), F.col("_p.b").alias("item_b"))
    both = pairs.groupBy("item_a", "item_b").agg(
        F.count(F.lit(1)).alias("n_both")
    )
    totals = (
        sets.select(F.explode("_items").alias("_t"))
        .groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    n_baskets = sets.agg(F.count(F.lit(1)).alias("n_baskets"))
    ta = totals.select(F.col("_t").alias("item_a"), F.col("_n").alias("n_a"))
    tb = totals.select(F.col("_t").alias("item_b"), F.col("_n").alias("n_b"))
    out = (
        both.join(F.broadcast(ta), "item_a")
        .join(F.broadcast(tb), "item_b")
        .crossJoin(F.broadcast(n_baskets))
    )
    lift = round_half_up(
        F.col("n_both").cast("double")
        * F.col("n_baskets").cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return out.select(
        "item_a", "item_b", "n_both", "n_a", "n_b", "n_baskets",
        lift.alias("lift"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """L38 snapshot differ — the change-data-capture generator: given
    two snapshots of a keyed table, emit one row per changed key with
    op in {insert, delete, update} — what a CDC feed would have carried
    between the snapshots, reconstructed from state (the fallback every
    pipeline needs when the upstream has no change log).

    ONE full outer hash join on the key (PINNED shuffle-hash: Spark's
    preferSortMergeJoin default would otherwise plan the repo-banned
    SortMergeJoin — full outer cannot broadcast); change classification
    is a map-side null-safe struct comparison of the compared columns
    (eqNullSafe — NULL-to-value transitions are real updates, NULL==
    NULL is no change). Unchanged keys drop. Keys must be unique per
    snapshot (duplicates would fan the join out — the same PK contract
    as L32's orphan audit).

    Returns (op, *key_cols) plus old_/new_ pairs of compare_cols.
    """
    o = old.select(
        *[F.col(k).alias(f"_ko_{k}") for k in key_cols],
        F.struct(*[F.col(c) for c in compare_cols]).alias("_vo"),
    )
    nw = new.select(
        *[F.col(k).alias(f"_kn_{k}") for k in key_cols],
        F.struct(*[F.col(c) for c in compare_cols]).alias("_vn"),
    )
    cond = None
    for k in key_cols:
        c = F.col(f"_ko_{k}") == F.col(f"_kn_{k}")
        cond = c if cond is None else (cond & c)
    j = o.join(nw.hint("shuffle_hash"), cond, "full_outer")
    # side-presence via the value struct (non-NULL whenever the row
    # exists, even with NULL fields), not via key NULL-ness — a
    # NULL-key row's own key can't distinguish absent from present
    old_missing = F.col("_vo").isNull()
    new_missing = F.col("_vn").isNull()
    op = (
        F.when(old_missing, F.lit("insert"))
        .when(new_missing, F.lit("delete"))
        .when(~F.col("_vo").eqNullSafe(F.col("_vn")), F.lit("update"))
    )
    out_cols = [
        F.coalesce(F.col(f"_ko_{k}"), F.col(f"_kn_{k}")).alias(k)
        for k in key_cols
    ]
    for c in compare_cols:
        out_cols.append(F.col("_vo")[c].alias(f"old_{c}"))
        out_cols.append(F.col("_vn")[c].alias(f"new_{c}"))
    return j.select(op.alias("op"), *out_cols).filter(F.col("op").isNotNull())


def reconcile_feeds(
    a: DataFrame,
    b: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tolerance_seconds: int,
    group_col: str,
) -> DataFrame:
    """L39 cross-feed reconciliation — do two event feeds agree? Each
    side's row counts as MATCHED when the other feed has at least one
    row with the same keys within the time tolerance (the standard
    exists-based recon — deliberately NOT one-to-one assignment, which
    is a matching problem no warehouse runs at scale). The daily
    source-vs-sink audit every ingestion pipeline needs.

    Plan shape: two semi joins (one per direction) on the key equality
    with the |ts diff| band as the join residual — hash joins on the
    keys, never a cross product; the per-group rollups aggregate the
    semi-join outputs and FULL-outer-merge (shuffle-hash pinned) so a
    group present in only one feed still reports. NULL keys never
    match (SQL equality), counting as unmatched.

    Returns (group, n_a, matched_a, unmatched_a, n_b, matched_b,
    unmatched_b).
    """
    tol_us = int(tolerance_seconds) * 1_000_000

    def matched(x: DataFrame, y: DataFrame) -> DataFrame:
        yk = y.select(
            *[F.col(k).alias(f"_y_{k}") for k in key_cols],
            F.unix_micros(F.col(ts_col)).alias("_y_t"),
        )
        cond = None
        for k in key_cols:
            c = x[k] == F.col(f"_y_{k}")
            cond = c if cond is None else (cond & c)
        cond = cond & (
            F.abs(F.unix_micros(x[ts_col]) - F.col("_y_t")) <= tol_us
        )
        # pinned shuffle-hash: past the broadcast threshold the default
        # would be the repo-banned SortMergeJoin (the group-level merge
        # below is pinned for the same reason)
        return x.join(yk.hint("shuffle_hash"), cond, "left_semi")

    def rollup(x: DataFrame, m: DataFrame, side: str) -> DataFrame:
        tot = x.groupBy(F.col(group_col).alias("group")).agg(
            F.count(F.lit(1)).alias(f"n_{side}")
        )
        mm = m.groupBy(F.col(group_col).alias("group")).agg(
            F.count(F.lit(1)).alias(f"matched_{side}")
        )
        return tot.join(mm, "group", "left").select(
            "group",
            f"n_{side}",
            F.coalesce(F.col(f"matched_{side}"), F.lit(0)).alias(
                f"matched_{side}"
            ),
        )
    ra = rollup(a, matched(a, b), "a")
    rb = rollup(b, matched(b, a), "b")
    merged = ra.join(rb.hint("shuffle_hash"), "group", "full_outer")
    z = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
    return merged.select(
        "group",
        z("n_a").alias("n_a"),
        z("matched_a").alias("matched_a"),
        (z("n_a") - z("matched_a")).alias("unmatched_a"),
        z("n_b").alias("n_b"),
        z("matched_b").alias("matched_b"),
        (z("n_b") - z("matched_b")).alias("unmatched_b"),
    )


def cdc_apply(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """L43 CDC apply — the inverse of `snapshot_diff` (L38): given a
    snapshot and a change feed in the differ's own (op, keys, old_*,
    new_*) shape, produce the next snapshot: deletes drop, inserts and
    updates take their new_* values, untouched keys pass through. The
    algebra the pair forms is the actual correctness contract and is
    gated end-to-end: apply(old, diff(old, new)) == new — in the
    registered query the ORACLE recomputes `new` directly, so the
    driver hash-checks the round-trip itself.

    Plan: one anti join of the base against the change keys (PINNED
    shuffle-hash — a change feed is fact-sized in a real CDC stream,
    and the static fallback is the banned SortMergeJoin) + a map-side
    projection of the non-delete changes, unioned. The change feed is
    lazily localCheckpointed: BOTH branches consume it, and without the
    materialization the differ's full-outer join would execute twice
    per action. Keys must be unique per side (the differ's own PK
    contract) and the anti join matches them NULL-SAFELY — the differ
    explicitly supports NULL keys, and a plain-equality anti join would
    keep a NULL-keyed base row its delete was meant to remove (review
    r7 s5 pass 5)."""
    changes = changes.localCheckpoint(eager=False)
    ch = changes.select(*[F.col(k).alias(f"_ck_{k}") for k in key_cols])
    cond = None
    for k in key_cols:
        c = F.col(k).eqNullSafe(F.col(f"_ck_{k}"))
        cond = c if cond is None else (cond & c)
    survivors = base.select(*key_cols, *compare_cols).join(
        ch.hint("shuffle_hash"), cond, "left_anti"
    )
    upserts = changes.filter(F.col("op") != "delete").select(
        *key_cols,
        *[F.col(f"new_{c}").alias(c) for c in compare_cols],
    )
    return survivors.unionByName(upserts)


def association_rules(
    df: DataFrame,
    basket_cols: list[str],
    item_col: str,
    min_confidence: float = 0.1,
) -> DataFrame:
    """L44 association rules — the directed reading of L37's pair
    counts (Agrawal et al. 1993): rule a -> b with
    support = n_both/n_baskets and confidence = n_both/n_a, lift
    shared with the undirected pair. Confidence is what acts on a rule
    (given a, how often b?) and is ASYMMETRIC — the same pair yields
    two rules with different confidences, exactly the containment-vs-
    Jaccard distinction on the dedup side.

    Plan: L37's one-exchange pair/marginal machinery unchanged, then a
    MAP-SIDE array-explode emits both directions (never a second pass
    over baskets); the confidence cut applies AFTER 4 dp rounding so
    the threshold is engine-portable."""
    base = basket_lift(df, basket_cols, item_col)
    directed = base.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("antecedent"),
                    F.col("item_b").alias("consequent"),
                    F.col("n_both"),
                    F.col("n_a").alias("n_antecedent"),
                    F.col("n_baskets"),
                    F.col("lift"),
                ),
                F.struct(
                    F.col("item_b").alias("antecedent"),
                    F.col("item_a").alias("consequent"),
                    F.col("n_both"),
                    F.col("n_b").alias("n_antecedent"),
                    F.col("n_baskets"),
                    F.col("lift"),
                ),
            )
        ).alias("_r")
    ).select("_r.*")
    return directed.select(
        "antecedent",
        "consequent",
        "n_both",
        round_half_up(
            F.col("n_both").cast("double") / F.col("n_baskets").cast("double")
        ).alias("support"),
        round_half_up(
            F.col("n_both").cast("double")
            / F.col("n_antecedent").cast("double")
        ).alias("confidence"),
        "lift",
    ).filter(F.col("confidence") >= min_confidence)


def window_funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    stages: list[str],
    window_seconds: int,
) -> DataFrame:
    """L47 sliding-window funnel (ClickHouse windowFunnel semantics):
    how many users completed each stage prefix IN ORDER with the whole
    chain inside `window_seconds` of its FIRST-stage anchor event. The
    missing constraint in L11's unconstrained funnel — "viewed then
    bought" is a different product question from "viewed then bought
    within two days", and the unconstrained count only ever
    overstates.

    Every first-stage event is a candidate ANCHOR (a user's earliest
    chain may overrun the window while a later one completes, so
    anchoring only the first occurrence — the tempting shortcut —
    undercounts). Per anchor the chain is built greedily: stage k's
    event is the EARLIEST of its type strictly after stage k-1's and
    within the anchor window; greedy is optimal for a fixed anchor
    because an earlier stage-k timestamp only widens stage k+1's
    feasible interval. A user counts at level k if ANY anchor chain
    reaches it.

    Plan shape: L11's discipline — every per-stage aggregate and join
    keys on the user (anchor rides as a second group key), so all
    |stages| steps share one hash partitioning; per-user fan-out is
    bounded by that user's first-stage event count. Chain timestamps
    compare in integer epoch micros on both engines. The |stages|
    one-row level counts are the sanctioned global-summary tail, same
    as q_funnel.

    Each stage frame is localCheckpoint'ed (the L27/L48 discipline):
    stage k's join reads stage k-1's MATERIALIZED survivors and each
    level count aggregates its own checkpoint, so the chain executes
    once — uncheckpointed, every one of the |stages| counts re-executed
    the whole join chain from the scan, O(stages^2) stage work
    (r8 ADVICE).
    """
    ev = df.select(
        F.col(user_col),
        F.unix_micros(F.col(ts_col)).alias("_ep"),
        F.col(type_col),
    ).filter(F.col(ts_col).isNotNull())
    w_us = int(window_seconds) * 1_000_000
    anchors = ev.filter(F.col(type_col) == stages[0]).select(
        F.col(user_col), F.col("_ep").alias("_a")
    )
    reached = anchors.withColumn("_t", F.col("_a")).localCheckpoint(
        eager=True
    )
    frames = [reached]
    for s in stages[1:]:
        reached = (
            ev.filter(F.col(type_col) == s)
            .join(reached.select(user_col, "_a", "_t"), user_col)
            .filter(
                (F.col("_ep") > F.col("_t"))
                & (F.col("_ep") <= F.col("_a") + F.lit(w_us))
            )
            .groupBy(user_col, "_a")
            .agg(F.min("_ep").alias("_t"))
            .localCheckpoint(eager=True)
        )
        frames.append(reached)
    parts = [
        f.agg(F.countDistinct(user_col).cast("long").alias("n_users")).select(
            F.lit(i + 1).alias("stage_idx"),
            F.lit(s).alias("stage"),
            "n_users",
        )
        for i, (s, f) in enumerate(zip(stages, frames))
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """L48 mutual information between two categorical columns — ONE row
    (n, n_cells, mi_nats, h_a, h_b, nmi): MI = sum over cells of
    p_ab * ln(p_ab / (p_a p_b)), the information-theoretic sibling of
    L23's chi-square on the identical contingency machinery. Chi-square
    answers "is the association statistically surprising"; MI answers
    "how many nats does knowing one column buy about the other", and
    NMI = MI / sqrt(H(A) H(B)) makes it comparable across column pairs
    — the feature-redundancy screen (a near-1 NMI column pair is one
    column stored twice).

    Plan shape: L23's — one corpus shuffle to the |A|x|B| cell table,
    row/column/grand totals as tiny aggregates OF that table broadcast
    back on. Exactness is the J71 pinned-ln idiom: each cell's ln ratio
    pins to int64 micro-nats, the p-weighted contribution pins again,
    and the one-row sums are order-free int64; the final NMI is one
    mirrored sqrt+division over the exact micro sums, rounded 4 dp.
    NULL categories are dropped (L23's contract); a degenerate marginal
    (single category => zero entropy) reports NULL nmi rather than a
    division blow-up. Empty input returns the SQL aggregate's one
    all-NULL row on both engines.
    """
    cells = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(col_a, col_b)
        .agg(F.count(F.lit(1)).alias("observed"))
        .localCheckpoint(eager=True)
    )
    rt = cells.groupBy(col_a).agg(F.sum("observed").alias("_r"))
    ct = cells.groupBy(col_b).agg(F.sum("observed").alias("_c"))
    g = cells.agg(F.sum("observed").alias("_n"))

    def _pinned_plogp(tot: Column, n: Column) -> Column:
        p = tot.cast("double") / n.cast("double")
        lm = F.floor(F.log(p) * 1_000_000.0 + F.lit(0.5)).cast("long")
        return F.floor(p * lm.cast("double") + F.lit(0.5)).cast("long")

    joined = (
        cells.join(F.broadcast(rt), col_a)
        .join(F.broadcast(ct), col_b)
        .crossJoin(F.broadcast(g))
    )
    o = F.col("observed").cast("double")
    ratio = (
        o
        * F.col("_n").cast("double")
        / (F.col("_r").cast("double") * F.col("_c").cast("double"))
    )
    lnr = F.floor(F.log(ratio) * 1_000_000.0 + F.lit(0.5)).cast("long")
    contrib = F.floor(
        (o / F.col("_n").cast("double")) * lnr.cast("double") + F.lit(0.5)
    ).cast("long")
    mi_row = joined.select(
        contrib.alias("_mi"), F.col("_n")
    ).agg(
        F.sum("_mi").alias("_mi_micro"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.max("_n").cast("long").alias("n"),
    )
    ha_row = (
        rt.crossJoin(F.broadcast(g))
        .select(_pinned_plogp(F.col("_r"), F.col("_n")).alias("_e"))
        .agg((-F.sum("_e")).alias("_ha_micro"))
    )
    hb_row = (
        ct.crossJoin(F.broadcast(g))
        .select(_pinned_plogp(F.col("_c"), F.col("_n")).alias("_e"))
        .agg((-F.sum("_e")).alias("_hb_micro"))
    )
    out = mi_row.crossJoin(F.broadcast(ha_row)).crossJoin(F.broadcast(hb_row))
    mi = F.col("_mi_micro").cast("double") / F.lit(1_000_000.0)
    ha = F.col("_ha_micro").cast("double") / F.lit(1_000_000.0)
    hb = F.col("_hb_micro").cast("double") / F.lit(1_000_000.0)
    nmi = F.when(
        (F.col("_ha_micro") > 0) & (F.col("_hb_micro") > 0),
        round_half_up(mi / F.sqrt(ha * hb)),
    )
    return out.select(
        "n",
        "n_cells",
        round_half_up(mi, 6).alias("mi_nats"),
        round_half_up(ha, 6).alias("h_a"),
        round_half_up(hb, 6).alias("h_b"),
        nmi.alias("nmi"),
    )


_CHECK_OPS = ("<=", ">=", "==", "<", ">")


def quality_checks(
    df: DataFrame,
    checks: list[tuple[str, str, str, float]],
    distinct_cols: tuple[str, ...] = (),
    numeric_cols: tuple[str, ...] = (),
    ts_cols: tuple[str, ...] = (),
) -> DataFrame:
    """L49 data-quality expectations — the Deequ `Check`/dbt-test
    analog that turns J48's descriptive profile into a GATE: each check
    (col_name, metric, op, threshold) evaluates against the profiled
    value and the suite returns (col_name, metric, op, threshold,
    value, passed) — the table a pipeline asserts all-green on before
    publishing a drop.

    Metrics: any profile metric ('rows', 'nulls', 'distinct', 'min',
    'max') plus the derived ratios every real suite wants —
    'null_fraction' (nulls/rows) and 'uniqueness' (distinct/rows),
    both 6 dp-rounded. FAIL-CLOSED contract: a check whose metric the
    profile did not compute (misspelled column, distinct on an
    undeclared column, ratio on an empty table) reports value NULL and
    passed FALSE — a data gate that silently passes on a missing
    measurement is worse than no gate.

    Plan shape: ONE profile pass over the table (J48's single
    aggregate, localCheckpointed so the derived-ratio fan-out and the
    checks join replay a ~dozen-row table, not the scan), then literal
    joins — the checks table is driver-literal by construction.
    """
    for _c, _m, op, _t in checks:
        if op not in _CHECK_OPS:
            raise ValueError(f"unsupported op {op!r}; use one of {_CHECK_OPS}")
    prof = data_profile(
        df, distinct_cols, numeric_cols, ts_cols
    ).localCheckpoint(eager=True)
    rows_row = prof.filter(
        (F.col("col_name") == "rows") & (F.col("metric") == "rows")
    ).select(F.col("value").alias("_rows"))
    derived = []
    for src, name in (("nulls", "null_fraction"), ("distinct", "uniqueness")):
        derived.append(
            prof.filter(F.col("metric") == src)
            .crossJoin(F.broadcast(rows_row))
            .select(
                "col_name",
                F.lit(name).alias("metric"),
                F.when(
                    F.col("_rows") > 0,
                    round_half_up(F.col("value") / F.col("_rows"), 6),
                ).alias("value"),
            )
        )
    ext = prof
    for d in derived:
        ext = ext.unionByName(d)
    spark = df.sparkSession
    checks_df = spark.createDataFrame(
        [(c, m, op, float(t)) for c, m, op, t in checks],
        "col_name string, metric string, op string, threshold double",
    )
    j = checks_df.join(F.broadcast(ext), ["col_name", "metric"], "left")
    v, t = F.col("value"), F.col("threshold")
    cmp = (
        F.when(F.col("op") == "<=", v <= t)
        .when(F.col("op") == ">=", v >= t)
        .when(F.col("op") == "==", v == t)
        .when(F.col("op") == "<", v < t)
        .otherwise(v > t)
    )
    return j.select(
        "col_name",
        "metric",
        "op",
        "threshold",
        "value",
        F.coalesce(cmp, F.lit(False)).alias("passed"),
    )
