"""Cardinality sketches for corpus-scale profiling.

A 100 TB pipeline constantly asks "how many distinct X per Y"
(users per event type, domains per language, shingles per shard) where
an exact COUNT(DISTINCT) shuffles every distinct value. The KMV
(k-minimum-values) sketch answers with bounded per-group state: keep
only the k smallest hash values of the distinct set; the k-th smallest
of n uniform hashes sits near k/(n+1) of the hash space, so
n_hat = (k-1) / U_(k) estimates the cardinality (Bar-Yossef et al.,
RANDOM'02 — the classic distinct-elements sketch; standard error
~ 1/sqrt(k-2)).

Engine-portability is the design driver here (same policy as the
portable MinHash/SimHash twins in dedup.py): the hash is the md5-derived
`portable_hash32`, every arithmetic step is integer-exact until one
final f64 division, and the estimator is therefore a DETERMINISTIC
function any SQL engine reproduces bit-for-bit — unlike
`approx_count_distinct` (HLL++), whose sketch layout is Spark-internal
and can never hash-match another engine. Spark's native HLL remains the
right choice when only Spark reads the sketch; this operator is the
cross-engine-auditable form.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from azure_iot_realtime_data_pipeline_spark.functions.rounding import round_half_up
from azure_iot_realtime_data_pipeline_spark.operators.dedup import portable_hash32


def _make_partition_cap_fn(group: str, k: int):
    """mapInPandas body: per input PARTITION, keep only the k smallest
    DISTINCT hashes per group (picklable closure, Arrow-batched).

    This is the map-side partial combine of the KMV merge rule — union
    hash sets, re-take the k smallest — realized per partition before
    any shuffle. State while folding a partition is bounded by
    (groups-in-partition x k) + one incoming batch; the emitted rows
    per partition are at most groups x k.
    """

    def fn(batches: Iterator) -> Iterator:
        import pandas as pd

        state = None
        for pdf in batches:
            state = pdf if state is None else pd.concat(
                [state, pdf], ignore_index=True
            )
            state = (
                state.drop_duplicates()
                .sort_values([group, "_h"], kind="stable")
                # dropna=False: a NULL group is a real group in Spark's
                # groupBy — pandas' default would silently drop it
                .groupby(group, sort=False, dropna=False)
                .head(k)
            )
        if state is not None and len(state):
            yield state

    return fn


def kmv_kept(
    df: DataFrame, group: str, id_col: str, k: int = 64
) -> DataFrame:
    """(group, _ks): the KMV synopsis itself — the sorted array of the
    k smallest distinct portable hashes of `id_col` per `group`. The
    mergeable/composable form (union arrays, re-sort, re-slice to k);
    `kmv_distinct` estimates cardinality from it and `kmv_overlap`
    estimates pairwise intersections. Same two-stage bounded shape as
    before the refactor: map-side per-partition cap, then one groupBy
    whose partial buffers are capped by construction."""
    h = portable_hash32(F.col(id_col).cast("string"))
    # NULL ids are not countable entities — and a NULL hash would sort at
    # different ends in different engines (Spark NULLS FIRST, DuckDB
    # NULLS LAST), silently corrupting the k-th min.
    hashed = df.filter(F.col(id_col).isNotNull()).select(
        F.col(group), h.alias("_h")
    )
    capped = hashed.mapInPandas(_make_partition_cap_fn(group, k), hashed.schema)
    return capped.groupBy(group).agg(
        F.slice(F.array_sort(F.collect_set("_h")), 1, k).alias("_ks")
    )


def kmv_distinct(
    df: DataFrame,
    group: str,
    id_col: str,
    k: int = 64,
    out: str = "distinct_est",
) -> DataFrame:
    """(group, n_kept, distinct_est): KMV distinct-count estimate of
    `id_col` per `group`.

    Shape: hash -> MAP-SIDE per-partition cap to the k smallest distinct
    hashes per group (Arrow `mapInPandas`, narrow — no shuffle) -> one
    bounded groupBy that merges the per-partition sketches
    (`array_sort(collect_set(...))` sliced to k) -> one tiny row per
    group. Groups with fewer than k distinct hashes report the EXACT
    count (every partition kept its full distinct set, so the merged
    set is the whole thing); larger groups report
    (k-1) * 2^32 / kth_min_hash, rounded half-up to 4 dp so the one f64
    division compares exactly across engines.

    Scale notes: this is the two-stage k-smallest form — the shuffle
    moves AT MOST k rows per (group, partition) instead of the full
    distinct set, which is the whole point of a sketch at 100 TB (an
    exact COUNT(DISTINCT) shuffles every distinct value; the previous
    form of this operator did too, realizing the k-long bound only
    after the shuffle). Correctness of the cap: the global k smallest
    of a union is contained in the union of per-partition k smallest,
    and a group with < k global distinct values is kept whole by every
    partition. The merge-side `collect_set` partial buffer is bounded
    by the same cap. Re-aggregation (per-day sketches merged to
    per-month) stays cheap: KMV sketches merge by unioning kept-hash
    sets and re-truncating — exactly re-running this operator over
    unioned kept-hash tables. A JVM TypedImperativeAggregate could fuse
    the cap into the aggregate itself; that is a swap point, not a plan
    change — the estimator arithmetic (and the oracle) is identical.
    """
    agg = kmv_kept(df, group, id_col, k)
    n_kept = F.size("_ks")
    est = F.when(
        n_kept < k, n_kept.cast("double")
    ).otherwise(
        round_half_up(
            F.lit(float(k - 1)) * F.lit(2.0**32) / F.element_at("_ks", k)
        )
    )
    return agg.select(
        F.col(group),
        n_kept.cast("long").alias("n_kept"),
        est.alias(out),
    )


def cms_heavy_hitters(
    items: DataFrame,
    item_col: str = "item",
    depth: int = 4,
    width: int = 16,
    threshold: int = 1,
) -> DataFrame:
    """J61 Count-Min-sketch heavy hitters (Cormode & Muthukrishnan,
    J.Algorithms'05): (item, est) for every distinct item whose CMS
    frequency estimate >= threshold.

    The sketch is depth x width int64 counters: row r hashes an item to
    bucket portable_hash32(r || ':' || item) % width and the estimate is
    the MIN over rows of the bucket counts — never an underestimate, so
    heavy hitters have NO false negatives; collisions can only promote
    light items (one-sided error eps ~ e/width with prob 1-e^-depth).
    Like kmv_distinct, the portable md5 hash makes the whole sketch a
    deterministic function any SQL engine reproduces bit-for-bit —
    Spark's native count_min_sketch() aggregate emits an opaque binary
    only Spark can read; this is the cross-engine-auditable form.

    Plan shape (the 100 TB story): build = ONE map-side explode of the
    depth row-hashes per item occurrence into a groupBy over at most
    depth*width keys — partial aggregation collapses each task's stream
    to <= depth*width partial rows before the exchange, so the shuffle
    is sketch-sized, not data-sized (gated). Query = distinct candidate
    items (the one data-sized shuffle — at 100 TB feed candidates from
    a per-partition top-k instead) joined to the BROADCAST sketch,
    min over rows. `threshold` is a caller literal, not a derived
    scalar — no driver round-trip.
    """
    d, w = int(depth), int(width)
    stream = items.select(F.col(item_col).alias("item")).filter(
        F.col("item").isNotNull()
    )
    sketch = cms_sketch(stream, depth=d, width=w)
    cand = stream.distinct()
    est = (
        _cms_bucketed(cand, d, w)
        .join(F.broadcast(sketch), ["_r", "_bucket"])
        .groupBy("item")
        .agg(F.min("_c").alias("est"))
    )
    return est.filter(F.col("est") >= int(threshold))


def _cms_bucketed(items: DataFrame, depth: int, width: int) -> DataFrame:
    """(item, _r, _bucket) — each item row fanned out to its `depth`
    row-hash buckets. Map-side only; shared by the batch build, the
    query side, and the streaming twin so the hash can never drift."""
    rows = F.explode(F.sequence(F.lit(0), F.lit(int(depth) - 1))).alias("_r")
    bucket = (
        portable_hash32(
            F.concat_ws(":", F.col("_r").cast("string"), F.col("item"))
        )
        % int(width)
    ).alias("_bucket")
    return items.select("item", rows).select("item", "_r", bucket)


def cms_sketch(
    items: DataFrame, item_col: str = "item", depth: int = 4, width: int = 16
) -> DataFrame:
    """The depth x width counter table (_r, _bucket, _c) itself — the
    mergeable form: sketches of two corpora (or of successive
    micro-batches) combine by summing counters per (_r, _bucket), which
    is exactly why the streaming twin can maintain it with Spark's
    built-in incremental aggregation (windows_stream.cms_sketch_stream).
    Works on both batch and streaming inputs (pure map-side fan-out +
    groupBy over <= depth*width keys)."""
    stream = items.select(F.col(item_col).alias("item")).filter(
        F.col("item").isNotNull()
    )
    return (
        _cms_bucketed(stream, int(depth), int(width))
        .groupBy("_r", "_bucket")
        .agg(F.count(F.lit(1)).alias("_c"))
    )


def _hll_alpha(m: int) -> float:
    """Flajolet et al. (AofA'07) bias-correction constant alpha_m."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_sketch(
    df: DataFrame, group: str, id_col: str, p: int = 8
) -> DataFrame:
    """(group, _j, _mj): the HyperLogLog register table for `id_col`
    per `group` — register index _j = the top p bits of the portable
    32-bit hash, _mj = max over observations of rho(w) = 1 + the count
    of leading zero bits in the remaining (32-p)-bit suffix w
    (Flajolet, Fusy, Gandouet & Meunier, AofA'07).

    Every step is integer-exact and engine-portable: the hash is
    md5-derived (`portable_hash32`), and rho comes from the DECIMAL
    bit-length of w (`length(conv(w, 10, 2))` here; `length(bin(w))` in
    DuckDB) — never a float log2, whose boundary rounding could flip a
    register on exact powers of two.

    This is the MERGEABLE form, like `cms_sketch`: sketches of two
    corpora (or successive micro-batches) combine by per-(group,_j) MAX
    (`hll_merge`), which is also why it runs unchanged on a streaming
    frame, maintained by Spark's built-in incremental max-aggregation —
    state bounded at m = 2^p rows per group, forever. Shape: one map-side projection
    + one groupBy over at most m keys per group; partial aggregation
    collapses each task's stream to <= groups x m partial rows before
    the exchange, so the shuffle is sketch-sized, not data-sized.
    NULL ids are not countable entities and are filtered (same contract
    as kmv_distinct).
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    sb = 32 - p
    h = portable_hash32(F.col(id_col).cast("string"))
    hashed = df.filter(F.col(id_col).isNotNull()).select(
        F.col(group), h.alias("_h")
    )
    w = F.col("_h").bitwiseAND(F.lit((1 << sb) - 1))
    bitlen = F.length(F.conv(w.cast("string"), 10, 2))
    rho = (
        F.when(w == 0, F.lit(sb + 1))
        .otherwise(F.lit(sb + 1) - bitlen)
        .cast("int")
    )
    regs = hashed.select(
        F.col(group),
        F.call_function("shiftright", F.col("_h"), F.lit(sb)).cast("int").alias("_j"),
        rho.alias("_rho"),
    )
    # _p rides in the schema so hll_estimate can verify it was built
    # with the SAME precision — a wrong-p estimate would silently
    # mis-shift every term (value ranges alone cannot reveal the
    # mismatch: a p=8 table is numerically plausible under p=12)
    return (
        regs.groupBy(group, "_j")
        .agg(F.max("_rho").alias("_mj"))
        .withColumn("_p", F.lit(p).cast("int"))
    )


def hll_merge(a: DataFrame, b: DataFrame, group: str) -> DataFrame:
    """Merge two HLL register tables (same p): per-register MAX — the
    sketch of a union IS the merge of the sketches (max is associative,
    commutative, idempotent), so per-day registers roll up to per-month
    exactly, not approximately-on-approximate. `_p` carries through
    min/max-split so a mixed-p merge cannot masquerade as clean:
    hll_estimate raises unless every row's precision matches."""
    return (
        a.unionByName(b)
        .groupBy(group, "_j")
        .agg(
            F.max("_mj").alias("_mj"),
            F.min("_p").alias("_p"),
        )
    )


def hll_estimate(
    regs: DataFrame, group: str, p: int = 8, out: str = "distinct_est"
) -> DataFrame:
    """(group, n_regs, distinct_est): the HLL estimator over a register
    table from `hll_sketch`/`hll_merge`.

    Estimator arithmetic is pinned to the integer lattice for as long
    as possible: the harmonic-mean denominator sum(2^-M_j) is scaled by
    2^(sb+1) so every term 2^(sb+1-M_j) — including the 2^(sb+1) each
    of the (m - n_regs) never-hit registers contributes — is an exact
    int64; the raw estimate alpha_m * m^2 / sum is then ONE f64
    division of an exactly-representable numerator (alpha times a power
    of two is an exponent shift), bit-identical in any IEEE engine.
    Small-range correction (raw <= 2.5m with empty registers) switches
    to linear counting m*ln(m/zeros) — the single libm-ln call, rounded
    half-up to 4 dp like every float boundary in this repo (the
    accepted knife-edge class; zeros takes at most m-1 distinct integer
    values). The 32-bit large-range correction only matters within ~2%
    of 2^32 distinct — out of scope for a p<=16 sketch and omitted, as
    modern HLL implementations do with 64-bit hashes.
    """
    m = 1 << p
    sb = 32 - p
    numerator = _hll_alpha(m) * float(m * m * (1 << (sb + 1)))
    # guard: estimating a sketch built with a DIFFERENT p would
    # mis-shift every harmonic term (Java masks shifts to 6 bits, so
    # the wrong answer would be silent, and value ranges alone cannot
    # reveal the mismatch) — the sketch carries its precision in `_p`
    # and the estimator fails loudly on any row that disagrees; the
    # check rides the aggregate, no extra pass over the input
    agg = regs.groupBy(group).agg(
        F.count(F.lit(1)).cast("long").alias("n_regs"),
        F.sum(
            F.call_function(
                "shiftleft",
                F.lit(1).cast("long"),
                F.lit(sb + 1) - F.col("_mj"),
            )
        ).alias("_dobs"),
        F.min("_p").alias("_pmn"),
        F.max("_p").alias("_pmx"),
    )
    bad = (F.col("_pmn") != p) | (F.col("_pmx") != p)
    guard = F.when(
        bad,
        F.raise_error(
            F.lit(
                f"hll_estimate: sketch carries a different p than {p} "
                "(built or merged at another precision)"
            )
        ).cast("double"),
    )
    zeros = F.lit(m) - F.col("n_regs")
    d = (F.col("_dobs") + zeros * F.lit(1 << (sb + 1))).cast("double")
    raw = F.lit(numerator) / d
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0), round_half_up(linear)
    ).otherwise(round_half_up(raw))
    est = F.coalesce(guard, est)
    return agg.select(F.col(group), F.col("n_regs"), est.alias(out))


def hll_distinct(
    df: DataFrame,
    group: str,
    id_col: str,
    p: int = 8,
    out: str = "distinct_est",
) -> DataFrame:
    """(group, n_regs, distinct_est): HyperLogLog distinct-count
    estimate of `id_col` per `group` — the fixed-state member of the
    cardinality-sketch pair (KMV keeps k hash VALUES and reports exact
    counts below k; HLL keeps 2^p 1-byte-scale register MAXES and its
    linear-counting branch covers the small range). Standard error
    ~1.04/sqrt(m) — 6.5% at the default p=8; raise p for precision,
    every extra bit doubling state and halving variance.

    Same engine-portability contract as kmv_distinct: deterministic
    md5 register math any SQL engine reproduces bit-for-bit, unlike
    Spark's native approx_count_distinct (HLL++, opaque binary sketch).
    Composition: build per-partition/per-day register tables with
    `hll_sketch`, roll up with `hll_merge`, estimate once at the end —
    the 100 TB shape where re-scanning history per report is the thing
    this sketch exists to avoid.
    """
    return hll_estimate(hll_sketch(df, group, id_col, p), group, p, out)


def kmv_overlap(
    df: DataFrame, group: str, id_col: str, k: int = 64
) -> DataFrame:
    """(type_a, type_b, n_union_kept, jaccard_est, union_est,
    intersect_est): pairwise set-overlap estimates between every two
    groups' id sets, computed ONLY from their KMV synopses — the
    sketch-side answer to L21's exact `audience_overlap`, for when the
    segments are too large (or too many) to re-scan per pair.

    Estimator (Beyer et al., SIGMOD'07 k-min synopses): for a pair,
    V = the k smallest hashes of the UNION of the two kept sets (KMV
    sketches compose: union + re-truncate IS the sketch of the union);
    rho = |V ∩ A_kept ∩ B_kept| / |V| estimates the Jaccard
    similarity, (k-1)*2^32/max(V) estimates |A∪B|, and their product
    estimates |A∩B|. When |V| < k both sketches were exhaustive, so
    every output is EXACT (rho is the true Jaccard of the full sets).
    All arithmetic is integer-exact until the two final f64 divisions,
    rounded half-up to 4 dp — same cross-engine contract as
    kmv_distinct.

    Shape: per-group synopses (bounded, two-stage build) collapse to
    ONE row holding the group->synopsis map (state bounded by
    groups x k — a sanctioned one-row aggregate; fine to thousands of
    groups), unordered pairs fan out MAP-SIDE from the sorted struct
    array (the audience_overlap idiom — no self-join, no Cartesian
    node), and each pair's array math is O(k). At very large group
    counts the swap is relational: intersections via an equi-join of
    the (group, hv) kept table on hv, per-pair union top-k via a
    co-grouped merge — same estimator, no single-row funnel.
    """
    # a NULL segment is not a comparable audience (same contract as
    # L21's exact audience_overlap) — and the oracle's type_a < type_b
    # pairing could never see it anyway (SQL NULL comparisons)
    kept = kmv_kept(df.filter(F.col(group).isNotNull()), group, id_col, k)
    one = kept.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(group).alias("_g"), F.col("_ks")))
        ).alias("_all")
    )
    pairs = one.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("_all"),
                    lambda a, i: F.transform(
                        F.slice(F.col("_all"), i + 2, F.size(F.col("_all"))),
                        lambda b: F.struct(
                            a["_g"].alias("type_a"),
                            a["_ks"].alias("_ka"),
                            b["_g"].alias("type_b"),
                            b["_ks"].alias("_kb"),
                        ),
                    ),
                )
            )
        ).alias("_p")
    ).select("_p.*")
    v = F.slice(F.array_sort(F.array_union(F.col("_ka"), F.col("_kb"))), 1, k)
    sized = pairs.select(
        "type_a",
        "type_b",
        F.size(
            F.array_intersect(v, F.array_intersect(F.col("_ka"), F.col("_kb")))
        ).alias("_inter"),
        F.size(v).alias("_nv"),
        F.element_at(v, -1).alias("_tau"),
    )
    nv = F.col("_nv")
    rho_raw = F.col("_inter").cast("double") / nv.cast("double")
    union_raw = F.when(nv < k, nv.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(2.0**32) / F.col("_tau")
    )
    return sized.select(
        "type_a",
        "type_b",
        nv.cast("long").alias("n_union_kept"),
        round_half_up(rho_raw).alias("jaccard_est"),
        F.when(nv < k, nv.cast("double"))
        .otherwise(round_half_up(union_raw))
        .alias("union_est"),
        round_half_up(rho_raw * union_raw).alias("intersect_est"),
    )
