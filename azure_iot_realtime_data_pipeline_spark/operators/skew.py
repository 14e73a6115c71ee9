"""Skew mitigation: salted aggregation and salted replicate joins.

AQE's skew-join splitting (on in session.py) handles sort-merge join
skew at runtime, but two hot-key cases remain on a 100 TB cluster:
aggregations whose group key is pathologically hot (one device emitting
40% of events), and joins where the build side must be replicated
because the probe side's hot key exceeds a single task. The classic fix
is salting — widen the hot key with a deterministic salt, do the heavy
work per (key, salt), then collapse.

Correctness invariant (oracle-checked): every salted operator here is
RESULT-IDENTICAL to its unsalted form — salting only reshapes the
shuffle. Sums run as exact DECIMAL so the two-stage re-aggregation is
order-independent down to the bit.

The salt derives from a row-unique column (`pmod(salt_src, n)`), not
from rand(): deterministic retries/replays are non-negotiable in a
recovery-oriented engine (speculative execution, stage retries).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALTS = 8


def with_salt(df: DataFrame, salt_src: str, n_salts: int = DEFAULT_SALTS) -> DataFrame:
    return df.withColumn("_salt", F.pmod(F.col(salt_src), F.lit(n_salts)).cast("int"))


def salted_agg_sum(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    salt_src: str,
    n_salts: int = DEFAULT_SALTS,
) -> DataFrame:
    """Two-stage skew-safe aggregation: (key, salt) partials, then key
    finals. A key receiving K% of all rows spreads over n_salts tasks in
    stage 1; stage 2 reduces n_salts tiny partials per key.

    Returns (key_cols..., n BIGINT, sum_value DOUBLE) — sum accumulated
    as DECIMAL end-to-end, cast at the edge.
    """
    dec = F.col(value_col).cast("decimal(18,2)")
    partial = (
        with_salt(df, salt_src, n_salts)
        .groupBy(*key_cols, "_salt")
        .agg(F.count("*").alias("_n"), F.sum(dec).alias("_s"))
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("_n").alias("n"),
        F.sum("_s").cast("double").alias("sum_value"),
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    salt_src: str,
    n_salts: int = DEFAULT_SALTS,
) -> DataFrame:
    """Replicate-join for hot probe keys: salt the big side from a
    row-unique column, explode the small side across all salts, equi-join
    on (key, salt). A hot key's rows land in n_salts different tasks
    instead of one. Use when the small side is too big to broadcast but
    small enough to replicate n_salts times (classic mid-size dim)."""
    salted_big = with_salt(big, salt_src, n_salts)
    replicated = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    cond = (salted_big[big_key] == replicated[small_key]) & (
        salted_big["_salt"] == replicated["_salt"]
    )
    return salted_big.join(replicated, cond).drop("_salt")


def selective_salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    salt_src: str,
    n_salts: int = DEFAULT_SALTS,
    hot_keys: list | None = None,
    hot_share: float = 0.05,
    top_k: int = 20,
) -> DataFrame:
    """J17 x J35 production composition: salt ONLY the profiled hot keys.

    `salted_join` replicates the ENTIRE small side n_salts times — paid
    even when one key in a billion is hot. This form consumes the J35
    heavy-hitter profile instead: keys with row share >= `hot_share`
    (from `key_skew_profile`, an O(top_k)-row driver collect at
    plan-construction time — the adaptive pre-pass pattern, same as the
    IVF centroid collect) are salted and their dim rows replicated
    x n_salts; every other key keeps salt 0 on both sides, i.e. the
    plain equi-join with ZERO replication. One scan per side, ONE join:
    the hot/cold split is a map-side conditional salt, not a
    two-join-plus-union plan. With no hot keys at all the salt column
    is skipped entirely and the plan IS the plain join (plan-gated).

    Pass `hot_keys` explicitly to skip the profiling pass (e.g. reuse
    one profile across many joins of the same fact table).

    Result-identical to the plain `big JOIN small ON big_key =
    small_key` for any hot-key choice (oracle-checked); salting only
    reshapes the shuffle.
    """
    if hot_keys is None:
        prof = key_skew_profile(big, big_key, top_k=top_k)
        hot_keys = sorted(
            r[big_key]
            for r in prof.collect()
            if r["share"] is not None and r["share"] >= hot_share
        )
    if not hot_keys:
        # profiler verdict: no skew — take the plain join, no salt
        # column, no replication, and let AQE pick the strategy
        return big.join(small, big[big_key] == small[small_key])
    hot_big = F.col(big_key).isin(list(hot_keys))
    salted_big = big.withColumn(
        "_salt",
        F.when(hot_big, F.pmod(F.col(salt_src), F.lit(n_salts)))
        .otherwise(F.lit(0))
        .cast("int"),
    )
    hot_small = F.col(small_key).isin(list(hot_keys))
    replicated = small.withColumn(
        "_salt",
        # explode of an array<int> already yields int (a generator can't
        # nest inside a cast); hot dim rows replicate x n_salts, cold
        # rows get the single salt-0 copy — zero replication
        F.explode(
            F.when(hot_small, F.sequence(F.lit(0), F.lit(n_salts - 1))).otherwise(
                F.array(F.lit(0))
            )
        ),
    )
    cond = (salted_big[big_key] == replicated[small_key]) & (
        salted_big["_salt"] == replicated["_salt"]
    )
    return salted_big.join(replicated, cond).drop("_salt")


def top_keys_by_count(df: DataFrame, key: str, k: int = 10) -> DataFrame:
    """Skew diagnostic: the k heaviest keys and their row share — the
    input to deciding whether salting is warranted."""
    total = df.count()
    return (
        df.groupBy(key)
        .agg(F.count("*").alias("n"))
        .withColumn("share", F.col("n").cast("double") / F.lit(float(total)))
        .orderBy(F.col("n").desc())
        .limit(k)
    )


def key_skew_profile(
    df: DataFrame,
    key: str,
    top_k: int = 20,
) -> DataFrame:
    """J35: join-key heavy-hitter report — the profiling pass run BEFORE
    a big join to decide whether J16/J17 salting is needed: the top_k
    hottest key values with row count and corpus share.

    Plan shape: one map-side-combined count aggregate on the key, then
    `orderBy(...).limit(top_k)` — Spark plans that as
    TakeOrderedAndProject (per-partition top-k, tiny driver merge),
    never a global sort through one task. The total for the share comes
    from a one-row `sum(n)` aggregate broadcast onto the top-k rows
    (BroadcastNestedLoopJoin with a single-row build side), so the
    operator stays LAZY — building the profile triggers no job, unlike
    an eager `df.count()` at plan-construction time. Deterministic
    tie-break on the key value.

    Returns (key, n, share) with share rounded half-up to 6 dp; empty
    input yields an empty frame.
    """
    from azure_iot_realtime_data_pipeline_spark.functions.rounding import (
        round_half_up,
    )

    counts = df.groupBy(key).agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").cast("double").alias("_total"))
    top = counts.orderBy(F.col("n").desc(), F.col(key).asc()).limit(top_k)
    return top.crossJoin(F.broadcast(total)).select(
        F.col(key),
        F.col("n"),
        round_half_up(F.col("n").cast("double") / F.col("_total"), 6).alias(
            "share"
        ),
    )


def bloom_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    m_bits: int = 1 << 17,
    k_hashes: int = 5,
) -> DataFrame:
    """J65 Bloom-prefiltered semi join — the runtime-filter pattern for
    'keep fact rows whose key appears in a QUALIFYING-keys set too big
    to broadcast as a hash table' (e.g. lineitems of this year's
    orders: the orders side is fact-sized, so the plain semi join
    shuffles the WHOLE fact; Spark's own runtime bloom
    [spark.sql.optimizer.runtime.bloomFilter] only injects across
    equi-joins the optimizer already sees, and not through this repo's
    hinted shapes).

    Build: k xxhash64 bit positions per dim key, OR-folded into
    m_bits/64 int64 words by ONE bounded aggregate (<= 2048 rows at the
    default m), collected and inlined as a literal array — 16 KiB in
    the plan, free on every executor. Probe: k element_at + bit-test
    expressions, pure whole-stage codegen on the fact scan — rows drop
    MAP-SIDE before the semi join's exchange. A Bloom filter has NO
    false negatives, so the exact semi join on the survivors returns
    exactly the unfiltered semi join's rows (the oracle); false
    positives only cost shuffle bytes, bounded by the classic
    (1-e^{-kn/m})^k rate, property-gated in tests.

    At 100 TB: m scales with |dim keys| (1% fpp needs ~10 bits/key); a
    literal array stays sane to ~2^24 bits — past that, swap the
    inlined words for a broadcast (word_idx -> word) join on the probe
    side's word index. The collect here is the sanctioned bounded kind
    (the m/64-row word table, a build artifact like IVF centroids,
    never the dim itself).

    Precondition: `dim`'s lineage must be deterministic. It is evaluated
    twice (Bloom build, then exact verify) with nothing materialized in
    between; a lineage that samples, takes an unstable limit or reads a
    changing source can yield different keys the second time, and the
    prefilter then drops rows the verify would keep (false negatives)."""
    # r14 (guide §2.4, §3.2): build the Bloom words from the RAW key
    # column and verify against it directly — bit_or is idempotent
    # (duplicate keys OR the same bits) and left_semi is
    # duplicate-insensitive, so the old distinct().localCheckpoint()
    # changed neither the bitmap nor the verify result; dropping it
    # removes one full distinct exchange AND the eager checkpoint job
    # from every build. The dim scan now runs twice (bloom build +
    # verify), the standard Bloom-prefilter cost, with map-side partial
    # bit_or collapsing the build to <= n_words rows per task.
    keys = dim.select(F.col(dim_key).alias("_k"))
    might_match = bloom_might_contain(
        keys, "_k", F.col(fact_key), m_bits, k_hashes
    )
    survivors = fact.filter(F.col(fact_key).isNotNull() & might_match)
    # exact verify: false positives die here; hinted shuffle-hash (the
    # dim is fact-sized by premise — broadcast would OOM, unhinted
    # statics pick the banned SortMergeJoin)
    return survivors.join(
        keys.hint("shuffle_hash"),
        F.col(fact_key) == keys["_k"],
        "left_semi",
    )


def bloom_might_contain(
    keys: DataFrame,
    key_col: str,
    probe_key: Column,
    m_bits: int = 1 << 17,
    k_hashes: int = 5,
) -> Column:
    """The Bloom probe condition alone (build + inline + k bit tests),
    factored out so the false-positive rate is testable apart from the
    exact-verify join that hides it. Deterministic: xxhash64 with fixed
    seeds on both sides, so a given (keys, m, k) always yields the same
    bitset and the same probe verdicts."""
    if m_bits % 64 != 0 or m_bits <= 0:
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    n_words = m_bits // 64
    pos = keys.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m_bits))
                    for i in range(k_hashes)
                ]
            )
        ).alias("_p")
    )
    words = (
        pos.select(
            (F.col("_p") / 64).cast("long").alias("_w"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("_p") % 64).cast("int")
            ).alias("_bit"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_bit").alias("_word"))
        .collect()
    )
    table = [0] * n_words
    for r in words:
        table[r["_w"]] = r["_word"]
    lit_words = F.lit(table)
    tests = []
    for i in range(k_hashes):
        p = F.pmod(F.xxhash64(probe_key, F.lit(i)), F.lit(m_bits))
        word = F.element_at(lit_words, (p / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
        )
        tests.append(word.bitwiseAND(bit) != 0)
    might_match = tests[0]
    for t in tests[1:]:
        might_match = might_match & t
    return might_match
