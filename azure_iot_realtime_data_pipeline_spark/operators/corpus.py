"""Training-corpus management operators (J19-J23): deterministic
train/val/test splitting, benchmark decontamination, text normalization,
repetition scoring, and PII masking.

These extend the LLM-data-pipeline family (SURVEY.md §2.J) with the ops
a corpus curation pass runs between dedup and tokenization. Design rules
are the same as operators/text.py: every hot path is built-in
`pyspark.sql.functions` (JVM, whole-stage codegen, zero Python rows),
and every op is expressed so an ANSI-SQL oracle can reproduce it
bit-for-bit.

Scale notes:
- hash_split / normalize / repetition / masking are pure map-side
  expressions — no shuffle at any scale.
- decontamination's only shuffle is the shingle equi-join against the
  (small) benchmark shingle set; the benchmark side broadcasts, so the
  corpus never moves. Shingles join as strings for oracle exactness; at
  100 TB hash them to int64 first (xxhash64) to shrink shuffle/broadcast
  bytes — one extra expression, same plan shape, with a ~2^-64 per-pair
  false-positive rate that a decontamination pass tolerates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from azure_iot_realtime_data_pipeline_spark.functions.rounding import round_half_up
from azure_iot_realtime_data_pipeline_spark.operators.text import tokens
from azure_iot_realtime_data_pipeline_spark.sources.batch import ensure_parallelism

#: email-ish and long-digit-run patterns shared by Spark (Java regex) and
#: DuckDB (RE2) — keep to the common syntax subset (char classes, +, {m,}).
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
DIGIT_RUN_PATTERN = r"[0-9]{7,}"


def hex_threshold(rate: float) -> str:
    """Threshold string for `md5_prefix < threshold` over the first 4 hex
    digits (16-bit space). rate >= 1.0 must accept EVERY prefix, and
    format(0x10000, "04x") == "10000" compares lexicographically BELOW
    most 4-char prefixes — so saturated rates return "g", which is
    greater than any hex digit."""
    if not 0 <= rate <= 1:
        raise ValueError(f"rate {rate} outside [0, 1]")
    n = int(rate * 0x10000)
    return "g" if n >= 0x10000 else format(n, "04x")


def split_bounds(train: float, val: float) -> tuple[str, str]:
    """Hex thresholds over the first 4 md5 digits (16-bit space)."""
    if not 0 < train < 1 or val < 0 or train + val > 1:
        raise ValueError("need 0<train<1, val>=0, train+val<=1")
    return hex_threshold(train), hex_threshold(train + val)


def hash_split(
    id_col: Column, train: float = 0.8, val: float = 0.1
) -> Column:
    """J19: deterministic, order-free train/val/test assignment.

    The split key is the first 4 hex digits of md5(id) compared against
    hex thresholds — stable across runs, partitionings and engines
    (DuckDB's md5 produces the identical lowercase hex), unlike
    `rand(seed)` (plan-dependent) or `id % n` (correlates with any
    id-ordered property of the corpus). Map-side only.

    NULL ids: md5(NULL) is NULL, every `<` compare is NULL, and all
    NULL-id rows fall through to 'test' — deterministic, but a corpus
    with NULL ids should be repaired upstream, not split.
    """
    lo, hi = split_bounds(train, val)
    h = F.substring(F.md5(id_col.cast("string")), 1, 4)
    return F.when(h < lo, "train").when(h < hi, "val").otherwise("test")


def shingles_of(toks: Column, k: int = 3) -> Column:
    """Array of k-gram shingle strings from a TOKENS ARRAY COLUMN; empty
    array below k tokens.

    `toks` must be a materialized column reference, not an inline
    tokenizer expression: the transform lambda references it k times per
    array element, and Catalyst re-evaluates a non-trivial subtree at
    every reference inside a higher-order function — measured 14x slower
    at sf0.1 with `tokens(text)` inlined here. Callers stage the tokens
    with `.select(..., tokens(col).alias("_toks"))` first (CollapseProject
    keeps the alias because it is referenced more than once).
    """
    n = F.size(toks) - (k - 1)
    # sequence(1, 0) is DESCENDING in Spark (step defaults to -1 when
    # start > stop), so short docs must branch to an empty array rather
    # than rely on an empty sequence.
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(k)]
        ),
    )


def shingle_strings(text: Column, k: int = 3) -> Column:
    """Inline-tokenizer convenience form — fine for literals and tests,
    NOT for corpus-sized scans (see shingles_of on re-evaluation cost)."""
    return shingles_of(tokens(text), k)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """J20: drop every corpus doc sharing at least one k-gram with the
    benchmark set (the standard eval-contamination guard).

    Plan: explode corpus shingles -> left-semi join the DISTINCT
    benchmark shingle set (small => broadcast; the corpus side never
    shuffles) -> distinct contaminated ids -> broadcast anti-join back.
    Docs with < k tokens have no shingles and always survive.
    """
    doc_sh = (
        ensure_parallelism(docs.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .select(F.col(id_col), F.explode(shingles_of(F.col("_toks"), k)).alias("_sh"))
    )
    bench_sh = (
        benchmark.select(tokens(F.col(text_col)).alias("_toks"))
        .select(F.explode(shingles_of(F.col("_toks"), k)).alias("_sh"))
        .distinct()
    )
    contaminated = (
        doc_sh.join(F.broadcast(bench_sh), "_sh", "left_semi")
        .select(id_col)
        .distinct()
    )
    # no broadcast hint on the anti-join: the contaminated-id set scales
    # with corpus contamination (unbounded), so a forced broadcast could
    # exceed the threshold/driver memory on a dirty corpus — let AQE
    # pick broadcast when the set is actually small (the common case).
    return docs.join(contaminated, id_col, "left_anti")


def normalize_text(text: Column) -> Column:
    """J21: canonical text form — lowercase, control/whitespace runs
    collapsed to single spaces, trimmed. (Unicode NFC is intentionally
    out: not expressible in the portable SQL subset; plug a
    `mapInPandas` stage for it when the corpus needs it.)"""
    return F.trim(F.regexp_replace(F.lower(text), r"[ \t\n\r]+", " "))


def repetition_score_of(sh: Column) -> Column:
    """Duplicated-shingle ratio from a shingle-array column. NULL input
    (NULL text upstream) scores 0.0, matching the SQL oracle's
    LEFT JOIN + COALESCE — `size(NULL)` is NULL and would otherwise
    propagate."""
    total = F.size(sh)
    rep = F.lit(1.0) - F.size(F.array_distinct(sh)).cast("double") / total
    return round_half_up(
        F.when(total.isNull() | (total <= 0), F.lit(0.0)).otherwise(rep)
    )


def repetition_scores(
    df: DataFrame, text_col: str = "text", k: int = 3, out: str = "rep_score"
) -> DataFrame:
    """J22: duplicated-shingle ratio in [0,1] — the classic boilerplate /
    degenerate-generation signal: 1 - distinct_kgrams/total_kgrams,
    0.0 for docs with fewer than k tokens. Map-side arrays only; tokens
    staged as a column so the tokenizer runs once per row (shingles_of)."""
    tok_col = "__rep_toks"
    staged = df.withColumn(tok_col, tokens(F.col(text_col)))
    return (
        staged.withColumn(out, repetition_score_of(shingles_of(F.col(tok_col), k)))
        .drop(tok_col)
    )


def repetition_score(text: Column, k: int = 3) -> Column:
    """Inline convenience form of J22 — tests/literals only (tokenizer
    re-evaluation inside the HOF, see shingles_of)."""
    return repetition_score_of(shingle_strings(text, k))


def stratified_sample_flag(
    stratum_col: Column,
    id_col: Column,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> Column:
    """J25 predicate: deterministic per-stratum hash sampling.

    The sample key is md5(stratum || ':' || id) — salting with the
    stratum makes the draws independent across strata (the same id can
    be in-sample for one stratum's rate and out for another), and the
    hash threshold gives an order-free, rerun-stable sample with no
    `rand()` in the plan (rand is partitioning-dependent and breaks
    retries/speculation). Map-side only; composes with any filter
    pushdown since it is a pure expression over two columns.
    """
    h = F.substring(
        F.md5(
            F.concat(
                stratum_col.cast("string"), F.lit(":"), id_col.cast("string")
            )
        ),
        1,
        4,
    )
    threshold = F.lit(hex_threshold(default_rate))
    for stratum, rate in sorted(rates.items()):
        threshold = F.when(
            stratum_col == stratum, F.lit(hex_threshold(rate))
        ).otherwise(threshold)
    return h < threshold


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """J25: keep a deterministic hash-sample of each stratum at its own
    rate (e.g. downsample dominant languages, keep the tail)."""
    return df.filter(
        stratified_sample_flag(F.col(stratum_col), F.col(id_col), rates, default_rate)
    )


def mask_pii(text: Column) -> Column:
    """J23: redact email-shaped tokens and 7+-digit runs (ids, phones).
    Two codegen'd regexp_replace passes; order matters — emails first so
    digit runs inside addresses are already gone."""
    masked = F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>")
    return F.regexp_replace(masked, DIGIT_RUN_PATTERN, "<NUM>")


def pii_counts(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_digit_runs) found in the raw text — the audit metric
    next to mask_pii's redaction."""
    n_email = F.size(F.regexp_extract_all(text, F.lit(EMAIL_PATTERN), F.lit(0)))
    n_digit = F.size(
        F.regexp_extract_all(
            F.regexp_replace(text, EMAIL_PATTERN, "<EMAIL>"),
            F.lit(DIGIT_RUN_PATTERN),
            F.lit(0),
        )
    )
    return n_email.cast("long"), n_digit.cast("long")


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_budget: int = 2048,
    n_shards: int = 8,
) -> DataFrame:
    """J27: sequence packing — assign docs to fixed token-budget bins
    (training context windows). Greedy global packing is inherently
    sequential; the distributed form packs CONTIGUOUSLY WITHIN SHARDS:
    shard = id % n_shards, docs ordered by id, bin = preceding-cumulative
    tokens // budget. One window per shard (hash shuffle on shard), all
    integer arithmetic — deterministic, engine-portable, and each shard
    packs in parallel. Bins are budget-sized by START offset only: a doc
    that straddles a boundary stays whole in the bin where it starts, so
    a bin's total can exceed the budget by up to one doc length —
    consumers must tolerate overflow or truncate; docs are never split.

    Returns (id, shard, n_tokens, bin) — writers partition output by
    (shard, bin) to lay training shards out contiguously.
    """
    from azure_iot_realtime_data_pipeline_spark.operators.text import token_count

    shard = (F.col(id_col) % n_shards).alias("shard")
    staged = df.select(
        F.col(id_col),
        shard,
        token_count(F.col(text_col)).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return staged.withColumn(
        "bin", F.floor((cum - F.col("n_tokens")) / F.lit(token_budget))
    )


#: Knuth multiplicative constant and 2^31-1 modulus. The id is reduced
#: mod 2^31-1 BEFORE multiplying: (2^31-2) * 2654435761 ~ 5.7e18 < 2^63,
#: so the product never overflows int64 for ANY int64 id (a raw
#: id * mult overflows past id ~ 3.47e9). The final +mod %mod folds a
#: negative remainder (negative ids) back into [0, mod).
_UHASH_MULT = 2_654_435_761
_UHASH_MOD = 2_147_483_647


def _uhash_int(id_col: Column) -> Column:
    """The shared integer step of the deterministic draw: affine hash of
    the id reduced mod 2^31-1, folded into [0, mod). uniform_hash and
    es_key MUST stay bit-identical here (their oracles re-derive it),
    so the chain lives in one place."""
    reduced = id_col.cast("long") % _UHASH_MOD
    h = (reduced * _UHASH_MULT + 12345) % _UHASH_MOD
    return (h + _UHASH_MOD) % _UHASH_MOD


def uniform_hash(id_col: Column) -> Column:
    """Deterministic uniform [0,1) draw from an integer id — pure int64
    arithmetic, so ANY SQL engine reproduces it exactly (the md5-prefix
    trick needs hex->int, which is not portable). Safe for the full
    int64 id range, including negatives. For per-row PROBABILITY
    thresholds (importance sampling) this is the right tool; for
    fixed-rate splits prefer the md5 prefix (better avalanche)."""
    return _uhash_int(id_col).cast("double") / F.lit(float(_UHASH_MOD))


def importance_sample(
    df: DataFrame,
    id_col: str,
    weight: Column,
) -> DataFrame:
    """J28: keep each row with probability = clamp(weight, 0, 1), decided
    by the deterministic uniform_hash draw — quality-weighted corpus
    downsampling (keep good docs with high probability, boilerplate with
    low) that is rerun-stable and partitioning-independent, unlike
    rand()-based sampling. Map-side predicate; composes with pushdown."""
    p = F.least(F.greatest(weight.cast("double"), F.lit(0.0)), F.lit(1.0))
    return df.filter(uniform_hash(F.col(id_col)) < p)


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap_tokens: int = 32,
) -> DataFrame:
    """J29: split each document into overlapping token windows — the
    context-window chunking step of retrieval/training pipelines
    (pack_sequences bins WHOLE docs; this splits LONG docs).

    Chunk k covers tokens [k*stride, k*stride + chunk_tokens) with
    stride = chunk_tokens - overlap_tokens; every token is covered and
    consecutive chunks share `overlap_tokens`. The fan-out is a
    map-side explode of an arithmetic start-offset sequence (same
    narrow shape as hopping windows): no shuffle, no join, composes
    with pushdown. Empty docs yield no chunks. Tokens are staged as a
    named column before the HOF (re-evaluation trap, see shingles_of).

    Returns (id, chunk_idx, n_tokens, chunk_text).
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be < chunk_tokens")
    stride = chunk_tokens - overlap_tokens
    staged = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).select(F.col(id_col), "_toks", F.size("_toks").alias("_n"))
    starts = F.when(
        F.col("_n") > 0, F.sequence(F.lit(0), F.col("_n") - 1, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    exploded = staged.select(
        F.col(id_col), "_toks", "_n", F.posexplode(starts).alias("chunk_idx", "_start")
    )
    return exploded.select(
        F.col(id_col),
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.least(F.lit(chunk_tokens), F.col("_n") - F.col("_start"))
        .cast("long")
        .alias("n_tokens"),
        F.concat_ws(
            " ", F.slice(F.col("_toks"), F.col("_start") + 1, chunk_tokens)
        ).alias("chunk_text"),
    )


def domain_mixture_sample(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    budget_frac: float = 0.5,
) -> DataFrame:
    """J33 domain-mixture resampling: rebalance a multi-source corpus
    toward EQUAL per-source token shares under a global token budget.

    Training mixtures are specified in token shares, not document
    counts, and raw web corpora are heavily skewed by source; the
    standard fix (the execution layer under domain-reweighting schemes
    like DoReMi — the weights here are the uniform share, swappable for
    learned ones) is: give every source the same token budget
    B = budget_frac * total_tokens / n_sources and keep each of source
    s's documents with probability rate_s = min(1, B / tokens_s) — an
    over-represented source is downsampled to its share, an
    under-represented one is kept whole (never upsampled).

    Plan shape: one groupBy(source) token aggregate (tiny output: one
    row per source); its grand totals are an O(n_sources)-row driver
    collect (same documented pattern as tf_idf's corpus-N scalar); the
    per-source rates broadcast-join back onto the corpus, and the keep
    decision is the md5(source:id) prefix draw — deterministic,
    rerun-stable, partitioning-independent, and engine-portable (the
    16-bit hex prefix over 65536.0 is exact in any engine). The corpus
    itself shuffles ZERO times: scan -> broadcast join -> filter.

    Returns kept rows as (id, source, n_tokens, rate) — rate is the
    applied per-source probability, rounded half-up to 6 dp BEFORE the
    comparison so the draw is bit-identical across engines.
    """
    from azure_iot_realtime_data_pipeline_spark.functions.rounding import (
        round_half_up,
    )
    from azure_iot_realtime_data_pipeline_spark.operators.text import token_count

    staged = df.select(
        F.col(id_col),
        F.col(source_col),
        token_count(F.col(text_col)).alias("n_tokens"),
    )
    per_source = staged.groupBy(source_col).agg(
        F.sum("n_tokens").alias("_src_tokens")
    )
    totals = per_source.agg(
        F.sum("_src_tokens").alias("t"), F.count("*").alias("s")
    ).collect()[0]
    if totals["t"] is None:  # empty corpus: SUM over zero rows is NULL
        return staged.limit(0).withColumn("rate", F.lit(0.0)).select(
            id_col, source_col, "n_tokens", "rate"
        )
    budget_per_source = budget_frac * float(totals["t"]) / float(totals["s"])
    rates = per_source.select(
        F.col(source_col),
        F.least(
            F.lit(1.0),
            round_half_up(
                F.lit(budget_per_source) / F.col("_src_tokens").cast("double"),
                6,
            ),
        ).alias("rate"),
    )
    draw = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col(source_col).cast("string"),
                        F.lit(":"),
                        F.col(id_col).cast("string"),
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        .cast("double")
        / F.lit(65536.0)
    )
    return (
        staged.join(F.broadcast(rates), source_col)
        .filter(draw < F.col("rate"))
        .select(id_col, source_col, "n_tokens", "rate")
    )


def sample_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """J34: deterministic FIXED-SIZE sample of k rows per group — the
    eval-set builder beside rate-based stratified sampling (J25 gives
    each stratum a rate; this gives each stratum an exact count, e.g.
    'hold out 100 docs per source'). The sample is the k smallest
    md5(group:id) draws, so membership is order-free, rerun-stable, and
    engine-portable — and uniformly random over the group under the
    hash. Groups smaller than k are kept whole.

    Scale shape: delegates to the two-stage top-n (map-side
    per-partition cap, then a rank window over <= k x partitions rows
    per group) — no group's full contents ever sort in one task.
    """
    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        top_n_per_group,
    )

    keyed = df.withColumn(
        "_draw",
        F.md5(
            F.concat(
                F.col(group_col).cast("string"),
                F.lit(":"),
                F.col(id_col).cast("string"),
            )
        ),
    )
    return (
        top_n_per_group(
            keyed,
            group=group_col,
            order_col="_draw",
            tiebreak=id_col,
            n=k,
            descending=False,
        )
        .drop("_draw", "rank")
    )


def top_ngrams(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """J36: corpus-level top-k n-grams by DOCUMENT frequency — the
    boilerplate/contamination discovery pass (which exact phrases appear
    in the most documents?) that decides what J32 span dedup and J20
    decontamination should target.

    Plan shape at 100 TB: `token_shingles` dedups shingles WITHIN each
    doc map-side (array_distinct before the explode), so the exploded
    (doc, shingle) table needs no DISTINCT shuffle and the document
    frequency is ONE map-side-combined count aggregate; the final
    `orderBy(df DESC, shingle ASC).limit(top_k)` plans as
    TakeOrderedAndProject (per-partition top-k + tiny driver merge),
    never a global sort. Deterministic tie-break on the shingle text.
    """
    from azure_iot_realtime_data_pipeline_spark.operators.dedup import (
        shingle_table,
    )

    # repartition BEFORE the shingle fan-out: the documents parquet is a
    # single file, and without this the whole explode+hash runs in ONE
    # task (measured 5.3 s -> ~1 s at sf0.1; same fix every other
    # shingle consumer already carries)
    sh = shingle_table(
        ensure_parallelism(docs.select(F.col(id_col), F.col(text_col))),
        text_col,
        id_col,
        shingle_k,
    )
    counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    return counts.orderBy(F.col("df").desc(), F.col("shingle").asc()).limit(top_k)


def contamination_score(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """J37: per-document benchmark-overlap FRACTION — the graded
    companion to J20's boolean decontamination gate: what share of a
    doc's distinct k-gram shingles appear anywhere in the benchmark
    set? Pipelines threshold this score (drop > 0.8, flag > 0.1) instead
    of dropping on a single shared phrase, which J20's any-hit rule
    over-fires on (stock phrases, code license headers).

    Plan shape at 100 TB: shingles are DEDUPED WITHIN EACH DOC map-side
    (`token_shingles` array_distinct before the explode — no DISTINCT
    shuffle); the benchmark's distinct shingle set is small by
    definition (eval sets, not corpora) and BROADCASTS into a left join
    that tags hits, so the corpus side's only exchange is the final
    per-doc count aggregate (map-side combine). Docs below k tokens
    have no shingles and are absent from the output, same contract as
    J20's shingle stage.

    Returns (doc_id, n_shingles, n_hits, contamination).
    """
    from azure_iot_realtime_data_pipeline_spark.operators.dedup import shingle_table

    doc_sh = shingle_table(
        ensure_parallelism(docs.select(F.col(id_col), F.col(text_col))),
        text_col,
        id_col,
        k,
    )
    bench_sh = (
        shingle_table(benchmark, text_col, id_col, k)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    tagged = doc_sh.join(F.broadcast(bench_sh), "shingle", "left")
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
        (
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("contamination"),
    )


def es_key(id_col: Column, weight: Column) -> Column:
    """Efraimidis-Spirakis reservoir key: rank-equivalent monotone form
    ln(u)/w of the classic u^(1/w), from the deterministic
    `uniform_hash` integer draw shifted to u in (0, 1] (the +1 keeps
    ln defined where the raw hash is 0 — Spark's ln(0) is NULL while
    DuckDB's is -inf, so u=0 must be unreachable). Rounded half-up to 4
    decimals so a 1-ulp libm ln() divergence between engines cannot
    reorder ranks except at exact .00005 boundaries (the repo-wide
    rounded-ranking convention, same as the IVF/LSH cosine ranks)."""
    u = (_uhash_int(id_col).cast("double") + F.lit(1.0)) / F.lit(2147483648.0)
    return round_half_up(F.log(u) / weight.cast("double"))


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight: Column,
    k: int,
) -> DataFrame:
    """J39: fixed-size WEIGHTED sample per group — Efraimidis-Spirakis
    A-ES (2006): the k rows with the largest ln(u)/w keys are a
    weighted random sample without replacement. Completes the sampling
    matrix: J25 rate-stratified, J28 rate-weighted, J34 fixed-size
    uniform, this one fixed-size weighted (the "pick the 20 best-ish
    docs per source, quality-biased but not deterministic-top-k"
    eval-set builder).

    Deterministic and rerun/partitioning-stable: the draw comes from
    `uniform_hash`, not rand(). Rows with weight <= 0 are never sampled
    (their ES key is undefined), matching the algorithm. Scale shape:
    the key is map-side arithmetic; top-k per group rides the two-stage
    `top_n_per_group` (per-partition Arrow cap BEFORE the shuffle, rank
    window over <= k x partitions rows — never a full per-group sort).

    Returns (group_col, rank, id_col, es_key).
    """
    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        top_n_per_group,
    )

    staged = (
        df.select(F.col(group_col), F.col(id_col), weight.cast("double").alias("_w"))
        .filter(F.col("_w") > 0)
        .select(
            F.col(group_col),
            F.col(id_col),
            es_key(F.col(id_col), F.col("_w")).alias("es_key"),
        )
    )
    return top_n_per_group(
        staged, group=group_col, order_col="es_key", tiebreak=id_col, n=k
    ).select(group_col, "rank", id_col, "es_key")


def quality_filter(
    docs: DataFrame,
    group_col: str,
    id_col: str,
    quality: Column,
    keep_frac: float,
) -> DataFrame:
    """J40: per-group quality-quantile filter — keep each group's top
    `keep_frac` of documents BY VALUE THRESHOLD: the cut is the group's
    exact (1-keep_frac) lower quantile of the quality score (rank
    selection, an actual data value), and every doc with quality >= cut
    survives. Value-threshold semantics on purpose: ties at the cut all
    survive (reproducible set, no arbitrary intra-tie selection), so the
    kept fraction can slightly exceed keep_frac on tied corpora. The
    standard "drop the bottom quartile per domain" curation pass.

    Scale shape: the threshold comes from ONE rank-selection window per
    group over a NARROW (group, quality, id) projection; the resulting
    one-row-per-group threshold table broadcasts back into a map-side
    filter of the full corpus — the wide document payload never
    shuffles (same aggregate-then-broadcast pattern as M3/J33).

    Returns the surviving (id_col, group_col, quality).
    """
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        exact_percentiles,
    )

    narrow = docs.select(
        F.col(group_col), F.col(id_col), quality.alias("quality")
    )
    if keep_frac >= 1.0:
        # q = 0 selects no rank (ceil(0*n) = 0) — "keep everything" is
        # the identity, short-circuit instead
        return narrow.select(id_col, group_col, "quality")
    # the cut is exact_percentiles' rank selection (ceil(q*n) under
    # (value, tiebreak) order) — shared, not a third copy of the pattern
    cuts = exact_percentiles(
        narrow, group_col, "quality", id_col, quantiles=(1.0 - keep_frac,)
    ).select(F.col(group_col), F.col("p_value").alias("_cut"))
    return (
        narrow.join(F.broadcast(cuts), group_col)
        .filter(F.col("quality") >= F.col("_cut"))
        .select(id_col, group_col, "quality")
    )


def token_budget_select(
    docs: DataFrame,
    group_col: str,
    id_col: str,
    n_tokens: Column,
    quality: Column,
    budget_tokens: int,
) -> DataFrame:
    """J41: greedy token-budget selection — per group, take documents in
    (quality DESC, id) order while the RUNNING token total stays within
    `budget_tokens` (cumulative-including-current <= budget). The
    "fill an N-token training budget with each domain's best docs"
    pass; the greedy-by-quality order is the standard heuristic (exact
    knapsack is neither needed nor deterministic-tractable here).

    A doc that overflows the budget is skipped but does NOT stop the
    scan — smaller high-quality docs later in the order may still fit?
    NO: this implementation uses the simpler PREFIX rule (first
    overflow truncates the group), because the prefix rule is
    windowed-cumsum expressible (one shuffle, ANSI-oracle-able) while
    skip-and-continue is an inherently sequential scan. Documented
    trade: prefix selection can strand budget behind one long doc;
    chunk long docs first (J29) if that matters.

    Returns (group_col, id_col, n_tokens, cum_tokens) of the selection.
    """
    from pyspark.sql import Window

    narrow = docs.select(
        F.col(group_col),
        F.col(id_col),
        n_tokens.cast("long").alias("n_tokens"),
        quality.alias("_q"),
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("_q").desc(), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        narrow.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select(group_col, id_col, "n_tokens", "cum_tokens")
    )


def remove_frequent_segments(
    seg_df: DataFrame,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    seg_col: str = "seg",
    min_docs: int = 3,
    joiner: str = " ",
) -> DataFrame:
    """J46 core: C4/CCNet-style boilerplate removal — drop every segment
    (line, paragraph, or fixed chunk) whose EXACT text occurs in at
    least `min_docs` distinct documents, then reassemble each document
    from its surviving segments in position order. This is the
    line-level complement to doc-level near-dup (J3/J4) and
    sliding-span dedup (J32): navigation bars, cookie banners, and
    license headers repeat verbatim across otherwise-unique pages, and
    C4 (Raffel et al. 2020, §2.2 "we discarded ... lines occurring more
    than once in the data set" — public paper, no reference analog) cuts
    them at the segment level.

    Input is a segment table (id, pos, seg) so any splitter composes:
    `remove_frequent_lines` splits on a delimiter; `q_line_dedup` feeds
    non-overlapping token chunks (this corpus has no newlines).

    Plan shape (scale): segment hashes (md5 — shuffle carries 32-byte
    digests, never segment text) -> within-doc dedup + per-segment
    distinct-doc count (two narrow exchanges over the hash table only)
    -> the frequent set is the head of the segment-frequency Zipf tail,
    tiny under any min_docs >= 2, and BROADCASTS into a left join mark
    -> ONE corpus shuffle (the per-doc reassembly aggregate). Reassembly
    sorts each doc's own segments (array_sort over collect_list —
    bounded by document size, the same per-doc bound every reassembly
    op has). At 100 TB raise min_docs with corpus growth (a fixed
    threshold admits ever more segments as the corpus grows).

    Returns (id, kept_segments, removed_segments, clean_text);
    clean_text = '' when every segment was boilerplate.
    """
    segs = seg_df.select(
        F.col(id_col),
        F.col(pos_col),
        F.col(seg_col),
        F.md5(F.col(seg_col)).alias("_h"),
    )
    freq = (
        segs.select("_h", id_col)
        .distinct()
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("_h", F.lit(1).alias("_drop"))
    )
    marked = segs.join(F.broadcast(freq), "_h", "left")
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col(pos_col).alias("p"),
                F.coalesce(F.col("_drop"), F.lit(0)).alias("d"),
                F.col(seg_col).alias("s"),
            )
        )
    )
    kept = F.filter(F.col("_arr"), lambda x: x["d"] == 0)
    return (
        marked.groupBy(id_col)
        .agg(
            F.sum(F.when(F.col("_drop").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("kept_segments"),
            F.sum(F.when(F.col("_drop").isNull(), 0).otherwise(1))
            .cast("long")
            .alias("removed_segments"),
            arr.alias("_arr"),
        )
        .select(
            id_col,
            "kept_segments",
            "removed_segments",
            F.concat_ws(joiner, F.transform(kept, lambda x: x["s"])).alias(
                "clean_text"
            ),
        )
    )


def remove_frequent_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
    delimiter: str = "\n",
) -> DataFrame:
    """J46: delimiter-split form of `remove_frequent_segments` — the
    literal C4 shape (split on newlines, drop lines shared by
    `min_docs`+ docs, rejoin). Empty segments (blank lines, runs of the
    delimiter) are dropped before counting, so they can never become
    'frequent'; position is order-of-appearance among surviving lines.
    Split/explode is map-side; the only corpus shuffle is the
    reassembly aggregate in the core."""
    # F.split takes a Java regex — quote the delimiter with \Q...\E so
    # '.', '|', '\' etc. split literally (the rejoin side uses it
    # literally, and the two must agree)
    quoted = "\\Q" + delimiter.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(
                F.split(F.col(text_col), quoted, -1), lambda s: s != ""
            )
        ).alias("pos", "seg"),
    )
    return remove_frequent_segments(
        lines, id_col, "pos", "seg", min_docs=min_docs, joiner=delimiter
    )


def bigram_counts(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(w1, w2, n): the corpus bigram count table — the shared core of
    J54's conditional LM and J80's PMI collocations, and (because a
    count table is ADDITIVE) directly maintainable on a stream by
    Spark's built-in incremental aggregation (call it on the streaming
    frame), the CMS/HLL argument with sum as the merge. Pairs build INSIDE each document's token array (zip with its
    own tail, map-side — no row window) and explode once; ONE shuffle
    to the vocab-bounded count table."""
    toks = tokens(F.col(text_col))
    pairs = F.filter(
        F.zip_with(
            toks,
            F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        lambda p: p["w2"].isNotNull(),
    )
    exploded = (
        ensure_parallelism(docs.select(F.col(id_col), F.col(text_col)))
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    return exploded.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))


def bigram_lm(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
) -> DataFrame:
    """J54 bigram language-model table — conditional next-token
    probabilities P(w2|w1) over the corpus, the classic KenLM-lite
    statistic behind perplexity filters and junk detection (a corpus
    whose mass sits on a few rote bigrams is template spam).

    Plan shape at 100 TB: bigram pairs are built INSIDE each document's
    token array (zip the array with its own tail, map-side — no window
    over rows, unlike L20's event transitions) and exploded once; ONE
    shuffle produces the (w1, w2) count table, and the normalizing
    denominator is a window over that already-aggregated table
    partitioned by w1 — vocab-sized, never corpus-sized. `min_count`
    prunes the long tail AFTER the denominator is fixed, so surviving
    probabilities are true conditionals over ALL continuations, not
    renormalized over the survivors.

    Tokens are raw whitespace tokens (no case folding: engine-specific
    Unicode lowering would poison cross-engine parity; fold upstream
    with J21 normalize_text when wanted).

    Returns (w1, w2, n, prob) with prob rounded 4dp.
    """
    counts = bigram_counts(docs, text_col, id_col)
    tot = Window.partitionBy("w1")
    return (
        counts.withColumn(
            "prob",
            round_half_up(
                F.col("n").cast("double") / F.sum("n").over(tot).cast("double")
            ),
        )
        .filter(F.col("n") >= min_count)
    )


def vocab_coverage(
    docs: DataFrame,
    text_col: str = "text",
    cutoffs: tuple[int, ...] = (100, 1000, 10000),
) -> DataFrame:
    """J50 vocabulary coverage curve — for each candidate vocab size k,
    what fraction of all corpus tokens the k most frequent types cover.
    THE sizing question for tokenizer training (where does the
    frequency mass saturate?) and the OOV-rate estimate for any fixed
    vocab.

    Plan shape at 100 TB: ONE shuffle to the (token, n) vocab table
    (map-side combined; vocab-sized, not corpus-sized), then
    `global_row_number` ranks it by (n DESC, token) through
    range-bucketed windows — never an Exchange SinglePartition (the
    classic global-sort funnel this query tempts). Only the top
    max(cutoffs) ranked rows survive to the tiny coverage aggregate;
    the corpus-mass denominator is a ONE-row sum broadcast onto the
    |cutoffs| result rows (the J35/L-family lazy-total pattern).

    Returns (cutoff, vocab_size, covered, coverage) — vocab_size <
    cutoff when the corpus has fewer types; coverage rounded 6dp.
    """
    from azure_iot_realtime_data_pipeline_spark.operators.ordering import (
        global_row_number,
    )

    toks = (
        ensure_parallelism(docs.select(F.col(text_col)))
        .select(F.explode(tokens(F.col(text_col))).alias("token"))
    )
    # checkpoint the vocab-sized count table ONCE (r13): it feeds the
    # rank primitive's bounds/stats passes, the numbering job AND the
    # corpus-mass total — without truncation the corpus tokenize
    # replays per consumer (the unigram_logprob_scores lesson).
    counts = (
        toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    ranked = global_row_number(
        counts.withColumn("_negn", -F.col("n")), ["_negn", "token"], "rank"
    )
    top = ranked.filter(F.col("rank") <= max(cutoffs)).select("rank", "n")
    total = counts.agg(F.sum("n").alias("_total"))
    cuts = docs.sparkSession.createDataFrame(
        [(int(c),) for c in sorted(cutoffs)], "cutoff long"
    )
    return (
        top.crossJoin(F.broadcast(cuts))
        .filter(F.col("rank") <= F.col("cutoff"))
        .groupBy("cutoff")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum("n").alias("covered"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "cutoff",
            "vocab_size",
            "covered",
            round_half_up(
                F.col("covered").cast("double") / F.col("_total").cast("double"),
                6,
            ).alias("coverage"),
        )
    )


def _bpe_word_table(docs: DataFrame, text_col: str) -> DataFrame:
    """(syms: array<string>, n: bigint) word-frequency table — BPE's
    one corpus pass; every training iteration runs on this vocab-sized
    frame."""
    return (
        ensure_parallelism(docs.select(F.col(text_col)))
        .select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.split(F.col("w"), "").alias("syms"), F.col("n"))
        .localCheckpoint(eager=True)
    )


def _bpe_pair_counts(words: DataFrame) -> DataFrame:
    """(l, r, cnt): adjacent-symbol pair counts weighted by word
    frequency — the per-iteration aggregate of `bpe_learn_merges`,
    shared with the oracle-able :func:`bpe_pair_counts`."""
    return (
        words.filter(F.size("syms") >= 2)
        .select(
            F.explode(
                F.filter(
                    F.zip_with(
                        F.col("syms"),
                        F.slice(
                            F.col("syms"),
                            2,
                            F.greatest(F.size("syms") - 1, F.lit(0)),
                        ),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    ),
                    lambda p: p["r"].isNotNull(),
                )
            ).alias("p"),
            F.col("n"),
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("n").alias("cnt"))
    )


def bpe_pair_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The FIRST BPE training round's pair statistics — (l, r, cnt)
    over single-character symbols — as a standalone SQL-oracle-able
    operator: `bpe_learn_merges`' per-iteration aggregate is a plain
    explode + weighted GROUP BY (this function, shared code path); only
    the greedy ITERATION (argmax -> fold -> recount) is beyond ANSI
    SQL, so this companion puts the trainer's hot operator under the
    value-hash gate while the fixpoint keeps its python-reference
    property tests. Round 1 symbols are characters, so the DuckDB twin
    is substr arithmetic over the same word-frequency table."""
    return _bpe_pair_counts(_bpe_word_table(docs, text_col))


def _bpe_rewrite_local(syms: list[str], a: str, b: str) -> list[str]:
    """Greedy LEFT-TO-RIGHT non-overlapping single-rule rewrite — the
    plain-python twin of the distributed `F.aggregate` fold ('aaa' +
    (a,a) -> [aa, a]), shared by the driver-side learner and encoder so
    the two local paths cannot diverge from each other."""
    merged = a + b
    out: list[str] = []
    for x in syms:
        if out and out[-1] == a and x == b:
            out[-1] = merged
        else:
            out.append(x)
    return out


def _bpe_learn_merges_local(
    words: list[tuple[list[str], int]],
    n_merges: int,
    min_pair_count: int,
) -> list[tuple[int, str, str, int]]:
    """Driver-side greedy BPE merge loop over a COLLECTED word-frequency
    table — bit-identical semantics to the distributed loop in
    :func:`bpe_learn_merges` (every adjacent pair counted per position,
    argmax tie-break (count DESC, left ASC, right ASC), greedy
    left-to-right non-overlapping rewrite). All state is integers and
    strings, and Python's code-point string order equals Spark's
    UTF8String byte order (UTF-8 preserves code-point order), so the two
    paths cannot diverge on any input. Property-gated against the same
    naive reference as the distributed loop."""
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, int(n_merges) + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, n in words:
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + n
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < min_pair_count:
            break
        merges.append((rank, a, b, cnt))
        words = [(_bpe_rewrite_local(syms, a, b), n) for syms, n in words]
    return merges


#: word-frequency tables at or under this row count run the merge loop
#: on the driver (a few MB — the scale every published BPE trainer
#: handles in memory); larger vocabularies keep the distributed loop.
BPE_DRIVER_VOCAB_ROWS = 100_000


def bpe_learn_merges(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    min_pair_count: int = 2,
    driver_vocab_rows: int = BPE_DRIVER_VOCAB_ROWS,
) -> DataFrame:
    """J51 BPE merge learning — the first `n_merges` byte-pair-encoding
    merge rules over the corpus (Sennrich et al. 2016, public): the
    tokenizer-training step of every LLM data pipeline, learned
    distributed.

    The classic scaling trick: BPE statistics depend only on the WORD
    FREQUENCY table, so the corpus is touched ONCE (token explode ->
    (word, n) aggregate, map-side combined); all `n_merges` iterations
    run on that vocab-sized table. When that table fits the
    `driver_vocab_rows` bound (default 100k rows — published BPE
    trainers run entirely in memory on word frequencies at this scale)
    the greedy loop runs on the driver over the collected table
    (:func:`_bpe_learn_merges_local`, bit-identical semantics); larger
    vocabularies run the distributed iteration below. Each iteration: adjacent symbol
    pairs weighted by word count (one vocab-sized aggregate), argmax
    via orderBy().limit(1) — TakeOrderedAndProject, a bounded one-row
    collect, never a global sort — deterministic tie-break (count DESC,
    pair ASC); then a map-side `F.aggregate` fold rewrites each word's
    symbol array greedily LEFT-TO-RIGHT (non-overlapping, the reference
    semantics: 'aaa' + (a,a) -> [aa, a]), lineage truncated per round
    (localCheckpoint — without it the plan doubles each iteration).
    Stops early when the best pair's count drops below
    `min_pair_count`. No end-of-word marker is appended (documented
    simplification; add one upstream by suffixing tokens if wanted).

    Not SQL-oracle-able (the per-iteration global argmax cannot live in
    a recursive CTE); verified instead by a naive-reference property
    test over arbitrary corpora and a determinism gate.

    Returns (merge_rank, left, right, pair_count) with merge_rank
    starting at 1 in learning order.
    """
    words = _bpe_word_table(docs, text_col)
    spark = docs.sparkSession
    # Bounded driver fast path (r13 optimization, guide §1.2 "the
    # distributed algorithm" + §5 "the driver should do almost no data
    # work" — this is NOT data work: the word-frequency table is
    # VOCABULARY-sized, not corpus-sized, the same bounded-state class
    # as a broadcast side). Measured at sf0.1 the table is 31 rows and
    # each distributed iteration costs ~0.35 s of pure scheduling on a
    # 1-partition frame — 10 rounds ≈ 3.3 s of fixed overhead for
    # microseconds of arithmetic. The limit(N+1) probe keeps the
    # collect bounded at any corpus size; oversized vocabularies fall
    # through to the distributed loop below (path equality is gated by
    # a dedicated test). ADVICE r13 weighed probing with a cheap
    # count() first so an oversized vocab never collects N+1 symbol
    # rows: rejected — it adds a full extra job to the COMMON (bounded)
    # case to save one bounded collect in the rare oversized case; the
    # one-off cost is accepted and bounded by construction.
    head = words.limit(driver_vocab_rows + 1).collect()
    if len(head) <= driver_vocab_rows:
        local = _bpe_learn_merges_local(
            [(list(r["syms"]), int(r["n"])) for r in head],
            n_merges,
            min_pair_count,
        )
        return spark.createDataFrame(
            local, "merge_rank int, left string, right string, pair_count long"
        )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, int(n_merges) + 1):
        pairs = _bpe_pair_counts(words)
        best = (
            pairs.orderBy(
                F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc()
            )
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < min_pair_count:
            break
        a, b, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((rank, a, b, cnt))
        merged = a + b
        fold = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(a))
                & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        words = words.select(fold.alias("syms"), F.col("n")).localCheckpoint(
            eager=True
        )
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, pair_count long"
    )


def temperature_mixture(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.7,
) -> DataFrame:
    """J56: temperature-scaled sampling weights for a multi-source
    training mixture — the standard alternative to J33's equal-share
    budget. With natural token share p_s = tokens_s / total, the
    sampling weight is w_s = p_s^alpha / sum(p^alpha): alpha=1 keeps
    natural proportions, alpha=0 is uniform, and the 0.2-0.7 band is the
    published multilingual/multi-domain recipe (mT5, PaLM, XLM-R style)
    that up-weights small sources without flattening large ones.
    `epochs` = w_s / p_s is the effective pass count over each source at
    the mixed rate — the number a data engineer sanity-checks (an epochs
    of 8 on a tiny source means 8 repetitions: overfitting signal).

    Engine parity: p_s is a single exact-integer division; p^alpha is
    the one libm call, immediately pinned to integer NANO-units
    (floor(x*1e9+0.5)) so the normalizing sum runs order-free in int64
    and a 1-ulp pow() divergence must cross a 5e-10 boundary to be
    visible (same accepted knife-edge class as every rounded cosine in
    operators/similarity.py). Weight/epochs derive from those integers.

    Plan: one groupBy(source) aggregate (output: one row per source),
    materialized ONCE via localCheckpoint so the corpus tokenize+count
    never re-runs for the grand-total collects or the final job —
    otherwise Catalyst would replay the dominant scan three times
    (review r7); then one O(n_sources)-row driver collect. The corpus
    never shuffles beyond the one aggregate.

    A source with ZERO tokens (empty-text docs) gets p=0, weight=0 and
    NULL epochs (0/0 is undefined; Spark's zero-divisor NULL and
    DuckDB's IEEE NaN would otherwise silently diverge — review r7).
    """
    from azure_iot_realtime_data_pipeline_spark.operators.text import token_count

    NANO = 1_000_000_000.0
    per_source = (
        df.select(
            F.col(source_col).alias("source"),
            token_count(F.col(text_col)).alias("_n"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("n_tokens"),
        )
        .localCheckpoint()
    )
    totals = per_source.agg(F.sum("n_tokens").alias("t")).collect()[0]
    t = int(totals["t"]) if totals["t"] is not None else 0
    if t == 0:
        return per_source.limit(0).select(
            "source",
            "n_docs",
            "n_tokens",
            F.lit(0.0).alias("p"),
            F.lit(0.0).alias("weight"),
            F.lit(0.0).alias("epochs"),
        )
    si = F.floor(
        F.pow(F.col("n_tokens").cast("double") / F.lit(float(t)), F.lit(alpha))
        * F.lit(NANO)
        + F.lit(0.5)
    ).cast("long")
    scored = per_source.withColumn("_si", si)
    s_tot = int(scored.agg(F.sum("_si").alias("st")).collect()[0]["st"])
    return scored.select(
        "source",
        "n_docs",
        "n_tokens",
        round_half_up(F.col("n_tokens").cast("double") / F.lit(float(t)), 6).alias("p"),
        round_half_up(F.col("_si").cast("double") / F.lit(float(s_tot)), 6).alias(
            "weight"
        ),
        F.when(
            F.col("n_tokens") > 0,
            round_half_up(
                (F.col("_si").cast("double") * F.lit(float(t)))
                / (F.lit(float(s_tot)) * F.col("n_tokens").cast("double")),
                4,
            ),
        ).alias("epochs"),
    )


def _hashed_ngram_buckets(
    df: DataFrame, text_col: str, id_col: str, n_buckets: int
) -> DataFrame:
    """(id, bucket) rows — one per unigram/bigram OCCURRENCE, hashed to
    a fixed bucket space with the engine-portable md5 hash. The hashed
    bag-of-ngrams featurization of DSIR (Xie et al., NeurIPS'23): the
    model never sees raw vocabulary, only `n_buckets` counters, so the
    fit side is bounded regardless of corpus size. Map-side only —
    explode + hash, no shuffle here."""
    from azure_iot_realtime_data_pipeline_spark.operators.dedup import portable_hash32

    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    uni = staged.select(id_col, F.explode("_toks").alias("_f"))
    # sequence(1, 0) would produce the DESCENDING [1, 0] — guard < 2.
    bigrams = F.when(
        F.size("_toks") >= 2,
        F.expr(
            "transform(sequence(1, size(_toks) - 1), "
            "i -> concat(element_at(_toks, i), ' ', element_at(_toks, i + 1)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = staged.select(id_col, F.explode(bigrams).alias("_f"))
    return uni.unionByName(bi).select(
        F.col(id_col), (portable_hash32(F.col("_f")) % n_buckets).alias("_bucket")
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """J59 DSIR importance weights (Data Selection via Importance
    Resampling, Xie et al., NeurIPS'23 — public paper): score every raw
    document by how target-like its hashed n-gram distribution is.

    Model: unigram bag over `n_buckets` hashed unigram+bigram features.
    With add-one smoothing, p_t[b] = (c_t[b]+1)/(T+B) on the target
    stream and p_r[b] = (c_r[b]+1)/(R+B) on the raw stream; a document's
    log importance weight is sum over its feature occurrences of
    log(p_t[b]/p_r[b]). High-weight docs are the ones importance
    resampling keeps (pair with weighted_sample_per_group /
    importance_sample for the draw itself).

    Cross-engine exactness: the per-bucket log-ratio is pinned to
    integer MICRO-units (floor(x*1e6+0.5), the repo's rounding idiom)
    BEFORE the per-doc sum, so the aggregate is order-free int64
    arithmetic any SQL engine reproduces bit-for-bit.

    Plan shape (the 100 TB story): fit = one corpus pass + one target
    pass, each a map-side explode/hash into a groupBy over at most
    `n_buckets` keys (bounded shuffle, map-side combine); the two
    totals are sums over the B-row count tables (driver scalars, same
    sanctioned pattern as temperature_mixture); score = second corpus
    pass joined to the BROADCAST B-row lambda table, then one shuffle
    on `id_col` for the per-doc sum. The corpus is never shuffled by
    feature. Two corpus passes is DSIR's own structure (fit, then
    score).

    Docs with zero tokens have no features: n_feats = 0, weight = 0.
    """
    b = int(n_buckets)
    raw_feats = _hashed_ngram_buckets(raw, text_col, id_col, b)
    tgt_feats = _hashed_ngram_buckets(target, text_col, id_col, b)
    # ONE tagged-union aggregate fits both streams (r13): the two
    # per-stream aggregates + checkpoints + total collects were four
    # jobs over the same bounded bucket space; a 0/1 tag column turns
    # them into one B-row aggregate and one 1-row collect. The raw
    # count stays the spine: buckets only the target touches carry
    # _cr = 0 and are dropped exactly like the old left join's absent
    # rows (a raw doc can never score against them).
    both = raw_feats.select(
        "_bucket", F.lit(1).alias("_r"), F.lit(0).alias("_t")
    ).unionByName(
        tgt_feats.select("_bucket", F.lit(0).alias("_r"), F.lit(1).alias("_t"))
    )
    counts = (
        both.groupBy("_bucket")
        .agg(F.sum("_r").alias("_cr"), F.sum("_t").alias("_ct"))
        .localCheckpoint()
    )
    tots = counts.agg(
        F.sum("_cr").alias("r"), F.sum("_ct").alias("t")
    ).collect()[0]
    r_tot = tots["r"] or 0
    t_tot = tots["t"] or 0
    lam = counts.filter(F.col("_cr") >= 1).select(
        "_bucket",
        F.floor(
            (
                F.log(
                    (F.col("_ct").cast("double") + 1.0)
                    / F.lit(float(t_tot + b))
                )
                - F.log((F.col("_cr").cast("double") + 1.0) / F.lit(float(r_tot + b)))
            )
            * 1000000.0
            + 0.5
        )
        .cast("long")
        .alias("_lam_micro"),
    )
    scored = (
        raw_feats.join(F.broadcast(lam), "_bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_lam_micro").alias("_w_micro"),
        )
    )
    # doc-sized ⋈ doc-sized: pinned shuffle-hash (broadcast would OOM at
    # corpus scale; the static fallback is the banned SortMergeJoin)
    return (
        raw.select(id_col)
        .join(scored.hint("shuffle_hash"), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_feats"),
            (
                F.coalesce(F.col("_w_micro"), F.lit(0)).cast("double") / 1000000.0
            ).alias("dsir_weight"),
        )
    )


#: the Gopher rule set's stopword list (Rae et al. 2021, §A1.1): a doc
#: must contain at least 2 of these to pass the "stop word" rule.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """J62 Gopher quality rules (Rae et al. 2021, 'Scaling Language
    Models: ... Gopher', §A1.1 — the published MassiveText filter): the
    word-level rule subset, each as its own flag plus the AND:

    - ok_word_count:    50 <= n_words <= 100,000
    - ok_mean_word_len: mean word length in [3, 10] characters
    - ok_symbol_ratio:  symbol-to-word ratio ('#' / '...' / '…') <= 0.1
    - ok_alpha_words:   >= 80% of words contain an alphabetic character
    - ok_stop_hits:     >= 2 distinct GOPHER_STOPWORDS present

    (The line-level rules — bullet-start / ellipsis-end line ratios —
    are omitted: this corpus is single-line by construction; they slot
    in as two more integer-lattice flags over split(text, '\\n').)

    Every ratio threshold is compared on the INTEGER LATTICE
    (3n <= sum_len <= 10n; 10*symbols <= n; 5*alpha >= 4*n) — no float
    division before a boundary compare, so no cross-engine rounding
    knife-edge anywhere; mean_word_len is emitted micro-rounded for
    reporting only. Pure map-side HOF expressions: zero shuffles at any
    scale.
    """
    toks = tokens(F.col(text_col))
    staged = docs.select(F.col(id_col), toks.alias("_toks"))
    n = F.size("_toks").cast("long")
    sum_len = F.aggregate(
        F.transform(F.col("_toks"), lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    symbols = F.size(
        F.filter(
            F.col("_toks"),
            lambda t: t.contains("#") | t.contains("...") | t.contains("…"),
        )
    ).cast("long")
    alpha = F.size(
        F.filter(F.col("_toks"), lambda t: t.rlike("[A-Za-z]"))
    ).cast("long")
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(F.col("_toks"), s),
        )
    ).cast("long")
    flags = staged.select(
        F.col(id_col),
        n.alias("n_words"),
        F.when(n > 0, round_half_up(sum_len.cast("double") / n.cast("double"), 4))
        .alias("mean_word_len"),
        ((n >= 50) & (n <= 100000)).alias("ok_word_count"),
        ((sum_len >= 3 * n) & (sum_len <= 10 * n) & (n > 0)).alias(
            "ok_mean_word_len"
        ),
        ((10 * symbols) <= n).alias("ok_symbol_ratio"),
        ((5 * alpha) >= (4 * n)).alias("ok_alpha_words"),
        stop_hits.alias("stop_hits"),
    )
    return flags.withColumn(
        "passes",
        F.col("ok_word_count")
        & F.col("ok_mean_word_len")
        & F.col("ok_symbol_ratio")
        & F.col("ok_alpha_words")
        & (F.col("stop_hits") >= 2),
    )


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_tokens: bool = False,
) -> DataFrame:
    """J63 BPE tokenizer APPLICATION — encode documents with the merge
    rules `bpe_learn_merges` produced, closing the train→apply loop of
    the tokenizer pipeline (J51 learns, this tokenizes).

    Semantics are the TRAINER's, by construction: each rule applies in
    merge_rank order, greedily LEFT-TO-RIGHT non-overlapping ('aaa' +
    (a,a) -> [aa, a]) — the identical `F.aggregate` fold expression, so
    a corpus encoded with its own learned merges reproduces exactly the
    symbol state the trainer ended on.

    Scale shape, the trainer's own trick in reverse: BPE encoding is a
    WORD-level function, so the n_merges-deep fold runs once per
    DISTINCT word (the vocab table — measured 7x faster than folding
    every word occurrence at sf0.1, and the gap grows with corpus
    size), then the encoded vocab broadcast-joins back onto the
    corpus's exploded tokens and one doc-keyed aggregate reassembles
    per-doc counts. The rule table is collected driver-side (bounded by
    n_merges — tokenizer vocabularies are KBs, the one legitimately
    driver-sized table in this pipeline). A multi-TB vocab would
    outgrow the broadcast; the swap is a shuffle-hash join on the
    word key — same semantics, one more corpus shuffle.

    Returns (id, n_words, n_chars, n_bpe_tokens[, bpe_tokens]) —
    n_chars == n_bpe_tokens when `merges` is empty (nothing merged);
    zero-token docs keep a row of zeros. Rows-only like the trainer
    (the rules are data-dependent, so no ANSI oracle can reproduce
    them); gated by a plain-python reference in tests.
    """
    rules = [
        (r["left"], r["right"])
        for r in merges.orderBy("merge_rank").collect()
    ]

    def _make_fold(a: str, b: str):
        # factory (not default-arg capture): PySpark HOFs inspect the
        # callable's arity, so the lambda must take exactly one argument
        merged = a + b

        def fold(syms):
            return F.aggregate(
                syms,
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a))
                    & (x == F.lit(b)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.lit(merged)),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            )

        return fold

    doc_words = _bpe_doc_words(docs, text_col, id_col)
    # Bounded driver fast path (r14, the bpe_learn_merges move applied
    # to the APPLY side): the encoded vocabulary is a function of the
    # DISTINCT-WORD set alone, so when that set fits the same
    # driver_vocab_rows bound the fold runs in Python on the collected
    # word list (via _bpe_rewrite_local — the learner's own rewrite,
    # reference-gated) and ships back as a broadcast literal table.
    # The in-plan alternative builds an n_merges-DEEP nested interpreted
    # F.aggregate tree (seconds of Catalyst analysis per build,
    # interpreted HOF eval per word) plus a distinct exchange inside the
    # broadcast-build job. The symbols are collected from the SAME
    # F.split the distributed fold consumes, so the two paths cannot
    # disagree on symbol segmentation. Oversized vocabularies keep the
    # distributed fold below.
    head = (
        doc_words.select("_w")
        .distinct()
        .select("_w", F.split(F.col("_w"), "").alias("_chars"))
        .limit(BPE_DRIVER_VOCAB_ROWS + 1)
        .collect()
    )
    if len(head) <= BPE_DRIVER_VOCAB_ROWS:
        vocab_rows = []
        for r in head:
            s = list(r["_chars"])
            for a, b in rules:
                s = _bpe_rewrite_local(s, a, b)
            vocab_rows.append((r["_w"], s))
        vocab = docs.sparkSession.createDataFrame(
            vocab_rows, "_w string, _syms array<string>"
        )
    else:
        syms = F.split(F.col("_w"), "")
        for a, b in rules:
            syms = _make_fold(a, b)(syms)
        vocab = doc_words.select("_w").distinct().select(
            F.col("_w"), syms.alias("_syms")
        )
    return _bpe_encode_with_vocab(docs, vocab, text_col, id_col, keep_tokens)


def _bpe_doc_words(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, _pos, _w) word-occurrence table — bpe_encode's corpus pass.
    parallelism guard (r13): it feeds the vocab probe AND the broadcast
    join+aggregate — both tokenize passes ran in ONE task off the
    single-file scan (the q_top_ngrams class)."""
    staged = ensure_parallelism(
        docs.select(F.col(id_col), F.col(text_col))
    ).select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    return staged.select(
        F.col(id_col), F.posexplode("_toks").alias("_pos", "_w")
    )


def _bpe_encode_with_vocab(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str,
    id_col: str,
    keep_tokens: bool,
) -> DataFrame:
    """The per-doc reassembly tail of bpe_encode: broadcast-join the
    encoded (_w, _syms) vocabulary onto the word occurrences and
    aggregate counts (plus the ordered token arrays when asked) back to
    one row per doc. Shared by bpe_encode and bpe_train_encode so the
    two entry points cannot diverge."""
    doc_words = _bpe_doc_words(docs, text_col, id_col)
    joined = doc_words.join(F.broadcast(vocab), "_w")
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.length("_w")).cast("long").alias("n_chars"),
        F.sum(F.size("_syms")).cast("long").alias("n_bpe_tokens"),
    ]
    if keep_tokens:
        aggs.append(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "_syms"))
                    ),
                    lambda s: s["_syms"],
                )
            ).alias("bpe_tokens")
        )
    agg = joined.groupBy(id_col).agg(*aggs)
    zeros = [
        F.coalesce(F.col("n_words"), F.lit(0)).alias("n_words"),
        F.coalesce(F.col("n_chars"), F.lit(0)).alias("n_chars"),
        F.coalesce(F.col("n_bpe_tokens"), F.lit(0)).alias("n_bpe_tokens"),
    ]
    if keep_tokens:
        zeros.append(
            F.coalesce(F.col("bpe_tokens"), F.array().cast("array<string>")).alias(
                "bpe_tokens"
            )
        )
    return (
        docs.select(id_col)
        .join(agg.hint("shuffle_hash"), id_col, "left")
        .select(F.col(id_col), *zeros)
    )


def bpe_train_encode(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 10,
    min_pair_count: int = 2,
    driver_vocab_rows: int = BPE_DRIVER_VOCAB_ROWS,
    keep_tokens: bool = False,
) -> DataFrame:
    """J63 train→apply fused (r14): learn `n_merges` BPE rules and
    encode the SAME corpus with them, sharing ONE word-frequency pass.
    Composing bpe_learn_merges + bpe_encode tokenizes the corpus three
    times (the learner's word table, the encoder's vocab probe, the
    encode join) and round-trips the rule list through a DataFrame; the
    distinct-word set the encoder needs IS the learner's collected word
    table (word = the concatenation of its symbols), so under the
    driver bound both the greedy learner and the vocabulary fold run on
    one collected table and the corpus is touched twice total (word
    aggregate + encode join). Result identical to
    ``bpe_encode(docs, bpe_learn_merges(docs))`` — gated by a dedicated
    equality test; oversized vocabularies fall back to exactly that
    composition (distributed paths, same semantics)."""
    words = _bpe_word_table(docs, text_col)
    head = words.limit(driver_vocab_rows + 1).collect()
    if len(head) <= driver_vocab_rows:
        local_words = [(list(r["syms"]), int(r["n"])) for r in head]
        merges = _bpe_learn_merges_local(local_words, n_merges, min_pair_count)
        rules = [(a, b) for _, a, b, _ in merges]
        vocab_rows = []
        for syms, _n in local_words:
            s = list(syms)
            for a, b in rules:
                s = _bpe_rewrite_local(s, a, b)
            vocab_rows.append(("".join(syms), s))
        vocab = docs.sparkSession.createDataFrame(
            vocab_rows, "_w string, _syms array<string>"
        )
        return _bpe_encode_with_vocab(docs, vocab, text_col, id_col, keep_tokens)
    merges_df = bpe_learn_merges(
        docs, text_col, n_merges, min_pair_count, driver_vocab_rows
    )
    return bpe_encode(docs, merges_df, text_col, id_col, keep_tokens)


def stratified_split(
    docs: DataFrame,
    strata_cols: list[str],
    id_col: str = "doc_id",
    weights_ppm: tuple[tuple[str, int], ...] = (
        ("train", 800_000),
        ("val", 100_000),
        ("test", 100_000),
    ),
) -> DataFrame:
    """J70 stratified train/val/test split: EXACT per-stratum
    proportions — J19's hash split is uniform-in-expectation only, so a
    small stratum (a rare language) can land entirely in one split;
    eval sets must preserve the domain mix.

    Per stratum, rows order by (md5 of the id, id) — a deterministic,
    ENGINE-PORTABLE shuffle that decorrelates the split from id
    assignment order (xxhash64 would be Spark-only; md5 text is the
    repo's portable-twin idiom) — and the first floor(n*cum_ppm/1e6)
    rows take split 1, etc. Weights are INTEGER parts-per-million: a
    0.8+0.1 float accumulation is NOT the double the oracle's literal
    0.9 parses to (the classic IEEE trap), so a float API could flip a
    boundary row between engines; n*cum_ppm is exact int64 and its
    single division is correctly rounded identically everywhere. One
    exchange (the stratum window; count rides the same partitioning).

    Weights must sum to 1_000_000 (the last split absorbs the floor
    remainder). Returns (id, strata..., split)."""
    total = sum(w for _, w in weights_ppm)
    if total != 1_000_000:
        raise ValueError(f"weights_ppm must sum to 1000000, got {total}")
    sort_key = F.md5(F.concat(F.lit("split:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(*strata_cols).orderBy(sort_key, F.col(id_col))
    wn = Window.partitionBy(*strata_cols)
    ranked = docs.select(id_col, *strata_cols).withColumn(
        "_rn", F.row_number().over(w)
    ).withColumn("_n", F.count(F.lit(1)).over(wn))
    expr = None
    cum = 0
    for name, wt in weights_ppm[:-1]:
        cum += wt
        bound = F.floor(
            (F.col("_n") * F.lit(cum)).cast("double") / F.lit(1_000_000.0)
        )
        branch = F.col("_rn") <= bound
        expr = (
            F.when(branch, F.lit(name))
            if expr is None
            else expr.when(branch, F.lit(name))
        )
    last = F.lit(weights_ppm[-1][0])
    # a single-split weights tuple is valid (everything -> that split);
    # the CASE chain is then empty and `expr` never materialized
    expr = last if expr is None else expr.otherwise(last)
    return ranked.select(id_col, *strata_cols, expr.alias("split"))


def ngram_kl(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """J71 domain-shift detector: KL(a || b) over the hashed
    unigram+bigram bucket distributions (the J59/DSIR featurization —
    bounded at n_buckets counters regardless of corpus size), add-one
    smoothed. The drift monitor between a training corpus and an
    incoming batch: near 0 = same domain; rising = the mixture moved.

    Exactness (the J43/J59 pinned-ln idiom): per bucket, both log
    probabilities pin to int64 micro-nats BEFORE p_a weights them, and
    each bucket's contribution pins again — the final one-row sum is
    order-free int64. Every one of the n_buckets rows joins a FULL
    bucket spine, so unseen-on-both-sides buckets contribute their
    (nonzero when totals differ) smoothed term instead of silently
    dropping. Plan: two bounded bucket aggregates, two one-row totals
    (the sanctioned scalar collect), one <= n_buckets-row join — the
    corpora are scanned once each and never shuffled by feature.

    Returns ONE row (kl_nats, n_buckets_obs, a_feats, b_feats)."""
    # localCheckpoint the <= n_buckets-row count tables (the J59 idiom):
    # the scalar-total collect below would otherwise re-run the whole
    # explode+hash+shuffle lineage when the returned plan executes —
    # doubling the dominant stage on both corpora.
    fa = (
        _hashed_ngram_buckets(a, text_col, id_col, n_buckets)
        .groupBy("_bucket")
        .agg(F.count(F.lit(1)).alias("_ca"))
        .localCheckpoint()
    )
    fb = (
        _hashed_ngram_buckets(b, text_col, id_col, n_buckets)
        .groupBy("_bucket")
        .agg(F.count(F.lit(1)).alias("_cb"))
        .localCheckpoint()
    )
    a_tot = fa.agg(F.sum("_ca").alias("s")).collect()[0]["s"] or 0
    b_tot = fb.agg(F.sum("_cb").alias("s")).collect()[0]["s"] or 0
    spine = a.sparkSession.range(n_buckets).select(
        F.col("id").alias("_bucket")
    )
    j = (
        spine.join(F.broadcast(fa), "_bucket", "left")
        .join(F.broadcast(fb), "_bucket", "left")
        .select(
            "_bucket",
            F.coalesce(F.col("_ca"), F.lit(0)).alias("_ca"),
            F.coalesce(F.col("_cb"), F.lit(0)).alias("_cb"),
        )
    )
    # ONE smoothed-probability expression per distribution — mla/mlb
    # log the same bound column, so a smoothing edit cannot skew one
    # copy silently (review r7 s5 pass 4)
    pa = (F.col("_ca").cast("double") + 1.0) / F.lit(float(a_tot + n_buckets))
    pb = (F.col("_cb").cast("double") + 1.0) / F.lit(float(b_tot + n_buckets))
    mla = F.floor(F.log(pa) * 1_000_000.0 + F.lit(0.5)).cast("long")
    mlb = F.floor(F.log(pb) * 1_000_000.0 + F.lit(0.5)).cast("long")
    contrib = F.floor(
        pa * (mla - mlb).cast("double") + F.lit(0.5)
    ).cast("long")
    agg = j.select(
        contrib.alias("_c"),
        (F.col("_ca") > 0).cast("long").alias("_oa"),
        (F.col("_cb") > 0).cast("long").alias("_ob"),
    ).agg(
        F.sum("_c").alias("_kl_micro"),
        F.sum(F.when((F.col("_oa") + F.col("_ob")) > 0, 1).otherwise(0)).alias(
            "n_buckets_obs"
        ),
    )
    from azure_iot_realtime_data_pipeline_spark.functions.rounding import (
        round_half_up,
    )

    return agg.select(
        round_half_up(
            F.col("_kl_micro").cast("double") / F.lit(1_000_000.0), 6
        ).alias("kl_nats"),
        F.col("n_buckets_obs"),
        F.lit(a_tot).cast("long").alias("a_feats"),
        F.lit(b_tot).cast("long").alias("b_feats"),
    )


def shard_assign(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
) -> DataFrame:
    """J76: deterministic training-shard layout — the last mile of
    corpus prep, where a curated corpus becomes the N fixed files a
    training loader streams. Returns (doc_id, shard, pos, n_tokens,
    cum_tokens): shard = a salted portable hash of the id mod N (order-
    free, uniform, decorrelated from any id-ordered corpus property —
    the same argument as hash_split over rand()/id%N), pos = the doc's
    1-based position within its shard under a SECOND independent hash
    (a reproducible global shuffle: training wants documents in random
    order, and re-running the job must produce the identical order),
    cum_tokens = the running whitespace-token total through each doc —
    the seek index a loader uses to resume mid-shard or to pack fixed
    token budgets per step.

    Shape: one shuffle, keyed on the shard (uniform by construction —
    no salting needed), with ONE window giving both the position and
    the running sum. At 100 TB the writer form is
    `repartition(n_shards, shard).sortWithinPartitions(order_key)` +
    per-shard files: identical semantics, and the window disappears
    into the sort-on-write. The two hashes are salted differently
    ('shard:' / 'ord:' prefixes) so shard membership and within-shard
    order are independent — a single hash would sort each shard by the
    same key that chose it, leaving the low hash range systematically
    at the front of every shard.

    NULL ids are excluded (a corpus with NULL ids should be repaired
    upstream, not sharded — hash_split's contract).
    """
    from azure_iot_realtime_data_pipeline_spark.operators.dedup import (
        portable_hash32,
    )

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    idc = F.col(id_col).cast("string")
    staged = docs.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col),
        (portable_hash32(F.concat(F.lit("shard:"), idc)) % n_shards)
        .cast("int")
        .alias("shard"),
        portable_hash32(F.concat(F.lit("ord:"), idc)).alias("_ord"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy(F.col("_ord"), F.col(id_col))
    return staged.select(
        F.col(id_col),
        F.col("shard"),
        F.row_number().over(w).alias("pos"),
        F.col("n_tokens"),
        F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
    )


def ngram_diversity(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    shingle_k: int = 3,
) -> DataFrame:
    """J79: corpus-level lexical diversity per source — (source, n_docs,
    n_tokens, n_distinct_tokens, ttr, n_trigrams, n_distinct_trigrams,
    trigram_ttr). The ACROSS-docs repetitiveness monitor: J22's
    repetition_score flags a repetitive DOCUMENT, this flags a
    repetitive SOURCE (template farms, scraped mirrors, synthetic
    spam), whose type-token ratio and especially distinct-k-gram ratio
    collapse long before any single doc looks degenerate. A standard
    data-card statistic (Gopher/MassiveText report exactly these).

    Shape: one token-level and one shingle-level aggregate, each a
    two-stage exact distinct per source (partial distinct map-side,
    the (source, gram) key space is vocabulary-bounded so the shuffle
    is vocab-sized, not corpus-sized), plus a doc-count pass; the three
    per-source tables broadcast-join (sources are few). At a truly
    unbounded gram domain the swap is the J74 HLL registers per source
    — same report columns, bounded state, ~6.5% error.

    Ratios are one f64 division rounded half-up; a source with zero
    tokens (or < k tokens everywhere) reports NULL ratios, not a
    division error.
    """
    staged = ensure_parallelism(
        docs.select(
            F.col(source_col).alias("source"),
            F.col(id_col),
            tokens(F.col(text_col)).alias("_toks"),
        )
    )
    base = staged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("_toks")).cast("long").alias("n_tokens"),
    )
    tok = (
        staged.select("source", F.explode("_toks").alias("_t"))
        .groupBy("source")
        .agg(F.countDistinct("_t").cast("long").alias("n_distinct_tokens"))
    )
    tri = (
        staged.select(
            "source", F.explode(shingles_of(F.col("_toks"), shingle_k)).alias("_s")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trigrams"),
            F.countDistinct("_s").cast("long").alias("n_distinct_trigrams"),
        )
    )
    # null-safe joins: a NULL source is a real group on both engines'
    # GROUP BY, but a plain equi-join would strand its distinct counts
    # (NULL != NULL) and report NULL ratios for a source that has tokens
    tok = tok.withColumnRenamed("source", "_src_t")
    tri = tri.withColumnRenamed("source", "_src_3")
    out = base.join(
        F.broadcast(tok), F.col("source").eqNullSafe(F.col("_src_t")), "left"
    ).join(F.broadcast(tri), F.col("source").eqNullSafe(F.col("_src_3")), "left")
    ttr = F.when(
        F.col("n_tokens") > 0,
        round_half_up(
            F.col("n_distinct_tokens").cast("double")
            / F.col("n_tokens").cast("double")
        ),
    )
    tri_ttr = F.when(
        F.col("n_trigrams") > 0,
        round_half_up(
            F.col("n_distinct_trigrams").cast("double")
            / F.col("n_trigrams").cast("double")
        ),
    )
    return out.select(
        "source",
        "n_docs",
        "n_tokens",
        F.coalesce("n_distinct_tokens", F.lit(0)).alias("n_distinct_tokens"),
        ttr.alias("ttr"),
        F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
        F.coalesce("n_distinct_trigrams", F.lit(0)).alias("n_distinct_trigrams"),
        tri_ttr.alias("trigram_ttr"),
    )


def collocations(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
) -> DataFrame:
    """J80: PMI collocation mining — (w1, w2, n_ab, n_a, n_b, pmi) for
    every adjacent bigram with n_ab >= min_count, pmi = ln of the
    observed-over-independent ratio. The classic phrase detector
    (Church & Hanks'90; word2phrase uses the same statistic with a
    discount): high PMI marks "new york"-style units worth fusing
    before tokenizer training, and a corpus whose TOP collocations are
    boilerplate fragments is template spam J79's ratios corroborate.

    Plan shape: J54's in-array bigram build (zip the token array with
    its own tail, map-side; no row window) -> ONE shuffle to the
    (w1, w2) count table; unigram counts are a second vocab-sized
    aggregate; both are localCheckpointed so the scalar totals (the
    sanctioned one-row collect, the J71 idiom) don't replay the corpus
    explode, and the final join attaches BROADCAST unigram counts to
    the vocab-sized pair table. Nothing after the two exploded
    aggregates is corpus-sized.

    `min_count` bounds the hapax tail BEFORE the join (PMI is maximal
    for pairs seen once — pure noise) and keeps the output honest.
    Exactness: the PMI argument is an exact integer ratio evaluated in
    ONE mirrored f64 expression (products left-associated identically
    in the oracle), then the single libm ln, rounded half-up — the
    accepted knife-edge class.
    """
    # ONE tagged aggregate fits both tables (r14, the DSIR r13 move):
    # the unigram and bigram counts previously ran as two corpus
    # tokenize+explode passes, two checkpoints and two scalar collects.
    # Each doc now emits one concatenated struct array — (w, NULL) per
    # token plus (w1, w2) per adjacent pair, the same zip-with-tail
    # build as bigram_counts — through ONE explode into ONE
    # vocab-bounded groupBy; w2 IS NULL marks the unigram rows (a real
    # bigram's w2 is never NULL by the zip filter), and both totals
    # come back in one 1-row collect over the single checkpoint.
    staged = ensure_parallelism(
        docs.select(F.col(id_col), F.col(text_col))
    ).select(tokens(F.col(text_col)).alias("_toks"))
    t = F.col("_toks")
    uni_structs = F.transform(
        t,
        lambda w: F.struct(
            w.alias("w1"), F.lit(None).cast("string").alias("w2")
        ),
    )
    bi_structs = F.filter(
        F.zip_with(
            t,
            F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
        lambda p: p["w2"].isNotNull(),
    )
    counts = (
        staged.select(F.explode(F.concat(uni_structs, bi_structs)).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    bi = counts.filter(F.col("w2").isNotNull()).withColumnRenamed("n", "n_ab")
    uni = counts.filter(F.col("w2").isNull()).select(
        F.col("w1").alias("w"), F.col("n").alias("n_w")
    )
    tots = counts.agg(
        F.sum(F.when(F.col("w2").isNull(), F.col("n"))).alias("_u"),
        F.sum(F.when(F.col("w2").isNotNull(), F.col("n"))).alias("_b"),
    ).collect()[0]
    n_uni = tots["_u"] or 0
    n_bi = tots["_b"] or 0
    if n_bi == 0:
        return bi.select(
            "w1", "w2", "n_ab",
            F.lit(None).cast("long").alias("n_a"),
            F.lit(None).cast("long").alias("n_b"),
            F.lit(None).cast("double").alias("pmi"),
        )
    ua = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b"))
    joined = (
        bi.filter(F.col("n_ab") >= int(min_count))
        .join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
    )
    ratio = (
        F.col("n_ab").cast("double")
        * F.lit(float(n_uni))
        * F.lit(float(n_uni))
        / (
            F.lit(float(n_bi))
            * F.col("n_a").cast("double")
            * F.col("n_b").cast("double")
        )
    )
    return joined.select(
        "w1", "w2", "n_ab", "n_a", "n_b",
        round_half_up(F.log(ratio)).alias("pmi"),
    )
