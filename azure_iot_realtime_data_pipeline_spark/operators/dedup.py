"""Deduplication operator family (exact, n-gram Jaccard, MinHash+LSH, SimHash).

Scale design (the whole point of this module):
- exact dedup: hash-groupBy on md5(text) — one shuffle on a short key,
  map-side partial aggregation, no text comparison after hashing.
- n-gram Jaccard: shingle-explode + equi-join on the shingle — candidate
  pairs are generated by a JOIN (shuffle on shingle), never an O(n^2)
  cross product. Output is pairs sharing >= 1 shingle.
- MinHash+LSH: signature via built-in xxhash64 + affine permutations
  (all JVM expressions), banding via posexplode, candidate pairs via a
  self-join on (band, band_hash) — the classic sub-quadratic near-dup
  path for 100 TB corpora.
- SimHash: 64-bit signature; bit-majority over token hashes expressed
  with array expressions (no Python in the loop).

Every step is an equi-join or groupBy that AQE can re-plan (skew split,
partition coalesce).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from azure_iot_realtime_data_pipeline_spark.functions.rounding import round_half_up

from azure_iot_realtime_data_pipeline_spark.operators.text import tokens
from azure_iot_realtime_data_pipeline_spark.sources.batch import ensure_parallelism

MERSENNE_31 = 2_147_483_647  # 2^31 - 1


def text_hash(text: Column) -> Column:
    """Exact-dup key: md5 of the raw text (portable to any SQL oracle)."""
    return F.md5(text)


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group-by-hash exact dedup: representative (min id) + copy count."""
    return (
        docs.groupBy(text_hash(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def token_shingles(toks: Column, k: int = 3) -> Column:
    """Distinct k-token shingles joined by single spaces; [] when < k tokens."""
    idx = F.sequence(F.lit(0), F.size(toks) - k)
    shingle_at = lambda i: F.concat_ws(" ", *[F.get(toks, i + j) for j in range(k)])  # noqa: E731
    return F.when(
        F.size(toks) >= k, F.array_distinct(F.transform(idx, shingle_at))
    ).otherwise(F.array().cast("array<string>"))


def shingle_table(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded table — the join key for candidate pairs.

    ensure_parallelism guards the tokenize+shingle fan-out (r13: the
    r5 q_top_ngrams lesson had reached every shingle consumer EXCEPT
    this one — a single-file scan ran the whole interpreted-HOF
    shingle pass in ONE task: measured 4.6 s single-core for the
    1/4-sample at sf0.1 inside q_lsh_eval's truth pass, ~0.2 s spread
    over the cluster)."""
    src = ensure_parallelism(docs.select(F.col(id_col), F.col(text_col)))
    return src.select(
        F.col(id_col).alias("doc_id"),
        F.explode(token_shingles(tokens(F.col(text_col)), k)).alias("shingle"),
    )


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Exact Jaccard over k-token shingle sets for all pairs sharing >= 1
    shingle. |A ∩ B| from the shingle self-join; |A ∪ B| = |A|+|B|-|∩|."""
    sh = shingle_table(docs, text_col, id_col, k)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            round_half_up(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


def shingle_hashes(toks: Column, k: int = 3) -> Column:
    """array<long> of DISTINCT 31-bit k-token shingle hashes.

    h = xxhash64(tok_i, …, tok_{i+k-1}) & 0x7fffffff — the multi-arg
    hash is position-sensitive (argument order feeds the seed chain) so
    it is equivalent to hashing the joined shingle string, WITHOUT
    allocating that string: measured ~5x less CPU than
    concat_ws+xxhash64 per shingle in the interpreted HOF path.
    Distinct-by-hash == distinct-by-string for MinHash purposes (the
    signature only ever sees the hash). [] when < k tokens.
    """
    idx = F.sequence(F.lit(0), F.size(toks) - k)
    hash_at = lambda i: F.xxhash64(*[F.get(toks, i + j) for j in range(k)]).bitwiseAND(  # noqa: E731
        F.lit(0x7FFFFFFF)
    )
    return F.when(
        F.size(toks) >= k, F.array_distinct(F.transform(idx, hash_at))
    ).otherwise(F.array().cast("array<long>"))


def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """array<long> MinHash signature; deterministic coefficient schedule.

    sig[i] = min over shingle hashes of (h*(2i+1) + (7919i+1)) mod
    (2^31-1), h from ``shingle_hashes``. Odd multipliers are bijective
    mod 2^31-1; the 31-bit base keeps every product < 2^38 (no int64
    overflow under ANSI mode or in oracle re-implementations).

    ``shingles`` is the array<long> from ``shingle_hashes``. Single-pass
    shape: ONE aggregate carrying an array<long> of running minima.
    (The naive form — num_hashes separate array_min(transform(...))
    expressions — re-hashes every shingle per permutation inside
    interpreted HOF eval: ~30x slower at sf0.1.) Prefer the
    ``minhash_signatures`` table form in hot paths — it is the
    whole-stage-codegen shape of the same fold.
    """
    init = F.array_repeat(F.lit(MERSENNE_31).cast("long"), num_hashes)
    return F.aggregate(
        shingles,
        init,
        lambda acc, h: F.transform(
            acc,
            lambda m, i: F.least(m, (h * (i * 2 + 1) + (i * 7919 + 1)) % MERSENNE_31),
        ),
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """(doc_id, sig) MinHash signature table — bit-identical to
    ``minhash_signature`` but in the whole-stage-codegen shape: explode
    shingles to rows, xxhash each shingle ONCE, then one hash aggregate
    with ``num_hashes`` scalar ``min`` columns reassembled into the
    signature array.

    Why not the single-pass ``F.aggregate`` Column form: nested lambda
    HOFs run interpreted and allocate a fresh acc array per shingle —
    measured ~9x slower at sf0.1. Here every permutation is a codegen'd
    arithmetic expression and the groupBy gets map-side partial
    aggregation, so the shuffle carries at most one 32-long row per doc
    per partition — the shape that survives 100 TB.

    Docs with < shingle_k tokens keep the init signature (all
    MERSENNE_31), matching the Column form's empty-array fold.
    """
    src = ensure_parallelism(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    )
    # explode_outer keeps empty docs as one NULL-hash row; the min()
    # aggregates skip NULL and the coalesce below restores the init
    # signature. Hashing happens ONCE per shingle here — each min()
    # expression closes over tiny arithmetic on `_h`, not its own copy
    # of the tokenizer+hash tree. Tokens are STAGED as a column first:
    # shingle_hashes references its toks argument k times per array
    # element, and an inlined tokenizer subtree is re-evaluated at every
    # reference inside the HOF (the corpus.shingles_of lesson, ~2x here).
    hashed = src.select(
        "doc_id", tokens(F.col("_text")).alias("_toks")
    ).select(
        "doc_id",
        F.explode_outer(shingle_hashes(F.col("_toks"), shingle_k)).alias("_h"),
    )
    # the num_hashes min aggregates and the reassembly array are
    # rendered as SQL strings (r13): one F.expr per aggregate and one
    # selectExpr beat ~100 Column-DSL ops of py4j round trips per
    # query build; expressions identical.
    mins = [
        F.expr(
            f"min((_h * {i * 2 + 1} + {i * 7919 + 1}) % {MERSENNE_31})"
        ).alias(f"_m{i}")
        for i in range(num_hashes)
    ]
    agg = hashed.groupBy("doc_id").agg(*mins)
    sig = "array(" + ", ".join(
        f"coalesce(_m{i}, CAST({MERSENNE_31} AS BIGINT))"
        for i in range(num_hashes)
    ) + ")"
    return agg.selectExpr("doc_id", f"{sig} AS sig")


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    est_threshold: float = 0.5,
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash-LSH.

    rows_per_band = num_hashes // bands; a pair collides when any band's
    row-slice hashes equal. est_jaccard = fraction of equal signature
    positions. Returns (doc_a, doc_b, est_jaccard >= est_threshold).

    One lazy plan: the banded self-join's two sides are the same
    signature subtree, so Spark computes the signature aggregate once
    and the second side reads it back as a ReusedExchange (no eager
    stage job). Band keys are a multi-arg xxhash64 over the raw longs:
    no string allocation per band, and the hash covers position
    (argument order). Measured note: a lowest-colliding-band filter
    (forall over both sigs per joined row) was tried against the
    post-join `dropDuplicates` and lost ~2x warm at sf0.1 — the
    candidate set is small after banding, so the dedup shuffle is
    cheaper than widening the join predicate.
    """
    sig = minhash_signatures(docs, text_col, id_col, num_hashes, shingle_k)
    return _lsh_pairs(sig, num_hashes, bands, est_threshold, "xxhash64({})")


def embedding_near_dup(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 0,
    dim: int = 64,
    max_exact_rows: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, cosine) for a < b
    with rounded cosine >= threshold.

    num_planes=0 is the exact all-pairs form — correct tool only for a
    bounded slice (oracle checks, final rerank). num_planes>0 is the
    100 TB path: random-hyperplane LSH buckets both sides and the exact
    cosine runs only within colliding buckets (equi-join on the packed
    signature; same recall/cost dial as similarity.lsh_topk).

    HARD ROW BOUND on the exact form: the crossJoin is O(n^2), so
    num_planes=0 refuses inputs larger than `max_exact_rows` (default
    100k -> ~5e9 candidate pairs, the outer edge of sane for a rerank
    slice) with a ValueError naming the LSH escape hatch. The count()
    pre-scan is an eager job that recomputes the input lineage — cheap
    on a parquet scan (footer counts), a REAL pass on filtered/derived
    inputs, so cache/localCheckpoint `emb` first if the lineage is
    expensive; it is skipped for streaming inputs (count() would raise
    AnalysisException — the caller owns bounding a stream's micro-batch).
    Raise the bound explicitly if you truly mean it.
    """
    from azure_iot_realtime_data_pipeline_spark.operators.similarity import (
        dot_f64,
        norm_f64,
        with_plane_signatures,
    )

    # norms are computed ONCE PER VECTOR before the pair expansion —
    # inside the pair projection each row would re-fold both vectors'
    # norms, tripling the per-pair HOF cost (pairs >> vectors always);
    # the LSH path computes signature AND norm in the one numpy Arrow
    # pass of with_plane_signatures (bit-identical sequential folds), so
    # the rounded cosine is bit-identical either way.
    if num_planes > 0:
        signed = with_plane_signatures(
            emb.select(id_col, vec_col), vec_col, dim, num_planes, [0],
            norm_col="_n",
        )
        a = signed.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
            F.col("_n").alias("_na"), "_sig0",
        )
        b = signed.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
            F.col("_n").alias("_nb"), "_sig0",
        )
        pairs = a.join(b, "_sig0").filter(F.col("id_a") < F.col("id_b"))
    else:
        n = 0 if emb.isStreaming else emb.count()
        if n > max_exact_rows:
            raise ValueError(
                f"embedding_near_dup(num_planes=0) is the exact all-pairs "
                f"crossJoin and refuses {n} rows (> max_exact_rows="
                f"{max_exact_rows}). Use num_planes>0 (the LSH path, e.g. "
                f"q_embed_dedup_lsh) for full-corpus dedup, or raise "
                f"max_exact_rows if this is genuinely a bounded slice."
            )
        a = emb.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("va"),
            norm_f64(F.col(vec_col)).alias("_na"),
        )
        b = emb.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vb"),
            norm_f64(F.col(vec_col)).alias("_nb"),
        )
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            round_half_up(
                dot_f64(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def simhash64(toks: Column) -> Column:
    """64-bit SimHash from token xxhash64s, all in array expressions.

    One aggregate pass carries an array<long> of 64 vote counters
    (+1/-1 per token-hash bit); a final indexed transform turns
    majority votes into bit values (bit 63 is the sign bit: shiftleft
    of 1L by 63 IS -2^63, so summing the distinct bit values yields the
    two's-complement signature without overflow).
    """
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    init = F.array_repeat(F.lit(0).cast("long"), 64)
    votes = F.aggregate(
        hashes,
        init,
        lambda acc, h: F.transform(
            acc,
            lambda c, i: c
            + F.when(
                F.call_function("shiftrightunsigned", h, i).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        ),
    )
    bits = F.transform(
        votes,
        lambda v, i: F.when(
            v > 0, F.call_function("shiftleft", F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc + b)


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, simhash) — ``simhash64`` in the whole-stage-codegen
    TABLE shape (r14): explode tokens to rows, hash each occurrence
    ONCE, 64 codegen'd vote aggregates (+1/-1 per bit, map-side partial
    combine), majority bits summed into the two's-complement signature.
    Bit-identical to ``docs.select(simhash64(tokens(text)))`` — gated by
    a dedicated equality test — but the per-token work is 64 scalar
    CASE expressions under codegen instead of an interpreted nested-HOF
    fold allocating a fresh 64-long array per token (the
    minhash_signatures lesson, measured ~9x there). One shuffle on
    doc_id with vote partials, the same scale shape as
    ``simhash_hex_portable``. Empty docs keep their explode_outer NULL
    row, vote 0 on every bit, and land on signature 0 exactly like the
    Column form's empty-array fold. Vote/bit stages are rendered as SQL
    strings (the r13 py4j-build-cost pattern).

    Precondition: `id_col` must be unique. The votes are grouped by
    doc_id, so rows sharing an id merge into one signature, where the
    Column form gives one per row; the bit-identical claim holds only
    for unique ids (q_simhash's are)."""
    src = ensure_parallelism(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    )
    tok = src.select(
        "doc_id",
        F.col("_text").isNull().alias("_nt"),
        F.explode_outer(tokens(F.col("_text"))).alias("_t"),
    ).selectExpr(
        "doc_id",
        "_nt",
        # NULL marker preserved: xxhash64(NULL) would hash the seed and
        # cast a spurious vote for empty docs
        "CASE WHEN _t IS NULL THEN NULL ELSE xxhash64(_t) END AS _h",
    )
    votes = tok.groupBy("doc_id").agg(
        F.max("_nt").alias("_nt"),
        *[
            F.expr(
                f"sum(CASE WHEN _h IS NULL THEN 0 "
                f"WHEN (shiftrightunsigned(_h, {i}) & 1) = 1 THEN 1 "
                f"ELSE -1 END)"
            ).alias(f"_v{i}")
            for i in range(64)
        ],
    )
    sig = " + ".join(
        f"(CASE WHEN _v{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for i in range(64)
    )
    # a NULL text folds over a NULL token ARRAY in the Column form and
    # yields a NULL signature — mirrored here via the carried flag
    return votes.selectExpr(
        "doc_id", f"(CASE WHEN _nt THEN CAST(NULL AS BIGINT) ELSE {sig} END) AS simhash"
    )


def portable_hash32(s: Column) -> Column:
    """First 8 md5 hex digits of a string as an unsigned int64 — a
    32-bit hash any SQL engine reproduces exactly (DuckDB:
    ``CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)``). Weaker avalanche
    and ~4x the CPU of xxhash64 (md5 + string slice + base-16 parse):
    the ORACLE-PARITY hash, not the production hash.
    """
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def minhash_signatures_portable(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(doc_id, sig) MinHash signatures on the engine-portable hash:
    same explode -> per-shingle hash -> N scalar mins codegen shape as
    ``minhash_signatures``, but the shingle hash is the md5-derived
    ``portable_hash32`` (masked to 31 bits so the affine permutations
    stay overflow-free) instead of xxhash64, so a DuckDB oracle can
    rebuild the identical signature table. Docs with < shingle_k tokens
    keep the all-MERSENNE_31 init signature.
    """
    src = ensure_parallelism(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    )
    hashed = src.select(
        "doc_id", tokens(F.col("_text")).alias("_toks")
    ).select(
        "doc_id",
        F.explode_outer(token_shingles(F.col("_toks"), shingle_k)).alias("_s"),
    ).select(
        "doc_id",
        portable_hash32(F.col("_s")).bitwiseAND(F.lit(0x7FFFFFFF)).alias("_h"),
    )
    # SQL-string form for the wide stages (r13) — see minhash_signatures
    mins = [
        F.expr(
            f"min((_h * {i * 2 + 1} + {i * 7919 + 1}) % {MERSENNE_31})"
        ).alias(f"_m{i}")
        for i in range(num_hashes)
    ]
    agg = hashed.groupBy("doc_id").agg(*mins)
    sig = "array(" + ", ".join(
        f"coalesce(_m{i}, CAST({MERSENNE_31} AS BIGINT))"
        for i in range(num_hashes)
    ) + ")"
    return agg.selectExpr("doc_id", f"{sig} AS sig")


#: SQL template of a band's join key over its lane values: comma-joined
#: strings, so no engine hash touches the key and an SQL oracle
#: reproduces it
_PORTABLE_BAND_KEY = "concat_ws(',', {})"


def _banded_signatures(
    sig: DataFrame, num_hashes: int, bands: int, key: str = _PORTABLE_BAND_KEY
) -> DataFrame:
    """(doc_id, sig, band, bkey) LSH band table from a signature table:
    ``key`` renders a band's lane values into its join key. Map-side
    explode, `bands` rows per doc. Shared by the self-join (J3) and
    cross-corpus (J42) candidate generators. Band slices rendered as one
    SQL string (r13 — py4j build cost)."""
    rows_per_band = num_hashes // bands
    slices = ", ".join(
        "struct({band} AS band, {bkey} AS bkey)".format(
            band=i,
            bkey=key.format(", ".join(
                f"element_at(sig, {i * rows_per_band + j + 1})"
                for j in range(rows_per_band)
            )),
        )
        for i in range(bands)
    )
    return sig.selectExpr(
        "doc_id", "sig", f"explode(array({slices})) AS bs"
    ).selectExpr("doc_id", "sig", "bs.band AS band", "bs.bkey AS bkey")


def _lsh_pairs(
    sig: DataFrame,
    num_hashes: int,
    bands: int,
    est_threshold: float,
    key: str = _PORTABLE_BAND_KEY,
) -> DataFrame:
    """Banded self-join over a (doc_id, sig) signature table: pairs that
    share any band key, deduplicated, with est_jaccard = fraction of
    equal signature lanes, kept at est_jaccard >= est_threshold."""
    banded = _banded_signatures(sig, num_hashes, bands, key)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            round_half_up(
                F.size(F.filter(F.zip_with("a.sig", "b.sig", lambda x, y: x == y), lambda eq: eq)).cast("double")
                / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return pairs.filter(F.col("est_jaccard") >= est_threshold)


def minhash_lsh_candidates_portable(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    est_threshold: float = 0.5,
) -> DataFrame:
    """Oracle-parity twin of ``minhash_lsh_candidates``: the same one
    lazy banded self-join plan over the portable signature table; band
    keys are the comma-joined lane values (pure string form — no engine
    hash touches the join key, so the DuckDB oracle reproduces the
    candidate set exactly). Production keeps the xxhash64 form.
    """
    sig = minhash_signatures_portable(docs, text_col, id_col, num_hashes, shingle_k)
    return _lsh_pairs(sig, num_hashes, bands, est_threshold)


_HEX_CHARS = "0123456789abcdef"


def simhash_hex_portable(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, simhash_hex): 64-bit SimHash where each token's bit
    pattern is its first 16 md5 hex digits — fully engine-portable, and
    the signature is returned as the 16-char lowercase hex STRING (a
    64-bit value with the sign bit set round-trips badly through SQL
    integer literals; hex text is the portable carrier).

    Shape: explode tokens -> one md5 per token -> 16 staged digit
    columns -> 64 sum aggregates (+1/-1 bit votes, map-side partial
    combine) -> majority bits reassembled into hex chars. Same
    one-shuffle-on-doc_id scale shape as the xxhash64 ``simhash64``.
    Empty docs vote -1 on every bit via the explode_outer NULL row ->
    all-zero signature, matching the oracle's LEFT JOIN + coalesce.
    """
    src = ensure_parallelism(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    )
    tok = src.select(
        "doc_id", F.explode_outer(tokens(F.col("_text"))).alias("_t")
    ).select("doc_id", F.md5(F.col("_t")).alias("_h"))
    # stage digit values as named columns: each is referenced by 4 vote
    # aggregates, and an inlined conv(substring(md5...)) subtree would
    # be re-evaluated per reference. All three wide stages are rendered
    # as SQL strings (r13): the 16+64+1 column expressions cost ~1.5 s
    # of py4j round trips per query build through the Column DSL vs one
    # selectExpr/expr call each here — the expressions are identical.
    digits = tok.selectExpr(
        "doc_id",
        *[
            f"CAST(conv(substring(_h, {p + 1}, 1), 16, 10) AS INT) AS _d{p}"
            for p in range(16)
        ],
    )
    votes = digits.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (_d{p} & {1 << b}) != 0 THEN 1 ELSE -1 END)"
            ).alias(f"_v{p}_{b}")
            for p in range(16)
            for b in range(4)
        ]
    )
    hex_array = "array(" + ", ".join(f"'{c}'" for c in _HEX_CHARS) + ")"
    out_digits = [
        " + ".join(
            f"(CASE WHEN coalesce(_v{p}_{b}, -1) > 0 THEN {1 << b} ELSE 0 END)"
            for b in range(4)
        )
        for p in range(16)
    ]
    sig = "concat(" + ", ".join(
        f"element_at({hex_array}, ({d}) + 1)" for d in out_digits
    ) + ")"
    return votes.selectExpr("doc_id", f"{sig} AS simhash_hex")


def canonical_docs(
    clusters: DataFrame,
    scored: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    quality_col: str = "quality",
) -> DataFrame:
    """(doc_id, cluster_id, quality, keep): the keep/drop decision that
    closes the dedup pipeline — within each duplicate cluster exactly
    one doc survives: highest quality score, ties to the smallest id
    (deterministic in any engine).

    `clusters` is `duplicate_clusters` output (only docs that are IN a
    dup component); `scored` maps id -> quality (e.g. text.quality_score
    over the corpus). Shape: one equi-join on id + one rank window on
    the cluster key — both shuffles touch only the clustered subset,
    which LSH keeps a tiny fraction of the corpus; docs outside any
    cluster never enter the plan and are implicitly kept.
    """
    j = clusters.join(scored, id_col)
    w = Window.partitionBy(cluster_col).orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return j.select(
        F.col(id_col),
        F.col(cluster_col),
        F.col(quality_col),
        (F.row_number().over(w) == 1).alias("keep"),
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """J26: connected components over candidate pairs -> duplicate
    clusters. Returns (doc_id, cluster_id) for every doc appearing in a
    pair, cluster_id = MIN doc id in the component (the canonical-doc
    rule: keep cluster_id, drop the rest).

    Algorithm: min-label propagation. labels start as self; each round
    every node takes min(own label, neighbors' labels); converges in
    O(component diameter) rounds. Each round is one equi-join + one
    hash aggregate — all-shuffle-on-key, no driver data. Lineage is
    truncated per round (localCheckpoint) — without it the iterative
    plan doubles each round and analysis cost explodes; convergence is
    detected with a bounded count(changed) job. At 100 TB scale the same
    loop checkpoints the label table to reliable storage per round
    (`checkpoint()`, which survives an executor loss) and the classic
    large-star/small-star optimization halves round count; diameters of
    near-dup graphs are tiny in practice (dup sets are cliques or
    near-cliques from LSH).
    MEASURED (round 3) on the real MinHash-LSH candidate graphs: sf0.01
    = 30 edges / 26 components, converges in 2 rounds; sf0.1 = 729
    edges / 237 components, 3 rounds. Large-star/small-star would save
    at most one round here — deferred on data, not on guesswork.
    """
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    )
    # materialize the symmetric edge list ONCE: it feeds the initial
    # label seed and every round's neighbor join, and without truncation
    # the (expensive) candidate-pair lineage would recompute per round
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # change detection rides the round's own aggregate (r13
    # optimization): the seed row carries the node's CURRENT label in a
    # side column (_old; neighbor rows contribute NULL, max() skips
    # them), so `changed` is a filter over the just-checkpointed blocks
    # — the previous new-vs-old equi-join was a second full shuffle job
    # per round that re-derived information the aggregate already had.
    lbl_type = dict(labels.dtypes)["label"]
    for _ in range(max_iter):
        neighbor_labels = sym.join(
            labels, sym["dst"] == labels["node"]
        ).select(
            F.col("src").alias("node"),
            F.col("label"),
            F.lit(None).cast(lbl_type).alias("_old"),
        )
        new_labels = (
            labels.select("node", "label", F.col("label").alias("_old"))
            .union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.max("_old").alias("_old"))
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(
            F.col("label") != F.col("_old")
        ).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"duplicate_clusters did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter — "
            "returning partial labels would silently split real clusters"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def repeated_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 10,
    stride: int = 1,
) -> DataFrame:
    """J32 substring dedup: every w-token span occurring in >= 2 distinct
    documents, with a deterministic keep/remove verdict per occurrence.

    This is the exact-substring form of training-data dedup (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models Better"):
    boilerplate, licenses, and templated passages repeat VERBATIM across
    documents that are NOT near-duplicates as wholes, so doc-level
    MinHash/SimHash never catches them — span-level detection is the
    complementary operator. The suffix-array construction of the paper
    is single-machine; the distributed form is the standard hash-grouped
    sliding-window adaptation:

      tokenize -> arithmetic fan-out of w-token windows (map-side
      explode, ~L rows per L-token doc at stride 1; stride s divides
      the fan-out by s for a cost/recall trade) -> md5 span key ->
      ONE shuffle on the span key -> count + distinct-doc count per
      key -> keep only keys spanning >= 2 docs -> rank occurrences.

    The keep rule marks exactly one occurrence per repeated span —
    (min doc_id, min start within it) — so `keep = 0` rows are the
    removal mask a cleaner applies; summing their token counts bounds
    the corpus shrinkage. Both the agg and the re-join shuffle on the
    same span-hash key (AQE-coalescible); nothing ever compares text
    pairwise and no step is quadratic in documents.

    Returns (doc_id, start_tok [1-based], span_hash, n_docs,
    n_occurrences, keep).
    """
    toks = tokens(F.col(text_col))
    # parallelism guard (r13): the span fan-out (one md5 per w-token
    # window, ~L rows per doc) is consumed TWICE (the span aggregate
    # and the occurrence re-join) and ran single-task off the
    # single-file scan — the q_top_ngrams class.
    staged = ensure_parallelism(
        docs.select(F.col(id_col), F.col(text_col))
    ).select(F.col(id_col), toks.alias("_t")).filter(
        F.size("_t") >= w
    )
    starts = F.sequence(
        F.lit(1).cast("long"),
        (F.size("_t") - w + 1).cast("long"),
        F.lit(stride).cast("long"),
    )
    spans = staged.select(
        F.col(id_col),
        F.explode(starts).alias("start_tok"),
        F.col("_t"),
    ).select(
        F.col(id_col),
        F.col("start_tok"),
        F.md5(
            F.concat_ws(" ", F.slice(F.col("_t"), F.col("start_tok"), w))
        ).alias("span_hash"),
    )
    # the keeper is the GLOBAL min (doc, start) per span — computable in
    # the aggregate itself instead of a rank window. An aggregate
    # partial-combines map-side even for a viral boilerplate span
    # repeated in millions of docs; a window would materialize that
    # span's whole partition in one task — the skew case substring
    # dedup exists for. r14: the old one-shot form used
    # min(struct(doc, start)) + countDistinct — min over a struct (or a
    # string) is not hash-aggregable, so the WHOLE aggregate demoted to
    # SortAggregate and the plan sorted the corpus-sized span fan-out
    # twice before aggregating (plan-verified, 8 SortAggregate nodes).
    # Two-level all-numeric form instead: per (span, doc) the min start
    # and occurrence count, then per span the doc count (distinct by
    # construction — the countDistinct Expand disappears too), the
    # occurrence sum, and the keeper via min(doc) + min_by(start, doc)
    # (fixed-width buffers, hash-aggregable; (span, doc) is unique
    # after level 1, so min_by has no ties to break). Same keeper —
    # lexicographic (min doc, min start within it) — at any scale.
    lvl1 = spans.groupBy("span_hash", id_col).agg(
        F.min("start_tok").alias("_ms"),
        F.count("*").alias("_c"),
    )
    rep = (
        lvl1.groupBy("span_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_c").alias("n_occurrences"),
            F.min(id_col).alias("_fd"),
            F.min_by("_ms", id_col).alias("_fs"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    occ = spans.join(rep, "span_hash")
    keep = (F.col(id_col) == F.col("_fd")) & (
        F.col("start_tok") == F.col("_fs")
    )
    return occ.select(
        F.col(id_col),
        F.col("start_tok"),
        F.col("span_hash"),
        F.col("n_docs"),
        F.col("n_occurrences"),
        F.when(keep, F.lit(1)).otherwise(F.lit(0)).cast("int").alias("keep"),
    )


def repeated_span_regions(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    w: int = 10,
    stride: int = 1,
) -> DataFrame:
    """J32b: maximal removable regions per document — the interval-merge
    of `repeated_spans`' keep=0 occurrences (the occurrences a cleaner
    cuts so each repeated span survives exactly once corpus-wide).

    Overlapping/adjacent w-token windows coalesce into one region via
    the classic running-max interval merge: per doc, order spans by
    start; a span opens a NEW region iff it starts strictly after the
    max end seen so far; the region id is the running count of opens.
    Two windows per doc key plus one tiny groupBy — everything shuffles
    once on doc_id, which is the natural output partitioning for the
    cleaner that applies the cuts. At stride 1 regions are exact
    maximal repeated substrings of length >= w; at stride > 1 they are
    a lower bound (gaps between probed offsets are not certified).

    Returns (doc_id, region_start [1-based], region_end [exclusive],
    n_tokens).
    """
    spans = repeated_spans(docs, id_col, text_col, w, stride).filter(
        F.col("keep") == 0
    )
    ivals = spans.select(
        F.col(id_col),
        F.col("start_tok").alias("_s"),
        (F.col("start_tok") + w).alias("_e"),
    )
    order = Window.partitionBy(id_col).orderBy(F.col("_s").asc(), F.col("_e").asc())
    prev_max_end = F.max("_e").over(
        order.rowsBetween(Window.unboundedPreceding, -1)
    )
    opens = F.when(
        prev_max_end.isNull() | (F.col("_s") > prev_max_end), F.lit(1)
    ).otherwise(F.lit(0))
    regions = ivals.withColumn(
        "_region",
        F.sum(opens).over(
            order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        regions.groupBy(id_col, "_region")
        .agg(F.min("_s").alias("region_start"), F.max("_e").alias("region_end"))
        .select(
            F.col(id_col),
            F.col("region_start"),
            F.col("region_end"),
            (F.col("region_end") - F.col("region_start")).alias("n_tokens"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    tau: float,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """J38 SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, compare pairs ONLY
    within each cluster, and keep one representative of every
    semantic-duplicate group — the embedding-space member of the dedup
    family beside exact (J1), MinHash (J3) and doc-level embedding
    near-dup pairs (J5).

    Drop rule (deterministic): a vector is dropped iff some SMALLER-id
    vector in the SAME cell has rounded cosine >= tau with it — the
    greedy min-id-canonical convention every dedup operator in this
    module uses (J5's pair output, J31's tie rule). Cross-cell near-dups
    are NOT compared — that approximation is the published algorithm's
    entire cost model, and recall scales with n_cells like IVF's
    n_probe.

    Scale shape: centroid assignment is the bit-pinned map-side numpy
    argmin shared with IVF (`similarity.assign_to_centroids` — zero
    shuffle, drops NULL/zero-norm vectors); the assigned table is
    materialized ONCE (`localCheckpoint(eager=True)`: the self-join
    would otherwise recompute the assignment per side); the within-cell
    pair generation is a plain equi-join on cell_id. Cells are the
    parallelism AND cost unit: within-cell pairs are quadratic in cell
    size, so n_cells must grow with the corpus (SemDeDup uses ~100k
    clusters at web scale; 16 here matches the oracle-able IVF
    deterministic centroid table). Deterministic lowest-id centroids
    keep the whole operator SQL-oracle-able; swap
    `similarity._kmeans_centroids` for the production centroid fit
    exactly as ivf_topk does.

    Returns the SURVIVORS: (id_col, cell_id).
    """
    from azure_iot_realtime_data_pipeline_spark.operators.similarity import (
        assign_to_centroids,
        deterministic_centroids,
        dot_f64,
    )

    cent_lits = deterministic_centroids(emb, id_col, vec_col, n_cells)
    assigned = assign_to_centroids(emb, cent_lits, id_col, vec_col).localCheckpoint(
        eager=True
    )
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("_cn").alias("_na"),
        "cell_id",
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("_cn").alias("_nb"),
        "cell_id",
    )
    dropped = (
        a.join(b, "cell_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            round_half_up(
                dot_f64(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb"))
            )
            >= tau
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    # the dropped-id set scales with corpus duplication (unbounded), so a
    # forced broadcast could exceed driver memory on a dirty corpus — but
    # its join-output size ESTIMATE is also too coarse for static
    # planning to pick broadcast itself, which falls back to sort-merge.
    # A shuffle-hash hint gives the right 100 TB shape either way: hash
    # anti-join on the id, no sort of either side; AQE still upgrades it
    # to broadcast at runtime when the set is actually small.
    return assigned.select(id_col, "cell_id").join(
        dropped.hint("shuffle_hash"), id_col, "left_anti"
    )


def minhash_dedup_incremental(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    est_threshold: float = 0.5,
) -> DataFrame:
    """J42 incremental-corpus dedup: drop each NEW-batch doc whose
    MinHash bands collide with an EXISTING corpus doc at estimated
    Jaccard >= threshold — the daily-crawl-vs-stored-corpus pass, the
    missing third member beside self-join near-dup (J3) and benchmark
    decontamination (J20).

    Scale shape — and the point of the incremental pattern: the CORPUS
    signature table is computed once and STORED (checkpointed here with
    `localCheckpoint(eager=True)`; a real deployment keeps it as a
    bucketed table keyed on (band, bkey), sources/bucketed.py); each new
    batch then pays only |batch| signature computation plus a banded
    equi-join against the stored table. Corpus x corpus never happens,
    and the corpus text itself is never re-read. The NEW side is small
    by definition, so the band join broadcasts it.

    Within-batch duplicates are out of scope by design — run J3/J26 on
    the batch first; this operator answers "is it already IN the
    corpus". Both empty-text docs carry the all-init signature, so an
    empty new doc collides with any empty corpus doc (est 1.0) and is
    dropped — consistent in the oracle. Portable signatures keep the
    whole operator oracle-able; swap `minhash_signatures` (xxhash64)
    1:1 in production.

    Returns the surviving new-batch ids: (id_col).
    """
    nsig = minhash_signatures_portable(
        new_docs, text_col, id_col, num_hashes, shingle_k
    )
    csig = minhash_signatures_portable(
        corpus, text_col, id_col, num_hashes, shingle_k
    ).localCheckpoint(eager=True)
    nb = _banded_signatures(nsig, num_hashes, bands).select(
        F.col("doc_id").alias("_nid"), F.col("sig").alias("_nsig"), "band", "bkey"
    )
    cb = _banded_signatures(csig, num_hashes, bands).select(
        F.col("doc_id").alias("_cid"), F.col("sig").alias("_csig"), "band", "bkey"
    )
    est = round_half_up(
        F.size(
            F.filter(F.zip_with("_nsig", "_csig", lambda x, y: x == y), lambda eq: eq)
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    dup_ids = (
        F.broadcast(nb)
        .join(cb, ["band", "bkey"])
        .select("_nid", est.alias("_est"))
        .filter(F.col("_est") >= est_threshold)
        .select(F.col("_nid").alias(id_col))
        .distinct()
    )
    return new_docs.select(id_col).distinct().join(
        dup_ids.hint("shuffle_hash"), id_col, "left_anti"
    )


def _delete_variants(s: Column) -> Column:
    """Array of `s` plus every delete-one-char form of `s` — the
    symmetric-delete key set. Index 0 keeps the original; index i
    deletes character i (1-based)."""
    return F.transform(
        F.sequence(F.lit(0), F.length(s)),
        lambda i: F.when(i == 0, s).otherwise(
            F.concat(F.substring(s, 1, i - 1), s.substr(i + 1, F.length(s)))
        ),
    )


def symspell_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_edits: int = 1,
) -> DataFrame:
    """J45 fuzzy-match pairs via symmetric deletes (SymSpell/FAROO):
    candidate pairs for SHORT KEY STRINGS (names, titles, SKUs — not
    documents) within Levenshtein distance `max_edits`, generated
    sub-quadratically: every string fans out map-side into itself plus
    its delete-one-char variants, candidates meet on a variant
    EQUI-JOIN, and the exact Levenshtein verifies each candidate once.
    Two strings within one edit always share a variant (substitution:
    delete the differing position from both; insert/delete: the longer
    string's deletion hits the shorter) — full recall at max_edits=1,
    the standard entity-resolution blocking. Only max_edits=1 is
    supported: deeper distances need delete-depth-k variant sets whose
    fan-out (L choose k) wants the dedicated-index form, not a join.

    Plan: fan-out ~L+1 rows per string BEFORE the one shuffle on the
    variant key; pair dedup + one verify expression per pair. NULL
    strings produce no variants (transform over NULL) and never pair.

    Returns (id_a, id_b, distance).
    """
    if max_edits != 1:
        raise ValueError("symspell_pairs supports max_edits=1 only")
    # The candidate join and pair dedup move ONLY ids (r13, guide §2.3
    # "shuffle keys and metadata instead of payloads"): carrying both
    # name strings through the 1.5M-row fan-out and the dedup exchange
    # cost ~65% more shuffle bytes for data the verify can re-attach
    # from the 15k-row name table afterwards. The verify joins names
    # back broadcast — a VALIDATED PRECONDITION, not a hope (ADVICE
    # r13): this operator's contract is SHORT KEY STRINGS (names,
    # titles, SKUs — the docstring's first line), i.e. an entity/dim
    # table bounded far below the broadcast cap; enforcing it with a
    # row-count probe would cost an extra eager job on every build to
    # guard a misuse the docstring already forbids. A caller with a
    # fact-sized key table must swap both hints to "shuffle_hash"
    # (same semantics). Interleaved A/B at sf0.1: min
    # 3.63 -> 3.00 s, result identical (262,500 pairs).
    names = df.select(F.col(id_col), F.col(text_col).alias("_s"))
    v = names.select(
        id_col, "_s", F.explode(_delete_variants(F.col("_s"))).alias("_v")
    )
    a = v.select(F.col(id_col).alias("id_a"), "_v")
    b = v.select(F.col(id_col).alias("id_b"), "_v")
    pairs = (
        a.join(b, "_v")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    na = names.select(F.col(id_col).alias("id_a"), F.col("_s").alias("_sa"))
    nb = names.select(F.col(id_col).alias("id_b"), F.col("_s").alias("_sb"))
    return (
        pairs.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("_sa"), F.col("_sb")).alias("distance"),
        )
        .filter(F.col("distance") <= max_edits)
    )


def dedup_verified_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    est_threshold: float = 0.3,
    verify_threshold: float = 0.5,
) -> DataFrame:
    """J52 candidate-then-verify dedup pipeline (chain #6) — the full
    production shape every large-scale near-dup system runs (Lee et al.
    2022 run exactly this two-phase): MinHash-LSH proposes candidate
    pairs SUB-QUADRATICALLY (banded self-join at a deliberately LOW
    estimate threshold, so banding recall errs generous), then exact
    shingle Jaccard verifies ONLY those pairs and keeps true duplicates
    at `verify_threshold`. J2's all-pairs exact Jaccard is what this
    replaces at scale: the verify join fans out over CANDIDATE docs
    only, never corpus x corpus.

    Plan shape: the portable signatures are computed once
    (`localCheckpoint(eager=True)`), then banded by the self-join of
    `minhash_lsh_candidates_portable`. The candidates feed four
    consumers below, each of which would otherwise recompute the
    signatures, so here (unlike the one-plan candidate generators) the
    checkpoint pays for itself. Verification joins the candidate pairs
    to the shingle table twice (on doc_a, then on doc_b + equal shingle
    — the intersection count), set sizes from one per-doc aggregate of
    the same shingle table. Everything after candidate generation is
    candidate-set-sized.

    Returns (doc_a, doc_b, est_jaccard, jaccard) for verified pairs.
    """
    sig = minhash_signatures_portable(
        docs, text_col, id_col, num_hashes, shingle_k
    ).localCheckpoint(eager=True)
    cand = _lsh_pairs(sig, num_hashes, bands, est_threshold)
    # (measured and REJECTED r14: staging `cand` itself to parquet —
    # it feeds four consumers which each replay the banded self-join
    # over the materialized signatures, but the extra eager write job
    # costs more than the replays once the signatures are materialized:
    # interleaved A/B med 3.39 vs 2.65 s.)
    # restrict the corpus to CANDIDATE docs before anything else: the
    # verify stage only ever needs their shingles. r14 moves the semi
    # join BELOW the shingle fan-out (filter docs first, THEN explode —
    # a per-doc_id semi join commutes with the per-row explode), so
    # non-candidate docs are never tokenized or shingled at all;
    # previously the full corpus fan-out was built and filtered after
    # (measured 6.4 s -> 2.9 s for the post-explode filter alone at
    # sf0.1; this pushes the same predicate one operator lower).
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # BROADCAST the id list explicitly: the static plan otherwise picks
    # the repo-banned SortMergeJoin for the semi join (AQE would fix it
    # at runtime, but the plan gates pin the static shape). The list is
    # |docs with a near-dup candidate| — exactly what LSH keeps small;
    # for a pathologically duplicate-heavy corpus swap to
    # hint("shuffle_hash"). ensure_parallelism rides the single-scan
    # projection (its caller contract) BEFORE the join.
    src = ensure_parallelism(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
    ).join(F.broadcast(cand_ids), "doc_id", "left_semi")
    sh = src.select(
        "doc_id",
        F.explode(token_shingles(tokens(F.col(text_col)), shingle_k)).alias(
            "shingle"
        ),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("_n"))
    inter = (
        cand.join(
            sh.select(
                F.col("doc_id").alias("doc_a"), F.col("shingle").alias("_sa")
            ),
            "doc_a",
        )
        .join(
            sh.select(
                F.col("doc_id").alias("_db"), F.col("shingle").alias("_sb")
            ),
            (F.col("doc_b") == F.col("_db")) & (F.col("_sa") == F.col("_sb")),
        )
        .groupBy("doc_a", "doc_b", "est_jaccard")
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("_n").alias("_nb"))
    jac = (
        F.col("_common").cast("double")
        / (F.col("_na") + F.col("_nb") - F.col("_common")).cast("double")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_jaccard",
            round_half_up(jac).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= verify_threshold)
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """J68 asymmetric shingle containment |A∩B|/|A| — the subset/quote
    detector Jaccard structurally misses: a short doc fully quoted
    inside a long one has containment 1.0 but Jaccard ≈ |A|/|B| → 0,
    so symmetric near-dup passes (J2/J3) never flag it. Standard
    companion to MinHash dedup in corpus curation (quote/boilerplate
    inclusion, doc-inside-doc).

    Scale shape: same sub-quadratic candidate generation as J2 (shingle
    equi-join, pairs only where >= 1 shared shingle), ONE undirected
    pair aggregate, then BOTH directions emitted by a map-side
    array-explode over the already-joined sizes — never a second
    shingle self-join for the reverse direction. Directed output
    (contained, container, containment >= threshold), rounded 4 dp
    before the threshold so the cut is engine-portable."""
    sh = shingle_table(docs, text_col, id_col, k)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    j = inter.join(sa, "doc_a").join(sb, "doc_b")
    both = j.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("contained"),
                    F.col("doc_b").alias("container"),
                    round_half_up(
                        F.col("n_common").cast("double") / F.col("na").cast("double")
                    ).alias("containment"),
                ),
                F.struct(
                    F.col("doc_b").alias("contained"),
                    F.col("doc_a").alias("container"),
                    round_half_up(
                        F.col("n_common").cast("double") / F.col("nb").cast("double")
                    ).alias("containment"),
                ),
            )
        ).alias("p")
    ).select("p.*")
    return both.filter(F.col("containment") >= threshold)


def split_leakage(
    docs: DataFrame,
    splits: DataFrame,
    threshold: float = 0.05,
    text_col: str = "text",
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """J73 cross-split leakage audit: near-duplicate pairs that
    STRADDLE train/val/test — the contamination a random (or even
    stratified) split cannot prevent when near-dups exist, and the
    reason dedup must run BEFORE splitting (Lee et al. 2022,
    'Deduplicating Training Data Makes LM Better', measure exactly
    this). Reports pair counts per unordered split pair: off-diagonal
    rows ARE the leakage; the diagonal is the benign within-split dup
    mass for scale.

    Composition: J2's sub-quadratic candidate pairs at `threshold`,
    then two split-assignment joins (PINNED shuffle-hash — the split
    table is corpus-sized) and a least/greatest normalization so
    (train, test) and (test, train) merge. One tiny final aggregate.
    Assignment joins are LEFT with an 'unassigned' fallback (review
    r7 s5 pass 6): an inner join would silently DROP pairs whose doc
    lacks a split row — under-reporting the very contamination the
    audit exists to measure when the split predates an ingest."""
    pairs = ngram_jaccard_pairs(docs, text_col, id_col).filter(
        F.col("jaccard") >= threshold
    )
    sa = splits.select(
        F.col(id_col).alias("doc_a"), F.col(split_col).alias("_sa")
    )
    sb = splits.select(
        F.col(id_col).alias("doc_b"), F.col(split_col).alias("_sb")
    )
    tagged = pairs.join(sa.hint("shuffle_hash"), "doc_a", "left").join(
        sb.hint("shuffle_hash"), "doc_b", "left"
    )
    ua = F.coalesce(F.col("_sa"), F.lit("unassigned"))
    ub = F.coalesce(F.col("_sb"), F.lit("unassigned"))
    return (
        tagged.select(
            F.least(ua, ub).alias("split_a"),
            F.greatest(ua, ub).alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def lsh_candidate_eval(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    truth_threshold: float = 0.5,
    sample_mod: int | None = None,
) -> DataFrame:
    """J77: measured quality of the MinHash-LSH candidate generator —
    one row (n_truth, n_candidates, n_hits, precision, recall) scoring
    the banded candidate pairs against the EXACT shingle-Jaccard ground
    truth at `truth_threshold`. The dedup pipeline's dial-response
    instrument: before raising bands (recall up, candidates up) or rows
    per band (precision up, recall down) on a real corpus, run this on
    a sample and read the trade instead of guessing it.

    Ground truth is computable at scale because Jaccard > 0 requires a
    shared shingle: `ngram_jaccard_pairs` already restricts the exact
    pass to shingle-sharing pairs — the same candidate-bounding trick
    LSH itself uses, so the eval is O(pairs-sharing-a-shingle), never
    O(n^2). Both pair sets are distinct (a<b) by construction; they
    combine by a tagged union + per-pair max — no join of the two pair
    tables, one aggregate. The final one-row reduce is a sanctioned
    global summary.

    Uses the PORTABLE signature path so the whole instrument is
    oracle-checkable end-to-end; the production xxhash64 path has the
    same banding math, so the measured trade transfers.

    `sample_mod=N` evaluates on the deterministic 1/N hash-sample of
    docs (salted 'eval:' key — order-free, decorrelated from id-ordered
    corpus properties): the exact ground truth is the instrument's real
    cost, quadratic-ish in co-shingle pairs, and a sample answers the
    tuning question at 1/N^2 of the pair work. Truth pairs require BOTH
    endpoints sampled, so expect ~1/N^2 of them to survive — pick N so
    the surviving count still reads (measured here: mod=4 keeps 3 of 25
    truth pairs at sf0.01, 13 of 256 at sf0.1).
    """
    if sample_mod is not None:
        docs = docs.filter(
            portable_hash32(
                F.concat(F.lit("eval:"), F.col(id_col).cast("string"))
            )
            % sample_mod
            == 0
        )
    cand = minhash_lsh_candidates_portable(
        docs, text_col, id_col, num_hashes, bands, shingle_k,
        est_threshold=0.0,
    ).select("doc_a", "doc_b")
    truth = ngram_jaccard_pairs(docs, text_col, id_col, shingle_k).filter(
        F.col("jaccard") >= truth_threshold
    )
    labeled = cand.select(
        "doc_a", "doc_b", F.lit(1).alias("_c"), F.lit(0).alias("_t")
    ).unionByName(
        truth.select("doc_a", "doc_b", F.lit(0).alias("_c"), F.lit(1).alias("_t"))
    )
    per_pair = labeled.groupBy("doc_a", "doc_b").agg(
        F.max("_c").alias("_c"), F.max("_t").alias("_t")
    )
    # coalesce: an empty pair universe (tiny sample, no collisions at
    # all) reports 0/0/0 with NULL ratios, not a NULL-count row
    agg = per_pair.agg(
        F.coalesce(F.sum("_t"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum(F.col("_c") * F.col("_t")), F.lit(0))
        .cast("long")
        .alias("n_hits"),
    )
    hits = F.col("n_hits").cast("double")
    return agg.select(
        "n_truth",
        "n_candidates",
        "n_hits",
        F.when(
            F.col("n_candidates") > 0,
            round_half_up(hits / F.col("n_candidates").cast("double")),
        ).alias("precision"),
        F.when(
            F.col("n_truth") > 0,
            round_half_up(hits / F.col("n_truth").cast("double")),
        ).alias("recall"),
    )
