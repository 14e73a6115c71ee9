"""Term-relevance scoring (J24): TF-IDF and BM25 over the documents
table — the ranking/weighting pass a corpus pipeline runs for quality
weighting, keyword extraction, or lightweight retrieval.

Plan shape (the 100 TB story):
- term frequencies: explode tokens -> hash aggregate on (doc_id, term).
  ONE shuffle of (doc_id, term, count) — map-side combine collapses
  repeated terms before the exchange.
- document frequencies: re-aggregate the (small) tf table by term —
  second shuffle moves one row per (doc, term), not the corpus text.
- idf joins back BROADCAST (|vocabulary| rows), so the corpus-sized tf
  table never reshuffles.
- corpus scalars (N, avgdl) are single-row aggregates collected on the
  driver — O(1) rows, the same bounded-collect pattern as
  streaming/source.py's min/max staging.

Scores are rounded half-up to 4 decimals: ln() and double division are
accumulation-order-free, but rounding pins the last ulp so any ANSI
oracle (DuckDB twin in plans/oracles.py) matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from azure_iot_realtime_data_pipeline_spark.functions.rounding import round_half_up
from azure_iot_realtime_data_pipeline_spark.operators.text import tokens
from azure_iot_realtime_data_pipeline_spark.sources.batch import ensure_parallelism

BM25_K1 = 1.2
BM25_B = 0.75


def term_frequencies(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, term, tf) — one row per distinct term per doc.

    tf_idf and bm25 materialize it with `localCheckpoint(eager=True)`:
    it feeds 2-3 consumers (df_t aggregate, dl window, corpus scalars),
    and without the checkpoint Catalyst recomputes the corpus explode
    per consumer (verified in the physical plan: two full
    explode+aggregate branches under the join)."""
    return (
        docs.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )


def tf_idf(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """J24a: smoothed TF-IDF — tf * (ln((N+1)/(df+1)) + 1), rounded to 4
    decimals. Returns (doc_id, term, tf, tf_idf)."""
    n_docs = docs.count()  # scalar; O(1) rows to the driver
    tf = term_frequencies(docs, text_col, id_col).localCheckpoint(eager=True)
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1.0
    return (
        tf.join(F.broadcast(df_t), "term")
        .select(
            F.col(id_col),
            "term",
            "tf",
            round_half_up(F.col("tf") * idf).alias("tf_idf"),
        )
    )


def bm25(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """J24b: Okapi BM25 term weight per (doc, term), rounded to 4
    decimals. idf = ln(1 + (N - df + 0.5)/(df + 0.5)); the doc-length
    normalization uses whitespace token counts (dl / avgdl).

    dl is NOT a separate scan+join: dl == sum(tf) over the doc, so it
    comes from a window over the compact tf table (one reshuffle of
    (doc, term, tf) rows on doc_id — never a corpus-sized broadcast),
    and avgdl = total_tokens / N is a 1-row aggregate of the same table.
    Returns (doc_id, term, tf, bm25)."""
    from pyspark.sql import Window

    n_docs = docs.count()  # scalar
    tf = term_frequencies(docs, text_col, id_col).localCheckpoint(eager=True)
    total_tokens = tf.agg(F.sum("tf")).collect()[0][0]  # scalar
    avgdl = float(total_tokens) / float(n_docs)
    dl = F.sum("tf").over(Window.partitionBy(id_col))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        1.0 + (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") * (k1 + 1) / (
        F.col("tf") + k1 * (1 - b + b * F.col("_dl") / F.lit(avgdl))
    )
    return (
        tf.withColumn("_dl", dl)
        .join(F.broadcast(df_t), "term")
        .select(
            F.col(id_col),
            "term",
            "tf",
            round_half_up(idf * norm).alias("bm25"),
        )
    )


def unigram_logprob_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
) -> DataFrame:
    """J43: corpus-LM quality scoring, CCNet-style (Wenzek et al. 2020
    filter corpora by LM perplexity; the unigram model is its
    oracle-able, engine-portable floor): score each doc by its mean
    token log-probability under the corpus's own unigram distribution.
    Boilerplate and in-domain text score high; junk, rare-token soup
    and wrong-language text score low. The standard "perplexity filter"
    slot in a curation pipeline — swap a real KenLM behind the same
    (doc_id, score) contract when the binary model is available.

    Plan shape at 100 TB:
    1. ONE token-count aggregate (shuffle on the token, map-side
       combine) -> the model.
    2. vocabulary TRUNCATED to the top `vocab_size` tokens by
       (count DESC, token) via TakeOrderedAndProject (per-partition
       top-k, never a global sort); out-of-vocab tokens score the
       floor probability 1/N. Truncation bounds the broadcast at any
       corpus size and is the standard LM pruning trade.
    3. per-token log-probs broadcast into the token stream; per-doc
       mean accumulates in integer MICRO-UNITS (the order-free domain —
       a double sum's value depends on accumulation order, so the
       rounded per-token logprob is fixed to 6 decimals BEFORE the
       sum). ln() itself is rounded half-up to 6dp so a 1-ulp libm
       divergence between engines cannot move the sum.

    Docs with zero tokens are absent from the output (no tokens, no
    mean). Returns (doc_id, n_tokens, logprob_mean).
    """
    tok = ensure_parallelism(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
    ).select("doc_id", F.explode(tokens(F.col("_text"))).alias("_t"))
    # Stage the VOCAB-SIZED counts, not the corpus-sized token stream
    # (r13): the old form wrote every token OCCURRENCE (~1M rows at
    # sf0.1, larger than the corpus itself) to parquet so the scoring
    # pass could reuse it; re-tokenizing the corpus map-side for the
    # scoring join is strictly cheaper than writing+reading a table
    # BIGGER than the input — at any scale. counts is bounded by the
    # vocabulary and feeds three consumers (total scalar, top-k vocab),
    # so it checkpoints once.
    counts = (
        tok.groupBy("_t").agg(F.count(F.lit(1)).alias("_c"))
        .localCheckpoint(eager=True)
    )
    total = counts.agg(F.sum("_c").alias("_n")).collect()[0]["_n"]
    if total is None:
        # empty corpus / all-empty texts: no tokens, no model — return
        # the documented empty result instead of crashing on float(None)
        return tok.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_tokens")
        ).select(
            "doc_id", "n_tokens", F.lit(None).cast("double").alias("logprob_mean")
        )
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        micro_units,
    )

    vocab = (
        counts.orderBy(F.col("_c").desc(), F.col("_t").asc())
        .limit(vocab_size)
        .select(
            "_t",
            micro_units(
                F.log(F.col("_c").cast("double") / F.lit(float(total)))
            ).alias("_lp_micro"),
        )
    )
    floor_lp = micro_units(F.log(F.lit(1.0) / F.lit(float(total))))
    scored = tok.join(F.broadcast(vocab), "_t", "left").select(
        "doc_id", F.coalesce(F.col("_lp_micro"), floor_lp).alias("_lp")
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.sum("_lp").alias("_s")
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        round_half_up(
            F.col("_s").cast("double")
            / F.col("n_tokens").cast("double")
            / 1_000_000.0
        ).alias("logprob_mean"),
    )


def inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int = 16,
) -> DataFrame:
    """J47: build the retrieval-side inverted index — per term, its
    document frequency and a BOUNDED posting list (the `max_postings`
    smallest doc ids, comma-joined ascending). The index is the data
    structure behind every BM25/boolean retrieval serve path; the
    bounded prefix is what an index SHARD materializes per segment
    (full postings for a stopword-grade term would be the corpus
    itself — an unbounded collect is exactly the anti-pattern the
    two-stage cap avoids).

    Plan shape: within-doc term dedup map-side (array_distinct before
    the explode — no DISTINCT shuffle, the J36 trick), then TWO
    term-keyed passes sharing one hash partitioning: the full doc-count
    aggregate (map-side combined) and the two-stage partition-capped
    top-n (`top_n_per_group` — each partition contributes at most
    max_postings ids per term BEFORE the shuffle, so hot terms never
    gather their full posting set on one task); a final term-equi-join
    stitches them (AQE picks the strategy; both sides are the narrow
    term table).

    Returns (term, doc_count, postings).
    """
    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        top_n_per_group,
    )

    pairs = docs.select(
        F.col(id_col).alias("_doc"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("term"),
    )
    counts = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("doc_count"))
    capped = top_n_per_group(
        pairs, "term", "_doc", "_doc", n=max_postings, descending=False
    )
    postings = capped.groupBy("term").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list(F.col("_doc"))),
                lambda x: x.cast("string"),
            ),
        ).alias("postings")
    )
    return counts.join(postings, "term")


def ccnet_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    vocab_size: int = 1000,
    n_buckets: int = 3,
) -> DataFrame:
    """J55: CCNet-style quality partitioning (Wenzek et al. 2020): score
    every document with the corpus-LM perplexity proxy
    (`unigram_logprob_scores`), then split EACH LANGUAGE into
    equal-count rank buckets — head (best-scoring third), middle, tail.
    CCNet trains on head/middle and drops or down-weights tail; the
    per-language split is the point (absolute LM scores are not
    comparable across languages, rank within language is).

    Bucketing is RANK-based, not threshold-based: bucket_idx =
    floor(n_buckets * (rank-1) / n_lang) over the deterministic total
    order (logprob_mean DESC, doc_id ASC) — engine-portable integer
    arithmetic, no cross-engine percentile-interpolation trap.

    Plan: the LM scorer's shape (one token aggregate + broadcast vocab),
    then one per-language window. Languages are the natural shards of a
    CCNet run (the reference pipeline processes each language as its own
    job), so the window partition is the job boundary; within one
    language at 100 TB swap the window for the distributed rank
    primitive (operators/ordering.py:global_row_number) — same output
    contract. Zero-token docs have no LM score and are absent, as in
    `unigram_logprob_scores`.
    """
    from pyspark.sql import Window

    scores = unigram_logprob_scores(docs, text_col, id_col, vocab_size)
    # both sides are corpus-sized (one row per doc): broadcast would OOM
    # at scale and the static planner's fallback is the repo-banned
    # SortMergeJoin — pin shuffle-hash (same rationale as the L32/M14
    # pinned joins); the build side is the 2-narrow-column lang
    # projection, the cheaper hash table
    scored = scores.join(
        docs.select(
            F.col(id_col).alias("doc_id"), F.col(lang_col).alias("lang")
        ).hint("SHUFFLE_HASH"),
        "doc_id",
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("logprob_mean").desc(), F.col("doc_id").asc()
    )
    n = Window.partitionBy("lang")
    idx = F.floor(
        F.lit(n_buckets) * (F.row_number().over(w) - F.lit(1)) / F.count(F.lit(1)).over(n)
    ).cast("int")
    return (
        scored.withColumn("bucket_idx", idx)
        .withColumn(
            "bucket",
            F.when(F.col("bucket_idx") == 0, F.lit("head"))
            .when(F.col("bucket_idx") == n_buckets - 1, F.lit("tail"))
            .otherwise(F.lit("middle")),
        )
        .select("doc_id", "lang", "logprob_mean", "bucket_idx", "bucket")
    )


def freeze_unigram_model(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
) -> dict:
    """Freeze the `unigram_logprob_scores` corpus model into a driver
    dict: {"vocab": {token: lp_micro_int}, "floor_lp": int}. The values
    are COLLECTED from the same Spark plan the batch scorer runs
    (bounded: <= vocab_size rows + one scalar), so frozen scoring is
    bit-identical to batch scoring by construction — no recomputed ln()
    to diverge. This is the production handoff for incremental
    pipelines: fit once on the corpus snapshot, score every new crawl
    batch (or stream) against the FROZEN model."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        micro_units,
    )

    tok = docs.select(
        F.explode(tokens(F.col(text_col))).alias("_t")
    )
    # materialize the token-count aggregate ONCE: the corpus tokenize is
    # the dominant job and would otherwise replay for the total collect
    # AND the vocab collect (review r7)
    counts = (
        tok.groupBy("_t").agg(F.count(F.lit(1)).alias("_c")).localCheckpoint()
    )
    total = counts.agg(F.sum("_c").alias("_n")).collect()[0]["_n"]
    if total is None:
        return {"vocab": {}, "floor_lp": None}
    vocab_rows = (
        counts.orderBy(F.col("_c").desc(), F.col("_t").asc())
        .limit(vocab_size)
        .select(
            "_t",
            micro_units(
                F.log(F.col("_c").cast("double") / F.lit(float(total)))
            ).alias("_lp"),
        )
        .collect()
    )
    floor_lp = (
        docs.sparkSession.range(1)
        .select(
            micro_units(F.log(F.lit(1.0) / F.lit(float(total)))).alias("_f")
        )
        .collect()[0]["_f"]
    )
    return {
        "vocab": {r["_t"]: int(r["_lp"]) for r in vocab_rows},
        "floor_lp": int(floor_lp),
    }


def score_with_frozen_lm(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Score documents against a FROZEN unigram model (from
    `freeze_unigram_model`) — per-row Arrow `mapInPandas`, zero
    shuffles, zero state: each doc tokenizes and folds its own integer
    micro-unit sum against the broadcast-closure vocab dict. Works
    identically on batch and STREAMING DataFrames (stateless row map),
    which makes it the streaming twin of `unigram_logprob_scores`: new
    docs score under the corpus model without re-aggregating the
    corpus. Output contract matches the batch scorer exactly —
    (doc_id, n_tokens, logprob_mean [, carry_cols...]), zero-token docs
    absent; the mean replays the identical IEEE sequence (s/n/1e6 then
    4-dp half-up floor), and the model's lp values are Spark-computed
    integers, so frozen scores are bit-identical to batch scores (gated
    in tests/test_corpus.py). `carry_cols` ride through the row map —
    on a stream this avoids the stream-stream self-join (unbounded
    state) that re-attaching metadata would otherwise cost."""
    import math

    vocab = model["vocab"]
    floor_lp = model["floor_lp"]
    carries = list(carry_cols)
    empty_model = floor_lp is None
    if empty_model and vocab:
        raise ValueError("frozen model has tokens but no floor_lp")

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if empty_model:
                # empty-corpus model: the batch scorer returns ZERO rows
                # (no tokens, no model) — fabricating mean=0.0 here would
                # send junk docs to the top CCNet bucket (review r7)
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series([], dtype="int64"),
                        "n_tokens": pd.Series([], dtype="int64"),
                        "logprob_mean": pd.Series([], dtype="float64"),
                        **{c: pd.Series([]) for c in carries},
                    }
                )
                continue
            out = {"doc_id": [], "n_tokens": [], "logprob_mean": []}
            for c in carries:
                out[c] = []
            for i, (did, txt) in enumerate(zip(pdf[id_col], pdf[text_col])):
                if txt is None:
                    continue
                toks = [t for t in txt.split(" ") if t != ""]
                if not toks:
                    continue
                s = 0
                for t in toks:
                    s += vocab.get(t, floor_lp)
                n = len(toks)
                mean = math.floor(float(s) / float(n) / 1e6 * 10000.0 + 0.5) / 10000.0
                out["doc_id"].append(int(did))
                out["n_tokens"].append(n)
                out["logprob_mean"].append(mean)
                for c in carries:
                    out[c].append(pdf[c].iloc[i])
            frame = {
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "n_tokens": pd.Series(out["n_tokens"], dtype="int64"),
                "logprob_mean": pd.Series(out["logprob_mean"], dtype="float64"),
            }
            for c in carries:
                frame[c] = pd.Series(out[c])
            yield pd.DataFrame(frame)

    carry_schema = "".join(
        f", {c} {docs.schema[c].dataType.simpleString()}" for c in carries
    )
    return docs.select(F.col(id_col), F.col(text_col), *carries).mapInPandas(
        score,
        schema="doc_id long, n_tokens long, logprob_mean double" + carry_schema,
    )


def ccnet_thresholds(bucketed: DataFrame) -> DataFrame:
    """Per-language score boundaries of a `ccnet_buckets` result:
    (lang, head_min, middle_min) — the frozen artifact that lets NEW
    documents be bucket-assigned without recomputing corpus ranks."""
    return (
        bucketed.groupBy("lang")
        .agg(
            F.min(F.when(F.col("bucket") == "head", F.col("logprob_mean"))).alias(
                "head_min"
            ),
            F.min(
                F.when(F.col("bucket") == "middle", F.col("logprob_mean"))
            ).alias("middle_min"),
        )
    )


def ccnet_assign(
    scored: DataFrame, thresholds: DataFrame, lang_col: str = "lang"
) -> DataFrame:
    """Assign CCNet buckets to newly scored docs by comparing against
    frozen per-language thresholds (broadcast stream-static join; works
    on streaming `scored` inputs unchanged). Boundary ties go to the
    HIGHER bucket (score >= head_min -> head) — the rank-based batch
    split arbitrates ties by doc_id instead, so assignment can differ
    from a batch re-rank exactly on boundary-score ties, documented and
    gated. Languages absent from the thresholds get NULL bucket (a new
    language has no frozen boundaries — route to the batch path). A
    language whose batch split produced NO middle rows (stratum of 1-2
    docs) has NULL middle_min; it is coalesced to head_min so middle
    collapses consistently into head/tail rather than the NULL
    comparison silently routing every sub-head score to tail (r7
    ADVICE — a batch re-rank of the same doc could have said middle,
    and the coalesce makes the divergence the documented tie class)."""
    t = F.broadcast(thresholds)
    j = scored.join(t, scored[lang_col] == thresholds["lang"], "left").drop(
        thresholds["lang"]
    )
    mid_min = F.coalesce(F.col("middle_min"), F.col("head_min"))
    return j.withColumn(
        "bucket",
        F.when(F.col("head_min").isNull(), F.lit(None).cast("string"))
        .when(F.col("logprob_mean") >= F.col("head_min"), F.lit("head"))
        .when(F.col("logprob_mean") >= mid_min, F.lit("middle"))
        .otherwise(F.lit("tail")),
    ).drop("head_min", "middle_min")
