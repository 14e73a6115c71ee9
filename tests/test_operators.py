"""Property-based and invariant tests for the algorithmic operators
(SURVEY.md §5: anomaly properties, dedup estimator sanity, skew
result-identity, reference-faithful GLOBAL anomaly window)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from azure_iot_realtime_data_pipeline_spark.operators import analytics, dedup, skew, text
from azure_iot_realtime_data_pipeline_spark.operators.windows import (
    spike_dip_score,
    trailing_window,
    with_epoch_seconds,
)
from azure_iot_realtime_data_pipeline_spark.sources.batch import load_table
from azure_iot_realtime_data_pipeline_spark.streaming.anomaly import spike_dip_stream
from azure_iot_realtime_data_pipeline_spark.streaming.source import (
    replay_events,
    stage_replay_dir,
)

T0 = datetime(2024, 1, 1, 0, 0, 0)


def _score_series(spark, values: list[float]):
    """Score a 1-per-second series with the batch spike/dip operator."""
    rows = [
        (i, T0 + timedelta(seconds=i), 1, float(v)) for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")
    ev = with_epoch_seconds(df, "ts")
    w = trailing_window("ts_sec", key="user_id", window_seconds=60)
    is_anom, score = spike_dip_score(F.col("value"), w)
    return (
        ev.select("event_id", score.alias("score"), is_anom.alias("is_anomaly"))
        .orderBy("event_id")
        .collect()
    )


@settings(max_examples=10, deadline=None)
@given(st.floats(min_value=-1e3, max_value=1e3, allow_nan=False), st.integers(min_value=2, max_value=20))
def test_no_flag_on_flat_line(spark, const, n):
    """Zero window variance -> score 0, no flag, for any constant."""
    out = _score_series(spark, [const] * n)
    assert all(r["score"] == 0.0 and r["is_anomaly"] == 0 for r in out)


def test_flag_fires_on_injected_spike(spark):
    base = [10.0 + (i % 3) * 0.1 for i in range(30)]
    out = _score_series(spark, base + [500.0])
    assert out[-1]["is_anomaly"] == 1
    assert out[-1]["score"] > 3.0
    # and the dip direction too
    out2 = _score_series(spark, base + [-500.0])
    assert out2[-1]["is_anomaly"] == 1
    assert out2[-1]["score"] < -3.0


def test_minhash_estimates_track_exact_jaccard(spark, sf_smoke):
    """est_jaccard from 32 minhashes within 0.35 of exact shingle Jaccard
    for every LSH candidate pair (coarse statistical bound, no flakes:
    data and hashes are deterministic)."""
    docs = load_table(spark, sf_smoke, "documents").filter(F.col("doc_id") < 80)
    est = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in dedup.minhash_lsh_candidates(docs, est_threshold=0.0).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs).collect()
    }
    assert est  # candidates exist
    for pair, e in est.items():
        x = exact.get(pair, 0.0)
        assert abs(e - x) <= 0.35, (pair, e, x)


def test_minhash_codegen_form_bit_identical(spark, sf_smoke):
    """The exploded groupBy signature path must reproduce the Column-form
    F.aggregate fold bit-for-bit, including empty-shingle docs (init
    signature)."""
    docs = (
        load_table(spark, sf_smoke, "documents")
        .filter(F.col("doc_id") < 60)
        .select("doc_id", "text")
    )
    docs = docs.unionByName(
        spark.createDataFrame([(999999, "one two")], "doc_id long, text string")
    )
    fast = {
        r["doc_id"]: r["sig"] for r in dedup.minhash_signatures(docs).collect()
    }
    slow = {
        r["doc_id"]: r["sig"]
        for r in docs.select(
            "doc_id",
            dedup.minhash_signature(
                dedup.shingle_hashes(text.tokens(F.col("text")), 3), 32
            ).alias("sig"),
        ).collect()
    }
    assert fast == slow
    assert fast[999999] == [dedup.MERSENNE_31] * 32


def test_simhash_close_for_near_identical_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river shore"),
        (3, "completely unrelated text about spark execution engines and shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", dedup.simhash64(text.tokens(F.col("text"))).alias("s")).collect()
    }

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(sh[1], sh[2]) < hamming(sh[1], sh[3])
    assert hamming(sh[1], sh[2]) <= 16


def test_simhash_signatures_table_form_equals_column_form(spark):
    """r14 optimization gate: simhash_signatures (explode + 64 codegen
    vote aggregates, q_simhash's plan since r14) must be bit-identical
    to the simhash64 Column fold on every edge the conversion could get
    wrong: NULL text (NULL signature, not 0), empty text (signature 0),
    single token, repeated tokens (occurrences vote, not distinct),
    multi-space runs, and a long doc."""
    rows = [
        (1, "hello world hello"),
        (2, ""),
        (3, None),
        (4, "a"),
        (5, "  spaced   out  "),
        (6, "hello world hello"),
        (7, "tok " * 300),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    col_form = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", dedup.simhash64(text.tokens(F.col("text"))).alias("s")
        ).collect()
    }
    table_form = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_signatures(df).collect()
    }
    assert table_form == col_form


def test_salted_agg_matches_plain(spark, sf_smoke):
    ev = load_table(spark, sf_smoke, "events")
    salted = {
        r["user_id"]: (r["n"], r["sum_value"])
        for r in skew.salted_agg_sum(ev, ["user_id"], "value", "event_id").collect()
    }
    plain = {
        r["user_id"]: (r["n"], r["s"])
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("s"),
        )
        .collect()
    }
    assert salted == plain


def test_bpe_tokens_contract(spark):
    df = spark.createDataFrame(
        [(1, "Hello, world! v2.0 costs $15 (today)")], "doc_id long, text string"
    )
    toks = df.select(text.bpe_tokens(F.col("text")).alias("t")).collect()[0]["t"]
    assert toks == [
        "Hello", ",", "world", "!", "v", "2", ".", "0",
        "costs", "$", "15", "(", "today", ")",
    ]


def test_global_window_streaming_parity(spark, sf_smoke, tmp_path):
    """Reference-faithful GLOBAL anomaly window (no PARTITION BY,
    SURVEY.md §7 hard part 1): streaming with a constant key must match
    the batch global RANGE frame bit-for-bit."""
    replay = stage_replay_dir(spark, sf_smoke, str(tmp_path / "replay"), num_files=3)
    stream = spike_dip_stream(
        replay_events(spark, replay).withColumn("_g", F.lit(0)),
        key_col="_g",
        window_seconds=60,
        history_size=None,
    )
    got = {}

    def sink(batch, _bid):
        for r in batch.collect():
            got[r["event_id"]] = (r["score"], r["is_anomaly"])

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    ev = with_epoch_seconds(load_table(spark, sf_smoke, "events"), "ts")
    w = trailing_window("ts_sec", key=None, window_seconds=60)
    is_anom, score = spike_dip_score(F.col("value"), w)
    expected = {
        r["event_id"]: (r["score"], r["is_anomaly"])
        for r in ev.select("event_id", score.alias("score"), is_anom.alias("is_anomaly")).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# global_row_number (operators/ordering.py): deterministic quantile-bucket
# numbering must be bit-identical to the naive global window on every edge
# the bucketing could get wrong — nulls in the leading key (bucket 0,
# nulls-first), heavy ties on the leading key (one bucket, tiebreaker
# ordering), tiny inputs (fewer rows than buckets), and repeat invocation
# (job-to-job determinism, the AQE-recompute regression).
# ---------------------------------------------------------------------------

def _naive_numbering(df, order_cols, out_col):
    from pyspark.sql import Window

    w = Window.orderBy(*[F.col(c).asc() for c in order_cols])
    return df.withColumn(out_col, F.row_number().over(w).cast("long"))


def _assert_matches_naive(spark, rows, schema, order_cols):
    from azure_iot_realtime_data_pipeline_spark.operators.ordering import (
        global_row_number,
    )

    df = spark.createDataFrame(rows, schema)
    got = {
        tuple(r) for r in global_row_number(df, order_cols, out_col="rn").collect()
    }
    want = {tuple(r) for r in _naive_numbering(df, order_cols, "rn").collect()}
    assert got == want


def test_row_number_nulls_first_and_ties(spark):
    rows = [
        (None, 3),
        (5.0, 1),
        (5.0, 2),  # tie on leading key -> tiebreaker decides
        (None, 1),  # null leading keys sort first, among themselves by id
        (1.0, 4),
        (9.0, 5),
    ]
    _assert_matches_naive(spark, rows, "k double, id long", ["k", "id"])


def test_row_number_fewer_rows_than_buckets(spark):
    _assert_matches_naive(spark, [(2.0, 1)], "k double, id long", ["k", "id"])
    _assert_matches_naive(
        spark, [(2.0, 1), (1.0, 2)], "k double, id long", ["k", "id"]
    )


def test_row_number_stable_across_invocations(spark, sf_smoke):
    from azure_iot_realtime_data_pipeline_spark.operators.ordering import (
        global_row_number,
    )

    ev = load_table(spark, sf_smoke, "events").select("event_id", "ts")
    out = global_row_number(ev, ["ts", "event_id"], out_col="rn")
    first = sorted((r["event_id"], r["rn"]) for r in out.collect())
    # re-collecting re-runs the numbering job; a partition-id-dependent
    # scheme can renumber differently here — values must not move
    second = sorted((r["event_id"], r["rn"]) for r in out.collect())
    assert first == second
    assert [rn for _, rn in sorted(first, key=lambda t: t[1])] == list(
        range(1, len(first) + 1)
    )


def test_row_number_nonfinite_leading_keys(spark):
    """inf/nan in the leading key: approxQuantile can emit non-finite
    bucket bounds — the Column-API binary-search tree must stay
    analyzable (the old SQL-text interpolation failed at analysis time)
    and order them like Spark sort does (nan last, after +inf)."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from azure_iot_realtime_data_pipeline_spark.operators.ordering import (
        global_row_number,
    )

    rows = [
        (float("nan"), 1),
        (float("inf"), 2),
        (float("-inf"), 3),
        (0.0, 4),
        (None, 5),
        (float("nan"), 6),
        (1e308, 7),
        (-1e308, 8),
    ] + [(float(i), 100 + i) for i in range(50)]
    df = spark.createDataFrame(rows, "k double, id long")
    # compare id->rn maps (ids are unique): tuple/set compares would
    # break on NaN != NaN, not on actual numbering differences
    got = {r["id"]: r["rn"] for r in global_row_number(df, ["k", "id"], out_col="rn").collect()}
    w = Window.orderBy(F.col("k").asc(), F.col("id").asc())
    want = {r["id"]: r["rn"] for r in df.withColumn("rn", F.row_number().over(w)).collect()}
    assert got == want


def test_duplicate_clusters_components_and_convergence(spark):
    """J26: a 6-node chain (needs multiple propagation rounds), a
    triangle closed the 'wrong' way, and an isolated pair all resolve to
    min-id components."""
    from azure_iot_realtime_data_pipeline_spark.operators.dedup import (
        duplicate_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (20, 21), (21, 22), (22, 20)],
        ["doc_a", "doc_b"],
    )
    got = {r["doc_id"]: r["cluster_id"] for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
                   10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_ann_recall_at_10_vs_brute_force(spark, sf_smoke):
    """ANN quality floor: IVF (4-of-16 probes) and hyperplane-LSH top-10
    must recover a meaningful fraction of the exact cosine top-10 —
    recall is THE quality metric for the approximate scale paths, and a
    silent regression (bad centroids, broken bucketing) shows here long
    before rows-only checks notice."""
    from azure_iot_realtime_data_pipeline_spark.plans.queries import (
        q_ivf_topk,
        q_lsh_topk,
        q_lsh_topk_multiprobe,
        q_topk_cosine,
    )

    def pair_set(df):
        return {(r["query_id"], r["cand_id"]) for r in df.collect()}

    exact = pair_set(q_topk_cosine(spark, sf_smoke))
    assert len(exact) == 50  # 5 queries x top-10 (self-matches excluded)
    ivf = pair_set(q_ivf_topk(spark, sf_smoke))
    lsh = pair_set(q_lsh_topk(spark, sf_smoke))
    multi = pair_set(q_lsh_topk_multiprobe(spark, sf_smoke))
    ivf_recall = len(ivf & exact) / len(exact)
    lsh_recall = len(lsh & exact) / len(exact)
    multi_recall = len(multi & exact) / len(exact)
    # Deterministic data + hashes -> these are fixed numbers (measured:
    # IVF 0.88, LSH 0.04); floors leave headroom for parameter tuning.
    # IVF probes 4-of-16 exact-cosine cells -> high recall. Hyperplane
    # LSH on THIS corpus (near-random vectors, best cosine ~0.44 means
    # ~66-degree angles) collides true neighbors rarely by geometry —
    # the floor only pins it above the 10/500 = 2% random baseline; on a
    # clustered corpus the same operator scores far higher.
    assert ivf_recall >= 0.5, ivf_recall
    assert lsh_recall >= 0.03, lsh_recall
    # Multi-probe + OR-amplification (2 tables x 4 planes, Hamming-1)
    # must strictly dominate exact-bucket LSH — its candidate superset
    # provably contains every exact-bucket candidate of table 0.
    # Measured (deterministic data + hashes -> fixed numbers): 0.72 at
    # sf0.001, 0.76 at sf0.01, 0.80 at sf0.1 vs 0.04/0.14/0.06
    # single-probe.
    assert multi_recall >= lsh_recall, (multi_recall, lsh_recall)
    assert multi_recall >= 0.65, multi_recall


def test_multiprobe_lsh_recall_at_sf01_meets_bar(spark, sf_bench):
    """The round-4 recall bar: the OR-amplified multi-probe config must
    hold recall@10 >= 0.8 at sf0.1 (the bench scale). Deterministic —
    fixed data, fixed splitmix64 planes — so the measured 0.80 is a
    stable number, not a flaky threshold. Embeddings at sf0.1 are 2,000
    rows, so the exact baseline here is cheap."""
    from azure_iot_realtime_data_pipeline_spark.plans.queries import (
        q_lsh_topk_multiprobe,
        q_topk_cosine,
    )

    sf = sf_bench
    exact = {(r["query_id"], r["cand_id"]) for r in q_topk_cosine(spark, sf).collect()}
    multi = {
        (r["query_id"], r["cand_id"])
        for r in q_lsh_topk_multiprobe(spark, sf).collect()
    }
    assert len(exact) == 50
    assert len(multi & exact) / len(exact) >= 0.8


def test_kmv_distinct_tracks_exact_counts(spark, sf_oracle):
    """KMV quality floor: the k=64 sketch estimate must land within the
    theoretical error envelope of the exact distinct count (standard
    error ~ 1/sqrt(k-2) = 12.7%; the 40% bound is ~3 sigma), and groups
    with fewer than k distinct values must be EXACT.

    Runs at sf0.01 (~150 distinct users per event type) so the
    ESTIMATOR branch actually fires — at sf0.001 every group has < k
    distinct ids and only the exact branch would execute, leaving the
    quality floor untested."""
    from azure_iot_realtime_data_pipeline_spark.operators.sketches import (
        kmv_distinct,
    )
    from azure_iot_realtime_data_pipeline_spark.sources.batch import load_table

    ev = load_table(spark, sf_oracle, "events")
    est = {
        r["event_type"]: (r["n_kept"], r["distinct_est"])
        for r in kmv_distinct(ev, "event_type", "user_id", k=64).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    # guard the data assumption the estimator assertions depend on: if a
    # testdata refresh ever drops every group under k, this test would
    # silently stop testing the sketch quality again
    assert any(n >= 64 for n in exact.values())
    for etype, (n_kept, e) in est.items():
        n = exact[etype]
        if n < 64:
            assert e == float(n), (etype, e, n)
        else:
            assert n_kept == 64
            assert abs(e - n) / n <= 0.40, (etype, e, n)


def test_value_histogram_drops_null_measurements(spark):
    """NULL values must not inflate bucket 0 (greatest(NULL,0)=0 in
    Spark would put them there without the filter)."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        value_histogram,
    )
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    schema = StructType([
        StructField("g", StringType()), StructField("v", DoubleType()),
    ])
    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", None), ("a", 33.0)], schema
    )
    got = {(r["g"], r["bucket"]): r["n"] for r in value_histogram(
        df, "g", "v", lo=0.0, width=32.0, n_buckets=4).collect()}
    assert got == {("a", 0): 1, ("a", 1): 1}


def test_numpy_signatures_match_expression_form(spark, sf_smoke):
    """with_plane_signatures (numpy Arrow path) must be bit-identical to
    the lsh_signature expression form — the parity claim every LSH
    operator now rests on. Also pins the norm against norm_f64."""
    from azure_iot_realtime_data_pipeline_spark.operators.similarity import (
        lsh_signature,
        norm_f64,
        with_plane_signatures,
    )
    from azure_iot_realtime_data_pipeline_spark.sources.batch import load_table

    emb = load_table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    got = {
        r["vec_id"]: (r["_sig0"], r["_sig1"], r["_n"])
        for r in with_plane_signatures(
            emb, "embedding", 64, 4, [0, 4], norm_col="_n"
        ).collect()
    }
    want = {
        r["vec_id"]: (r["s0"], r["s1"], r["n"])
        for r in emb.select(
            "vec_id",
            lsh_signature(F.col("embedding"), 64, 4, plane_offset=0).alias("s0"),
            lsh_signature(F.col("embedding"), 64, 4, plane_offset=4).alias("s1"),
            norm_f64(F.col("embedding")).alias("n"),
        ).collect()
    }
    assert got == want  # exact, including the float64 norms


def test_quantile_sketch_error_bounded_by_bucket_width(spark, sf_oracle):
    """L8 quality floor: the binned estimate must sit within one bucket
    width of the exact rank-selected percentile for every (group, q) —
    the sketch's whole contract (the exact value lives in the bucket
    whose upper edge we report)."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        exact_percentiles,
        quantile_sketch,
    )
    from azure_iot_realtime_data_pipeline_spark.sources.batch import load_table

    ev = load_table(spark, sf_oracle, "events")
    est = {
        (r["event_type"], r["q"]): r["p_est"]
        for r in quantile_sketch(ev, "event_type", "value", n_bins=256).collect()
    }
    exact = {
        (r["event_type"], r["q"]): r["p_value"]
        for r in exact_percentiles(ev, "event_type", "value", "event_id").collect()
    }
    rng = {
        r["event_type"]: (r["lo"], r["hi"])
        for r in ev.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    assert est.keys() == exact.keys() and len(est) == 15  # 5 types x 3 qs
    for (etype, q), e in est.items():
        lo, hi = rng[etype]
        width = (hi - lo) / 256.0
        # + rounding slack: both sides round half-up to 4 dp
        assert abs(e - exact[(etype, q)]) <= width + 1e-4, (etype, q, e, exact[(etype, q)])


def test_ivf_topk_drops_zero_norm_vectors(spark):
    """ADVICE r4: in the numpy assign/probe paths a zero-norm vector
    yields NaN cosines, every `cos > best` is False, and the row was
    silently emitted with cell_id 0 — the prior expression form scored
    it NULL and dropped it at the join. Both sides must drop zero-norm
    vectors (the candidate with id 9 and the query with id 102)."""
    from azure_iot_realtime_data_pipeline_spark.operators.similarity import ivf_topk

    cands = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [0.7, 0.7, 0.0, 0.0]),
            (4, [0.0, 0.0, 1.0, 0.0]),
            (9, [0.0, 0.0, 0.0, 0.0]),  # zero norm -> must vanish
        ],
        "cand_id long, cv array<double>",
    )
    qs = spark.createDataFrame(
        [(101, [1.0, 0.1, 0.0, 0.0]), (102, [0.0, 0.0, 0.0, 0.0])],
        "query_id long, qv array<double>",
    )
    got = ivf_topk(qs, cands, n_cells=2, n_probe=2, k=10).collect()
    assert got, "non-degenerate query must return neighbors"
    assert all(r["cand_id"] != 9 for r in got)
    assert all(r["query_id"] != 102 for r in got)


def test_minhash_xxhash_form_agrees_with_portable_twin(spark, sf_oracle):
    """Cross-form equivalence gate (r4 verdict): the PRODUCTION xxhash64
    MinHash-LSH form has no SQL oracle (engine-specific hashes) — this
    gate ties it to the hash-green portable twin instead. At MATCHED
    banding config (16 lanes / 4 bands, est_threshold 0.5) the two
    independent hash families must produce statistically-agreeing
    candidate-pair sets on the same corpus. Deterministic data + hashes:
    measured overlap 25/39 = 0.64 (prod 30 pairs, portable 34); every
    strong near-dup (exact shingle jaccard >= 0.8) is found by BOTH.
    A drift in the production banding/signature math collapses this."""
    docs = load_table(spark, sf_oracle, "documents")
    prod = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_candidates(
            docs, num_hashes=16, bands=4, est_threshold=0.5
        ).collect()
    }
    port = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_candidates_portable(
            docs, est_threshold=0.5
        ).collect()
    }
    assert prod and port
    overlap = len(prod & port) / len(prod | port)
    assert overlap >= 0.5, (overlap, len(prod), len(port))
    strong = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs)
        .filter(F.col("jaccard") >= 0.8)
        .collect()
    }
    assert strong <= prod, strong - prod
    assert strong <= port, strong - port


def test_simhash_xxhash_form_agrees_with_portable_twin(spark, sf_oracle):
    """Cross-form equivalence gate for the PRODUCTION xxhash64 SimHash
    (rows-only by design): both 64-bit signatures must place exact
    near-dup pairs (shingle jaccard >= 0.5) at SMALL Hamming distance
    and random pairs at LARGE distance, and the two forms' distances on
    near-dup pairs must track each other. Deterministic (fixed data,
    hashes, and RNG seed): measured near-dup hamming max 5 (xxhash) /
    10 (md5), mean abs difference 1.76 (max 6); random-pair means 18.3 /
    20.5 with minima 8 / 10."""
    import random

    docs = load_table(spark, sf_oracle, "documents")
    sx = {
        r.doc_id: r.simhash
        for r in docs.select(
            "doc_id", dedup.simhash64(text.tokens(F.col("text"))).alias("simhash")
        ).collect()
    }
    sp = {
        r.doc_id: int(r.simhash_hex, 16)
        for r in dedup.simhash_hex_portable(docs).collect()
    }
    assert sx.keys() == sp.keys()
    near = [
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs)
        .filter(F.col("jaccard") >= 0.5)
        .collect()
    ]
    assert near

    def ham(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    hx = [ham(sx[a], sx[b]) for a, b in near]
    hp = [ham(sp[a], sp[b]) for a, b in near]
    assert max(hx) <= 12, max(hx)
    assert max(hp) <= 14, max(hp)
    diffs = [abs(x - p) for x, p in zip(hx, hp)]
    assert sum(diffs) / len(diffs) <= 4.0, sum(diffs) / len(diffs)
    rng = random.Random(7)
    ids = sorted(sx)
    rand = {
        (a, b)
        for a, b in ((rng.choice(ids), rng.choice(ids)) for _ in range(300))
        if a != b
    } - set(near)
    rx = [ham(sx[a], sx[b]) for a, b in rand]
    rp = [ham(sp[a], sp[b]) for a, b in rand]
    assert sum(rx) / len(rx) >= 14.0
    assert sum(rp) / len(rp) >= 14.0


def test_selective_salted_join_identity_under_injected_skew(spark):
    """J17 x J35: with one key holding ~50% of the big side, the
    profile-driven form must flag exactly that key, salt only it, and
    still return the IDENTICAL result to the plain join (salting only
    reshapes the shuffle)."""
    big_rows = [(i, 7, float(i)) for i in range(500)] + [
        (1000 + i, i % 50, float(i)) for i in range(500)
    ]
    big = spark.createDataFrame(big_rows, "event_id long, user_id long, value double")
    small = spark.createDataFrame(
        [(k, f"seg{k % 3}") for k in range(60)], "c_custkey long, c_mktsegment string"
    )
    sel = skew.selective_salted_join(
        big, small, "user_id", "c_custkey", salt_src="event_id", n_salts=4
    )
    plain = big.join(small, big["user_id"] == small["c_custkey"])
    key = lambda r: (r["event_id"], r["c_custkey"])  # noqa: E731
    assert sorted(map(key, sel.collect())) == sorted(map(key, plain.collect()))
    # the hot path actually engaged: key 7 is >= 5% share
    prof = skew.key_skew_profile(big, "user_id", top_k=5).collect()
    assert prof[0]["user_id"] == 7 and prof[0]["share"] >= 0.05


def test_selective_salted_join_plan_gates(spark):
    """Plan gates for the two selective-salting paths: a profiler
    verdict of NO hot keys must produce the PLAIN join (no salt column,
    no replication explode anywhere in the plan); a hot-key list must
    produce exactly ONE join salted via pmod (no two-join union)."""
    import contextlib
    import io

    big = spark.createDataFrame(
        [(i, i % 50, float(i)) for i in range(200)],
        "event_id long, user_id long, value double",
    )
    small = spark.createDataFrame(
        [(k, f"seg{k % 3}") for k in range(60)], "c_custkey long, c_mktsegment string"
    )

    def plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        return buf.getvalue()

    # uniform data, default 5% threshold -> plain join
    p_cold = plan(
        skew.selective_salted_join(
            big, small, "user_id", "c_custkey", salt_src="event_id"
        )
    )
    assert "_salt" not in p_cold, p_cold
    assert "explode" not in p_cold.lower(), p_cold
    # explicit hot key -> one salted join, replication only via the
    # conditional sequence/array explode, never a second join
    p_hot = plan(
        skew.selective_salted_join(
            big, small, "user_id", "c_custkey", salt_src="event_id", hot_keys=[7]
        )
    )
    assert "_salt" in p_hot and "pmod" in p_hot, p_hot
    assert p_hot.count("Join") >= 1
    assert "Union" not in p_hot, p_hot


def test_ivf_kmeans_centroids_beat_deterministic_on_held_out_queries(
    spark, sf_oracle
):
    """IVF production centroids (r4 verdict item 7): MLlib k-means
    centroids must deliver recall@10 >= the deterministic lowest-id
    centroids — measured on HELD-OUT queries (vec_id 100-104). The
    registered q_ivf_topk's 0.92-1.00 recall uses queries 0-4, which
    are themselves among the 16 lowest-id centroid seeds — each query
    probes a cell centered on itself, inflating recall; held-out
    queries show the honest picture (measured: deterministic 0.38,
    k-means 0.60 at sf0.01 — stable: fixed data, seeded k-means)."""
    from azure_iot_realtime_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    emb = load_table(spark, sf_oracle, "embeddings")
    q = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    exact = {(r.query_id, r.cand_id) for r in cosine_topk(q, c, k=10).collect()}
    det = {(r.query_id, r.cand_id) for r in ivf_topk(q, c, k=10).collect()}
    km = {
        (r.query_id, r.cand_id)
        for r in ivf_topk(q, c, k=10, centroids="kmeans").collect()
    }
    det_recall = len(det & exact) / len(exact)
    km_recall = len(km & exact) / len(exact)
    assert km_recall >= det_recall, (km_recall, det_recall)
    assert km_recall >= 0.5, km_recall


def test_ivf_rejects_unknown_centroid_mode(spark, sf_oracle):
    from azure_iot_realtime_data_pipeline_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_oracle, "embeddings")
    q = emb.limit(1).select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    c = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    with pytest.raises(ValueError, match="centroids"):
        ivf_topk(q, c, centroids="surprise")


def test_ohlc_downsample_hand_computed(spark):
    import datetime as dt

    rows = [
        ("s", 1, dt.datetime(2024, 1, 1, 0, 0, 0), 5.0),
        ("s", 2, dt.datetime(2024, 1, 1, 6, 0, 0), 9.0),
        ("s", 3, dt.datetime(2024, 1, 1, 12, 0, 0), 1.0),
        ("s", 4, dt.datetime(2024, 1, 1, 18, 0, 0), 3.0),
        ("s", 5, dt.datetime(2024, 1, 2, 1, 0, 0), 7.0),  # next bucket
        ("s", 6, dt.datetime(2024, 1, 2, 2, 0, 0), None),  # dropped
    ]
    df = spark.createDataFrame(
        rows, "key string, event_id int, ts timestamp, value double"
    )
    out = analytics.ohlc_downsample(df, "key", "ts", "value", "event_id", 86400)
    got = {r.bucket_start.isoformat(): r for r in out.collect()}
    d1 = got["2024-01-01T00:00:00"]
    assert (d1.open, d1.high, d1.low, d1.close, d1.n) == (5.0, 9.0, 1.0, 3.0, 4)
    d2 = got["2024-01-02T00:00:00"]
    assert (d2.open, d2.high, d2.low, d2.close, d2.n) == (7.0, 7.0, 7.0, 7.0, 1)


def test_ohlc_open_close_by_tiebreak_at_equal_ts(spark):
    # two rows at the identical timestamp: (ts, tiebreak) decides both
    # ends — open is the LOWER event_id, close the HIGHER, regardless
    # of which value is larger.
    import datetime as dt

    t = dt.datetime(2024, 1, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [("s", 2, t, 1.0), ("s", 1, t, 9.0)],
        "key string, event_id int, ts timestamp, value double",
    )
    out = analytics.ohlc_downsample(df, "key", "ts", "value", "event_id", 86400)
    r = out.collect()[0]
    assert (r.open, r.close) == (9.0, 1.0)


def test_contamination_score_bounds(spark):
    from azure_iot_realtime_data_pipeline_spark.operators import corpus as corpus_ops

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),          # shingles {a b c, b c d}
            (2, "a b c x y z"),      # shares "a b c" only -> 1/4
            (3, "p q r s"),          # no overlap -> 0.0
            (4, "p q"),              # < k tokens -> absent from output
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, "a b c d")], "doc_id long, text string")
    out = corpus_ops.contamination_score(docs, bench)
    got = {r.doc_id: r for r in out.collect()}
    assert set(got) == {1, 2, 3}
    assert (got[1].n_shingles, got[1].n_hits, got[1].contamination) == (2, 2, 1.0)
    assert (got[2].n_shingles, got[2].n_hits, got[2].contamination) == (4, 1, 0.25)
    assert got[3].contamination == 0.0


def test_semantic_dedup_within_cell_min_id_survives(spark):
    # centroids = 2 lowest-id vectors (x-axis, y-axis). v3/v4 are
    # near-copies of v1/v2 in their cells -> dropped; v5 sits exactly
    # between the centroids (cosine tie -> lowest cent_id's cell) but
    # is far from every cell member -> survives.
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [1.0, 0.01]),
        (4, [0.01, 1.0]),
        (5, [0.7, 0.7]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = dedup.semantic_dedup(df, tau=0.95, n_cells=2)
    got = {r.vec_id: r.cell_id for r in out.collect()}
    assert got == {1: 1, 2: 2, 5: 1}


def test_winsorize_clamps_into_band(spark):
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    rows = [("s", i, t, float(v)) for i, v in enumerate(
        [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000], start=1
    )]
    df = spark.createDataFrame(
        rows, "key string, event_id int, ts timestamp, value double"
    )
    out = analytics.winsorize(df, "key", "value", "event_id", 0.1, 0.9)
    got = {r.event_id: r.clipped for r in out.collect()}
    # n=10: lo = value at rank ceil(0.1*10)=1 -> 1.0; hi at rank 9 -> 9.0
    assert got[1] == 1.0 and got[10] == 9.0 and got[5] == 5.0


def test_funnel_strict_ordering_semantics(spark):
    """L11: a user whose click precedes every view does NOT advance; a
    click at the exact view timestamp does not advance (strict >); an
    in-order user advances through all stages."""
    import datetime as dtm

    t0 = dtm.datetime(2024, 1, 1)
    sec = dtm.timedelta(seconds=1)
    rows = [
        # u1 in order: view, click, purchase
        (1, t0, "view"), (1, t0 + sec, "click"), (1, t0 + 2 * sec, "purchase"),
        # u2: click BEFORE view -> stops at view
        (2, t0 + sec, "view"), (2, t0, "click"),
        # u3: click at the exact view timestamp -> strict > stops it
        (3, t0, "view"), (3, t0, "click"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {r.stage: r.n_users for r in analytics.funnel_counts(
        df, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).collect()}
    assert out == {"view": 3, "click": 1, "purchase": 1}


def test_cohort_retention_triangle(spark):
    """L12: the cohort is the user's FIRST week; later-week activity
    lands at the right offset and week-0 counts the whole cohort."""
    import datetime as dtm

    wk = dtm.timedelta(weeks=1)
    t0 = dtm.datetime(2024, 1, 4)  # mid-week; epoch-week alignment is arbitrary
    rows = [
        (1, t0), (1, t0 + wk), (1, t0 + 2 * wk),
        (2, t0), (2, t0 + 2 * wk),
        (3, t0 + wk),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = analytics.cohort_retention(df, "user_id", "ts").collect()
    cohorts = {(r.cohort_week, r.week_offset): r.n_users for r in out}
    c0 = min(c for c, _ in cohorts)
    assert cohorts[(c0, 0)] == 2          # u1, u2 start week 0
    assert cohorts[(c0, 1)] == 1          # u1 returns in week 1
    assert cohorts[(c0, 2)] == 2          # u1 and u2 in week 2
    assert cohorts[(c0 + 1, 0)] == 1      # u3's own cohort


def test_rolling_active_users_window_membership(spark):
    """L13: a user active on day d counts toward days d..d+6 only up to
    the last observed day; multiple events in one day count once."""
    import datetime as dtm

    day = dtm.timedelta(days=1)
    t0 = dtm.datetime(2024, 1, 1)
    rows = [
        (1, t0), (1, t0 + dtm.timedelta(hours=3)),   # u1 on day0 (twice)
        (2, t0 + 2 * day),                            # u2 on day2
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {r.day: r.n_active for r in analytics.rolling_active_users(
        df, "user_id", "ts"
    ).collect()}
    d0 = min(out)
    # last observed day is day2 -> windows beyond it are absent
    assert out == {d0: 1, d0 + 1: 1, d0 + 2: 2}


def test_zscore_zero_variance_group_is_null(spark):
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("a", 1, t, 5.0), ("a", 2, t, 5.0), ("b", 3, t, 1.0), ("b", 4, t, 3.0)],
        "key string, event_id int, ts timestamp, value double",
    )
    out = {r.event_id: r.zscore for r in analytics.zscore_normalize(
        df, "key", "value", "event_id"
    ).collect()}
    assert out[1] is None and out[2] is None  # constant group
    assert out[3] == -1.0 and out[4] == 1.0   # mean 2, population std 1


def test_symspell_recall_on_all_edit_types(spark):
    """J45 full-recall-at-distance-1 property: substitution, deletion,
    and insertion neighbors all pair; a distance-2 neighbor does not;
    only max_edits=1 is supported."""
    rows = [
        (1, "spark"),
        (2, "spork"),   # substitution -> distance 1
        (3, "spar"),    # deletion -> distance 1
        (4, "sparkk"),  # insertion -> distance 1
        (5, "spoon"),   # distance > 1 -> absent
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    pairs = {(r.id_a, r.id_b): r.distance for r in dedup.symspell_pairs(
        df, "id", "name"
    ).collect()}
    assert pairs[(1, 2)] == 1 and pairs[(1, 3)] == 1 and pairs[(1, 4)] == 1
    assert all(5 not in k for k in pairs)
    with pytest.raises(ValueError):
        dedup.symspell_pairs(df, "id", "name", max_edits=2)

def test_seasonal_baseline_scores_against_own_hour(spark):
    """L31: a reading is scored against ITS hour-of-day stratum mean —
    the 03:00 spike deviates while the identical 15:00 reading doesn't;
    NaN/NULL measurements drop."""
    import datetime as dt

    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        seasonal_baseline,
    )

    rows = []
    # hour 15 on three days: 28.0 each -> baseline 28, deviation 0
    for d in range(3):
        rows.append((d * 10 + 1, 1, dt.datetime(2024, 1, 1 + d, 15, 0), 28.0))
    # hour 3 on three days: 10, 10, 28 -> the 28 deviates by +12
    for i, v in enumerate([10.0, 10.0, 28.0]):
        rows.append((i * 10 + 2, 1, dt.datetime(2024, 1, 1 + i, 3, 0), v))
    rows.append((99, 1, dt.datetime(2024, 1, 1, 3, 30), None))
    rows.append((98, 1, dt.datetime(2024, 1, 1, 3, 40), float("nan")))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    out = {
        r["event_id"]: r
    for r in seasonal_baseline(df, "user_id", "ts", "value", "event_id").collect()
    }
    assert len(out) == 6  # NULL + NaN rows dropped
    assert out[1]["baseline"] == 28.0 and out[1]["deviation"] == 0.0
    assert out[22]["hr"] == 3
    assert out[22]["baseline"] == 16.0 and out[22]["deviation"] == 12.0
    assert out[2]["deviation"] == -6.0

def test_referential_orphans_counts_and_null_fks(spark):
    """L32: non-NULL FKs without a parent count as orphans; NULL FKs do
    not; all checks on one child share one scan and one aggregate."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        referential_orphans,
    )

    child = spark.createDataFrame(
        [(1, 10, 100), (2, 11, None), (3, 99, 101), (4, None, 999)],
        "id long, fk_a long, fk_b long",
    )
    pa = spark.createDataFrame([(10,), (11,)], "pk long")
    pb = spark.createDataFrame([(100,), (101,)], "pk long")
    out = {
        r["relationship"]: r
        for r in referential_orphans(
            child,
            [("c.fk_a->a", "fk_a", pa, "pk", True), ("c.fk_b->b", "fk_b", pb, "pk", True)],
        ).collect()
    }
    assert out["c.fk_a->a"]["n_child"] == 4
    assert out["c.fk_a->a"]["n_orphans"] == 1   # fk_a=99; NULL fk_a not counted
    assert out["c.fk_b->b"]["n_orphans"] == 1   # fk_b=999; NULL fk_b not counted

def test_attribution_lookback_tiebreak_and_none(spark):
    """L24: credit goes to the LAST non-conversion touch inside the
    lookback; outside-lookback or absent antecedents credit '(none)';
    coincident timestamps resolve by the tiebreak column."""
    import datetime as dt

    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        last_touch_attribution,
    )

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    rows = [
        # u1: click 1h before purchase -> click credited
        (1, 1, t0 - dt.timedelta(hours=1), "click"),
        (2, 1, t0, "purchase"),
        # u2: view 3 days before purchase (outside 24h) -> (none)
        (3, 2, t0 - dt.timedelta(days=3), "view"),
        (4, 2, t0, "purchase"),
        # u3: purchase with no antecedent -> (none)
        (5, 3, t0, "purchase"),
        # u4: two touches at the SAME ts as each other -> higher
        # event_id (later in tiebreak order) wins
        (6, 4, t0 - dt.timedelta(minutes=5), "view"),
        (7, 4, t0 - dt.timedelta(minutes=5), "click"),
        (8, 4, t0, "purchase"),
        # prior purchases never take credit
        (9, 5, t0 - dt.timedelta(minutes=10), "purchase"),
        (10, 5, t0, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = {
        r["attributed_type"]: r["n_conversions"]
        for r in last_touch_attribution(
            df, "user_id", "ts", "event_type", "event_id",
            conversion_type="purchase", lookback_seconds=86400,
        ).collect()
    }
    assert out == {"click": 2, "(none)": 4}


def test_chi_square_cells_match_textbook_2x2(spark):
    """L23: a hand-checkable 2x2 table — expected counts are
    row*col/grand and contributions sum to the textbook X^2."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        chi_square_cells,
    )

    rows = (
        [("s1", "en")] * 30 + [("s1", "de")] * 10
        + [("s2", "en")] * 20 + [("s2", "de")] * 40
    )
    df = spark.createDataFrame(rows, "source string, lang string")
    out = {(r["source"], r["lang"]): r for r in chi_square_cells(df, "source", "lang").collect()}
    assert out[("s1", "en")]["observed"] == 30
    assert out[("s1", "en")]["expected"] == 20.0  # 40*50/100
    # X^2 = sum (o-e)^2/e = 100/20+100/20+100/50+100/50 = 14 ... per-cell:
    assert out[("s1", "en")]["contribution"] == 5.0
    assert out[("s1", "de")]["contribution"] == 5.0
    assert out[("s2", "en")]["expected"] == 30.0  # 60*50/100
    assert out[("s2", "en")]["contribution"] == 3.3333  # 100/30 half-up 4dp
    total = sum(r["contribution"] for r in out.values())
    assert abs(total - (5.0 + 5.0 + 10.0 / 3 + 10.0 / 3)) < 1e-3

def test_impute_median_fills_and_flags(spark):
    """L28: NULL and NaN fill with the group's exact lower median;
    present values pass through; all-missing groups stay NULL but
    flagged."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        impute_median,
    )

    rows = [
        (1, "a", 10.0), (2, "a", 30.0), (3, "a", 20.0),
        (4, "a", None), (5, "a", float("nan")),
        (6, "b", None),
    ]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    out = {r["event_id"]: r for r in impute_median(df, "event_type", "value", "event_id").collect()}
    assert out[4]["imputed_value"] == 20.0 and out[4]["was_imputed"]
    assert out[5]["imputed_value"] == 20.0 and out[5]["was_imputed"]
    assert out[1]["imputed_value"] == 10.0 and not out[1]["was_imputed"]
    assert out[6]["imputed_value"] is None and out[6]["was_imputed"]

def test_survival_curve_textbook_km(spark):
    """L33: hand-checkable Kaplan-Meier — lifespans {0,0,1,2} give
    S = 0.5, 0.25, 0.0 at t = 0, 1, 2 with the right at-risk counts."""
    import datetime as dt

    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        survival_curve,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0),
        (2, t0), (2, t0),
        (3, t0), (3, t0 + dt.timedelta(days=1)),
        (4, t0), (4, t0 + dt.timedelta(days=2, hours=3)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = [
        (r["t_days"], r["deaths"], r["at_risk"], r["survival"])
        for r in survival_curve(df, "user_id", "ts").orderBy("t_days").collect()
    ]
    assert out == [(0, 2, 4, 0.5), (1, 1, 2, 0.25), (2, 1, 1, 0.0)]

def test_schema_drift_statuses(spark):
    """L35: added / removed / type_changed / ok classification, a's
    column order first; no Spark job runs (pure metadata)."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        schema_drift,
    )

    a = spark.createDataFrame([], "id long, v double, gone string")
    b = spark.createDataFrame([], "id long, v string, fresh int")
    out = [(r["column"], r["status"]) for r in schema_drift(a, b).collect()]
    assert out == [
        ("id", "ok"),
        ("v", "type_changed"),
        ("gone", "removed"),
        ("fresh", "added"),
    ]

def test_ab_test_degenerate_inputs_stay_visible(spark):
    """Review regression (L34): constant arms clamp the FP-cancelled
    variance and yield NULL z (not NaN-masked 0.0); an empty arm still
    returns exactly ONE row with NULL mean/z and n=0."""
    from pyspark.sql import functions as SF

    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        ab_mean_test,
    )

    const = spark.createDataFrame(
        [(i, 0.1) for i in range(100)], "user_id long, value double"
    )
    r = ab_mean_test(const, SF.col("user_id") % 2 == 1, "value").collect()
    assert len(r) == 1
    assert r[0]["z"] is None and r[0]["diff"] == 0.0

    one_arm = spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "user_id long, value double"
    )
    r2 = ab_mean_test(one_arm, SF.lit(False), "value").collect()
    assert len(r2) == 1
    assert r2[0]["n_b"] == 0 and r2[0]["mean_b"] is None and r2[0]["z"] is None
    assert r2[0]["n_a"] == 2 and r2[0]["mean_a"] == 1.5


def test_survival_curve_empty_input_yields_zero_rows(spark):
    """Review regression (L33): empty / all-NULL-ts input returns ZERO
    rows (descending sequence(1,0) must not fabricate phantom points)."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        survival_curve,
    )

    empty = spark.createDataFrame([], "user_id long, ts timestamp")
    assert survival_curve(empty, "user_id", "ts").collect() == []
    nulls = spark.createDataFrame([(1, None)], "user_id long, ts timestamp")
    assert survival_curve(nulls, "user_id", "ts").collect() == []


def test_schema_drift_rejects_duplicate_columns(spark):
    """Review regression (L35): duplicate column names raise instead of
    silently comparing the last duplicate's type."""
    import pytest as _pytest

    from pyspark.sql import functions as SF

    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        schema_drift,
    )

    a = spark.createDataFrame([(1.0, "x")], "v double, w string").select(
        "v", SF.col("w").alias("v")
    )
    b = spark.createDataFrame([], "v string")
    with _pytest.raises(ValueError, match="duplicate column"):
        schema_drift(a, b)


def test_trending_counts_floor_buckets_pre_epoch(spark):
    """Review regression (L30): pre-epoch timestamps bucket by FLOOR
    division (matching oracle // and the streaming twin), not
    truncation toward zero."""
    import datetime as dt

    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        trending_counts,
    )

    rows = [(1, "x", dt.datetime(1969, 12, 31, 23, 30))]
    df = spark.createDataFrame(rows, "event_id long, event_type string, ts timestamp")
    out = trending_counts(df, "event_type", "ts", 3600).collect()
    assert out[0]["bucket_start"] == dt.datetime(1969, 12, 31, 23, 0)

@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200_000),  # offset seconds
            st.sampled_from(["view", "click", "purchase"]),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_attribution_matches_naive_reference(spark, events):
    """L24 property test: arbitrary single-user event sequences
    (duplicate timestamps included) — credits equal a naive Python
    last-touch walk with the identical (ts, event_id) order and
    lookback rule."""
    from datetime import datetime, timedelta

    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        last_touch_attribution,
    )

    t0 = datetime(2024, 1, 1)
    rows = [
        (i + 1, 1, t0 + timedelta(seconds=off), ty)
        for i, (off, ty) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    got = {
        r["attributed_type"]: r["n_conversions"]
        for r in last_touch_attribution(
            df, "user_id", "ts", "event_type", "event_id",
            conversion_type="purchase", lookback_seconds=3600,
        ).collect()
    }
    ordered = sorted(
        ((off, i + 1, ty) for i, (off, ty) in enumerate(events))
    )
    want: dict[str, int] = {}
    last = None  # (off, type) of last non-purchase
    for off, _, ty in ordered:
        if ty == "purchase":
            if last is not None and last[0] >= off - 3600:
                credit = last[1]
            else:
                credit = "(none)"
            want[credit] = want.get(credit, 0) + 1
        else:
            last = (off, ty)
    if not want:
        assert got == {}
    else:
        assert got == want

def _assert_cumsum_matches_naive(spark, rows, schema, order_cols, vcol):
    from pyspark.sql import Window as W

    from azure_iot_realtime_data_pipeline_spark.operators.ordering import (
        global_cumsum,
    )

    df = spark.createDataFrame(rows, schema)
    got = {
        tuple(r)
        for r in global_cumsum(df, order_cols, vcol, out_col="cs").collect()
    }
    w = (
        W.orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    want = {
        tuple(r)
        for r in df.withColumn(
            "cs", F.sum(F.col(vcol)).over(w).cast("long")
        ).collect()
    }
    assert got == want


def test_global_cumsum_matches_naive_on_edges(spark):
    """global_cumsum must be bit-identical to the naive single-window
    running sum on every edge the bucketing could get wrong: NULL
    leading keys (bucket 0), heavy ties (tiebreaker order), NULL
    values (sum skips, running total carries), tiny inputs."""
    rows = [
        (None, 3, 10),
        (5.0, 1, 1),
        (5.0, 2, 2),
        (None, 1, 5),
        (1.0, 4, None),   # NULL value: no contribution, total carries
        (9.0, 5, 100),
    ]
    _assert_cumsum_matches_naive(
        spark, rows, "k double, id long, v long", ["k", "id"], "v"
    )
    _assert_cumsum_matches_naive(
        spark, [(2.0, 1, 7)], "k double, id long, v long", ["k", "id"], "v"
    )


def test_global_cumsum_null_value_leading_its_bucket(spark):
    """Review regression: a NULL value that is the FIRST row of its
    bucket must inherit the carried running total (coalesce + offset),
    not go NULL — and an all-NULL global prefix must stay NULL."""
    from pyspark.sql import Window as W

    from azure_iot_realtime_data_pipeline_spark.operators.ordering import (
        global_cumsum,
    )

    rows = [(1.0, 1, 10), (2.0, 2, 20), (3.0, 3, None), (4.0, 4, 40)]
    df = spark.createDataFrame(rows, "k double, id long, v long")
    got = {
        (r["k"], r["cs"])
        for r in global_cumsum(
            df, ["k", "id"], "v", out_col="cs", num_buckets=2
        ).collect()
    }
    assert got == {(1.0, 10), (2.0, 30), (3.0, 30), (4.0, 70)}
    # all-NULL prefix: first rows stay NULL exactly like the naive window
    rows2 = [(1.0, 1, None), (2.0, 2, None), (3.0, 3, 5), (4.0, 4, None)]
    df2 = spark.createDataFrame(rows2, "k double, id long, v long")
    got2 = {
        (r["k"], r["cs"])
        for r in global_cumsum(
            df2, ["k", "id"], "v", out_col="cs", num_buckets=2
        ).collect()
    }
    assert got2 == {(1.0, None), (2.0, None), (3.0, 5), (4.0, 5)}


def test_global_rank_and_cumsum_equals_composed_primitives(spark):
    """ADVICE r13: the fused scaffold must equal global_row_number +
    global_cumsum composed over the SAME ordering — including the edge
    cases each primitive pins separately (NULL leading keys, heavy ties
    on the leading key, NULL values leading a bucket, all-NULL prefix,
    single row). A drift in either copy of the offset/window logic
    fails here at the operator level, not only through q_lorenz's
    end-to-end oracle."""
    from azure_iot_realtime_data_pipeline_spark.operators.ordering import (
        global_cumsum,
        global_rank_and_cumsum,
        global_row_number,
    )

    cases = [
        # NULL keys, ties, NULL value mid-stream
        [
            (None, 3, 10),
            (5.0, 1, 1),
            (5.0, 2, 2),
            (None, 1, 5),
            (1.0, 4, None),
            (9.0, 5, 100),
        ],
        # all-NULL prefix + NULL leading its bucket
        [(1.0, 1, None), (2.0, 2, None), (3.0, 3, 5), (4.0, 4, None)],
        # heavy ties: one leading-key value owns most rows
        [(7.0, i, i % 3) for i in range(1, 13)] + [(8.0, 99, 1)],
        # single row
        [(2.0, 1, 7)],
    ]
    for rows in cases:
        df = spark.createDataFrame(rows, "k double, id long, v long")
        for nb in (None, 2):
            fused = {
                tuple(r)
                for r in global_rank_and_cumsum(
                    df, ["k", "id"], "v", rank_col="rn", sum_col="cs",
                    num_buckets=nb,
                ).collect()
            }
            composed_df = global_cumsum(
                global_row_number(df, ["k", "id"], "rn", num_buckets=nb),
                ["k", "id"],
                "v",
                out_col="cs",
                num_buckets=nb,
            ).select(*df.columns, "rn", "cs")
            composed = {tuple(r) for r in composed_df.collect()}
            assert fused == composed, (rows, nb)


def test_global_cumsum_matches_naive_at_smoke_scale(spark, sf_smoke):
    from pyspark.sql import Window as W

    from azure_iot_realtime_data_pipeline_spark.operators.ordering import (
        global_cumsum,
    )

    ev = load_table(spark, sf_smoke, "events").select(
        "event_id", "user_id"
    )
    got = {
        (r["event_id"], r["cs"])
        for r in global_cumsum(
            ev, ["event_id"], "user_id", out_col="cs"
        ).collect()
    }
    w = W.orderBy("event_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = {
        (r["event_id"], r["cs"])
        for r in ev.withColumn(
            "cs", F.sum("user_id").over(w).cast("long")
        ).collect()
    }
    assert got == want

def test_basket_lift_independence_and_association(spark):
    """L37: a pair occurring exactly as independence predicts has
    lift 1; a pair that always co-occurs beats it; items never sharing
    a basket produce no row."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        basket_lift,
    )

    rows = []
    # 4 baskets; x and y co-occur in all 4 -> lift = 4*4/(4*4) = 1? no:
    # both in every basket: n_both=4, n_x=4, n_y=4, N=4 -> lift 1.0
    # (deterministic saturation). z occurs in 2 baskets, always with x:
    # n_xz=2, n_x=4, n_z=2, N=4 -> lift = 2*4/(4*2) = 1.0; w occurs in
    # 1 basket without z -> no (w,z) row.
    for b in range(4):
        rows.append((b, "x"))
        rows.append((b, "y"))
    rows += [(0, "z"), (1, "z"), (2, "w")]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = {
        (r["item_a"], r["item_b"]): r
        for r in basket_lift(df, ["basket"], "item").collect()
    }
    assert out[("x", "y")]["n_both"] == 4 and out[("x", "y")]["lift"] == 1.0
    assert out[("x", "z")]["lift"] == 1.0
    assert ("w", "z") not in out
    # non-unit lifts (review regression: every earlier assertion was
    # 1.0, which a constant-lift bug would satisfy): 4 baskets, p only
    # ever with q -> positive association; p never with r -> the (p,r)
    # pair that DOES occur once is anti-associated
    rows3 = [
        (0, "p"), (0, "q"),
        (1, "p"), (1, "q"),
        (2, "r"), (2, "q"),
        (3, "r"), (3, "p"),
    ]
    out3 = {
        (r["item_a"], r["item_b"]): r["lift"]
        for r in basket_lift(
            spark.createDataFrame(rows3, "basket long, item string"),
            ["basket"], "item",
        ).collect()
    }
    # p:3 baskets, q:3, r:2, N=4. (p,q)=2 -> 2*4/(3*3)=0.8889;
    # (q,r)=1 -> 1*4/(3*2)=0.6667; (p,r)=1 -> 1*4/(3*2)=0.6667
    assert out3[("p", "q")] == 0.8889
    assert out3[("p", "r")] == 0.6667
    assert out3[("q", "r")] == 0.6667

def test_snapshot_diff_classifies_all_ops(spark):
    """L38: insert/delete/update classification with null-safe value
    comparison — NULL->value and value->NULL are real updates,
    NULL->NULL is no change, unchanged keys drop."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, "d", None)],
        "id long, ty string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (4, "d", None), (5, "e", 5.0)],
        "id long, ty string, v double",
    )
    out = {r["id"]: r["op"] for r in snapshot_diff(old, new, ["id"], ["ty", "v"]).collect()}
    assert out == {2: "update", 3: "delete", 5: "insert"}  # 1, 4 unchanged

def test_reconcile_feeds_tolerance_and_one_sided_groups(spark):
    """L39: matches require same keys AND |ts diff| <= tolerance; a
    group present in only one feed still reports with zero matches."""
    import datetime as dt

    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        reconcile_feeds,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    a = spark.createDataFrame(
        [
            (1, 1, "x", t0),                                  # matched
            (2, 1, "x", t0 + dt.timedelta(seconds=400)),      # outside tol
            (3, 2, "only_a", t0),                             # one-sided group
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    b = spark.createDataFrame(
        [
            (11, 1, "x", t0 + dt.timedelta(seconds=30)),      # matches a#1
            (12, 3, "x", t0),                                  # wrong user
        ],
        "event_id long, user_id long, event_type string, ts timestamp",
    )
    out = {
        r["group"]: r
        for r in reconcile_feeds(
            a, b, ["user_id", "event_type"], "ts", 300, "event_type"
        ).collect()
    }
    x = out["x"]
    assert (x["n_a"], x["matched_a"], x["unmatched_a"]) == (2, 1, 1)
    assert (x["n_b"], x["matched_b"], x["unmatched_b"]) == (2, 1, 1)
    oa = out["only_a"]
    assert (oa["n_a"], oa["matched_a"], oa["n_b"]) == (1, 0, 0)



def test_micro_units_nonfinite_maps_to_null(spark):
    """micro_units: NaN AND +/-Inf -> NULL (ADVICE r5/r6). Spark would
    otherwise floor NaN to 0 and saturate Inf on the long cast (or throw
    under ANSI) while DuckDB raises on both — NULL makes both engines
    drop the row identically. Finite values half-up round."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        micro_units,
    )

    df = spark.createDataFrame(
        [
            (1, 1.2345675),
            (2, float("nan")),
            (3, float("inf")),
            (4, float("-inf")),
            (5, None),
            (6, -2.5e-7),
            (7, 2.365e305),   # the reference's own FLOAT extreme (SURVEY §1.2)
            (8, -1.0e13),     # finite but past the int64 micro-unit range
            (9, 9.0e12),      # finite and inside the range
        ],
        "id long, v double",
    )
    out = {r.id: r.m for r in df.select("id", micro_units(F.col("v")).alias("m")).collect()}
    assert out[1] == 1234568  # half-up at the micro digit
    assert out[2] is None and out[3] is None and out[4] is None
    assert out[5] is None
    assert out[6] == 0  # floor(-0.25 + 0.5) = 0
    assert out[7] is None and out[8] is None  # overflow -> NULL, not saturation
    assert out[9] == 9_000_000_000_000_000_000


def test_ivf_kmeans_dial_response_at_sf01(spark, sf_bench):
    """IVF n_probe dial-response on HELD-OUT queries at sf0.1 (r6
    verdict item 4): recall@10 must respond monotonically to n_probe
    (2 <= 4 <= 8) and the production k-means centroids must beat the
    deterministic parity centroids at every dial setting. Measured r7
    (fixed data, seeded k-means -> stable): kmeans 0.28/0.60/0.82 vs
    deterministic 0.20/0.40/0.74 at n_probe 2/4/8 — the recall you buy
    per extra probed cell is the scale dial a 100 TB deployment tunes,
    so the curve itself is the gated artifact, not one point."""
    from azure_iot_realtime_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    emb = load_table(spark, sf_bench, "embeddings")
    q = emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 105)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"))
    exact = {(r.query_id, r.cand_id) for r in cosine_topk(q, c, k=10).collect()}

    def recall(mode, n_probe):
        got = {
            (r.query_id, r.cand_id)
            for r in ivf_topk(q, c, k=10, n_probe=n_probe, centroids=mode).collect()
        }
        return len(got & exact) / len(exact)

    km = [recall("kmeans", p) for p in (2, 4, 8)]
    det = [recall("deterministic", p) for p in (2, 4, 8)]
    assert km[0] <= km[1] <= km[2], km
    assert det[0] <= det[1] <= det[2], det
    assert all(k >= d for k, d in zip(km, det)), (km, det)
    assert km[2] >= 0.7, km


def _ref_pagerank(edge_list, d=0.85, iters=10):
    """Plain-python reference with the operator's exact semantics:
    dedup'd edges, dangling mass redistributed uniformly."""
    edges = sorted(set(edge_list))
    nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
    n = len(nodes)
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        recv = {v: 0.0 for v in nodes}
        for s, t in edges:
            recv[t] += r[s] / out[s]
        dangling = sum(r[v] for v in nodes if v not in out)
        base = (1.0 - d) / n + d * dangling / n
        r = {v: base + d * recv[v] for v in nodes}
    return r


def test_pagerank_matches_reference_with_dangling_node(spark):
    """J58: the DataFrame power iteration equals the reference formula
    on a graph with a dangling sink (node 5 has no out-edges) and a
    duplicate edge row (must collapse)."""
    from azure_iot_realtime_data_pipeline_spark.operators.graph import pagerank

    edge_list = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (3, 5), (1, 2)]
    e = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(e, iterations=10).collect()}
    want = _ref_pagerank(edge_list, iters=10)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conservation
    # the hub (3) outranks the periphery
    assert got[3] == max(got.values())


def test_pagerank_step_pinned_matches_integer_reference(spark):
    """J58b: the one-step lattice operator equals a plain-python
    integer evaluation of its documented semantics on a graph with a
    dangling sink and a duplicate edge — and uses the same graph
    normalization (edge collapse, endpoint node set) as pagerank."""
    from azure_iot_realtime_data_pipeline_spark.operators.graph import (
        pagerank_step_pinned,
    )

    edge_list = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (3, 5), (1, 2)]
    e = spark.createDataFrame(edge_list, "src long, dst long")
    got = {
        r.node: r.rank_pinned for r in pagerank_step_pinned(e).collect()
    }
    edges = sorted(set(edge_list))
    nodes = sorted({u for p in edges for u in p})
    n = len(nodes)
    scale = 10**12
    r0 = scale // n
    deg = {u: sum(1 for s, _ in edges if s == u) for u in nodes}
    recv = {u: 0 for u in nodes}
    for s, d in edges:
        recv[d] += r0 // deg[s]
    share = (r0 * sum(1 for u in nodes if deg[u] == 0)) // n
    want = {
        u: (15 * scale) // (100 * n) + (85 * (recv[u] + share)) // 100
        for u in nodes
    }
    assert got == want
    # one step from uniform already ranks the hub (3) on top
    assert max(got, key=got.get) == 3


def test_pagerank_uniform_on_cycle(spark):
    """A directed cycle is vertex-transitive: every node must hold
    exactly 1/N at every iteration."""
    from azure_iot_realtime_data_pipeline_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long"
    )
    got = {r.node: r.rank for r in pagerank(e, iterations=7).collect()}
    for v, rank in got.items():
        assert abs(rank - 0.25) < 1e-12, (v, rank)


def test_pagerank_dup_graph_query_runs(spark, sf_smoke):
    """q_pagerank (rows-only surface): runs on the near-dup graph,
    conserves mass, and symmetrized pairs mean no dangling nodes."""
    from azure_iot_realtime_data_pipeline_spark.plans.queries import q_pagerank

    out = q_pagerank(spark, sf_smoke).collect()
    assert len(out) > 0
    assert abs(sum(r.rank for r in out) - 1.0) < 1e-6


def test_triangle_stats_on_fixture_graph(spark):
    """J60: K4 on {1,2,3,4} plus pendant 5: every K4 node sits in 3 of
    the 4 triangles; node 1 (degree 4) has clustering 2*3/(4*3) = 0.5,
    nodes 2-4 (degree 3) have 1.0, the pendant (degree 1) has NULL.
    Input includes a reversed pair, a duplicate, and a self-loop — all
    must canonicalize away."""
    from azure_iot_realtime_data_pipeline_spark.operators.graph import triangle_stats

    pairs = spark.createDataFrame(
        [
            (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
            (5, 1),  # pendant, reversed order
            (2, 1),  # duplicate of (1,2), reversed
            (3, 3),  # self-loop: dropped
        ],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r for r in triangle_stats(pairs).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    assert (got[1].degree, got[1].triangles, got[1].clustering) == (4, 3, 0.5)
    for n in (2, 3, 4):
        assert (got[n].degree, got[n].triangles, got[n].clustering) == (3, 3, 1.0)
    assert (got[5].degree, got[5].triangles, got[5].clustering) == (1, 0, None)


def test_cms_estimate_never_underestimates(spark, sf_smoke):
    """J61: CMS point estimates are one-sided — est >= true count for
    EVERY token at a collision-forcing width (16 < the 31-token vocab),
    so thresholded heavy hitters have no false negatives."""
    from azure_iot_realtime_data_pipeline_spark.operators.sketches import (
        cms_heavy_hitters,
    )

    docs = load_table(spark, sf_smoke, "documents")
    toks = docs.select(F.explode(text.tokens(F.col("text"))).alias("item"))
    exact = {
        r.item: r.n
        for r in toks.groupBy("item").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    est = {
        r.item: r.est
        for r in cms_heavy_hitters(toks, depth=4, width=16, threshold=1).collect()
    }
    assert set(est) == set(exact)
    assert all(est[t] >= exact[t] for t in exact)
    # thresholded output: supersets the true heavy set, never misses one
    hh = {
        r.item
        for r in cms_heavy_hitters(toks, depth=4, width=16, threshold=900).collect()
    }
    assert {t for t, n in exact.items() if n >= 900} <= hh
    assert all(est[t] >= 900 for t in hh)


def test_cms_exact_when_width_exceeds_vocab(spark, sf_smoke):
    """J61: with width far above the vocabulary (4096 buckets, 31
    tokens) the deterministic hash rows are collision-free in at least
    one row per token and the estimate equals the exact count."""
    from azure_iot_realtime_data_pipeline_spark.operators.sketches import (
        cms_heavy_hitters,
    )

    docs = load_table(spark, sf_smoke, "documents")
    toks = docs.select(F.explode(text.tokens(F.col("text"))).alias("item"))
    exact = {
        r.item: r.n
        for r in toks.groupBy("item").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    est = {
        r.item: r.est
        for r in cms_heavy_hitters(toks, depth=4, width=4096, threshold=1).collect()
    }
    assert est == exact


def test_dsir_weights_separate_target_domain(spark):
    """J59: with a target domain lexically disjoint from the rest of
    the corpus, every in-domain raw doc outweighs every out-of-domain
    one; n_feats counts unigram+bigram occurrences (2n-1 for an n-token
    doc); a zero-token doc scores (0, 0.0)."""
    from azure_iot_realtime_data_pipeline_spark.operators.corpus import dsir_weights

    cat = "cat purrs softly on the warm windowsill every afternoon"
    dog = "stock market rates fell sharply after the quarterly report"
    raw = spark.createDataFrame(
        [(i, cat if i < 5 else dog) for i in range(10)] + [(10, "")],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(100, "cat purrs on the windowsill"), (101, "warm cat afternoon")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dsir_weights(raw, target, n_buckets=256).collect()}
    assert set(got) == set(range(11))
    n = len(cat.split())
    assert got[0].n_feats == 2 * n - 1
    assert (got[10].n_feats, got[10].dsir_weight) == (0, 0.0)
    cat_w = [got[i].dsir_weight for i in range(5)]
    dog_w = [got[i].dsir_weight for i in range(5, 10)]
    assert min(cat_w) > max(dog_w)


def test_gopher_rules_boundaries(spark):
    """J62: each rule flips on its own handcrafted doc; boundaries
    (exactly 50 words, mean word length exactly 3.0) sit on the PASS
    side — the integer-lattice compare makes them exact, not
    float-rounded."""
    from azure_iot_realtime_data_pipeline_spark.operators.corpus import gopher_rules

    # base: 50 words, all length 3, two stopwords present -> passes
    base = " ".join(["the", "and"] + ["cat"] * 48)
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, " ".join(["the", "and"] + ["cat"] * 47)),      # 49 words
            (2, " ".join(["the", "and"] + ["ab"] * 48)),       # mean < 3
            (3, base.replace("cat", "#", 6)),                  # 6/50 symbols
            (4, " ".join(["the", "and"] + ["999"] * 48)),      # alpha 2/50
            (5, " ".join(["cat"] * 50)),                       # 0 stopwords
            (6, ""),                                           # empty
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in gopher_rules(docs).collect()}
    assert got[0].passes and got[0].n_words == 50
    assert got[0].mean_word_len == 3.0  # exactly on the lattice boundary
    assert not got[1].ok_word_count and not got[1].passes
    assert not got[2].ok_mean_word_len and not got[2].passes
    assert not got[3].ok_symbol_ratio and not got[3].passes
    assert not got[4].ok_alpha_words and not got[4].passes
    assert got[5].stop_hits == 0 and not got[5].passes
    assert got[6].n_words == 0 and got[6].mean_word_len is None
    assert not got[6].passes


def test_quantized_topk_recall_and_roundtrip(spark, sf_smoke):
    """J64: SQ8 quantization must (a) reconstruct within the per-vector
    quantization step (|x' - x| <= span/255/2 per element), and (b)
    keep recall@10 vs the full-precision top-k >= 0.9 on this corpus —
    the error budget measured, not assumed."""
    from azure_iot_realtime_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        dequantize_vec,
        quantize_embeddings,
        quantized_topk,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    q8 = quantize_embeddings(emb)
    rec = q8.select(
        "vec_id",
        dequantize_vec(F.col("codes"), F.col("lo"), F.col("hi")).alias("r"),
        "lo",
        "hi",
    ).join(emb.select("vec_id", "embedding"), "vec_id")
    bad = rec.filter(
        F.exists(
            F.zip_with(
                F.col("r"),
                F.col("embedding"),
                lambda a, b: F.abs(a - b.cast("double"))
                > (F.col("hi") - F.col("lo")) / 255.0 / 2.0 + 1e-12,
            ),
            lambda x: x,
        )
    ).count()
    assert bad == 0
    exact = cosine_topk(
        emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        ),
        emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")),
        k=10,
    ).collect()
    quant = quantized_topk(emb, k=10, n_queries=5).collect()
    truth: dict = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.cand_id)
    got: dict = {}
    for r in quant:
        got.setdefault(r.query_id, set()).add(r.cand_id)
    hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
    total = sum(len(truth[q]) for q in truth)
    assert hits / total >= 0.9, (hits, total)


def test_bloom_semi_join_identical_to_plain_semi(spark):
    """J65: no false negatives + exact verify => the Bloom-prefiltered
    semi join returns EXACTLY the plain semi join's rows, including
    NULL fact keys (dropped — semi-join semantics) and at tiny m where
    false positives are common (the verify must kill them all)."""
    from azure_iot_realtime_data_pipeline_spark.operators.skew import (
        bloom_semi_join,
    )

    fact = spark.createDataFrame(
        [(i, f"r{i}") for i in range(500)] + [(None, "rnull")],
        "k long, payload string",
    )
    dim = spark.createDataFrame(
        [(i * 3,) for i in range(100)], "d long"
    )  # keys 0,3,...,297: 100 hit, rest miss
    got = sorted(
        r.payload
        for r in bloom_semi_join(fact, dim, "k", "d", m_bits=256, k_hashes=3)
        .select("payload")
        .collect()
    )
    want = sorted(
        r.payload
        for r in fact.join(dim, fact["k"] == dim["d"], "left_semi")
        .select("payload")
        .collect()
    )
    assert got == want and len(got) == 100


def test_bloom_prefilter_false_positive_rate_within_bound(spark):
    """J65: the prefilter's measured fpp on DISJOINT probe keys stays
    within 2x the analytic (1-e^{-kn/m})^k bound — the property that
    makes the map-side drop worth its bits at 100 TB. Deterministic
    (xxhash64, fixed seeds/data)."""
    import math

    from azure_iot_realtime_data_pipeline_spark.operators.skew import (
        bloom_might_contain,
    )
    from pyspark.sql import functions as F

    m_bits, k = 1 << 10, 5
    n = 200
    keys = spark.createDataFrame([(i,) for i in range(n)], "d long")
    probes = spark.createDataFrame(
        [(i,) for i in range(100_000, 102_000)], "k long"
    )
    cond = bloom_might_contain(keys, "d", F.col("k"), m_bits, k)
    fp = probes.filter(cond).count()
    analytic = (1.0 - math.exp(-k * n / m_bits)) ** k
    assert fp / 2000 <= 2.0 * analytic, (fp, analytic)
    # and zero false negatives, the load-bearing half:
    assert (
        keys.select(F.col("d").alias("k"))
        .filter(bloom_might_contain(keys, "d", F.col("k"), m_bits, k))
        .count()
        == n
    )


def test_jl_signs_rows_are_distinct_and_balanced():
    """J66 regression: the first-cut linear-congruential sign formula
    produced DUPLICATE rows (pairwise correlation 1.0), silently
    halving the effective out_dim. md5 bits must keep every pair of
    rows well below perfect correlation and each row near sign-balanced."""
    from azure_iot_realtime_data_pipeline_spark.operators.similarity import (
        jl_signs,
    )

    rows = jl_signs(64, 32)
    for j1 in range(32):
        assert abs(sum(rows[j1])) <= 26, f"row {j1} unbalanced"  # ~3.25 sigma of 64 fair flips
        for j2 in range(j1 + 1, 32):
            corr = sum(a * b for a, b in zip(rows[j1], rows[j2])) / 64.0
            assert abs(corr) < 0.8, (j1, j2, corr)


def test_jl_topk_recall_on_clustered_data_and_corpus_floor(spark, sf_smoke):
    """J66: on data WITH cluster structure (planted well-separated
    clusters) JL-projected top-k must recover nearly all true
    neighbors — the operator's guarantee. On the synthetic corpus the
    honest number is low (~0.2 at 2x compression: true neighbors sit
    at cosine 0.37 vs a 0.27 crowd, within JL distortion — the same
    weak-margin ceiling documented for LSH in BASELINE.md), so the
    corpus gate is only a floor."""
    import math

    from azure_iot_realtime_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        jl_topk,
    )
    from pyspark.sql import functions as F

    # planted: 10 clusters of 30 vectors in R^64; within-cluster cosine
    # ~0.9, cross-cluster ~0.0 (deterministic construction, no RNG)
    rows = []
    for cl in range(10):
        base = [1.0 if (d // 6) == cl else 0.0 for d in range(64)]
        for m in range(30):
            v = list(base)
            # deterministic small perturbation, distinct per member
            for d in range(64):
                v[d] += 0.15 * math.sin(1.0 + cl * 7 + m * 13 + d * 31)
            rows.append((cl * 30 + m, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    )
    truth: dict[int, set[int]] = {}
    for r in cosine_topk(q, c, k=10).collect():
        truth.setdefault(r.query_id, set()).add(r.cand_id)
    got: dict[int, set[int]] = {}
    for r in jl_topk(emb, k=10, n_queries=5, out_dim=32).collect():
        got.setdefault(r.query_id, set()).add(r.cand_id)
    hits = sum(len(truth[qid] & got.get(qid, set())) for qid in truth)
    total = sum(len(v) for v in truth.values())
    assert hits / total >= 0.9, (hits, total)

    # corpus floor at sf0.001 (deterministic: fixed signs, fixed data)
    from azure_iot_realtime_data_pipeline_spark.sources.batch import load_table

    emb2 = load_table(spark, sf_smoke, "embeddings")
    q2 = emb2.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c2 = emb2.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    )
    truth2: dict[int, set[int]] = {}
    for r in cosine_topk(q2, c2, k=10).collect():
        truth2.setdefault(r.query_id, set()).add(r.cand_id)
    got2: dict[int, set[int]] = {}
    for r in jl_topk(emb2, k=10, n_queries=5).collect():
        got2.setdefault(r.query_id, set()).add(r.cand_id)
    hits2 = sum(len(truth2[qid] & got2.get(qid, set())) for qid in truth2)
    assert hits2 / sum(len(v) for v in truth2.values()) >= 0.1, hits2


def test_char_entropy_boundaries(spark):
    """J67: H=0 for a single repeated symbol, log2(k) for k equi-
    frequent symbols, NULL for empty/NULL text, case-folded, and
    unknown symbols pool into ONE OTHER bucket (two distinct unknown
    chars at equal counts still give log2(2) only via the known/other
    split, not per-char)."""
    from azure_iot_realtime_data_pipeline_spark.operators.text import (
        char_entropy_bits,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "aaaaaaaa"),          # one symbol -> 0 bits
            (2, "abcdefgh"),          # 8 equi-frequent -> 3 bits
            (3, "AbCdEfGh"),          # case-folded -> same 3 bits
            (4, ""),                  # empty -> NULL
            (5, None),                # NULL -> NULL
            (6, "a#a#"),              # a + OTHER equi-frequent -> 1 bit
            (7, "#$%&"),              # all OTHER (one bucket) -> 0 bits
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.h
        for r in df.select(
            "doc_id", char_entropy_bits(F.col("text")).alias("h")
        ).collect()
    }
    assert abs(got[1]) < 1e-6
    assert abs(got[2] - 3.0) < 1e-4
    assert abs(got[3] - 3.0) < 1e-4
    assert got[4] is None and got[5] is None
    assert abs(got[6] - 1.0) < 1e-4
    assert abs(got[7]) < 1e-6


def test_char_entropy_expr_and_column_paths_agree(spark, sf_smoke):
    """r13 optimization gate: char_entropy_bits' single-F.expr fast path
    (column passed by name) must be value-identical to the Column-DSL
    path on real corpus text plus the edge cases (NULL, empty, mixed
    case, OTHER pooling)."""
    from azure_iot_realtime_data_pipeline_spark.operators.text import (
        char_entropy_bits,
    )
    from azure_iot_realtime_data_pipeline_spark.sources.batch import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_smoke, "documents")
    extra = spark.createDataFrame(
        [(100001, None), (100002, ""), (100003, "aA 1!#")],
        "doc_id long, text string",
    )
    df = docs.select("doc_id", "text").unionByName(extra)
    fast = df.select("doc_id", char_entropy_bits("text").alias("h")).collect()
    slow = df.select(
        "doc_id", char_entropy_bits(F.col("text")).alias("h")
    ).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))


def test_trapezoid_integral_hand_computed(spark):
    """K19: ramp 0->10 over 2 s integrates to 10, a 4 s hold at 10 adds
    40; NULL measurements are excluded and never poison the running
    sum; first observation starts at 0."""
    from datetime import datetime

    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        trapezoid_integral,
    )

    t0 = datetime(2026, 1, 1, 0, 0, 0)

    def ts(sec):
        return datetime(2026, 1, 1, 0, 0, sec)

    rows = [
        ("d1", 1, t0, 0.0),
        ("d1", 2, ts(2), 10.0),        # +(0+10)/2*2 = 10
        ("d1", 3, ts(3), None),        # excluded (NULL)
        ("d1", 4, ts(6), 10.0),        # +(10+10)/2*4 = 40 (dt from t=2)
        ("d1", 6, ts(7), float("nan")),  # excluded (NaN — review r7 s5:
        # kept, it would poison every later cumulative AND diverge from
        # the twin, whose Arrow path cannot tell NaN from NULL)
        ("d2", 5, t0, 7.0),            # lone obs -> 0
    ]
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp, value double"
    )
    got = {
        r.event_id: r.energy
        for r in trapezoid_integral(df, "user_id", "ts", "value", "event_id").collect()
    }
    assert got[1] == 0.0
    assert abs(got[2] - 10.0) < 1e-9
    assert 3 not in got
    assert abs(got[4] - 50.0) < 1e-9
    assert 6 not in got
    assert got[5] == 0.0


def test_containment_catches_subset_jaccard_misses(spark):
    """J68: a short doc fully quoted inside a long one has containment
    1.0 in the contained->container direction while its Jaccard is far
    below any dedup threshold — the case the symmetric passes
    structurally miss. Direction must point FROM the subset."""
    from azure_iot_realtime_data_pipeline_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"w{i}" for i in range(120))
    docs = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler)],
        "doc_id long, text string",
    )
    got = containment_pairs(docs, threshold=0.5).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.contained, r.container) == (1, 2)
    assert r.containment == 1.0
    jac = ngram_jaccard_pairs(docs).collect()[0].jaccard
    assert jac < 0.1  # far below any dedup threshold (typical cut 0.7-0.8)


def test_lttb_keeps_spikes_and_bucket_counts(spark):
    """K23: exactly one point per non-empty bucket, and the spike a
    bucket-mean downsample would flatten MUST survive (the whole point
    of largest-triangle selection); flat buckets fall back to the
    deterministic tie-break (lowest event_id)."""
    from datetime import datetime

    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        downsample_lttb,
    )

    rows = []
    for i in range(40):
        v = 100.0 if i == 17 else 0.0  # lone spike mid-series
        rows.append(
            ("d1", i, datetime(2026, 1, 1, 0, 0, i), v)
        )
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp, value double"
    )
    got = downsample_lttb(df, "user_id", "ts", "value", "event_id", n_out=4).collect()
    assert len(got) == 4  # one per bucket
    assert sorted({r.bucket for r in got}) == [0, 1, 2, 3]
    kept = {r.event_id for r in got}
    assert 17 in kept  # the spike survives
    # bucket 3 is flat AND both its anchors are flat (bucket-2 centroid
    # y=0, last point y=0) -> every area is 0 -> the deterministic
    # tie-break picks the lowest event_id
    assert {r.event_id for r in got if r.bucket == 3} == {30}


def test_lttb_sloped_anchors_prefer_off_trend_point(spark):
    """K23 regression (review r7 s5 pass 3): with SLOPED anchors a
    collinear point has triangle area 0 and an off-trend spike has the
    largest area — the first-cut cross-product had the second term
    sign-inverted (scoring against a mirror-image line), kept the
    collinear point and dropped the spike, and the oracle mirrored the
    same wrong expression so parity could not see it."""
    from datetime import datetime

    from azure_iot_realtime_data_pipeline_spark.operators.sessions import (
        downsample_lttb,
    )

    # one key, 9 points on a perfect rising line except event 4, which
    # dips hard below the trend. n_out=3: bucket 1 = events 3,4,5.
    rows = []
    for i in range(9):
        v = float(i) if i != 4 else -10.0
        rows.append(("d1", i, datetime(2026, 1, 1, 0, 0, i), v))
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts timestamp, value double"
    )
    got = downsample_lttb(df, "user_id", "ts", "value", "event_id", n_out=3)
    mid = {r.event_id for r in got.collect() if r.bucket == 1}
    assert mid == {4}  # the off-trend dip wins, not a collinear point


def test_json_quarantine_split_and_edge_payloads(spark):
    """A2b: malformed payloads route to the dead-letter side with their
    raw text intact; NULL input is NOT quarantined (nothing to audit);
    shape mismatches ('null', '[]') ARE quarantined under a struct
    schema (documented caveat); good rows parse into parsed_* fields."""
    from azure_iot_realtime_data_pipeline_spark.functions.normalize import (
        parse_json_quarantine,
        split_quarantine,
    )

    df = spark.createDataFrame(
        [
            (1, '{"a": 5}'),
            (2, '{"a": }'),
            (3, None),
            (4, '{{"a":1}'),
            (5, "null"),
            (6, "[]"),
            (7, ""),      # empty: NULL struct, corrupt channel silent
            (8, "   "),   # whitespace-only: same (review r7 s5)
        ],
        "id long, js string",
    )
    parsed = parse_json_quarantine(df, "js", "a INT")
    flags = {r.id: r.quarantined for r in parsed.collect()}
    assert flags == {
        1: False, 2: True, 3: False, 4: True,
        5: True, 6: True, 7: True, 8: True,
    }
    good, bad = split_quarantine(parsed)
    assert {r.id for r in good.collect()} == {1, 3}
    assert good.columns == ["id", "js", "parsed_a"]
    # dead-letter side: source columns + raw ONLY (replay shape)
    assert bad.columns == ["id", "js", "raw"]
    bad_rows = {r.id: r.raw for r in bad.collect()}
    assert bad_rows[4] == '{{"a":1}'  # raw payload preserved for replay
    assert {r.parsed_a for r in good.filter("id = 1").collect()} == {5}
    # reserved-name guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="reserved"):
        parse_json_quarantine(
            df.withColumn("raw", F.lit("x")), "js", "a INT"
        )


def test_grid_neighbor_pairs_matches_brute_force(spark):
    """L42: the 3x3 cell cover finds EXACTLY the brute-force pair set —
    including pairs straddling a cell boundary and negative
    coordinates (floor-division cells, where a truncating div would
    misplace points); cell narrower than the radius is a contract
    error."""
    import itertools

    import pytest

    from azure_iot_realtime_data_pipeline_spark.operators.spatial import (
        grid_neighbor_pairs,
    )

    pts = [
        (1, 0, 0),
        (2, 1, 0),     # within 1 of #1
        (3, 2, 0),     # within 1 of #2 only (d2=4 from #1)
        (4, 3, 0),     # boundary: cell 1 while #3 is cell 0 (size 3)
        (5, -1, -1),   # negative coords, within sqrt(2) of #1? d2=2 > 1
        (6, -1, 0),    # within 1 of #1; negative lat cell = -1 (floor)
        (7, 500, 500), # isolated
    ]
    df = spark.createDataFrame(pts, "id long, lat_t long, lon_t long")
    got = {
        (r.id_a, r.id_b, r.d2_tenths)
        for r in grid_neighbor_pairs(df, "id", "lat_t", "lon_t").collect()
    }
    want = set()
    for (ia, la, lo), (ib, lb, lb2) in itertools.combinations(pts, 2):
        d2 = (la - lb) ** 2 + (lo - lb2) ** 2
        if d2 <= 1:
            want.add((min(ia, ib), max(ia, ib), d2))
    assert got == want and len(want) >= 3
    with pytest.raises(ValueError, match="cell_tenths"):
        grid_neighbor_pairs(df, "id", "lat_t", "lon_t", radius_tenths=5, cell_tenths=3)


def test_embedding_covariance_matches_numpy_reference(spark):
    """J72: the distributed partial-Gram merge equals a single-node
    numpy evaluation of the IDENTICAL pinned-lattice formula, across a
    partition split (the merge is the thing under test); diagonal
    entries are variances (>= 0 up to lattice dust)."""
    import math

    import numpy as np

    from azure_iot_realtime_data_pipeline_spark.operators.similarity import (
        embedding_covariance,
    )

    rng = [
        [math.sin(0.1 * i * (d + 1)) for d in range(4)] for i in range(50)
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rng)],
        "vec_id long, embedding array<float>",
    ).repartition(7)  # force a multi-partition merge
    got = {
        (r.i, r.j): r.cov
        for r in embedding_covariance(df, in_dim=4).collect()
    }
    x = np.array(rng, dtype=np.float32).astype(np.float64)
    n = x.shape[0]
    want = {}
    for i in range(4):
        for j in range(i, 4):
            s = int(np.floor(x[:, i] * x[:, j] * 1e6 + 0.5).astype(np.int64).sum())
            fi = int(np.floor(x[:, i] * 1e6 + 0.5).astype(np.int64).sum())
            fj = int(np.floor(x[:, j] * 1e6 + 0.5).astype(np.int64).sum())
            cov = s / n / 1e6 - (fi / n / 1e6) * (fj / n / 1e6)
            want[(i, j)] = math.floor(cov * 1e6 + 0.5) / 1e6
    assert got == want
    assert all(got[(d, d)] >= -1e-6 for d in range(4))


def test_cdc_apply_round_trip_with_all_op_kinds(spark):
    """L43: apply(old, diff(old, new)) == new on a fixture exercising
    every op kind at once — insert, delete, update, NULL->value and
    value->NULL transitions, and an untouched passthrough row."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        cdc_apply,
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [
            (1, "a", 1.0),     # untouched
            (2, "b", 2.0),     # deleted
            (3, "c", 3.0),     # updated value
            (4, None, 4.0),    # NULL -> value update
            (5, "e", 5.0),     # value -> NULL update
            (None, "x", 9.0),  # NULL KEY, updated (review r7 s5 pass 5:
            # a plain-equality anti join kept this row next to its
            # replacement — the differ supports NULL keys, so must apply)
        ],
        "k long, t string, v double",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 1.0),
            (3, "c", 30.0),
            (4, "d", 4.0),
            (5, "e", None),
            (6, "f", 6.0),     # inserted
            (None, "y", 9.0),
        ],
        "k long, t string, v double",
    )
    changes = snapshot_diff(old, new, ["k"], ["t", "v"])
    got = {
        (r.k, r.t, r.v)
        for r in cdc_apply(old, changes, ["k"], ["t", "v"]).collect()
    }
    want = {(r.k, r.t, r.v) for r in new.collect()}
    assert got == want


def test_association_rules_confidence_is_asymmetric(spark):
    """L44: a consequent present in every basket gives rules with the
    SAME pair counts but different confidences per direction — the
    asymmetry that makes confidence a rule metric, not a pair metric."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        association_rules,
    )

    rows = []
    # 10 baskets all contain 'milk'; 3 of them also contain 'caviar'
    for b in range(10):
        rows.append((b, "milk"))
        if b < 3:
            rows.append((b, "caviar"))
    df = spark.createDataFrame(rows, "basket long, item string")
    got = {
        (r.antecedent, r.consequent): (r.support, r.confidence)
        for r in association_rules(
            df, ["basket"], "item", min_confidence=0.0
        ).collect()
    }
    assert got[("caviar", "milk")] == (0.3, 1.0)   # caviar implies milk
    assert got[("milk", "caviar")] == (0.3, 0.3)   # milk barely implies caviar


def test_split_leakage_separates_diagonal_from_straddling(spark):
    """J73: identical docs assigned to different splits report as
    off-diagonal leakage; identical docs in the same split stay on the
    diagonal; unrelated docs don't pair at all."""
    from azure_iot_realtime_data_pipeline_spark.operators.dedup import (
        split_leakage,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, text),
            (2, text),                      # dup of 1
            (3, text),                      # dup of 1 and 2
            (4, "completely different words " * 3),
        ],
        "doc_id long, text string",
    )
    splits = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "train"), (4, "val")],
        "doc_id long, split string",
    )
    got = {
        (r.split_a, r.split_b): r.n_pairs
        for r in split_leakage(docs, splits, threshold=0.5).collect()
    }
    assert got == {("test", "train"): 2, ("train", "train"): 1}


def test_split_leakage_reports_unassigned_docs(spark):
    """J73 pass-6 regression: a near-dup pair whose doc lacks a split
    row must surface in an 'unassigned' bucket, not silently vanish
    (the audit would otherwise under-report contamination when the
    split predates an ingest)."""
    from azure_iot_realtime_data_pipeline_spark.operators.dedup import (
        split_leakage,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    splits = spark.createDataFrame([(1, "train")], "doc_id long, split string")
    got = {
        (r.split_a, r.split_b): r.n_pairs
        for r in split_leakage(docs, splits, threshold=0.5).collect()
    }
    assert got == {("train", "unassigned"): 1}


def test_freshness_and_volume_anomaly_semantics(spark, tmp_path):
    """L45/L46 semantic fixtures (the mirrored-formula lesson: parity
    cannot catch a constant mistyped into BOTH engines): a device last
    seen 59 min before the watermark is fresh, 61 min is stale, lag
    minutes truncate; a flat-then-spike daily series z-scores the
    spike day positive and the flat days negative."""
    from datetime import datetime, timedelta

    from azure_iot_realtime_data_pipeline_spark.plans.queries import (
        q_freshness,
        q_volume_anomaly,
    )

    wm = datetime(2026, 1, 10, 12, 0, 0)
    rows = []
    eid = 0
    # d_fresh: 59 min old; d_stale: 61 min; d_wm defines the watermark
    for dev, mins in (("d_fresh", 59), ("d_stale", 61), ("d_wm", 0)):
        rows.append((eid, dev, "t", wm - timedelta(minutes=mins), 1.0, "{}"))
        eid += 1
    # volume series for d_vol: 1 event/day for 4 days then 6 on day 5
    for day in range(4):
        rows.append((eid, "d_vol", "t", datetime(2026, 1, 1 + day, 0, 0, 0), 1.0, "{}"))
        eid += 1
    for k in range(6):
        rows.append((eid, "d_vol", "t", datetime(2026, 1, 5, k, 0, 0), 1.0, "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id string, event_type string, ts timestamp,"
        " value double, props string",
    )
    d = str(tmp_path / "events_fix")
    df.repartition(2).write.parquet(d)
    # drive through the real loaders: stage as a sf-dir shaped directory
    import os, shutil
    sfdir = str(tmp_path / "sf_fix")
    os.makedirs(sfdir, exist_ok=True)
    shutil.move(d, os.path.join(sfdir, "events.parquet"))
    fresh = {
        r.user_id: (r.lag_minutes, r.stale)
        for r in q_freshness(spark, sfdir).collect()
    }
    assert fresh["d_fresh"] == (59, False)
    assert fresh["d_stale"] == (61, True)
    assert fresh["d_wm"] == (0, False)
    vol = {
        (r.user_id, r._day): r.zscore
        for r in q_volume_anomaly(spark, sfdir).collect()
    }
    dvol = {day: z for (u, day), z in vol.items() if u == "d_vol"}
    days = sorted(dvol)
    assert dvol[days[-1]] == 2.0  # the spike day: (6-2)/2 exactly
    assert all(dvol[d2] == -0.5 for d2 in days[:-1])  # flat days: (1-2)/2


def test_hll_distinct_tracks_exact_counts(spark, sf_smoke, sf_oracle):
    """J74 quality floor: the p=8 (m=256) estimate lands within ~3
    sigma (20%) of the exact distinct count on BOTH estimator branches
    — sf0.01 event_ids (2000/type) drive the raw harmonic-mean branch,
    sf0.001 (200/type) the linear-counting branch — and n_regs never
    exceeds m."""
    from azure_iot_realtime_data_pipeline_spark.operators.sketches import (
        hll_distinct,
    )

    for sf in (sf_smoke, sf_oracle):
        ev = load_table(spark, sf, "events")
        est = {
            r["event_type"]: (r["n_regs"], r["distinct_est"])
            for r in hll_distinct(ev, "event_type", "event_id", p=8).collect()
        }
        exact = {
            r["event_type"]: r["n"]
            for r in ev.groupBy("event_type")
            .agg(F.countDistinct("event_id").alias("n"))
            .collect()
        }
        assert est.keys() == exact.keys()
        for t, n in exact.items():
            n_regs, e = est[t]
            assert n_regs <= 256
            assert abs(e - n) / n < 0.20, (sf, t, e, n)


def test_hll_merge_of_halves_equals_whole(spark, sf_smoke):
    """J74 mergeability: sketch(A) merged with sketch(B) equals
    sketch(A UNION B) register-for-register (max is associative and
    idempotent), so the rolled-up estimate is the whole-corpus
    estimate EXACTLY — per-day registers compose to per-month with no
    approximation-on-approximation."""
    from azure_iot_realtime_data_pipeline_spark.operators.sketches import (
        hll_distinct,
        hll_estimate,
        hll_merge,
        hll_sketch,
    )

    ev = load_table(spark, sf_smoke, "events")
    a = hll_sketch(ev.filter(F.col("event_id") % 2 == 0), "event_type", "event_id")
    b = hll_sketch(ev.filter(F.col("event_id") % 2 == 1), "event_type", "event_id")
    merged = hll_merge(a, b, "event_type")
    whole = hll_sketch(ev, "event_type", "event_id")
    m_rows = {(r["event_type"], r["_j"]): r["_mj"] for r in merged.collect()}
    w_rows = {(r["event_type"], r["_j"]): r["_mj"] for r in whole.collect()}
    assert m_rows == w_rows
    est_m = {
        r["event_type"]: r["distinct_est"]
        for r in hll_estimate(merged, "event_type").collect()
    }
    est_w = {
        r["event_type"]: r["distinct_est"]
        for r in hll_distinct(ev, "event_type", "event_id").collect()
    }
    assert est_m == est_w


def test_hll_ignores_null_ids_and_caps_rho(spark):
    """J74 contracts: NULL ids are not countable entities (filtered,
    same as kmv_distinct — an all-NULL group disappears); a suffix of
    w=0 takes the capped rho = 33-p rather than a NULL/garbage
    bit-length."""
    from azure_iot_realtime_data_pipeline_spark.operators.sketches import (
        hll_distinct,
        hll_sketch,
    )

    rows = [("a", 1), ("a", 2), ("a", None), ("b", None)]
    df = spark.createDataFrame(rows, "g string, id int")
    got = {r["g"]: r["n_regs"] for r in hll_distinct(df, "g", "id").collect()}
    assert got == {"a": 2}
    # rho cap: every register value stays within [1, 33-p]
    regs = hll_sketch(df, "g", "id", p=8).collect()
    assert all(1 <= r["_mj"] <= 25 for r in regs)


def test_kmv_overlap_tracks_exact_overlap(spark, sf_oracle):
    """J75 quality floor: pairwise KMV overlap estimates land within
    the sketch's error envelope of L21's EXACT audience overlap — the
    Jaccard estimate within ±0.15 absolute (k=64 synopsis), the
    intersection estimate within 40% relative (~3 sigma of 1/sqrt(k-2))
    — and pairs whose merged synopsis stays under k report exact
    values."""
    from azure_iot_realtime_data_pipeline_spark.operators.sketches import (
        kmv_overlap,
    )

    ev = load_table(spark, sf_oracle, "events")
    est = {
        (r["type_a"], r["type_b"]): r
        for r in kmv_overlap(ev, "event_type", "user_id", k=64).collect()
    }
    exact = {
        (r["type_a"], r["type_b"]): r
        for r in analytics.audience_overlap(ev, "user_id", "event_type").collect()
    }
    assert est.keys() == exact.keys()
    for pair, e in est.items():
        x = exact[pair]
        n_inter_true = x["n_both"]
        n_union_true = x["n_a"] + x["n_b"] - x["n_both"]
        assert abs(e["jaccard_est"] - x["jaccard"]) < 0.15, (pair, e, x)
        assert abs(e["union_est"] - n_union_true) / n_union_true < 0.40
        if n_inter_true:
            assert abs(e["intersect_est"] - n_inter_true) / n_inter_true < 0.40
        if e["n_union_kept"] < 64:
            # exhaustive-synopsis pairs are exact, not estimates
            assert e["union_est"] == float(n_union_true)
            assert e["intersect_est"] == float(n_inter_true)


def test_lsh_eval_scores_candidates_against_exact_truth(spark):
    """J77: on a corpus with one known near-dup pair and unrelated
    docs, the instrument reports the pair in both truth and candidates
    (recall 1.0), counts every banded collision as a candidate, and
    never reports more hits than either set; sample_mod=1 keeps every
    doc (the full-eval degenerate case of the sampling dial)."""
    from azure_iot_realtime_data_pipeline_spark.operators.dedup import (
        lsh_candidate_eval,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " tail"),  # near-dup of 1
        (3, "completely unrelated content about distributed query engines"),
        (4, "another unrelated document mentioning parquet files only"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = lsh_candidate_eval(docs, truth_threshold=0.5, sample_mod=1).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_truth"] >= 1
    assert r["recall"] == 1.0
    assert r["n_hits"] <= r["n_candidates"]
    assert r["n_hits"] <= r["n_truth"] or r["recall"] < 1.0


def test_bigstar_components_match_minlabel_on_real_graph(spark, sf_smoke):
    """J78 == J26 on the real candidate graph: both iteration schemes
    land on the identical (node -> component min) fixpoint."""
    from azure_iot_realtime_data_pipeline_spark.operators.graph import (
        connected_components_bigstar,
    )

    docs = load_table(spark, sf_smoke, "documents").filter(F.col("doc_id") < 50)
    pairs = dedup.ngram_jaccard_pairs(docs)
    a = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components_bigstar(pairs).collect()
    }
    b = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert a == b and a


def test_bigstar_contracts_deep_paths_minlabel_cannot(spark):
    """J78's reason to exist: a 48-node path (diameter 47) converges in
    the star alternation's O(log n) rounds — within max_iter=8 here —
    where min-label propagation needs one round PER diameter hop and
    correctly refuses at its default 20-round backstop. Also covers
    duplicate/reversed/self-loop edge canonicalization."""
    from azure_iot_realtime_data_pipeline_spark.operators.graph import (
        connected_components_bigstar,
    )

    n = 48
    rows = [(i, i + 1) for i in range(n - 1)]
    rows += [(5, 4), (9, 9), (20, 21)]  # reversed dup, self loop, dup
    rows += [(100, 101)]  # a second, separate component
    rows += [(300, 300)]  # an ISOLATED self-loop node: labels itself
    pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_bigstar(pairs, max_iter=8).collect()
    }
    want = {i: 0 for i in range(n)}
    want.update({100: 100, 101: 100, 300: 300})
    assert got == want
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(pairs)


def test_hll_estimate_rejects_mismatched_p(spark):
    """J74 guard: estimating with a different p than the sketch was
    built with would feed Java's masked shift a wrong amount and return
    a silently-wrong number — it must raise instead."""
    from azure_iot_realtime_data_pipeline_spark.operators.sketches import (
        hll_estimate,
        hll_sketch,
    )
    from pyspark.errors import SparkRuntimeException

    df = spark.createDataFrame(
        [("a", i) for i in range(2000)], "g string, id int"
    )
    regs = hll_sketch(df, "g", "id", p=8)
    with pytest.raises(SparkRuntimeException, match="different p"):
        hll_estimate(regs, "g", p=12).collect()
    with pytest.raises(SparkRuntimeException, match="different p"):
        hll_estimate(regs, "g", p=6).collect()


def test_kmv_overlap_ignores_null_segments(spark):
    """J75 contract (same as L21): a NULL segment is not a comparable
    audience — pairs only form between non-NULL groups."""
    from azure_iot_realtime_data_pipeline_spark.operators.sketches import (
        kmv_overlap,
    )

    rows = [("x", 1), ("x", 2), ("y", 2), ("y", 3), (None, 1), (None, 9)]
    df = spark.createDataFrame(rows, "g string, id int")
    out = kmv_overlap(df, "g", "id", k=8).collect()
    assert [(r["type_a"], r["type_b"]) for r in out] == [("x", "y")]
    r = out[0]
    # exhaustive synopses: exact values — |x ∪ y| = 3, |x ∩ y| = 1
    assert r["union_est"] == 3.0 and r["intersect_est"] == 1.0


def test_window_funnel_anchor_and_window_semantics(spark):
    """L47 fixture pins the three semantic points: (a) a user whose
    FIRST anchor overruns the window but a LATER anchor completes still
    counts (anchoring only the first occurrence would undercount him),
    (b) an ordered chain wider than the window does not count,
    (c) same-timestamp events do not advance the funnel (strict >)."""
    from datetime import datetime, timedelta

    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        window_funnel,
    )

    t = lambda m: datetime(2024, 1, 1) + timedelta(minutes=m)  # noqa: E731
    rows = [
        # user 1: anchor@0 -> click@90 overruns 60-min window, but
        # anchor@80 -> click@90 -> buy@100 completes
        (1, t(0), "view"), (1, t(80), "view"), (1, t(90), "click"),
        (1, t(100), "purchase"),
        # user 2: ordered but 70 min anchor->purchase: level 2 only
        (2, t(0), "view"), (2, t(30), "click"), (2, t(70), "purchase"),
        # user 3: click at the SAME timestamp as the view: never level 2
        (3, t(10), "view"), (3, t(10), "click"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r["stage_idx"]: r["n_users"]
        for r in window_funnel(
            ev, "user_id", "ts", "event_type",
            ["view", "click", "purchase"], window_seconds=3600,
        ).collect()
    }
    assert got == {1: 3, 2: 2, 3: 1}


def test_window_funnel_chain_executes_once(spark):
    """The per-level counts aggregate CHECKPOINTED stage frames: the
    result plan holds one materialized-RDD scan per stage and ZERO
    joins — uncheckpointed, each of the |stages| counts re-executed the
    whole join chain from the scan, O(stages^2) stage work (r8
    ADVICE)."""
    from datetime import datetime, timedelta

    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        window_funnel,
    )

    t = lambda m: datetime(2024, 1, 1) + timedelta(minutes=m)  # noqa: E731
    rows = [(1, t(0), "view"), (1, t(1), "click"), (1, t(2), "purchase")]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = window_funnel(
        ev, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], window_seconds=3600,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 3, plan
    assert "Join" not in plan, plan


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)),
        min_size=1,
        max_size=40,
    )
)
def test_bigstar_equals_minlabel_on_random_graphs(spark, edges):
    """J78 property gate: on ANY random multigraph (duplicates,
    reversals, self loops included) the star alternation and min-label
    propagation land on the identical component map — and both match a
    plain-python union-find reference."""
    from azure_iot_realtime_data_pipeline_spark.operators.graph import (
        connected_components_bigstar,
    )

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_bigstar(pairs, max_iter=12).collect()
    }
    # python union-find reference
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    want = {n: min(ns) for ns in comp.values() for n in ns}
    assert got == want
    big_enough = dedup.duplicate_clusters(pairs, max_iter=60)
    got_ml = {r["doc_id"]: r["cluster_id"] for r in big_enough.collect()}
    assert got_ml == want


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 3),          # user
            st.integers(0, 120),        # minute offset
            st.sampled_from(["view", "click", "purchase", "noise"]),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_window_funnel_matches_python_reference(spark, events):
    """L47 property gate: for ANY random event soup the operator's
    per-level distinct-user counts match a plain-python reference that
    enumerates every anchor chain greedily — same-timestamp ties,
    overlapping anchors, missing stages and all."""
    from datetime import datetime, timedelta

    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        window_funnel,
    )

    stages = ["view", "click", "purchase"]
    window_min = 45
    base = datetime(2024, 1, 1)
    rows = [
        (u, base + timedelta(minutes=m), t) for u, m, t in events
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = {
        r["stage_idx"]: r["n_users"]
        for r in window_funnel(
            ev, "user_id", "ts", "event_type", stages,
            window_seconds=window_min * 60,
        ).collect()
    }
    # python reference: per user, per anchor, greedy earliest-next chain
    by_user: dict = {}
    for u, m, t in events:
        by_user.setdefault(u, []).append((m, t))
    levels = {i: set() for i in range(1, len(stages) + 1)}
    for u, evs in by_user.items():
        evs.sort()
        for am, at in evs:
            if at != stages[0]:
                continue
            levels[1].add(u)
            prev = am
            for idx, s in enumerate(stages[1:], start=2):
                nxt = min(
                    (m for m, t in evs if t == s and m > prev
                     and m <= am + window_min),
                    default=None,
                )
                if nxt is None:
                    break
                levels[idx].add(u)
                prev = nxt
    want = {i: len(us) for i, us in levels.items()}
    assert got == want


def test_mutual_information_boundaries(spark):
    """L48 semantics: a perfectly dependent pair scores NMI ~1, an
    independent pair ~0, a degenerate single-category marginal reports
    NULL nmi (zero entropy), and NULL categories are dropped."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        mutual_information,
    )

    dep = [(f"a{i % 4}", f"b{i % 4}") for i in range(64)]
    r = mutual_information(
        spark.createDataFrame(dep, "x string, y string"), "x", "y"
    ).collect()[0]
    assert r["nmi"] is not None and r["nmi"] > 0.99
    indep = [(f"a{i % 2}", f"b{(i // 2) % 2}") for i in range(64)]
    r2 = mutual_information(
        spark.createDataFrame(indep, "x string, y string"), "x", "y"
    ).collect()[0]
    assert abs(r2["nmi"]) < 0.01
    degen = [("only", f"b{i % 3}", None) for i in range(9)]
    r3 = mutual_information(
        spark.createDataFrame(degen, "x string, y string, z string"), "x", "y"
    ).collect()[0]
    assert r3["nmi"] is None and r3["n"] == 9
    # NULL categories dropped
    r4 = mutual_information(
        spark.createDataFrame(
            [("a", "b"), (None, "b"), ("a", None)], "x string, y string"
        ),
        "x",
        "y",
    ).collect()[0]
    assert r4["n"] == 1


def test_quality_checks_gate_semantics(spark):
    """L49: op coverage, derived ratios, fail-closed on uncomputed
    metrics and empty tables, and op validation."""
    from azure_iot_realtime_data_pipeline_spark.operators.analytics import (
        quality_checks,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None)], "id long, cat string"
    )
    out = {
        (r["col_name"], r["metric"], r["op"]): (r["value"], r["passed"])
        for r in quality_checks(
            df,
            checks=[
                ("cat", "nulls", "<=", 1.0),
                ("cat", "null_fraction", ">", 0.5),       # 1/3 -> fail
                ("id", "uniqueness", "==", 1.0),
                ("rows", "rows", ">=", 3.0),
                ("nope", "distinct", ">", 0.0),           # fail-closed
            ],
            distinct_cols=("id",),
        ).collect()
    }
    assert out[("cat", "nulls", "<=")] == (1.0, True)
    assert out[("cat", "null_fraction", ">")][1] is False
    assert out[("id", "uniqueness", "==")] == (1.0, True)
    assert out[("rows", "rows", ">=")][1] is True
    assert out[("nope", "distinct", ">")] == (None, False)
    with pytest.raises(ValueError, match="unsupported op"):
        quality_checks(df, checks=[("id", "nulls", "!=", 0.0)])
    # empty table: ratios fail closed, rows check fails honestly
    empty = spark.createDataFrame([], "id long, cat string")
    out2 = {
        r["metric"]: r["passed"]
        for r in quality_checks(
            empty,
            checks=[("id", "null_fraction", "<=", 0.5), ("rows", "rows", ">", 0.0)],
        ).collect()
    }
    assert out2 == {"null_fraction": False, "rows": False}


def test_hll_accuracy_across_magnitudes(spark):
    """J74 statistical floor across three orders of magnitude and both
    estimator branches: the p=8 estimate lands within 4 sigma (26%) of
    the true cardinality at n = 50 (deep linear counting), 500
    (branch boundary region), 5_000 and 50_000 (raw harmonic branch).
    Deterministic md5 hashes -> fixed numbers, no flake margin needed."""
    from azure_iot_realtime_data_pipeline_spark.operators.sketches import (
        hll_distinct,
    )

    rows = [(f"n{n}", f"{n}:{i}") for n in (50, 500, 5_000, 50_000)
            for i in range(n)]
    df = spark.createDataFrame(rows, "g string, id string")
    est = {
        r["g"]: r["distinct_est"]
        for r in hll_distinct(df, "g", "id", p=8).collect()
    }
    for n in (50, 500, 5_000, 50_000):
        e = est[f"n{n}"]
        assert abs(e - n) / n < 0.26, (n, e)


def test_persisted_ivf_index_matches_in_memory_search(spark, sf_smoke, tmp_path):
    """Production ANN flow: fit once -> lake tables -> search many.
    The persisted search must return EXACTLY the in-memory ivf_topk
    rows at the same dials (same centroids, probed cells loaded via
    manifest-stats pruning), the cluster_by-cell layout must actually
    make cells prunable (per-file cell ranges are narrow), and a refit
    commits a new version without disturbing the old snapshot."""
    from azure_iot_realtime_data_pipeline_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_from_index,
        load_ivf_centroids,
        save_ivf_index,
    )
    from azure_iot_realtime_data_pipeline_spark.sources import acid

    emb = load_table(spark, sf_smoke, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    )
    idx = str(tmp_path / "ivf")
    stats = save_ivf_index(c, idx, n_cells=16, centroids="deterministic")
    assert stats["n_cells"] == 16
    got = {
        (r["query_id"], r["cand_id"], r["cosine"], r["rank"])
        for r in ivf_topk_from_index(spark, idx, q, n_probe=4, k=10).collect()
    }
    want = {
        (r["query_id"], r["cand_id"], r["cosine"], r["rank"])
        for r in ivf_topk(
            q, c, n_cells=16, n_probe=4, k=10, centroids="deterministic"
        ).collect()
    }
    assert got == want and got
    # layout: every cells file carries cell_id stats, and at least one
    # file's range EXCLUDES some cell — pruning has something to skip
    m = acid._read_manifest(str(tmp_path / "ivf" / "cells"))
    ranges = [m["stats"][f]["cell_id"] for f in m["files"]]
    assert all(r is not None for r in ranges)
    assert any(r[0] > 0 or r[1] < 15 for r in ranges), ranges
    # refit: a new version, old snapshot intact
    save_ivf_index(c, idx, n_cells=8, centroids="deterministic")
    assert len(load_ivf_centroids(spark, idx)) == 8
    v1 = acid.read_table(
        spark, str(tmp_path / "ivf" / "centroids"), version=1
    ).count()
    assert v1 == 16


def test_ivf_index_append_equals_union_search(spark, sf_smoke, tmp_path):
    """Incremental IVF ingest (the daily-crawl shape): fit on corpus A,
    append batch B against the FROZEN centroids — search over the
    appended index must equal the in-memory search over A ∪ B at the
    same dials, the append must carry every pre-existing cell file over
    by name (batch-sized cost, corpus untouched), and the appended
    files must land cell-clustered with stats so pruning keeps biting."""
    from azure_iot_realtime_data_pipeline_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_topk,
        ivf_topk_from_index,
        load_ivf_centroids,
        save_ivf_index,
    )
    from azure_iot_realtime_data_pipeline_spark.sources import acid

    emb = load_table(spark, sf_smoke, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    full = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    )
    base = full.filter(F.col("cand_id") % 2 == 0)
    batch = full.filter(F.col("cand_id") % 2 == 1)
    idx = str(tmp_path / "ivf_inc")
    save_ivf_index(base, idx, n_cells=16, centroids="deterministic")
    cells_dir = str(tmp_path / "ivf_inc" / "cells")
    files_before = set(acid._read_manifest(cells_dir)["files"])

    stats = append_to_ivf_index(batch, idx, n_files=4)
    assert stats["n_cells"] == 16
    assert stats["files_kept"] == len(files_before)
    m = acid._read_manifest(cells_dir)
    assert files_before < set(m["files"])  # carried over BY NAME
    new_files = set(m["files"]) - files_before
    assert len(new_files) == stats["files_written"] == 4
    # the batch landed cell-clustered: every new file has cell_id stats
    # and at least one new file's range excludes some cell
    ranges = [m["stats"][f]["cell_id"] for f in new_files]
    assert all(r is not None for r in ranges)
    assert any(r[0] > 0 or r[1] < 15 for r in ranges), ranges

    cent_lits = load_ivf_centroids(spark, idx)  # frozen: fitted on A only
    got = {
        (r["query_id"], r["cand_id"], r["cosine"], r["rank"])
        for r in ivf_topk_from_index(spark, idx, q, n_probe=4, k=10).collect()
    }
    want = {
        (r["query_id"], r["cand_id"], r["cosine"], r["rank"])
        for r in ivf_topk(
            q, full, n_cells=16, n_probe=4, k=10, centroids=cent_lits
        ).collect()
    }
    assert got == want and got


def test_pq_topk_recall_and_compression_contract(spark, sf_oracle):
    """J64b gates: (a) refine lifts raw-ADC recall (measured ~0.32 ->
    ~0.82 at factor 8 on this weakly-clustered corpus) above 0.7;
    (b) the encode really is the compressed form — m int64 codes + one
    int per vector, no float columns; (c) rerank_factor=0 still returns
    k ranked rows per query (the raw-ADC contract)."""
    from azure_iot_realtime_data_pipeline_spark.operators.similarity import (
        cosine_topk,
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    emb = load_table(spark, sf_oracle, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv")
    )
    exact = {
        (r.query_id, r.cand_id) for r in cosine_topk(q, c, k=10).collect()
    }
    got = {
        (r.query_id, r.cand_id)
        for r in pq_topk(q, c, m_subspaces=8, n_codes=16, k=10,
                         rerank_factor=8).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.7, recall

    books = pq_codebooks(c, "cand_id", "cv", 8, 16)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    enc = pq_encode(c, books)
    assert set(enc.columns) == {"cand_id", "codes", "_rn2_micro"}
    row = enc.first()
    assert len(row["codes"]) == 8  # 8 small ints stand in for 64 floats

    raw = pq_topk(q, c, m_subspaces=8, n_codes=16, k=10)
    per_q = {r.query_id: 0 for r in raw.collect()}
    counts = raw.groupBy("query_id").count().collect()
    assert all(r["count"] == 10 for r in counts) and len(counts) == 5
