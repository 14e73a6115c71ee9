"""Physical-plan quality gates.

Correctness tests prove the operators compute the right answer; these
prove the *plans* are the ones that survive a 100 TB / 1000-executor
scale-up. Each assertion pins a property that silently regressing would
turn into a cluster-scale incident long before it shows in a small-SF
correctness run:

- predicate pushdown reaching the parquet scan (scan-level skipping),
- column pruning (ReadSchema carries only what the query needs),
- broadcast joins for small dimensions (no shuffle of the big side),
- map-side partial aggregation (combine before the exchange),
- whole-stage codegen over the scalar hot path,
- and, repo-wide: no cartesian product, no accidental sort-merge join,
  no single-partition exchange (the classic global-sort bottleneck).
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from azure_iot_realtime_data_pipeline_spark.plans.queries import QUERIES

#: brute-force / IVF similarity intentionally broadcast a tiny probe set
#: across the candidate scan — a BroadcastNestedLoopJoin whose build side
#: is bounded (k queries / centroid table), not a data×data cross.
#: q_wire_serve broadcasts the ONE-row batch-watermark aggregate onto
#: every serve row (the literal-key join constant-folds to a BNLJ whose
#: build side is a single row).
#: q_key_skew likewise broadcasts its ONE-row sum(n) total onto the
#: top-k heavy hitters (lazy share denominator, ADVICE r4).
#: q_vocab_coverage broadcasts the |cutoffs| literal rows onto the
#: bounded top-max(cutoff) ranked slice, and its ONE-row corpus-mass
#: total onto the |cutoffs| result rows.
BNLJ_ALLOWED = {
    "q_topk_cosine",
    "q_hard_negatives",       # same bounded broadcast-queries shape
    "q_quantized_topk",       # same shape over SQ8-reconstructed vectors
    "q_jl_topk",              # same shape over JL-projected vectors
    "q_ivf_topk",
    "q_embed_dedup",
    "q_wire_serve",
    "q_key_skew",
    "q_vocab_coverage",
    "q_chi_square",
    "q_important_parts",      # one-row grand total onto per-part revs
    "q_idle_rich_customers",  # one-row scalar-avg broadcast filter
    "q_ab_test",              # one-row arm B broadcast onto arm A
    "q_lorenz",               # one-row totals broadcast onto the curve
    "q_event_lift",           # one-row basket count broadcast
    "q_association_rules",    # same machinery, directed emission
    "q_region_share",         # one-row world total broadcast
    "q_corpus_report",        # one-row corpus total broadcast
    "q_freshness",            # one-row fleet watermark broadcast
    "q_mutual_info",          # one-row MI/entropy frames crossed
    "q_quality_checks",       # dozen-row profile/ratio frames crossed
}

#: the reference's anomaly window has no PARTITION BY
#: (iot-stream-analytics-query.sql:33-44); its faithful reproduction is
#: BY DESIGN a single-partition global window — the one sanctioned
#: Exchange SinglePartition in the repo. Every other query must scale out.
GLOBAL_WINDOW_ALLOWED = {"q_trailing_window_global"}

#: single-partition exchanges that carry only PARTIAL-AGGREGATE rows
#: (<= one row per upstream task) into a final global aggregate — the
#: unavoidable and harmless last step of any scalar/global summary, not
#: a data funnel. Audited via scripts/plan_audit.py (PLANS.md): q_count/
#: q_max_ts (global scalars), q_small_qty_revenue (final revenue
#: scalar), q_data_profile (one profile row), q_key_skew + q_wire_serve
#: (one-row totals later broadcast), q_funnel (|stages| one-row frames).
#: Anything NOT in this list that grows a single-partition exchange
#: fails the sweep and must restructure or justify itself here.
GLOBAL_AGG_SINGLE_PART_ALLOWED = {
    "q_count",
    "q_discount_revenue",  # one-row Q6 revenue scalar
    "q_max_ts",
    "q_small_qty_revenue",
    "q_data_profile",
    "q_key_skew",
    "q_wire_serve",
    "q_funnel",
    "q_vocab_coverage",  # one-row corpus-mass total (vocab-table sum)
    "q_top_supplier",    # one-row max over the supplier-sized agg
    "q_orphans",         # one audit row per child scan (4 scans)
    "q_chi_square",      # one-row grand total of the tiny cell table
    "q_important_parts",      # one-row grand total (Q11 decorrelation)
    "q_idle_rich_customers",  # one-row scalar avg (Q22 decorrelation)
    "q_survival",             # one-row curve fold over <= |observed days| cells
    "q_ab_test",              # two one-row arm summaries crossed
    "q_lorenz",               # one-row grand totals onto the curve
    "q_event_lift",           # one-row basket count onto the pair table
    "q_association_rules",    # same machinery, directed emission
    "q_region_share",         # one-row world total onto 25 nation rows
    "q_promo_share",          # one-row conditional aggregate (Q14)
    "q_brand_size_revenue",   # one-row disjunctive aggregate (Q19)
    "q_corpus_report",        # one-row corpus doc total onto the card
    "q_ngram_kl",             # one-row KL sum over the <=1024 bucket spine
    "q_freshness",            # one-row fleet watermark onto device rows
    "q_kmv_overlap",          # one row of groups x k synopses (bounded
                              # by construction) fanning out pair math
    "q_lsh_eval",             # one-row precision/recall summary over
                              # the labeled pair union
    "q_window_funnel",        # |stages| one-row level counts (the
                              # q_funnel class)
    "q_mutual_info",          # one-row MI + two one-row entropy sums
}


def plan_of(spark, sf_smoke, name: str, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        QUERIES[name](spark, sf_smoke).explain(mode=mode)
    return buf.getvalue()


def test_incremental_tail_pushes_watermark_to_scan(spark, sf_smoke):
    # A6/F6: the `ts > watermark` tail filter must reach the parquet
    # reader (in the int64-nanos storage domain) — at 100 TB this is the
    # difference between scanning one day and scanning the archive.
    p = plan_of(spark, sf_smoke, "q_incremental_tail")
    assert re.search(r"PushedFilters: \[.*GreaterThan\(ts,", p), p


def test_filter_notnull_stays_codegen_above_pruned_scan(spark, sf_smoke):
    # B7 filters a *derived* column (deviceId minted from event_type), so
    # scan-level pushdown cannot apply by semantics; the right plan is a
    # whole-stage-codegen Filter immediately above a column-pruned scan.
    p = plan_of(spark, sf_smoke, "q_filter_notnull")
    assert re.search(r"Filter \[codegen id", p), p
    schema_line = next(ln for ln in p.splitlines() if "ReadSchema" in ln)
    assert "value" not in schema_line and "props" not in schema_line, schema_line


def test_projection_prunes_scan_columns(spark, sf_smoke):
    # B3: the events scan must read only the 3 projected columns —
    # `value`/`props` (the wide payload columns) must not appear in
    # ReadSchema.
    p = plan_of(spark, sf_smoke, "q_project")
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema, p
    schema_line = read_schema[0]
    for col in ("event_id", "user_id", "event_type"):
        assert col in schema_line, schema_line
    for col in ("value", "props"):
        assert col not in schema_line, schema_line


def test_device_join_is_broadcast(spark, sf_smoke):
    # §2.I q_join_devices: the device dimension is tiny ⇒ broadcast hash
    # join; a sort-merge join here would shuffle the full fact table.
    p = plan_of(spark, sf_smoke, "q_join_devices")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_groupby_has_mapside_partial_aggregation(spark, sf_smoke):
    # E6: hash aggregation must combine map-side (partial) before the
    # shuffle and finish after (final) — 2 HashAggregate nodes.
    p = plan_of(spark, sf_smoke, "q_groupby_device")
    assert len(re.findall(r"\bHashAggregate\b", p)) >= 2, p


def test_scalar_hot_path_is_whole_stage_codegen(spark, sf_smoke):
    # C1-C3 magnitude math must stay inside whole-stage codegen (JVM,
    # vectorizable), not fall out to interpreted/Python evaluation.
    p = plan_of(spark, sf_smoke, "q_magnitude", mode="simple")
    assert "*(1)" in p or "WholeStageCodegen" in p, p


def test_staged_pipelines_upstream_plans_are_clean(spark, sf_smoke):
    # q_tf_idf / q_bm25 materialize a compact intermediate EAGERLY
    # (localCheckpoint(eager=True)), so the repo-wide gate below only
    # ever sees their post-checkpoint sub-plan. Assert the
    # pre-checkpoint pipelines directly: a pathology introduced upstream
    # of the checkpoint must not hide. q_minhash_lsh is one lazy plan
    # now, so the gate sees its signature pipeline; it keeps its direct
    # check here beside the portable signatures that q_dedup_pipeline
    # still checkpoints.
    import contextlib
    import io

    from azure_iot_realtime_data_pipeline_spark.operators.dedup import (
        minhash_signatures,
        minhash_signatures_portable,
    )
    from azure_iot_realtime_data_pipeline_spark.operators.relevance import (
        term_frequencies,
    )
    from azure_iot_realtime_data_pipeline_spark.sources.batch import load_table

    docs = load_table(spark, sf_smoke, "documents")
    for upstream in (
        minhash_signatures(docs),
        minhash_signatures_portable(docs),
        term_frequencies(docs),
    ):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            upstream.explain(mode="formatted")
        p = buf.getvalue()
        assert "CartesianProduct" not in p, p
        assert "Exchange SinglePartition" not in p, p
        assert "SortMergeJoin" not in p, p
        # the aggregate must combine map-side before the exchange
        assert len(re.findall(r"\bHashAggregate\b", p)) >= 2, p


def test_tf_idf_reads_its_checkpointed_tf_table(spark, sf_smoke):
    # the (doc, term, tf) table is materialized in block storage, not
    # written to a staged parquet copy and read back: the built plan's
    # leaves are the checkpoint's RDD scans, with no file scan at all.
    from azure_iot_realtime_data_pipeline_spark.operators.relevance import tf_idf
    from azure_iot_realtime_data_pipeline_spark.sources.batch import load_table

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        tf_idf(load_table(spark, sf_smoke, "documents")).explain(mode="formatted")
    p = buf.getvalue()
    assert "Scan ExistingRDD" in p, p
    assert "FileScan parquet" not in p, p


def test_kmv_caps_state_before_the_shuffle(spark, sf_smoke):
    # J30's scale promise: the per-partition k-smallest cap (MapInPandas)
    # must sit BELOW the partial aggregate, which must sit BELOW the one
    # exchange — i.e. shuffle rows per group are bounded by k x
    # partitions, never the full distinct set. Regressing to the
    # dedup+window form would silently reintroduce the full-distinct
    # shuffle the sketch exists to avoid.
    p = plan_of(spark, sf_smoke, "q_kmv_distinct", mode="simple")
    i_map = p.index("MapInPandas")
    i_partial = p.index("partial_collect_set")
    i_exchange = p.index("Exchange")
    # plan strings print top-down: root first, scan last — so the
    # deepest (earliest-executed) node has the LARGEST index
    assert i_map > i_partial > i_exchange, p
    assert p.count("Exchange") == 1, p


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_pathological_plan_shapes(spark, sf_smoke, name):
    # Repo-wide invariants: no cartesian product ever; nested-loop joins
    # only where the build side is provably bounded (BNLJ_ALLOWED); no
    # single-partition exchange (serializes the job through one task);
    # no sort-merge join (every join in this engine is either broadcast
    # or a pre-bucketed equi-join at this surface).
    p = plan_of(spark, sf_smoke, name)
    assert "CartesianProduct" not in p, name
    if name not in GLOBAL_WINDOW_ALLOWED | GLOBAL_AGG_SINGLE_PART_ALLOWED:
        # formatted mode prints the node name and its arguments on
        # SEPARATE lines, so the historical "Exchange SinglePartition"
        # substring never matched — check the argument marker too
        # (found via scripts/plan_audit.py, which profiles simple mode)
        assert "Exchange SinglePartition" not in p, name
        assert "Arguments: SinglePartition" not in p, name
    assert "SortMergeJoin" not in p, name
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in p, name


def test_nation_trade_star_shape(spark, sf_smoke):
    """M14: the true dimensions ride broadcast joins; the fact-sized
    orders edge is a PINNED shuffle hash join on l_orderkey (never
    SortMergeJoin, never a fact-sized broadcast); total hash exchanges
    stay at the join pair + the final aggregate."""
    p = plan_of(spark, sf_smoke, "q_nation_trade")
    assert "ShuffledHashJoin" in p, p
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "SortMergeJoin" not in p
    assert p.count("Exchange hashpartitioning") <= 3, p


def test_pricing_summary_pushes_filter_and_prunes(spark, sf_smoke):
    # M1: the shipdate cutoff must reach the parquet scan, and the scan
    # must read only the 7 needed columns of lineitem's 11 — at 100 TB
    # these two properties are most of the query's runtime.
    p = plan_of(spark, sf_smoke, "q_pricing_summary")
    assert re.search(r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate", p), p
    schema_line = next(ln for ln in p.splitlines() if "ReadSchema" in ln)
    for col in ("l_partkey", "l_suppkey", "l_orderkey", "l_linenumber"):
        assert col not in schema_line, schema_line
    # map-side combine before the 6-group exchange
    assert len(re.findall(r"\bHashAggregate\b", p)) >= 2, p


def test_revenue_join_never_shuffles_the_fact_table(spark, sf_smoke):
    # M2: both dimension joins must be broadcast — the only exchange in
    # the plan is the final 5-group aggregate's, never one keyed on
    # l_orderkey/o_custkey (which would shuffle the fact table).
    p = plan_of(spark, sf_smoke, "q_revenue_by_segment")
    assert p.count("BroadcastHashJoin") >= 2, p
    for ln in p.splitlines():
        if "Exchange" in ln and "hashpartitioning" in ln:
            assert "l_orderkey" not in ln and "o_custkey" not in ln, ln


def test_big_orders_aggregates_then_broadcasts(spark, sf_smoke):
    # M3 (Q18 shape): the fact table's ONLY exchange is the l_orderkey
    # aggregate (map-side combine present); the HAVING-pruned key set
    # and the customer dimension both come back as broadcast joins —
    # the fact side never shuffles on a JOIN key.
    p = plan_of(spark, sf_smoke, "q_big_orders", mode="simple")
    assert p.count("BroadcastHashJoin") == 2, p
    assert "SortMergeJoin" not in p, p
    # partial + final aggregate around the single hashpartitioning
    assert len(re.findall(r"\bHashAggregate\b", p)) >= 2, p
    shuffles = [
        ln
        for ln in p.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(shuffles) == 1 and "l_orderkey" in shuffles[0], shuffles


def test_time_weighted_avg_single_exchange(spark, sf_smoke):
    # K9: the lead window and the per-key aggregate share the hash
    # partitioning on the key — ONE exchange end-to-end, with the
    # partial aggregate running map-side after the window.
    p = plan_of(spark, sf_smoke, "q_time_weighted_avg", mode="simple")
    assert p.count("Exchange") == 1, p
    assert len(re.findall(r"\bHashAggregate\b", p)) >= 2, p


def test_ohlc_is_one_combinable_aggregate(spark, sf_smoke):
    # L9: one exchange on (key, bucket) with a partial aggregate before
    # it (struct min/max plans as SortAggregate — still map-side
    # combinable) and no window operator anywhere.
    p = plan_of(spark, sf_smoke, "q_ohlc", mode="simple")
    assert p.count("Exchange") == 1, p
    assert len(re.findall(r"\b(?:Sort|Hash)Aggregate\b", p)) >= 2, p
    assert "Window" not in p, p


def test_gap_fill_generates_grid_without_a_join(spark, sf_smoke):
    # K10: ticks come from a sequence explode over the tiny bounds
    # aggregate — never a join against a generated calendar table, and
    # no range join between ticks and observations (the carries ride
    # one window sort on the key).
    p = plan_of(spark, sf_smoke, "q_gap_fill")
    assert "Join" not in p, p
    assert "Generate explode" in p or "Generate" in p, p


def test_contamination_score_broadcasts_the_benchmark(spark, sf_smoke):
    # J37: the benchmark shingle set broadcasts; the corpus side's only
    # hashpartitioning exchanges are the per-doc aggregate (and the
    # benchmark's own tiny distinct) — never one keyed on the corpus
    # shingle.
    p = plan_of(spark, sf_smoke, "q_contamination_score")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_small_qty_revenue_decorrelates_without_fact_shuffle(spark, sf_smoke):
    # M5 (Q17 shape): the correlated scalar subquery decorrelates into
    # brand-filter broadcasts into BOTH fact passes + the per-part
    # threshold table broadcast back — the fact's only exchange is the
    # l_partkey aggregate over the filtered subset.
    p = plan_of(spark, sf_smoke, "q_small_qty_revenue", mode="simple")
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    shuffles = [
        ln
        for ln in p.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    assert len(shuffles) == 1 and "l_partkey" in shuffles[0], shuffles


def test_sole_late_supplier_never_self_joins(spark, sf_smoke):
    # M6 (Q21 shape): the EXISTS + NOT-EXISTS pair must decorrelate to
    # aggregation — the fact appears ONCE (no self-join), the supplier
    # dimension broadcasts, and the only exchanges are the three
    # aggregates (pairs, per-order, per-supplier).
    p = plan_of(spark, sf_smoke, "q_sole_late_supplier", mode="simple")
    assert p.count("BroadcastHashJoin") == 1, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 3, p
    # one scan of lineitem only
    assert len(re.findall(r"Scan parquet(?:\s|\[)[^\n]*l_orderkey", p)) <= 1, p


def test_priority_semi_pushes_filter_and_stays_semi(spark, sf_smoke):
    # M4 (Q4/EXISTS shape): the quantity predicate must reach the
    # lineitem scan and the join must stay LEFT SEMI (one probe per
    # order, no join-then-distinct materialization).
    p = plan_of(spark, sf_smoke, "q_priority_semi")
    assert re.search(r"PushedFilters: \[.*GreaterThan\(l_quantity", p), p
    assert "LeftSemi" in p, p
    assert "SortMergeJoin" not in p, p


def test_dedup_incremental_broadcasts_the_batch_side(spark, sf_smoke):
    # J42: the NEW batch's banded signatures broadcast into the stored
    # corpus signature table (the batch is small by definition); the
    # survivor anti-join must not plan as sort-merge.
    p = plan_of(spark, sf_smoke, "q_dedup_incremental", mode="simple")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_semantic_dedup_anti_join_is_hashed(spark, sf_smoke):
    # J38: the survivor anti-join is a HASHED join (shuffle-hash hint;
    # AQE may upgrade to broadcast) — never the sort-merge fallback that
    # static size estimates would otherwise pick.
    p = plan_of(spark, sf_smoke, "q_semantic_dedup", mode="simple")
    assert "SortMergeJoin" not in p, p
    assert "LeftAnti" in p, p


def test_audience_overlap_has_no_self_join(spark, sf_smoke):
    # L21: pair generation must be the map-side set fan-out — the plan
    # may only join the two TINY per-type total tables (broadcast);
    # the distinct (user, type) table never self-joins on the user.
    p = plan_of(spark, sf_smoke, "q_audience_overlap", mode="simple")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    assert p.count("BroadcastHashJoin") == 2, p
    # the only non-broadcast exchanges: user-set agg, pair agg, totals agg
    for ln in p.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "user_id" in ln or "type_a" in ln or "type_b" in ln or "_t" in ln, ln


def test_market_share_star_shape(spark, sf_smoke):
    """M18 (Q8): the deepest star — part/supplier/nation/region ride
    broadcast joins; the region-filtered orders chain is PINNED shuffle
    hash on l_orderkey; never SortMergeJoin; exchanges stay at the join
    pair + the final year aggregate."""
    p = plan_of(spark, sf_smoke, "q_market_share")
    assert "ShuffledHashJoin" in p, p
    assert p.count("BroadcastHashJoin") >= 4, p
    assert "SortMergeJoin" not in p
    assert p.count("Exchange hashpartitioning") <= 3, p


def test_discount_revenue_pushes_all_three_predicates(spark, sf_smoke):
    """M16 (Q6): every predicate reaches the parquet scan and the scan
    reads only the 4 needed columns — at 100 TB this IS the query."""
    p = plan_of(spark, sf_smoke, "q_discount_revenue")
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate", p), p
    assert re.search(r"PushedFilters: \[.*l_discount", p), p
    assert re.search(r"PushedFilters: \[.*LessThan\(l_quantity", p), p
    schema_line = next(ln for ln in p.splitlines() if "ReadSchema" in ln)
    for col in ("l_partkey", "l_suppkey", "l_orderkey", "l_returnflag"):
        assert col not in schema_line, schema_line


def test_product_profit_star_shape(spark, sf_smoke):
    """M19 (Q9): the widget filter reaches the part scan, part and the
    supplier+nation chain broadcast, the orders chain is PINNED shuffle
    hash — the fact is never sort-merged or re-scanned."""
    p = plan_of(spark, sf_smoke, "q_product_profit")
    assert "ShuffledHashJoin" in p, p
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    assert re.search(r"PushedFilters: \[.*StringContains\(p_name,widget", p), p


def test_late_shipments_pushes_dates_single_aggregate(spark, sf_smoke):
    """M20 (Q12): the ship-date band reaches the fact scan; BOTH
    priority counters come from the one 2-row-key aggregate (exactly
    two parquet scans in the whole plan: lineitem and orders — a
    second fact scan would double the IO at 100 TB)."""
    p = plan_of(spark, sf_smoke, "q_late_shipments")
    assert "ShuffledHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate", p), p
    assert p.count("Scan parquet") == 4, p  # 2 scans x (tree + detail)


def test_part_supplier_counts_anti_join_broadcasts(spark, sf_smoke):
    """M21 (Q16): the NOT-IN exclusion decorrelates to a broadcast ANTI
    join (never a shuffle of the offer table against a 6-row list);
    part's residual predicates reach its scan."""
    p = plan_of(spark, sf_smoke, "q_part_supplier_counts")
    assert "LeftAnti" in p, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    assert re.search(r"PushedFilters: \[.*Not\(EqualTo\(p_brand,Brand#13", p), p
    assert re.search(r"PushedFilters: \[.*LessThan\(s_acctbal,0\.0", p), p


def test_dominant_suppliers_window_is_partitioned(spark, sf_smoke):
    """M22 (Q20): the per-part total comes from a window partitioned by
    l_partkey on the ALREADY-AGGREGATED (part, supp) rollup — never a
    global window, never a join-back second scan of the fact; the red
    prefix reaches the part scan."""
    p = plan_of(spark, sf_smoke, "q_dominant_suppliers")
    assert "Window" in p, p
    assert "Exchange SinglePartition" not in p, p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    assert re.search(r"PushedFilters: \[.*StringStartsWith\(p_name,red", p), p
    # exactly two parquet scans of lineitem-or-part feed the qty rollup;
    # the dimension chain adds supplier/nation/region — 5 scans total.
    assert p.count("Scan parquet") == 10, p  # 5 scans x (tree + detail)


def test_bloom_semi_probes_map_side_before_the_exchange(spark, sf_smoke):
    """J65: the Bloom word table is INLINED in the fact filter (the
    probe runs map-side on the scan, before the semi join's exchange)
    and the verify join is the pinned shuffle-hash LeftSemi — never a
    SortMergeJoin, never a broadcast of the fact-sized key set."""
    p = plan_of(spark, sf_smoke, "q_bloom_semi")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p, p
    assert "ShuffledHashJoin" in p and "LeftSemi" in p, p
    # the inlined bitset + probe hashes sit in a Filter condition
    cond = [ln for ln in p.splitlines() if "Condition" in ln and "xxhash64" in ln]
    assert cond and "element_at" in cond[0], p
