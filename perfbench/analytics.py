"""`analytics_suite`: 8 of bench.py's headline batch queries, one closed-loop client.

The ten tables the queries read are generated from the seed into the
work directory with the shapes and value domains of the project's test
data (a TPC-H-like star schema plus `events`, `documents`,
`embeddings`). One client runs the queries one after another, each
materialised through Spark's `noop` sink. The first pass, in a fresh
application, pays the first scans, plan compilation, JIT and Python
worker start-up; it is the warm-up and is reported on its own. The
client then repeats the pass for `--seconds` (at least `MIN_PASSES`
times). Outputs are checked after the timed passes against the DuckDB
twins in `plans/oracles.py` through `tests/parity.py`, on a rotating,
seed-chosen subset of the queries so the check stays cheap.

The client's requests are the queries: each query's latency is its
median over the timed passes, so a burst of host noise during one pass
does not move it, and the end-to-end latencies are percentiles of those
8 medians.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import common

SF = 0.01  # the scale of the project's sf0.01 test data
SETUP_REPS = 3
CHECKS_PER_RUN = 1
#: timed passes run for `--seconds`, and at least this many (3 passes take
#: more than 10 s on 4 cores, so the count is fixed in practice). The
#: first warm pass runs 10-40% slower while the JIT finishes; the median
#: of three drops it, the mean of two would not, and a count that varied
#: with the host's speed would shift every run's latencies with it
MIN_PASSES = 3

#: 8 of bench.py's 32 headline queries, each with the module that does
#: its work; a cold pass plus timed passes of more do not fit one run's
#: share of the benchmark's time budget on 4 cores
SUITE = {
    "q_scan_events": "sources.batch",
    "q_incremental_tail": "operators.incremental",
    "q_revenue_by_segment": "plans.queries",
    "q_spike_dip": "operators.windows",
    "q_adjust_clamp": "operators.eventtime",
    "q_minhash_lsh": "operators.dedup",
    "q_token_count": "operators.text",
    "q_sessionize": "operators.sessions",
}

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
PART_ADJ = "large hot blue old cold red small new".split()
PART_NOUN = "ring bolt plate gear widget rod anvil gizmo".split()
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    start, end = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((end - start).astype(int)) + 1, n)
    return (start + days).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(seed: int, out_dir: str, sf: float = SF) -> None:
    """Write the ten tables as one parquet file each."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_emb = int(15_000 * sf), int(50_000 * sf), max(500, int(20_000 * sf))
    i32 = pa.int32()
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.sort(
                np.datetime64("2024-01-01", "us")
                + rng.integers(0, 30 * 86_400 * 1_000_000, n_ev).astype("timedelta64[us]")
            ),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
        "documents": _documents(rng, n_docs),
        "embeddings": {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(_unit_vectors(rng, n_emb, 64)), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        },
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _unit_vectors(rng, n: int, dim: int) -> np.ndarray:
    v = rng.normal(0.0, 1.0, (n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _documents(rng, n: int) -> dict:
    """Random word salad over a 30-word vocabulary, with 5% near-duplicates
    (another document plus one token) and 0.2% exact copies, the cases
    the dedup operators look for."""
    lengths = rng.integers(10, 101, n)
    words = rng.choice(VOCAB, int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    text = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    kind = rng.random(n)
    src = rng.integers(0, n, n)
    for i in range(n):
        if kind[i] < 0.05 and src[i] != i:
            text[i] = text[src[i]] + " dup"
        elif kind[i] > 0.998 and src[i] != i:
            text[i] = text[src[i]]
    lang = rng.choice(["en", "zh", "es", "fr", "de"], n, p=[0.41, 0.15, 0.15, 0.15, 0.14])
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }


# --------------------------------------------------------------------- run


def setup_once(spark, work: str, data_dir: str):
    """Resolve every table through `load_table` (file listing, footer and
    schema); no job runs, so the cold pass pays the first scans. The first
    set-up also starts the session (and the JVM). Returns (spark, seconds)."""
    from azure_iot_realtime_data_pipeline_spark.sources.batch import TABLES, load_table

    t = time.perf_counter()
    if spark is None:
        spark = common.new_spark(work)
    for name in TABLES:
        load_table(spark, data_dir, name).schema
    return spark, time.perf_counter() - t


def check(spark, data_dir: str, names: list[str]) -> list[str]:
    """Compare each query with its DuckDB twin (row count only without one)."""
    from azure_iot_realtime_data_pipeline_spark.plans.oracles import ORACLES
    from azure_iot_realtime_data_pipeline_spark.plans.queries import QUERIES
    from tests.parity import compare_spark_duckdb

    errors = []
    for name in names:
        df = QUERIES[name](spark, data_dir)
        if name in ORACLES:
            ok, msg = compare_spark_duckdb(df, ORACLES[name], data_dir)
        else:
            rows = df.count()
            ok, msg = rows > 0, f"{rows} rows"
        if not ok:
            errors.append(f"{name}: {msg}")
    return errors


def run_pass(spark, data_dir: str, errors: list[str]) -> dict[str, float]:
    """Each query once, in order; returns the wall time of each that ran."""
    from azure_iot_realtime_data_pipeline_spark.plans.queries import QUERIES

    times = {}
    for name in SUITE:
        t = time.perf_counter()
        try:
            QUERIES[name](spark, data_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - a failed query is a counted outcome
            errors.append(f"{name} failed: {type(e).__name__}: {str(e)[:300]}")
            continue
        finally:
            spark.catalog.clearCache()
        times[name] = time.perf_counter() - t
    return times


def run(spark_box: dict, work: str, seed: int, seconds: int, trace: bool) -> dict:
    """A cold pass as warm-up, then timed passes for `seconds`. Per-query
    times are measured either way, so `trace` only adds the traced run's
    own latency to the per-layer record."""
    phases = {"start": time.time()}
    data_dir = os.path.join(work, "data")
    generate(seed, data_dir)
    phases["generated"] = time.time()

    setups, spark = [], None
    for _ in range(SETUP_REPS):
        spark, took = setup_once(spark, work, data_dir)
        spark_box["spark"] = spark
        setups.append(took)
    phases["setup"] = time.time()

    errors: list[str] = []
    # memory is sampled over the cold pass, where every query first runs and
    # the Python workers start; the warm passes rerun the same plans
    with common.MemorySampler() as mem:
        t = time.perf_counter()
        cold = run_pass(spark, data_dir, errors)
        cold_s = time.perf_counter() - t
    phases["cold"] = time.time()

    passes, pass_s = [], []
    before, jiffies = common.spark_counters(spark), common.cpu_jiffies()
    t0 = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        t = time.perf_counter()
        passes.append(run_pass(spark, data_dir, errors))
        pass_s.append(time.perf_counter() - t)
    steal = common.steal_pct(jiffies, common.cpu_jiffies())
    after = common.spark_counters(spark)
    phases["timed"] = time.time()

    rng = np.random.default_rng(seed)
    checked = sorted(rng.choice(list(SUITE), CHECKS_PER_RUN, replace=False))
    errors += check(spark, data_dir, checked)
    phases["checked"] = time.time()

    # a query that failed in any pass has no latency: it counts as failed
    every = [cold] + passes
    ran = [name for name in SUITE if all(name in p for p in every)]
    latency = {name: common.median([p[name] for p in passes]) for name in ran}
    attempted = len(SUITE) * len(every)
    done = sum(len(p) for p in every)
    e2e = {
        "setup_s": common.median(setups[1:]),
        "peak_pss_mb": mem.peak_mb,
        "latency_p50_s": common.pct(list(latency.values()), 50),
        "latency_p99_s": common.pct(list(latency.values()), 99),
        "delivered_share": len(ran) / len(SUITE),
    }
    layer = {f"query.{n}_s": s for n, s in latency.items()}
    layer.update(
        {
            "query.suite_s": common.median(pass_s),
            "query.cold_suite_s": cold_s,
            "query.passes": float(len(passes)),
            "query.checked": float(len(checked)),
            "setup.first_s": setups[0],
            "host.cpu_steal_pct": steal,
        }
    )
    layer.update(common.counter_delta(before, after))
    if trace:
        layer["trace.latency_p50_s"] = e2e["latency_p50_s"]
    marks = list(phases.items())
    detail = {
        "checked": checked,
        "setups_s": setups,
        "cold_s": cold,
        "passes_s": pass_s,
        "correctness_errors": errors,
        "phases_s": {b[0]: round(b[1] - a[1], 2) for a, b in zip(marks, marks[1:])},
        "host.cpu_steal_pct": steal,
        "steal_over_threshold": steal > common.STEAL_PCT,
        "peak_pss_mb_by_process": {k: round(v) for k, v in mem.peak_by_name.items()},
    }
    return {
        "errors": errors,
        "attempted": attempted,
        "failed": attempted - done,
        "e2e": e2e,
        "layer": layer,
        "detail": detail,
    }
