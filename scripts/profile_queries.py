"""Isolated per-query profiler for the optimization rounds.

Usage: python scripts/profile_queries.py [--sf DIR] [--reps N] [--plans OUTDIR] q1 q2 ...
       python scripts/profile_queries.py --all            # every registered query, 1 rep
       python scripts/profile_queries.py --top N          # N slowest from bench_full.json

For each query, in ONE warm session (same warm-up discipline as bench.py):
  build  = query construction time: the Python DSL plus whatever Spark
           jobs the builders run eagerly (a first read's schema
           inference, eager `localCheckpoint`s, driver-side scalars)
  plan   = analysis + optimization + physical planning (executedPlan force)
  exec   = noop-sink materialization of a built query (median of reps,
           min in parens)
and the number of Spark jobs each phase launches, counted from the
status tracker under one job group per phase: `jobs=build:F,W plan:P
exec:E` gives the first build's jobs (F; the first read of a table
file infers its schema) and a warm rebuild's (W), then those of
planning and of one exec rep. Optionally dumps .explain("formatted")
to --plans OUTDIR/<name>.txt.

This separates driver/Catalyst overhead from cluster execution — the
split bench.py's single wall number cannot show (guide section 1).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from azure_iot_realtime_data_pipeline_spark.plans.queries import QUERIES
from azure_iot_realtime_data_pipeline_spark.session import get_spark


def _median(samples: list[float]) -> float:
    s = sorted(samples)
    n = len(s)
    return s[n // 2] if n % 2 else round((s[n // 2 - 1] + s[n // 2]) / 2, 3)


def _jobs_in(sc, group: str, fn):
    """Run fn() under job group `group`; return (its value, jobs launched)."""
    sc.setJobGroup(group, group)
    try:
        return fn(), len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = 3
    plans_dir = None
    names: list[str] = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif a == "--reps":
            reps = int(args[i + 1])
            i += 2
        elif a == "--plans":
            plans_dir = args[i + 1]
            i += 2
        elif a == "--all":
            names = list(QUERIES)
            i += 1
        elif a == "--top":
            full = json.load(open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench_full.json")))
            qa = full.get("queries_all", {})
            names = [n for n, _ in sorted(qa.items(), key=lambda kv: -kv[1])[: int(args[i + 1])]]
            i += 2
        else:
            names.append(a)
            i += 1
    if plans_dir:
        os.makedirs(plans_dir, exist_ok=True)

    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    warm_sf = os.environ.get("SPARK_GRAFT_WARM_SF_DIR", "/root/testdata/sf0.001")
    for name in names:
        try:
            QUERIES[name](spark, warm_sf).write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001
            pass
        spark.catalog.clearCache()

    sc = spark.sparkContext
    rows = []
    for name in names:
        t0 = time.perf_counter()
        df, j_build = _jobs_in(sc, f"profile:{name}:build", lambda: QUERIES[name](spark, sf_dir))
        t_build = time.perf_counter() - t0
        t0 = time.perf_counter()
        _, j_plan = _jobs_in(
            sc, f"profile:{name}:plan", df._jdf.queryExecution().executedPlan  # noqa: SLF001
        )
        t_plan = time.perf_counter() - t0
        if plans_dir:
            plan_txt = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                f.write(plan_txt)
        execs = []
        for rep in range(reps):
            q, j_warm = _jobs_in(
                sc, f"profile:{name}:build{rep}", lambda: QUERIES[name](spark, sf_dir)
            )
            t0 = time.perf_counter()
            _, j_exec = _jobs_in(
                sc, f"profile:{name}:exec{rep}",
                q.write.format("noop").mode("overwrite").save,
            )
            execs.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        rows.append((name, t_build, t_plan, _median(execs), min(execs)))
        print(
            f"{name:34s} build={t_build:6.3f}s plan={t_plan:6.3f}s "
            f"exec_med={_median(execs):6.3f}s exec_min={min(execs):6.3f}s n={reps} "
            f"jobs=build:{j_build},{j_warm} plan:{j_plan} exec:{j_exec}",
            flush=True,
        )
    total = sum(r[3] for r in rows)
    print(f"# total exec_med over {len(rows)} queries: {total:.3f}s")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
