"""Run every oracle-checked query at an arbitrary SF and compare with DuckDB.

Usage: python scripts/parity_full.py [sf_dir]
Mirrors the driver's CORRECTNESS gate but at a scale of our choosing; the
driver itself only checks sf0.01, so this catches scale-dependent divergence
(ties broken differently at larger cardinality, overflow, skew paths).
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tests.parity import compare_spark_duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from azure_iot_realtime_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark()
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in queries.items():
        sql = oracles.get(name)
        if sql is None:
            continue
        t0 = time.time()
        try:
            ok, msg = compare_spark_duckdb(fn(spark, sf_dir), sql, sf_dir)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"exception: {e}"
        dt = time.time() - t0
        print(f"{'PASS' if ok else 'FAIL'} {name} ({dt:.1f}s) {'' if ok else msg}")
        if not ok:
            failures.append(name)
    print(f"\n{len(failures)} failures of {len(oracles)} oracle-checked queries")
    for f in failures:
        print(f"  FAIL {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
