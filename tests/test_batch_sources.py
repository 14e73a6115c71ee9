"""`load_table`'s schema memo: a table file's schema is inferred once
per file version, and a rewritten file is read with its new schema.
`incremental_tail_scan` reads through the same memo."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from azure_iot_realtime_data_pipeline_spark.operators.incremental import incremental_tail_scan
from azure_iot_realtime_data_pipeline_spark.sources.batch import load_table


def _jobs(spark, group: str, fn):
    """Run fn() under job group `group`; return (its value, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_second_load_of_an_unchanged_file_runs_no_job(spark, sf_smoke, tmp_path):
    shutil.copy(os.path.join(sf_smoke, "events.parquet"), tmp_path / "events.parquet")
    first, first_jobs = _jobs(spark, "load-first", lambda: load_table(spark, str(tmp_path), "events"))
    again, again_jobs = _jobs(spark, "load-again", lambda: load_table(spark, str(tmp_path), "events"))
    assert first_jobs, "the first read infers the schema"
    assert again_jobs == []
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_second_tail_scan_of_an_unchanged_file_runs_no_job(spark, sf_smoke, tmp_path):
    shutil.copy(os.path.join(sf_smoke, "events.parquet"), tmp_path / "events.parquet")

    def scan():
        return incremental_tail_scan(spark, str(tmp_path), "events", "ts", "2024-01-25 00:00:00")

    first, first_jobs = _jobs(spark, "tail-first", scan)
    again, again_jobs = _jobs(spark, "tail-again", scan)
    assert first_jobs, "the first read infers the schema"
    assert again_jobs == []
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def _write(path: str, table: pa.Table, as_dir: bool) -> None:
    if as_dir:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))
    else:
        pq.write_table(table, path)


@pytest.mark.parametrize("as_dir", [False, True], ids=["file", "directory"])
def test_table_rewritten_with_a_new_schema_reads_the_new_schema(spark, tmp_path, as_dir):
    path = str(tmp_path / "t.parquet")
    _write(path, pa.table({"a": [1, 2]}), as_dir)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    _write(path, pa.table({"a": [3], "b": ["x"]}), as_dir)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]
