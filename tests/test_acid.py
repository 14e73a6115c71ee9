"""Manifest-committed parquet table (sources/acid.py): snapshot reads,
atomic commit, file-granular MERGE, crash orphans, vacuum."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from azure_iot_realtime_data_pipeline_spark.sources import acid


def _mk_table(spark, d, n=100, files=4):
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    # range-partitioned write -> files with disjoint key ranges, so the
    # footer-stats file skipping has something to skip
    stats = acid.write_table(df.repartitionByRange(files, "k"), str(d))
    assert stats["files_written"] == files
    return stats


def test_write_read_roundtrip(spark, tmp_path):
    _mk_table(spark, tmp_path / "t", n=50)
    got = {r.k: r.v for r in acid.read_table(spark, str(tmp_path / "t")).collect()}
    assert got == {i: i * 10 for i in range(50)}


def test_merge_rewrites_only_matched_files_and_wins(spark, tmp_path):
    d = str(tmp_path / "t")
    _mk_table(spark, tmp_path / "t", n=100, files=4)
    # updates hit ONLY the lowest range file, plus brand-new keys
    updates = spark.createDataFrame(
        [(3, -1), (7, -2), (200, -3), (201, -4)], "k long, v long"
    )
    stats = acid.merge_upsert(updates, d, key="k")
    assert stats["files_rewritten"] == 1, stats
    assert stats["files_kept"] == 3, stats
    got = {r.k: r.v for r in acid.read_table(spark, d).collect()}
    want = {i: i * 10 for i in range(100)}
    want.update({3: -1, 7: -2, 200: -3, 201: -4})
    assert got == want
    # kept files carried over by NAME (no rewrite): their commit-1 paths
    # are still in the newest manifest
    _, files = acid._current_manifest(d)
    assert sum(f.startswith("commit-00000001/") for f in files) == 3


def test_merge_into_empty_table(spark, tmp_path):
    d = str(tmp_path / "t")
    updates = spark.createDataFrame([(1, 11), (2, 22)], "k long, v long")
    stats = acid.merge_upsert(updates, d, key="k")
    assert stats["version"] == 1 and stats["files_rewritten"] == 0
    got = {r.k: r.v for r in acid.read_table(spark, d).collect()}
    assert got == {1: 11, 2: 22}


def test_empty_updates_are_a_no_op(spark, tmp_path):
    d = str(tmp_path / "t")
    _mk_table(spark, tmp_path / "t", n=10, files=1)
    v0, _ = acid._current_manifest(d)
    empty = spark.createDataFrame([], "k long, v long")
    stats = acid.merge_upsert(empty, d, key="k")
    assert stats["version"] == v0 and stats["updates_rows"] == 0


def test_crash_before_commit_is_invisible_and_vacuumable(spark, tmp_path):
    d = str(tmp_path / "t")
    _mk_table(spark, tmp_path / "t", n=20, files=2)
    before = {r.k: r.v for r in acid.read_table(spark, d).collect()}
    # simulate a writer dying AFTER data-file write, BEFORE manifest
    # commit: the orphan commit dir must be invisible to readers
    doomed = spark.createDataFrame([(0, -999)], "k long, v long")
    orphans = acid._write_commit_files(doomed, d, 99)
    assert orphans
    after = {r.k: r.v for r in acid.read_table(spark, d).collect()}
    assert after == before
    deleted = acid.vacuum(d, min_age_seconds=0)  # single-writer test: no in-flight write
    assert any(f.startswith("commit-00000099/") for f in deleted)
    assert {r.k: r.v for r in acid.read_table(spark, d).collect()} == before


def test_vacuum_retention_drops_replaced_files(spark, tmp_path):
    d = str(tmp_path / "t")
    _mk_table(spark, tmp_path / "t", n=40, files=4)
    acid.merge_upsert(
        spark.createDataFrame([(1, -1)], "k long, v long"), d, key="k"
    )
    acid.merge_upsert(
        spark.createDataFrame([(2, -2)], "k long, v long"), d, key="k"
    )
    deleted = acid.vacuum(d, keep_versions=1, min_age_seconds=0)
    assert deleted  # replaced files + old manifests went away
    got = {r.k: r.v for r in acid.read_table(spark, d).collect()}
    want = {i: i * 10 for i in range(40)}
    want.update({1: -1, 2: -2})
    assert got == want
    # only the newest manifest remains
    manifests = [n for n in os.listdir(d) if n.startswith("manifest-")]
    assert len(manifests) == 1


def test_manifest_commit_is_atomic_rename(spark, tmp_path):
    """The commit file appears fully formed: a reader listing mid-commit
    sees either no manifest-N or a complete one (json-parsable)."""
    d = str(tmp_path / "t")
    _mk_table(spark, tmp_path / "t", n=10, files=1)
    for name in os.listdir(d):
        if name.startswith("manifest-"):
            with open(os.path.join(d, name)) as f:
                m = json.load(f)
            assert m["files"] and all(p.endswith(".parquet") for p in m["files"])
        assert not name.endswith(".tmp")  # no torn commit left behind


def test_merge_drops_null_key_updates(spark, tmp_path):
    """NULL merge keys model a PK violation: dropped up front, never a
    sort/bisect crash (review r7 pass 2)."""
    d = str(tmp_path / "t")
    _mk_table(spark, tmp_path / "t", n=10, files=1)
    updates = spark.createDataFrame(
        [(None, -1), (3, -3)], "k long, v long"
    )
    stats = acid.merge_upsert(updates, d, key="k")
    assert stats["updates_rows"] == 1
    got = {r.k: r.v for r in acid.read_table(spark, d).collect()}
    assert got[3] == -3 and None not in got and len(got) == 10


def test_merge_order_by_resolves_intra_batch_duplicates(spark, tmp_path):
    """ADVICE r7: bare dropDuplicates([key]) picks an ARBITRARY row when
    an updates batch carries several rows per key. With order_by the
    largest ordering value must win deterministically, NULL ordering
    values losing to timestamped rows."""
    d = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, i * 10, 0) for i in range(5)], "k long, v long, seq long"
    )
    acid.write_table(base.coalesce(1), d)
    updates = spark.createDataFrame(
        [(3, -30, 10), (3, -99, 20), (3, -7, None), (4, -40, 1)],
        "k long, v long, seq long",
    )
    stats = acid.merge_upsert(updates, d, key="k", order_by="seq")
    assert stats["updates_rows"] == 2
    got = {r.k: r.v for r in acid.read_table(spark, d).select("k", "v").collect()}
    assert got[3] == -99  # seq=20 wins over seq=10 and seq=NULL
    assert got[4] == -40
    assert len(got) == 5


def test_manifest_carries_stats_for_file_skipping(spark, tmp_path):
    """Commit-time stats ride in the manifest so merges skip files
    without footer reads; kept files' stats carry forward across
    versions (review r7 pass 2)."""
    d = str(tmp_path / "t")
    _mk_table(spark, tmp_path / "t", n=100, files=4)
    m = acid._read_manifest(d)
    assert m["stats"] and all("k" in s for s in m["stats"].values())
    acid.merge_upsert(
        spark.createDataFrame([(1, -1)], "k long, v long"), d, key="k"
    )
    m2 = acid._read_manifest(d)
    # every listed file still has key stats (kept: carried; new: computed)
    assert set(m2["stats"]) == set(m2["files"])
    assert all("k" in s for s in m2["stats"].values())
    # and skipping still classifies correctly off the carried stats
    s3 = acid.merge_upsert(
        spark.createDataFrame([(99, -99)], "k long, v long"), d, key="k"
    )
    assert s3["files_rewritten"] + s3["files_kept"] == len(m2["files"])
    assert 1 <= s3["files_rewritten"] < len(m2["files"])  # skipping worked


def test_vacuum_min_age_spares_young_orphans(spark, tmp_path):
    d = str(tmp_path / "t")
    _mk_table(spark, tmp_path / "t", n=10, files=1)
    doomed = spark.createDataFrame([(0, -9)], "k long, v long")
    acid._write_commit_files(doomed, d, 99)
    spared = acid.vacuum(d, min_age_seconds=3600)
    assert not any(f.startswith("commit-00000099/") for f in spared)
    gone = acid.vacuum(d, min_age_seconds=0)
    assert any(f.startswith("commit-00000099/") for f in gone)


def test_read_table_prunes_files_by_manifest_stats(spark, tmp_path):
    """key_between prunes at the FILE level off manifest stats, and the
    row-level filter keeps semantics exact (pruning is an optimization,
    never a correctness lever)."""
    d = str(tmp_path / "t")
    _mk_table(spark, tmp_path / "t", n=100, files=4)
    got = {
        r.k for r in acid.read_table(spark, d, key_between=("k", 30, 44)).collect()
    }
    assert got == set(range(30, 45))
    # out-of-range probe: zero files overlap, empty result, right schema
    none = acid.read_table(spark, d, key_between=("k", 1000, 2000))
    assert none.count() == 0 and set(none.columns) == {"k", "v"}


def test_write_table_cluster_by_tightens_stats(spark, tmp_path):
    """cluster_by yields disjoint per-file key ranges in the manifest."""
    d = str(tmp_path / "t")
    df = spark.range(100).select(
        (F.col("id") * 37 % 100).alias("k"), F.col("id").alias("v")
    ).repartition(4)
    acid.write_table(df, d, cluster_by="k")
    m = acid._read_manifest(d)
    ranges = sorted(tuple(s["k"]) for s in m["stats"].values() if "k" in s)
    assert len(ranges) >= 2
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo  # disjoint: clustering worked


def test_zorder_write_prunes_on_both_dims(spark, tmp_path):
    """zorder_by=[x, y]: a 2-D box read must (a) return exactly the
    full-scan filter result and (b) SKIP files via manifest stats on
    the multi-constraint prune — while the same table clustered
    linearly on x alone prunes nothing for a y-only box. The reason
    multi-dim layouts exist."""
    dz = str(tmp_path / "tz")
    dl = str(tmp_path / "tl")
    # 2-D grid with independent dims: 64x64 points
    df = (
        spark.range(4096)
        .select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"),
        )
        .repartition(16)
    )
    acid.write_table(df, dz, zorder_by=["x", "y"])
    acid.write_table(df, dl, cluster_by="x")
    mz = acid._read_manifest(dz)
    assert len(mz["files"]) >= 8  # enough files for pruning to mean anything

    box = [("x", 0, 15), ("y", 0, 15)]
    got = sorted(
        (r.x, r.y) for r in acid.read_table(spark, dz, key_between=box).collect()
    )
    want = sorted(
        (r.x, r.y)
        for r in df.filter((F.col("x") <= 15) & (F.col("y") <= 15)).collect()
    )
    assert got == want and len(got) == 256

    def surviving(manifest, constraints):
        return [
            f
            for f in manifest["files"]
            if not any(
                (rng := manifest["stats"].get(f, {}).get(c)) is not None
                and (rng[1] < lo or rng[0] > hi)
                for c, lo, hi in constraints
            )
        ]

    # the 1/16-area box must skip at least half the z-ordered files
    assert len(surviving(mz, box)) <= len(mz["files"]) // 2
    # z-order also prunes on EACH single dim; linear-on-x cannot prune y
    ml = acid._read_manifest(dl)
    assert len(surviving(mz, [("y", 0, 7)])) < len(mz["files"])
    assert len(surviving(ml, [("y", 0, 7)])) == len(ml["files"])
    # and the linear table still answers the box correctly (row filter)
    got_l = sorted(
        (r.x, r.y) for r in acid.read_table(spark, dl, key_between=box).collect()
    )
    assert got_l == want


def test_zorder_rejects_cluster_by_combo_and_handles_nulls(spark, tmp_path):
    """cluster_by + zorder_by is a contract error; NULL dims bucketize
    to cell 0 and survive the roundtrip."""
    d = str(tmp_path / "tn")
    df = spark.createDataFrame(
        [(None, 1), (5, None), (3, 4)], "x int, y int"
    )
    with pytest.raises(ValueError):
        acid.write_table(df, d, cluster_by="x", zorder_by=["x", "y"])
    acid.write_table(df, d, zorder_by=["x", "y"])
    rows = sorted(
        ((r.x, r.y) for r in acid.read_table(spark, d).collect()),
        key=str,
    )
    assert len(rows) == 3
    # the cell-0 contract itself: F.least() SKIPS null operands, so a
    # NULL dim must be coalesced to 0 before least() — the review-r7
    # regression had least(255, NULL)=255 sending NULL rows to the max
    # corner (z=21845 / 65535 instead of the min-corner values below).
    z = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", acid._zorder_value(df, ["x", "y"]).alias("z")
        ).collect()
    }
    assert z[(None, 1)] == 0  # x NULL -> cell 0; y at its min -> cell 0
    assert z[(5, None)] == 0b0101010101010101  # x at max (cell 255), y NULL -> 0
    assert z[(3, 4)] == 0b1010101010101010  # x at min -> 0, y at max -> 255


def test_read_table_with_empty_constraint_list_is_plain_read(spark, tmp_path):
    """key_between=[] (a caller whose optional filters all collapsed)
    must degrade to the unfiltered read, not crash on filter(None)."""
    d = str(tmp_path / "te")
    df = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    acid.write_table(df, d)
    assert acid.read_table(spark, d, key_between=[]).count() == 2


def test_time_travel_reads_each_retained_version(spark, tmp_path):
    """read_table(version=N) returns exactly version N's snapshot:
    immutable data files + per-version manifests make every retained
    version a complete consistent table; merges on top never disturb
    older snapshots; table_history lists them newest-first."""
    d = str(tmp_path / "t")
    _mk_table(spark, tmp_path / "t", n=20, files=2)  # version 1
    acid.merge_upsert(
        spark.createDataFrame([(3, -1)], "k long, v long"), d, key="k"
    )  # version 2
    acid.merge_upsert(
        spark.createDataFrame([(3, -2), (100, 5)], "k long, v long"), d, key="k"
    )  # version 3
    v1 = {r.k: r.v for r in acid.read_table(spark, d, version=1).collect()}
    v2 = {r.k: r.v for r in acid.read_table(spark, d, version=2).collect()}
    v3 = {r.k: r.v for r in acid.read_table(spark, d).collect()}
    base = {i: i * 10 for i in range(20)}
    assert v1 == base
    assert v2 == {**base, 3: -1}
    assert v3 == {**base, 3: -2, 100: 5}
    hist = acid.table_history(d)
    assert [h["version"] for h in hist] == [3, 2, 1]
    assert all(h["n_files"] >= 1 for h in hist)
    # version constraints compose with stats pruning
    got = {
        r.k: r.v
        for r in acid.read_table(
            spark, d, key_between=("k", 0, 5), version=2
        ).collect()
    }
    assert got == {0: 0, 1: 10, 2: 20, 3: -1, 4: 40, 5: 50}


def test_time_travel_past_retention_raises(spark, tmp_path):
    """Vacuum's keep_versions bounds history depth: a vacuumed-past
    version's manifest is gone and read_table(version=...) says so
    instead of resurrecting a torn file list."""
    d = str(tmp_path / "t")
    _mk_table(spark, tmp_path / "t", n=10, files=1)
    acid.merge_upsert(
        spark.createDataFrame([(1, -1)], "k long, v long"), d, key="k"
    )
    acid.vacuum(d, keep_versions=1)
    with pytest.raises(FileNotFoundError, match="version 1"):
        acid.read_table(spark, d, version=1)
    assert [h["version"] for h in acid.table_history(d)] == [2]
    with pytest.raises(FileNotFoundError, match="version 9"):
        acid.read_table(spark, d, version=9)


def test_optimize_compacts_small_files_preserving_content(spark, tmp_path):
    """OPTIMIZE analog: many small files collapse into few in one
    commit; content identical; big files carry over by name with their
    stats (key pruning still works); the pre-optimize snapshot stays
    readable via time travel; a second optimize is a version-stable
    no-op."""
    d = str(tmp_path / "t")
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    acid.write_table(df.repartition(8), d)  # 8 small files
    v1_files = set(acid._current_manifest(d)[1])
    assert len(v1_files) == 8
    stats = acid.optimize(spark, d, small_file_bytes=1 << 20)
    assert stats["version"] == 2
    assert stats["files_compacted"] == 8 and stats["files_written"] == 1
    got = {r.k: r.v for r in acid.read_table(spark, d).collect()}
    assert got == {i: i * 2 for i in range(200)}
    # pre-optimize snapshot intact
    old = {r.k: r.v for r in acid.read_table(spark, d, version=1).collect()}
    assert old == got
    # stats present for the new file: key pruning still prunes
    m = acid._read_manifest(d)
    assert all("k" in m["stats"][f] for f in m["files"])
    # second optimize: single file left, nothing to do, version stable
    stats2 = acid.optimize(spark, d, small_file_bytes=1 << 20)
    assert stats2 == {
        "version": 2, "files_compacted": 0, "files_written": 0,
    }


def test_optimize_leaves_big_files_alone(spark, tmp_path):
    """Files at/above the small threshold carry over by name — optimize
    cost scales with the small fraction, not the table."""
    d = str(tmp_path / "t")
    df = spark.range(100).select(F.col("id").alias("k"), F.col("id").alias("v"))
    acid.write_table(df.repartition(4), d)
    before = acid._current_manifest(d)[1]
    # threshold of 0 bytes: nothing is "small", no-op
    stats = acid.optimize(spark, d, small_file_bytes=0)
    assert stats["files_compacted"] == 0
    assert acid._current_manifest(d)[1] == before


def test_commit_conflict_put_if_absent(spark, tmp_path):
    """Two writers racing to the same version: the second _commit of
    version N raises CommitConflict instead of silently clobbering the
    winner (the r8 lost-update scenario)."""
    d = str(tmp_path / "t")
    _mk_table(spark, tmp_path / "t", n=10, files=1)
    v, files = acid._current_manifest(d)
    acid._commit(d, v + 1, files)  # winner takes v+1
    with pytest.raises(acid.CommitConflict, match=f"version {v + 1}"):
        acid._commit(d, v + 1, files)  # loser must NOT overwrite
    # the winner's manifest is intact and parsable
    with open(os.path.join(d, f"manifest-{v + 1}.json")) as f:
        assert json.load(f)["version"] == v + 1


def test_merge_retries_past_conflicting_commit(spark, tmp_path):
    """A manifest committed between merge's read and its commit (the
    interleaved-writer race) makes merge re-derive against the NEW
    newest manifest and land on the version after it — with the
    conflicting commit's rows preserved, not lost."""
    d = str(tmp_path / "t")
    _mk_table(spark, tmp_path / "t", n=20, files=2)

    orig_read = acid._read_manifest
    fired = {"n": 0}

    def race_once(table_dir, version=None):
        m = orig_read(table_dir, version)
        # after merge resolves v1, a concurrent writer lands v2 adding
        # key 500 — exactly once, on the first (pre-derive) read
        if fired["n"] == 0 and version is None and table_dir == d:
            fired["n"] = 1
            other = spark.createDataFrame([(500, -500)], "k long, v long")
            new = acid._write_commit_files(other, d, m["version"] + 1)
            acid._commit(
                d, m["version"] + 1, m["files"] + new,
                {**m["stats"], **acid._stats_for_files(d, new)},
                layout=m["layout"],
            )
        return m

    acid._read_manifest = race_once
    try:
        stats = acid.merge_upsert(
            spark.createDataFrame([(1, -1)], "k long, v long"), d, key="k"
        )
    finally:
        acid._read_manifest = orig_read
    assert stats["version"] == 3  # v2 was taken by the racer; merge retried
    got = {r.k: r.v for r in acid.read_table(spark, d).collect()}
    want = {i: i * 10 for i in range(20)}
    want.update({1: -1, 500: -500})  # BOTH writers' rows survive
    assert got == want


def test_optimize_retries_past_conflicting_commit(spark, tmp_path):
    """optimize() uses the same bounded CommitConflict retry as merge:
    a concurrent commit between its read and its commit makes it
    re-derive (re-deciding which files are small) and land after the
    racer, with the racer's rows intact."""
    d = str(tmp_path / "t")
    df = spark.range(50).select(F.col("id").alias("k"), F.col("id").alias("v"))
    acid.write_table(df.repartition(4), d)

    orig_read = acid._read_manifest
    fired = {"n": 0}

    def race_once(table_dir, version=None):
        m = orig_read(table_dir, version)
        if fired["n"] == 0 and version is None and table_dir == d:
            fired["n"] = 1
            other = spark.createDataFrame([(900, -900)], "k long, v long")
            new = acid._write_commit_files(other, d, m["version"] + 1)
            acid._commit(
                d, m["version"] + 1, m["files"] + new,
                {**m["stats"], **acid._stats_for_files(d, new)},
                layout=m["layout"],
            )
        return m

    acid._read_manifest = race_once
    try:
        stats = acid.optimize(spark, d, small_file_bytes=1 << 20)
    finally:
        acid._read_manifest = orig_read
    assert stats["version"] == 3 and stats["files_compacted"] >= 4
    got = {r.k: r.v for r in acid.read_table(spark, d).collect()}
    want = {i: i for i in range(50)}
    want[900] = -900  # the racer's row survived the compaction retry
    assert got == want


def test_write_table_retries_past_conflicting_commit(spark, tmp_path):
    """CTAS losing the version race re-commits its already-written
    files at the new head — no rewrite, no CommitConflict escape."""
    d = str(tmp_path / "t")
    _mk_table(spark, tmp_path / "t", n=10, files=1)
    v, files = acid._current_manifest(d)
    acid._commit(d, v + 1, files)  # steal the next version slot
    df = spark.range(5).select(F.col("id").alias("k"), F.col("id").alias("v"))
    stats = acid.write_table(df.coalesce(1), d)
    assert stats["version"] == v + 2
    assert {r.k for r in acid.read_table(spark, d).collect()} == set(range(5))


def test_optimize_preserves_cluster_layout_and_pruning(spark, tmp_path):
    """Compacting a cluster_by table must re-cluster the compacted
    content and carry the layout record forward — key_between pruning
    still skips files after OPTIMIZE (r9 ADVICE: a bare coalesce
    smeared every output file across the whole key domain)."""
    d = str(tmp_path / "t")
    df = spark.range(4000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    acid.write_table(df.repartition(8), d, cluster_by="k")
    # tiny target so the compaction yields SEVERAL output files — the
    # pruning assertion below is meaningless with one file
    stats = acid.optimize(
        spark, d, small_file_bytes=1 << 20, target_file_bytes=8 * 1024
    )
    assert stats["files_compacted"] == 8 and stats["files_written"] >= 3
    m = acid._read_manifest(d)
    assert m["layout"] == {"cluster_by": "k"}  # record carried forward
    # each post-optimize file covers a tight disjoint range: a narrow
    # key_between must prune most files
    ranges = [m["stats"][f]["k"] for f in m["files"]]
    hits = [r for r in ranges if not (r[1] < 0 or r[0] > 50)]
    assert len(hits) == 1, ranges
    got = sorted(
        r.k for r in acid.read_table(spark, d, key_between=("k", 0, 50)).collect()
    )
    assert got == list(range(51))


def test_optimize_preserves_zorder_layout(spark, tmp_path):
    """Same for the multi-column Morton layout: the layout record and
    two-dimensional pruning survive a compaction."""
    d = str(tmp_path / "t")
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    acid.write_table(df.repartition(8), d, zorder_by=["x", "y"])
    stats = acid.optimize(
        spark, d, small_file_bytes=1 << 20, target_file_bytes=2 * 1024
    )
    assert stats["files_compacted"] == 8 and stats["files_written"] >= 4
    m = acid._read_manifest(d)
    assert m["layout"] == {"zorder_by": ["x", "y"]}
    box = [("x", 0, 7), ("y", 0, 7)]
    pruned = [
        f for f in m["files"]
        if not any(
            m["stats"][f][c][1] < lo or m["stats"][f][c][0] > hi
            for c, lo, hi in box
        )
    ]
    assert len(pruned) < len(m["files"])  # the box does NOT touch all files
    got = {
        (r.x, r.y)
        for r in acid.read_table(spark, d, key_between=box).collect()
    }
    assert got == {(x, y) for x in range(8) for y in range(8)}


def test_merge_schema_evolution_copy_on_evolve(spark, tmp_path):
    """schema_evolution=True: a batch with a NEW column evolves the
    table to the union schema via a full rewrite (every file on the new
    schema — readers never see mixed-schema parquet); missing columns
    fill NULL on both sides. Without the flag, a differing column set
    raises instead of silently evolving (the Delta default)."""
    d = str(tmp_path / "t")
    _mk_table(spark, tmp_path / "t", n=20, files=2)
    evolved = spark.createDataFrame(
        [(1, -1, "alpha"), (500, -500, "beta")], "k long, v long, tag string"
    )
    with pytest.raises(ValueError, match="schema_evolution=True"):
        acid.merge_upsert(evolved, d, key="k")
    stats = acid.merge_upsert(evolved, d, key="k", schema_evolution=True)
    assert stats["files_kept"] == 0  # copy-on-evolve rewrites everything
    got = {r.k: (r.v, r.tag) for r in acid.read_table(spark, d).collect()}
    assert got[1] == (-1, "alpha") and got[500] == (-500, "beta")
    assert got[5] == (50, None)  # untouched rows gain a NULL tag
    assert len(got) == 21
    # post-evolve merges on the union schema skip files again
    s2 = acid.merge_upsert(
        spark.createDataFrame([(2, -2, None)], "k long, v long, tag string"),
        d, key="k",
    )
    assert s2["files_kept"] >= 0  # plain merge path, no raise
    # a batch MISSING a column also needs the flag, then fills NULL
    s3 = acid.merge_upsert(
        spark.createDataFrame([(3, -3)], "k long, v long"),
        d, key="k", schema_evolution=True,
    )
    assert s3["version"] == stats["version"] + 2
    got3 = {r.k: (r.v, r.tag) for r in acid.read_table(spark, d).collect()}
    assert got3[3] == (-3, None)


def test_table_changes_cdc_feed(spark, tmp_path):
    """Delta-CDF analog: the change feed between two snapshots comes
    from the DIFFERING files only, classifies insert/update/delete by
    key, tags images with the Delta column convention, and an
    OPTIMIZE-only version pair (identical rows shuffled between files)
    yields an EMPTY feed."""
    d = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    acid.write_table(df.repartitionByRange(4, "k"), d)  # v1
    acid.merge_upsert(
        spark.createDataFrame([(7, -7), (500, 1)], "k long, v long"),
        d, key="k",
    )  # v2: update k=7, insert k=500

    ch = acid.table_changes(spark, d, 1, 2, key="k")
    by_type = {
        (r["_change_type"], r.k): r.v for r in ch.collect()
    }
    assert by_type == {
        ("insert", 500): 1,
        ("update_preimage", 7): 70,
        ("update_postimage", 7): -7,
    }
    assert {r["_commit_version"] for r in ch.collect()} == {2}

    # OPTIMIZE produces no row changes: feed between v2 and v3 is empty
    acid.optimize(spark, d, small_file_bytes=1 << 20)  # v3 compaction
    assert acid.table_changes(spark, d, 2, 3, key="k").count() == 0
    # and the full span v1 -> v3 equals the v1 -> v2 changes
    span = {
        (r["_change_type"], r.k): r.v
        for r in acid.table_changes(spark, d, 1, 3, key="k").collect()
    }
    assert span == by_type

    # the feed works ACROSS a schema evolution: old-side rows align to
    # the union schema with NULLs, unchanged rows still cancel
    acid.merge_upsert(
        spark.createDataFrame([(8, -8, "t")], "k long, v long, tag string"),
        d, key="k", schema_evolution=True,
    )  # v4
    ch4 = {
        (r["_change_type"], r.k): (r.v, r.tag)
        for r in acid.table_changes(spark, d, 3, 4, key="k").collect()
    }
    assert ch4 == {
        ("update_preimage", 8): (80, None),
        ("update_postimage", 8): (-8, "t"),
    }


def test_multiprocess_writer_race_soak(spark, tmp_path):
    """Cross-PROCESS writer race (r10 verdict #7): the in-process race
    tests above interleave via monkeypatched reads; this soak puts the
    put-if-absent `os.link` commit under two REAL OS processes — each
    with its own JVM — doing append/merge/optimize on one table, and
    asserts no lost rows and a linear (contiguous, single-writer-per-
    version) manifest history. The workers gate on each other's ready
    file after Spark init so their commit windows genuinely overlap.

    Launch-vs-invariant separation (r12 verdict #1: one in-suite flake,
    worker rc=1, passed isolated — two EXTRA JVMs starting while the
    session JVM is under 32-way suite load): the worker now exits with
    DISTINCT codes for environment failures — 7 when Spark/JVM init
    itself fails (before any table access), 8 when the peer never
    became ready (i.e. the peer's launch failed or stalled) — and the
    test retries those, in a FRESH table dir, up to 3 attempts,
    printing the failed attempt's stderr so the mechanism stays on the
    record. Any other nonzero rc is a commit-invariant failure and
    stays a strict immediate assert; the lost-rows / linear-history
    asserts below are unchanged."""
    import subprocess
    import sys
    import textwrap

    worker_src = textwrap.dedent(
        """
        import os, sys, time, traceback
        d, w, sync, root = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
        sys.path.insert(0, root)
        try:
            from pyspark.sql import SparkSession, functions as F
            spark = (SparkSession.builder.master("local[2]")
                     .appName(f"race-worker-{w}")
                     .config("spark.sql.shuffle.partitions", "2")
                     .config("spark.ui.enabled", "false")
                     .config("spark.driver.memory", "2g").getOrCreate())
            from azure_iot_realtime_data_pipeline_spark.sources import acid
        except BaseException:
            traceback.print_exc()
            sys.exit(7)  # JVM/gateway launch failure: environment, retriable
        open(os.path.join(sync, f"ready-{w}"), "w").close()
        deadline = time.monotonic() + 120
        other = os.path.join(sync, f"ready-{1 - w}")
        while not os.path.exists(other):
            if time.monotonic() > deadline:
                print(f"worker {w}: peer never became ready", file=sys.stderr)
                sys.exit(8)  # peer launch failure/stall: retriable
            time.sleep(0.1)
        base = (w + 1) * 100000
        for i in range(3):
            rows = [(base + i * 100 + j, (base + i * 100 + j) * 2)
                    for j in range(10)]
            df = spark.createDataFrame(rows, "k long, v long").coalesce(1)
            acid.append_table(df, d)
        upd = spark.createDataFrame(
            [(base + j, -(base + j)) for j in range(5)], "k long, v long"
        )
        acid.merge_upsert(upd, d, key="k")
        acid.optimize(spark, d, small_file_bytes=1 << 20)
        print(f"worker {w} done")
        """
    )
    script = tmp_path / "race_worker.py"
    script.write_text(worker_src)
    # the workers import the package of the checkout this test runs from
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2"}

    attempts = 3
    d = None
    for attempt in range(attempts):
        d = str(tmp_path / f"t{attempt}")
        sync = tmp_path / f"sync{attempt}"
        sync.mkdir()
        _mk_table(spark, tmp_path / f"t{attempt}", n=20, files=2)
        procs = [
            subprocess.Popen(
                [sys.executable, str(script), d, str(w), str(sync), root],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env,
            )
            for w in (0, 1)
        ]
        outs = [p.communicate(timeout=300) for p in procs]
        rcs = [p.returncode for p in procs]
        if all(rc == 0 for rc in rcs):
            break
        if all(rc in (0, 7, 8) for rc in rcs):
            # JVM launch under suite load failed — a property of the
            # host (two extra JVMs vs a 32-way-loaded session JVM),
            # not of the commit protocol. Record the evidence, retry
            # against a fresh table.
            for w, (out, err) in enumerate(outs):
                if rcs[w] != 0:
                    print(
                        f"# race-soak attempt {attempt}: worker {w} "
                        f"launch-failed rc={rcs[w]}:\n"
                        + err.decode()[-2000:]
                    )
            if attempt == attempts - 1:
                pytest.fail(
                    f"worker JVM launch failed {attempts} consecutive "
                    f"attempts (rcs {rcs}) — not load flake territory"
                )
            continue
        for p, (out, err) in zip(procs, outs):
            # commit-invariant failure: strict, with the stderr's first
            # exception lines (the tail alone may hold only stack frames)
            # and its tail
            err = err.decode()
            raised = [
                ln for ln in err.splitlines()
                if re.search(r"Exception|Error|Caused by:", ln)
            ][:20]
            assert p.returncode == 0, (out.decode()[-500:], raised, err[-2000:])

    # no lost rows: parent baseline + both workers' appends, with each
    # worker's merge applied — regardless of commit interleaving
    got = {r.k: r.v for r in acid.read_table(spark, d).collect()}
    want = {i: i * 10 for i in range(20)}
    for w in (0, 1):
        base = (w + 1) * 100000
        for i in range(3):
            for j in range(10):
                k = base + i * 100 + j
                want[k] = k * 2
        for j in range(5):
            want[base + j] = -(base + j)
    assert got == want

    # linear history: 1 (create) + 2 workers x (3 appends + merge)
    # commits always land; each optimize commits unless the OTHER
    # worker's optimize already left <2 small files (the documented
    # no-op) — so 10 or 11 contiguous versions, never a gap and never
    # a duplicate
    versions = sorted(
        h["version"] for h in acid.table_history(d)
    )
    assert versions == list(range(1, len(versions) + 1)), versions
    assert 10 <= len(versions) <= 11, versions
    for v in versions:  # every manifest parsable and self-consistent
        m = acid._read_manifest(d, v)
        assert m["version"] == v and m["files"]
