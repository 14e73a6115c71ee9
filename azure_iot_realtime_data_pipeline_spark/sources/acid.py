"""Manifest-committed parquet table: MERGE without delta-spark.

The reference's Devices sink is a keyed UPSERT into SQL with a primary
key (reference iot-stream-analytics-query.sql:53-61; PK DDL
README.MD:159-165). The Spark-native equivalent is Delta's
``MERGE INTO``, but delta-spark has been absent from this environment
every round (pip-verified r3–r7), so the F7 stand-in was an append-only
anti-join (first-write-wins, no updates). This module closes the gap
with a minimal own implementation of the same storage contract:

- A TABLE is a directory of immutable parquet data files plus a
  MANIFEST (``manifest-<version>.json``) naming the member files.
  Readers resolve the highest-version manifest and read exactly those
  files; writers never mutate or delete a listed file, so every reader
  sees a consistent snapshot regardless of concurrent commits.
- COMMIT is one atomic rename (``os.replace``) of the next manifest —
  the same commit primitive Delta/Iceberg use. A crash before the
  rename leaves the previous version fully intact; data files written
  for the failed commit are unreferenced orphans, never read, and
  swept by :func:`vacuum`.
- APPEND (:func:`append_table`) commits a batch as new data files laid
  out per the table's recorded clustering while every existing file
  carries over by name — batch-sized cost, the incremental-ingest
  primitive.
- MERGE (:func:`merge_upsert`: update matched keys, insert new ones)
  rewrites ONLY the data files whose footer key statistics
  ([min, max] per file, read driver-side from parquet metadata — no
  data scan) can contain a matched key: file-granular copy-on-write,
  exactly Delta's data-skipping rewrite. Untouched files carry over
  into the new manifest by name, so merge cost scales with the touched
  fraction, not the table — the property that matters when the
  dimension is TBs and the batch touches one device partition.

Concurrency is Delta-style OPTIMISTIC: the manifest commit is
put-if-absent (``os.link`` of a private tmp onto the final name — an
atomic create-exclusive on POSIX), so two writers racing to commit the
same version cannot silently clobber each other; the loser gets
:class:`CommitConflict`. :func:`merge_upsert` and :func:`optimize`
catch the conflict, re-resolve the newest manifest and re-derive their
commit against it (bounded retries) — exactly the read-check-rewrite
loop Delta's OptimisticTransaction runs. Data files of a failed attempt
are unreferenced orphans swept by :func:`vacuum`. (r8 ADVICE: the
previous ``os.replace`` commit let a concurrent OPTIMIZE overwrite a
merge's manifest of the same version — a lost update.)
"""

from __future__ import annotations

import json
import os
from bisect import bisect_left

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(Exception):
    """Another writer committed this manifest version first. Re-read the
    newest manifest and re-derive the commit (optimistic concurrency)."""


def _manifest_version(name: str) -> int | None:
    if name.startswith("manifest-") and name.endswith(".json"):
        try:
            return int(name[len("manifest-") : -len(".json")])
        except ValueError:
            return None
    return None


def _read_manifest(table_dir: str, version: int | None = None) -> dict:
    """Committed manifest as {version, files, stats} — the newest by
    default, or exactly `version` (time travel; raises if that manifest
    was never committed or has been vacuumed past). Returns
    {version: 0, files: [], stats: {}} for an empty/new table. `stats`
    maps file -> {column: [min, max]} captured at commit time, so file
    skipping is an in-memory decision instead of O(table files) footer
    reads per merge (Delta stores stats in the log for the same reason
    — review r7 pass 2)."""
    if version is not None:
        path = os.path.join(table_dir, f"manifest-{int(version)}.json")
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"no manifest for version {version} in {table_dir} — "
                "never committed, or vacuumed past keep_versions "
                "(see table_history for retained versions)"
            )
        with open(path) as f:
            m = json.load(f)
        return {
            "version": int(version),
            "files": m["files"],
            "stats": m.get("stats", {}),
            "layout": m.get("layout", {}),
        }
    empty: dict = {"version": 0, "files": [], "stats": {}, "layout": {}}
    if not os.path.isdir(table_dir):
        return empty
    # If the HIGHEST manifest vanishes between listdir and open (a racing
    # vacuum), RESCAN rather than silently settling for an older version —
    # a writer resolving stale state here could commit a low version whose
    # manifest slot was already vacuumed, a silent lost update (r9 ADVICE).
    for _scan in range(8):
        cands = sorted(
            (v, name)
            for name in os.listdir(table_dir)
            if (v := _manifest_version(name)) is not None
        )
        if not cands:
            return empty
        v, name = cands[-1]
        try:
            with open(os.path.join(table_dir, name)) as f:
                m = json.load(f)
        except FileNotFoundError:
            continue  # highest vacuumed between listdir and open: rescan
        return {
            "version": v,
            "files": m["files"],
            "stats": m.get("stats", {}),
            "layout": m.get("layout", {}),
        }
    raise FileNotFoundError(  # pragma: no cover - needs 8 straight races
        f"manifest churn in {table_dir}: the newest manifest vanished on "
        "8 consecutive scans — a vacuum loop is racing this reader"
    )


def _current_manifest(table_dir: str) -> tuple[int, list[str]]:
    """(version, relative data-file paths) of the newest committed
    manifest; (0, []) for an empty/new table."""
    m = _read_manifest(table_dir)
    return m["version"], m["files"]


def read_table(
    spark: SparkSession,
    table_dir: str,
    key_between: tuple[str, object, object]
    | list[tuple[str, object, object]]
    | None = None,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read: exactly the newest manifest's files — or, with
    `version=N`, exactly version N's files (time travel). Because data
    files are immutable and a commit never deletes a listed file, every
    retained manifest IS a complete consistent snapshot: reading an old
    version costs nothing beyond resolving its manifest. Retention is
    vacuum's `keep_versions` dial — reading past it raises with the
    retained range (the Delta/Iceberg contract: history is as deep as
    you retain, not forever).

    `key_between=(col, lo, hi)` — or a LIST of such triples, ANDed —
    prunes files by the manifest's commit-time [min, max] stats BEFORE
    the scan: manifest-level data skipping, the read-side twin of
    merge's file skipping (files without stats for a column are
    conservatively read; every predicate is re-applied row-level so
    pruning is an optimization, never a semantic). Multi-constraint
    pruning is what `write_table(zorder_by=...)` layouts are FOR — a
    file is skipped if ANY constraint's range provably misses it."""
    m = _read_manifest(table_dir, version)
    files = m["files"]
    if not files:
        raise FileNotFoundError(f"no committed manifest in {table_dir}")
    constraints = []
    if key_between is not None:
        constraints = (
            [key_between] if isinstance(key_between, tuple) else list(key_between)
        )
    if constraints:
        files = [
            f
            for f in files
            if not any(
                (rng := m["stats"].get(f, {}).get(col)) is not None
                and (rng[1] < lo or rng[0] > hi)
                for col, lo, hi in constraints
            )
        ]
        from pyspark.sql import functions as F

        pred = None
        for col, lo, hi in constraints:
            p = F.col(col).between(lo, hi)
            pred = p if pred is None else (pred & p)
        if not files:
            empty = spark.read.parquet(
                os.path.join(table_dir, m["files"][0])
            ).limit(0)
            return empty.filter(pred)
        return spark.read.parquet(
            *[os.path.join(table_dir, f) for f in files]
        ).filter(pred)
    return spark.read.parquet(*[os.path.join(table_dir, f) for f in files])


def table_history(table_dir: str) -> list[dict]:
    """Retained snapshot history, newest first: one row per committed
    manifest still on disk — {version, n_files, committed_at (the
    manifest's mtime, epoch seconds)}. The audit view `read_table
    (version=...)` travels over; vacuum's keep_versions bounds its
    depth. Driver-side metadata only — no data files are touched."""
    out = []
    if os.path.isdir(table_dir):
        for name in os.listdir(table_dir):
            v = _manifest_version(name)
            if v is None:
                continue
            path = os.path.join(table_dir, name)
            try:
                with open(path) as f:
                    m = json.load(f)
                committed_at = os.path.getmtime(path)
            except FileNotFoundError:
                continue  # vacuumed between listdir and open/stat (TOCTOU)
            out.append(
                {
                    "version": v,
                    "n_files": len(m["files"]),
                    "committed_at": committed_at,
                }
            )
    return sorted(out, key=lambda r: -r["version"])


def _commit(
    table_dir: str,
    version: int,
    files: list[str],
    stats: dict | None = None,
    layout: dict | None = None,
) -> None:
    """Atomic PUT-IF-ABSENT commit: write the manifest to a
    writer-private tmp, fsync, then `os.link` it onto the final name.
    link(2) fails with EEXIST if the target exists, so two writers
    racing to commit the same version can never overwrite each other —
    the loser gets :class:`CommitConflict` and must re-derive against
    the newest manifest (the previous os.replace commit silently
    clobbered the earlier winner — r8 ADVICE lost-update finding).
    Readers still observe either the old or the new version, never a
    torn file list. `stats` ({file: {column: [min, max]}}) rides in the
    manifest so later merges skip files without touching footers;
    `layout` records the clustering the content was written with so
    maintenance (optimize) can preserve it."""
    tmp = os.path.join(
        table_dir, f".manifest-{version}.{os.getpid()}.json.tmp"
    )
    with open(tmp, "w") as f:
        json.dump(
            {
                "version": version,
                "files": sorted(files),
                "stats": stats or {},
                "layout": layout or {},
            },
            f,
        )
        f.flush()
        os.fsync(f.fileno())
    final = os.path.join(table_dir, f"manifest-{version}.json")
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise CommitConflict(
            f"version {version} of {table_dir} was committed by a "
            "concurrent writer — re-read the newest manifest and retry"
        ) from None
    finally:
        try:
            os.unlink(tmp)
        except FileNotFoundError:
            pass


def _stats_for_files(table_dir: str, files: list[str]) -> dict:
    """{file: {column: [min, max]}} for every leaf column with
    JSON-serializable footer stats, read once at commit time (the
    footers were just written — one local read each, never repeated
    per merge). Columns with absent/non-serializable stats are simply
    omitted: merges fall back to the conservative rewrite for them."""
    import pyarrow.parquet as pq

    out: dict = {}
    for rel in files:
        md = pq.ParquetFile(os.path.join(table_dir, rel)).metadata
        cols: dict = {}
        for i in range(len(md.schema)):
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(i).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None or st.min < lo else lo
                hi = st.max if hi is None or st.max > hi else hi
            if (
                ok
                and lo is not None
                and isinstance(lo, (bool, int, float, str))
                and isinstance(hi, (bool, int, float, str))
            ):
                cols[md.schema.column(i).path] = [lo, hi]
        out[rel] = cols
    return out


def _file_key_range(path: str, key: str):
    """[min, max] of `key` across a parquet file's row groups, from
    footer statistics only. None when stats are absent or the key is
    not a leaf column (forces the conservative rewrite).

    The row-group column index is the LEAF index (parquet flattens
    nested fields), which diverges from the Arrow top-level field index
    as soon as any struct/list column precedes the key — so the leaf is
    resolved by its dotted path, never by Arrow field position
    (review r7 pass 2)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = next(
        (i for i in range(len(md.schema)) if md.schema.column(i).path == key),
        None,
    )
    if idx is None:
        return None
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None
        lo = st.min if lo is None or st.min < lo else lo
        hi = st.max if hi is None or st.max > hi else hi
    return None if lo is None else (lo, hi)


def _range_hits(keys_sorted: list, lo, hi) -> bool:
    i = bisect_left(keys_sorted, lo)
    return i < len(keys_sorted) and keys_sorted[i] <= hi


def _write_commit_files(df: DataFrame, table_dir: str, version: int) -> list[str]:
    """Write df as the new commit's data files under commit-<version>/
    and return their table-relative paths. The subdir namespaces each
    commit so uncommitted (crashed) writes can never collide with or
    shadow committed files. If the base subdir already exists (a
    concurrent writer racing to the same version, or a crashed earlier
    attempt), an attempt suffix picks a fresh one — an overwrite into a
    shared dir would delete the other writer's data files, losing rows
    even though the manifest commit itself is conflict-safe."""
    sub = f"commit-{version:08d}"
    for attempt in range(1000):
        cand = sub if attempt == 0 else f"{sub}-r{attempt}"
        try:
            os.makedirs(os.path.join(table_dir, cand))
        except FileExistsError:
            continue
        sub = cand
        break
    out = os.path.join(table_dir, sub)
    df.write.mode("overwrite").parquet(out)
    return [
        os.path.join(sub, name)
        for name in os.listdir(out)
        if name.endswith(".parquet")
    ]


def _zorder_value(df: DataFrame, cols: list[str], bits: int = 8):
    """Bit-interleaved z-value column over `cols` (numeric): each
    column is bucketized to 2^bits equi-width cells between its
    driver-collected min/max (two-row scalar aggregate, the sanctioned
    pattern), then the cells' bits interleave column-round-robin —
    Morton order. Equi-width (not equi-depth) keeps the map deliberately
    stats-free and map-side; heavy skew costs balance, never
    correctness, and the quantile-bucketed variant is a drop-in swap.
    NULLs bucketize to cell 0."""
    from pyspark.sql import functions as F

    lo_hi = df.agg(
        *[F.min(c).alias(f"_lo_{i}") for i, c in enumerate(cols)],
        *[F.max(c).alias(f"_hi_{i}") for i, c in enumerate(cols)],
    ).collect()[0]
    cells = []
    n_cells = 1 << bits
    for i, c in enumerate(cols):
        lo = float(lo_hi[f"_lo_{i}"] or 0.0)
        hi = float(lo_hi[f"_hi_{i}"] or 0.0)
        span = (hi - lo) or 1.0
        # coalesce INSIDE the least: F.least skips NULL operands, so a
        # NULL measurement must become cell 0 before least() sees it —
        # outside, least(255, NULL)=255 would send NULL rows to the max
        # corner and drag those files' stats ranges with them.
        cell = F.least(
            F.lit(n_cells - 1),
            F.coalesce(
                F.floor(
                    (F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * n_cells
                ).cast("long"),
                F.lit(0),
            ),
        )
        cells.append(cell)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, cell in enumerate(cells):
            bit = F.shiftright(cell, b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * len(cells) + i)
    return z


def write_table(
    df: DataFrame,
    table_dir: str,
    cluster_by: str | None = None,
    zorder_by: list[str] | None = None,
) -> dict:
    """Create/replace the table content in one commit (the CTAS path).
    `cluster_by` range-partitions and sorts on that column before the
    write, so each file covers a tight disjoint key range — the
    liner-order clustering that makes stats-based skipping (merge and
    `read_table(key_between=...)`) actually prune.

    `zorder_by=[c1, c2, ...]` is the MULTI-column form: rows sort by
    the Morton (bit-interleaved) order of the columns, so each file
    covers a small hyper-rectangle-ish region and manifest-stats
    pruning bites on EVERY listed column at once — linear clustering
    can only ever serve its one column. The Delta OPTIMIZE ZORDER BY
    recipe, built from plain expressions + repartitionByRange.

    Concurrency: CTAS replaces the whole table, so losing a version
    race needs no re-derivation — the already-written data files are
    simply re-committed at the new head version (bounded retries; the
    data files' commit-dir name keeps its original version number,
    which is only a namespace, never an authority).
    """
    if cluster_by is not None and zorder_by is not None:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    os.makedirs(table_dir, exist_ok=True)
    df = _apply_layout(df, cluster_by, zorder_by)
    layout: dict = {}
    if cluster_by is not None:
        layout["cluster_by"] = cluster_by
    if zorder_by is not None:
        layout["zorder_by"] = list(zorder_by)
    version, _ = _current_manifest(table_dir)
    new_files = _write_commit_files(df, table_dir, version + 1)
    new_stats = _stats_for_files(table_dir, new_files)
    last_conflict: CommitConflict | None = None
    for _attempt in range(5):
        try:
            _commit(table_dir, version + 1, new_files, new_stats, layout=layout)
        except CommitConflict as e:
            last_conflict = e  # lost the race: content replaces everything
            version, _ = _current_manifest(table_dir)  # so just re-version
            continue
        return {"version": version + 1, "files_written": len(new_files)}
    raise last_conflict  # pragma: no cover - needs 5 straight races


def _apply_layout(
    df: DataFrame,
    cluster_by: str | None,
    zorder_by: list[str] | None,
    n_files: int | None = None,
) -> DataFrame:
    """Range-cluster `df` on one column or Morton-order it on several,
    into `n_files` output partitions (default: the input's count) —
    the shared layout step of write_table and optimize, so compaction
    preserves the clustering that makes manifest-stats pruning bite."""
    if cluster_by is None and zorder_by is None:
        return df if n_files is None else df.coalesce(int(n_files))
    n = int(n_files) if n_files is not None else df.rdd.getNumPartitions()
    n = max(1, n)
    if zorder_by is not None:
        return (
            df.withColumn("__z", _zorder_value(df, list(zorder_by)))
            .repartitionByRange(n, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    return df.repartitionByRange(n, cluster_by).sortWithinPartitions(cluster_by)


def append_table(
    df: DataFrame,
    table_dir: str,
    n_files: int | None = None,
) -> dict:
    """Append-only commit: the batch lands as NEW data files laid out
    per the table's RECORDED layout (`cluster_by`/`zorder_by` applied to
    the batch alone), and every existing file carries over BY NAME with
    its manifest stats — cost scales with the batch, never the table.
    The incremental-ingest primitive (IVF cell appends, fact
    micro-batches): per-file stats stay tight within each batch, so
    `read_table(key_between=...)` pruning keeps biting; a periodic
    :func:`optimize` re-clusters across batches.

    `n_files` sizes the batch's output files (default: the batch's
    partition count). Raises FileNotFoundError on a table with no
    committed manifest — an append needs a table (use
    :func:`write_table` to create one).

    Optimistic concurrency: appends touch no existing file, so losing a
    version race needs no content re-derivation — the retry re-resolves
    the newest manifest and re-commits the already-written batch files
    on top of ITS file list (bounded retries).
    """
    m = _read_manifest(table_dir)
    if m["version"] == 0:
        raise FileNotFoundError(f"no committed manifest in {table_dir}")
    df = _apply_layout(
        df,
        m["layout"].get("cluster_by"),
        m["layout"].get("zorder_by"),
        n_files=n_files,
    )
    new_files = _write_commit_files(df, table_dir, m["version"] + 1)
    new_file_stats = _stats_for_files(table_dir, new_files)
    last_conflict: CommitConflict | None = None
    for _attempt in range(5):
        kept, stats = m["files"], m["stats"]
        all_stats = {rel: stats.get(rel, {}) for rel in kept}
        all_stats.update(new_file_stats)
        try:
            _commit(
                table_dir,
                m["version"] + 1,
                kept + new_files,
                all_stats,
                layout=m["layout"],
            )
        except CommitConflict as e:
            last_conflict = e  # re-commit the same batch on the new head
            m = _read_manifest(table_dir)
            continue
        return {
            "version": m["version"] + 1,
            "files_written": len(new_files),
            "files_kept": len(kept),
        }
    raise last_conflict  # pragma: no cover - needs 5 straight races


def merge_upsert(
    updates: DataFrame,
    table_dir: str,
    key: str,
    max_driver_keys: int = 1_000_000,
    order_by: str | None = None,
    schema_evolution: bool = False,
) -> dict:
    """MERGE: rows of `updates` replace same-key rows (WHEN MATCHED ...
    UPDATE) and insert otherwise. Only data files whose footer
    [min, max] of `key` contains some update key are rewritten.

    Intra-batch duplicate keys: when `order_by` is given, the row with
    the LARGEST `order_by` value per key wins (deterministic
    last-write-wins, NULLs last so a timestamped row beats an
    untimestamped one); without it, one arbitrary row per key is kept
    (`dropDuplicates`) — callers that need a deterministic winner must
    either pre-dedup (e.g. `latest_value_per_key`) or pass
    `order_by` (r7 ADVICE: the bare dropDuplicates made the merged
    value nondeterministic for multi-row-per-key batches).

    NULL-key update rows are dropped up front — the merge key models
    the reference's PRIMARY KEY (NOT NULL by DDL, README.MD:159-165),
    and a NULL matches nothing under SQL key semantics (it previously
    crashed the key sort — review r7 pass 2).

    The update key set is collected to the driver for the file-skipping
    decision — bounded by `max_driver_keys` (a micro-batch's device set
    is small; a bulk backfill past the bound degrades gracefully to
    "rewrite every stats-overlapping file" using one (min, max,
    count_distinct) aggregate, never to an error). File ranges come
    from the manifest's commit-time stats; footer reads happen only
    for legacy manifests without them. Returns
    {version, files_rewritten, files_kept, updates_rows}.

    Optimistic concurrency: on :class:`CommitConflict` (a concurrent
    merge/optimize won the version race) the file-skipping decision and
    rewrite are re-derived against the NEW newest manifest and the
    commit retried (bounded); the failed attempt's data files are
    vacuumable orphans. The table's recorded layout carries forward
    unchanged (merge rewrites are key-local; a full re-cluster is
    optimize's job).

    SCHEMA EVOLUTION (`schema_evolution=True`, the Delta
    `mergeSchema`/autoMerge analog): when the update batch's column set
    differs from the table's, the merge becomes a COPY-ON-EVOLVE — it
    rewrites EVERY file onto the union schema (missing columns NULL on
    either side), so the invariant "all files of a manifest share one
    schema" holds and readers never see mixed-schema parquet. Evolution
    commits therefore cost a full rewrite (Delta avoids that with a
    log-tracked schema; at this module's scope the rare evolve paying a
    rewrite beats every read paying mergeSchema footer reconciliation).
    Without the flag, a differing column set raises — a typo'd batch
    column must not silently evolve the table (the Delta default).
    """
    from pyspark.sql import functions as F

    spark = updates.sparkSession
    os.makedirs(table_dir, exist_ok=True)
    updates = updates.filter(F.col(key).isNotNull())
    if order_by is not None:
        from pyspark.sql import Window

        updates = (
            updates.withColumn(
                "__mu_rn",
                F.row_number().over(
                    Window.partitionBy(key).orderBy(
                        F.col(order_by).desc_nulls_last(), F.lit(1)
                    )
                ),
            )
            .filter(F.col("__mu_rn") == 1)
            .drop("__mu_rn")
        )
    else:
        updates = updates.dropDuplicates([key])

    key_rows = (
        updates.select(key).distinct().limit(max_driver_keys + 1).collect()
    )
    if len(key_rows) == 0:
        m = _read_manifest(table_dir)
        return {
            "version": m["version"],
            "files_rewritten": 0,
            "files_kept": len(m["files"]),
            "updates_rows": 0,
        }
    exact_keys = len(key_rows) <= max_driver_keys
    if exact_keys:
        keys_sorted = sorted(r[0] for r in key_rows)
        n_updates = len(key_rows)
        b = None
    else:
        agg = updates.agg(
            F.min(key).alias("lo"),
            F.max(key).alias("hi"),
            F.count_distinct(F.col(key)).alias("n"),
        ).collect()[0]
        keys_sorted = None
        b = (agg["lo"], agg["hi"])
        n_updates = int(agg["n"])

    last_conflict: CommitConflict | None = None
    for _attempt in range(5):
        m = _read_manifest(table_dir)
        version, files, stats = m["version"], m["files"], m["stats"]
        evolve = False
        if files:
            table_cols = set(
                spark.read.parquet(os.path.join(table_dir, files[0])).columns
            )
            if table_cols != set(updates.columns):
                if not schema_evolution:
                    raise ValueError(
                        "update batch columns "
                        f"{sorted(set(updates.columns))} != table columns "
                        f"{sorted(table_cols)}; pass schema_evolution=True "
                        "to evolve (copy-on-evolve full rewrite)"
                    )
                evolve = True
        touched, kept = [], []
        for rel in files:
            if evolve:
                touched.append(rel)  # copy-on-evolve: every file rewrites
                continue
            rng = stats.get(rel, {}).get(key)
            if rng is None:
                rng = _file_key_range(os.path.join(table_dir, rel), key)
            if rng is None:
                touched.append(rel)  # no stats anywhere: conservative rewrite
            elif exact_keys:
                (
                    touched if _range_hits(keys_sorted, rng[0], rng[1]) else kept
                ).append(rel)
            else:
                lo, hi = rng
                (touched if not (hi < b[0] or lo > b[1]) else kept).append(rel)

        if touched:
            survivors = spark.read.parquet(
                *[os.path.join(table_dir, f) for f in touched]
            ).join(updates.select(key), key, "left_anti")
            new_content = survivors.unionByName(
                updates, allowMissingColumns=evolve
            )
        else:
            new_content = updates
        # hold file granularity steady: the rewrite replaces len(touched)
        # files with about as many, instead of one part file per shuffle
        # partition of the anti-join (which would sprawl the table and
        # erode stats-based skipping within a few merges)
        new_content = new_content.coalesce(max(1, len(touched)))
        new_files = _write_commit_files(new_content, table_dir, version + 1)
        new_stats = {rel: stats.get(rel, {}) for rel in kept}
        new_stats.update(_stats_for_files(table_dir, new_files))
        try:
            _commit(
                table_dir,
                version + 1,
                kept + new_files,
                new_stats,
                layout=m["layout"],
            )
        except CommitConflict as e:
            last_conflict = e  # lost the race: re-derive against newest
            continue
        return {
            "version": version + 1,
            "files_rewritten": len(touched),
            "files_kept": len(kept),
            "updates_rows": n_updates,
        }
    raise last_conflict  # pragma: no cover - needs 5 straight races


def optimize(
    spark: SparkSession,
    table_dir: str,
    small_file_bytes: int = 32 * 1024 * 1024,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Compact small data files into ~target-size ones in ONE commit —
    the Delta OPTIMIZE analog for the streaming-sink failure mode: a
    foreachBatch MERGE every trigger accretes one small file per
    micro-batch until open-file count, footer reads and scan task
    overhead dominate (the classic small-file problem).

    Only files under `small_file_bytes` are rewritten (driver-side
    os.stat — metadata only, no data scan to decide); everything else
    carries over BY NAME with its manifest stats, so optimize cost
    scales with the small fraction, not the table. The compacted rows
    are re-laid-out through :func:`_apply_layout` with the table's
    RECORDED layout (`cluster_by`/`zorder_by` from the manifest), and
    the layout record itself carries into the new manifest — so
    compaction PRESERVES the clustering that makes manifest-stats
    pruning bite, instead of smearing every output file across the full
    key domain (r9 ADVICE: a bare coalesce silently destroyed both the
    clustering and the metadata that said it existed). Snapshot
    isolation holds exactly as for merge: readers on the old manifest
    keep their immutable files, `read_table(version=...)` still serves
    the pre-optimize snapshot, and vacuum reclaims the replaced small
    files once retention passes. Needs >= 2 small files to act (a lone
    small file gains nothing; returns a no-op without bumping the
    version — an empty commit would just churn retention).

    Optimistic concurrency: on :class:`CommitConflict` (a concurrent
    merge/CTAS won the version race) the small-file decision, read and
    rewrite are re-derived against the NEW newest manifest and the
    commit retried (bounded) — the same loop as :func:`merge_upsert`;
    the failed attempt's data files are vacuumable orphans.
    """
    last_conflict: CommitConflict | None = None
    for _attempt in range(5):
        m = _read_manifest(table_dir)
        version, files = m["version"], m["files"]
        if version == 0:
            raise FileNotFoundError(f"no committed manifest in {table_dir}")
        sizes = {
            rel: os.path.getsize(os.path.join(table_dir, rel)) for rel in files
        }
        small = [rel for rel in files if sizes[rel] < small_file_bytes]
        if len(small) < 2:
            return {
                "version": version,
                "files_compacted": 0,
                "files_written": 0,
            }
        kept = [rel for rel in files if rel not in set(small)]
        total = sum(sizes[rel] for rel in small)
        n_out = max(1, -(-total // target_file_bytes))
        df = _apply_layout(
            spark.read.parquet(*[os.path.join(table_dir, rel) for rel in small]),
            m["layout"].get("cluster_by"),
            m["layout"].get("zorder_by"),
            n_files=int(n_out),
        )
        new_files = _write_commit_files(df, table_dir, version + 1)
        new_stats = {rel: m["stats"].get(rel, {}) for rel in kept}
        new_stats.update(_stats_for_files(table_dir, new_files))
        try:
            _commit(
                table_dir,
                version + 1,
                kept + new_files,
                new_stats,
                layout=m["layout"],
            )
        except CommitConflict as e:
            last_conflict = e  # lost the race: re-derive against newest
            continue
        return {
            "version": version + 1,
            "files_compacted": len(small),
            "files_written": len(new_files),
            "files_kept": len(kept),
        }
    raise last_conflict  # pragma: no cover - needs 5 straight races


def table_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int,
    key: str,
) -> DataFrame:
    """Row-level change feed between two retained snapshots — the Delta
    CDF (`table_changes`) analog, derived from the manifests alone:
    only the files that DIFFER between the two versions are read
    (copy-on-write means unchanged files carry over by name, so the
    unchanged bulk of a 100 TB table costs nothing), and rows rewritten
    byte-identically into new files (merge survivors, compactions) are
    cancelled out by a full-row fingerprint anti-join — OPTIMIZE-only
    version pairs produce an EMPTY feed, exactly like Delta CDF.

    Returns the changed rows with Delta CDF's column convention:
    `_change_type` in ('insert', 'update_preimage', 'update_postimage',
    'delete') plus `_commit_version` = `to_version`. `key` is the
    table's merge key (PK): a key present on both sides with different
    content is an update, present only in `to` an insert, only in
    `from` a delete.
    """
    from pyspark.sql import functions as F

    m_from = _read_manifest(table_dir, from_version)
    m_to = _read_manifest(table_dir, to_version)
    removed = sorted(set(m_from["files"]) - set(m_to["files"]))
    added = sorted(set(m_to["files"]) - set(m_from["files"]))

    def _load(rels: list[str], like: list[str]) -> DataFrame:
        paths = [os.path.join(table_dir, r) for r in (rels or like)]
        df = spark.read.parquet(*paths)
        return df.limit(0) if not rels else df

    old = _load(removed, m_from["files"])
    new = _load(added, m_to["files"])
    # align both sides to the UNION schema (a copy-on-evolve merge
    # between the versions leaves the old files without the new
    # columns): unionByName with the other side's empty frame adds the
    # missing columns as typed NULLs, so the fingerprint and the
    # per-image unions below see one schema
    old = old.unionByName(new.limit(0), allowMissingColumns=True)
    new = new.unionByName(old.limit(0), allowMissingColumns=True)
    fp = lambda df: F.md5(  # noqa: E731 - full-row fingerprint
        F.to_json(F.struct(*[F.col(c) for c in sorted(df.columns)]))
    )
    old = old.withColumn("_fp", fp(old))
    new = new.withColumn("_fp", fp(new))
    # identical rows shuffled between files are not changes
    old_c = old.join(new.select("_fp"), "_fp", "left_anti")
    new_c = new.join(old.select("_fp"), "_fp", "left_anti")
    old_keys = old_c.select(key).distinct()
    new_keys = new_c.select(key).distinct()
    inserts = new_c.join(old_keys, key, "left_anti").withColumn(
        "_change_type", F.lit("insert")
    )
    deletes = old_c.join(new_keys, key, "left_anti").withColumn(
        "_change_type", F.lit("delete")
    )
    pre = old_c.join(new_keys, key, "left_semi").withColumn(
        "_change_type", F.lit("update_preimage")
    )
    post = new_c.join(old_keys, key, "left_semi").withColumn(
        "_change_type", F.lit("update_postimage")
    )
    return (
        inserts.unionByName(deletes)
        .unionByName(pre)
        .unionByName(post)
        .drop("_fp")
        .withColumn("_commit_version", F.lit(int(to_version)))
    )


def vacuum(
    table_dir: str, keep_versions: int = 1, min_age_seconds: float = 3600.0
) -> list[str]:
    """Delete data files referenced by NO retained manifest (crash
    orphans and files replaced by newer versions) and manifests older
    than the newest `keep_versions`. Returns deleted paths.

    The newest manifest's files are always retained, so committed state
    is never harmed. Two races exist exactly as in Delta, and
    `min_age_seconds` is the dial for both — files younger than it are
    NEVER deleted:

    - READER race: a query that resolved an old manifest and is still
      scanning can lose its files. Size min_age above the
      longest-running reader (Delta's default is 7 days).
    - WRITER race: under the module's optimistic multi-writer model, a
      concurrent writer's just-written but not-yet-committed data files
      appear in no manifest — with min_age=0 vacuum would delete them
      and the writer's subsequent commit would reference dead files
      (silent data loss — r9 ADVICE). The default 1 h exceeds any sane
      write-to-commit latency; pass 0 ONLY from a single-writer
      maintenance cycle that knows no write is in flight."""
    import time

    now = time.time()
    version, _ = _current_manifest(table_dir)
    if version == 0:
        return []
    retained_manifests = [
        v
        for v in range(max(1, version - keep_versions + 1), version + 1)
        if os.path.exists(os.path.join(table_dir, f"manifest-{v}.json"))
    ]
    live: set[str] = set()
    for v in retained_manifests:
        with open(os.path.join(table_dir, f"manifest-{v}.json")) as f:
            live.update(json.load(f)["files"])
    deleted = []
    for root, _dirs, names in os.walk(table_dir):
        for name in names:
            full = os.path.join(root, name)
            rel = os.path.relpath(full, table_dir)
            if root == table_dir:
                # table root holds only manifests (and a writer's
                # in-flight .tmp, which vacuum must not touch)
                mv = _manifest_version(name)
                if mv is not None and mv not in retained_manifests:
                    os.remove(full)
                    deleted.append(rel)
            elif rel not in live:
                # inside a commit-* subdir: parquet orphans plus the
                # _SUCCESS/.crc residue Spark writes next to them
                if now - os.path.getmtime(full) >= min_age_seconds:
                    os.remove(full)
                    deleted.append(rel)
    # drop empty commit dirs left behind
    for root, dirs, names in list(os.walk(table_dir, topdown=False)):
        if root != table_dir and not dirs and not names:
            os.rmdir(root)
    return deleted
