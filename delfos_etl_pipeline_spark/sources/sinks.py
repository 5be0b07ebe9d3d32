"""Sinks — S5-S9 (SURVEY.md §2.1), Spark-first.

The reference appends via SQLAlchemy ``to_sql(chunksize=1000)``
(/root/reference/etl/etl_process.py:156-163) with no idempotency (T4:
re-running a partition duplicates rows). Here:

- parquet is the native store (columnar, stats, partition pruning);
- ``mode="overwrite_partitions"`` uses dynamic partition overwrite to make
  daily re-runs idempotent — the deliberate T4 fix (SURVEY.md §2.9);
- JDBC remains an edge connector with the reference's batch size;
- Excel export (S7/S8) is a driver-side, small-result convenience, gated
  on openpyxl availability.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from delfos_etl_pipeline_spark.session import local_frame


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str = "event_date",
    ts_col: str | None = None,
    mode: str = "overwrite_partitions",
) -> None:
    """Date-partitioned parquet sink (T1 partitioning as physical layout).

    mode:
    - ``append`` — reference-compatible append-only (re-runs duplicate, T4)
    - ``overwrite_partitions`` — dynamic partition overwrite: only the
      partitions present in ``df`` are replaced → idempotent daily re-runs
    - ``overwrite`` — full truncate-and-load
    """
    if ts_col is not None and partition_col not in df.columns:
        df = df.withColumn(partition_col, F.to_date(F.col(ts_col)))
    writer = df.write.partitionBy(partition_col)
    if mode == "overwrite_partitions":
        writer = writer.option("partitionOverwriteMode", "dynamic").mode("overwrite")
    elif mode in {"append", "overwrite"}:
        writer = writer.mode(mode)
    else:
        raise ValueError(f"unknown mode {mode!r}")
    writer.parquet(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 1000,
    properties: dict[str, str] | None = None,
) -> None:
    """S5/S6 — JDBC batch append sink; ``batchsize`` mirrors the
    reference's chunked insert (etl_process.py:162, seed_fonte.py:65)."""
    df.write.jdbc(url, table, mode=mode, properties={
        "batchsize": str(batchsize),
        **(properties or {}),
    })


def seed_guard(spark, path: str) -> bool:
    """S9/P6 — idempotent-seed / empty-input guard: True if the target is
    absent/empty so the caller should seed
    (/root/reference/database/seed_fonte_docker.py:78-83). The reference's
    ``df.empty`` also skips transform and load (etl_process.py:79,133);
    ``run_day`` (plans/pipeline.py) instead decides ``no_data`` after its
    one write, which for an empty slice writes no data file."""
    try:
        return spark.read.parquet(path).isEmpty()
    except Exception:
        return True


def export_excel(
    frames: dict[str, DataFrame],
    path: str,
    max_rows: int = 1_048_576,
) -> str:
    """S7/S8 — multi-sheet Excel export, driver-side (small results only —
    the reference's exports/*.py dump whole Postgres tables; here the cap
    is explicit and enforced). Returns the written path.

    Requires openpyxl (not part of the engine's hot path); raises a clear
    error if absent.
    """
    try:
        import openpyxl  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise RuntimeError(
            "Excel export needs openpyxl; use write_partitioned/CSV for "
            "large or automated outputs"
        ) from exc
    import pandas as pd

    with pd.ExcelWriter(path, engine="openpyxl") as writer:
        for sheet, df in frames.items():
            pdf = df.limit(max_rows).toPandas()
            pdf.to_excel(writer, sheet_name=sheet[:31], index=False)
    return path


def export_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """Scale-friendly export fallback for S7/S8."""
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)


def clone_index(src: str, dst: str) -> None:
    """Clone a persisted index directory INCLUDING any sibling tombstone
    relation. The IVF store keeps its tombstones at ``<root>.tombstones``
    (a sibling, because the index root is a partitioned parquet root and
    a foreign subdir would corrupt partition discovery), so a bare
    ``copytree`` of the root silently drops pending removals and the
    clone resurrects tombstoned vectors (ADVICE r12). Every lifecycle
    clone (the nightly day-N states, tests) goes through this helper so
    that failure mode cannot recur. At 100 TB the clone is a
    metadata-level snapshot (table-format SNAPSHOT/shallow-clone); a
    copytree keeps the same contract locally."""
    import shutil as _shutil

    src = os.path.normpath(src)
    dst = os.path.normpath(dst)
    _shutil.copytree(src, dst)
    tsrc = src + ".tombstones"
    if os.path.isdir(tsrc):
        _shutil.copytree(tsrc, dst + ".tombstones")


def tombstone_snapshot(tomb_dir: str) -> list[str] | None:
    """Snapshot an append-only tombstone relation's CURRENT entries for
    a compaction run. Returns the directory's entry names at call time
    (or None if the relation does not exist). The compaction applies
    exactly the snapshotted data files and, at the end, retires exactly
    the snapshotted entries via :func:`retire_tombstones` — a
    ``remove_from_*`` call landing mid-compaction appends NEW files,
    which survive the retire and stay pending for the probe anti-join
    and the next compaction, instead of being silently discarded with
    the removal never applied (ADVICE r12)."""
    if not os.path.isdir(tomb_dir):
        return None
    return sorted(os.listdir(tomb_dir))


def snapshot_parquet_files(tomb_dir: str, snapshot: list[str]) -> list[str]:
    """The data-file paths of a :func:`tombstone_snapshot` (parquet part
    files only — markers like ``_SUCCESS`` carry no rows)."""
    return [
        os.path.join(tomb_dir, name)
        for name in snapshot
        if name.endswith(".parquet")
    ]


def ensure_readable_empty(rel, tmp: str) -> None:
    """Keep a compaction output READABLE when it nets to zero rows. A
    ``partitionBy`` write of an empty DataFrame emits only ``_SUCCESS``
    — no schema-bearing file — so the next read fails with
    UNABLE_TO_INFER_SCHEMA (found by the lifecycle fuzz compacting a
    fully-tombstoned index). If ``tmp`` holds no parquet data file,
    rewrite it as a PLAIN empty relation (the partition column becomes
    an ordinary zero-row data column; plain empty writes DO emit one
    schema file)."""
    import shutil as _shutil

    for _dirpath, _dirs, names in os.walk(tmp):
        if any(n.endswith(".parquet") for n in names):
            return
    _shutil.rmtree(tmp)
    rel.limit(0).write.parquet(tmp)


def clear_plain_empty_root(spark, live_dir: str) -> None:
    """Undo :func:`ensure_readable_empty`'s plain-empty form before a
    PARTITIONED append: root-level schema files and incoming
    ``col=<val>/`` partition dirs cannot coexist (mixed partition
    depths break discovery), so if the live root is a plain EMPTY
    relation, drop its root-level parquet files and let the append
    restore the partitioned layout. Requires the same exclusive access
    every merge already assumes; a crash between the delete and the
    append leaves an empty dir that the retried merge completes."""
    live_dir = os.path.normpath(live_dir)
    if not os.path.isdir(live_dir):
        return
    entries = os.listdir(live_dir)
    root_files = [n for n in entries if n.endswith(".parquet")]
    has_part_dirs = any(
        "=" in n and os.path.isdir(os.path.join(live_dir, n))
        for n in entries
    )
    if not root_files or has_part_dirs:
        return
    if spark.read.parquet(live_dir).isEmpty():
        for n in root_files:
            os.remove(os.path.join(live_dir, n))


def is_committed(live_dir: str, batch_id: str | None) -> bool:
    """True when :func:`committed_append` has already committed this
    (relation, batch_id) pair — callers can skip pre-merge validation on
    a retry of an already-applied merge (the validation ran when the
    merge first committed; state created since must not fail it)."""
    if batch_id is None:
        return False
    return os.path.exists(
        os.path.normpath(live_dir) + f"._merged_{batch_id}"
    )


def guard_tombstone_readd(batch_ids, tomb, index_desc: str) -> None:
    """Refuse a merge that would RE-ADD tombstoned ids to an id-keyed
    index (MinHash/IVF/PQ). The tombstone cannot tell generations apart:
    it would shadow the re-added rows, and clearing it would resurrect
    the old physically-present rows beside the new ones — both wrong.
    (The counted gram index is immune: its algebra is content-based
    refcounts, and -old +new nets correctly.) The remedy is physical:
    compact the index first (retires tombstones and drops the old
    generation), then merge. Found by the lifecycle property fuzz
    (tests/test_index_lifecycle.py: merge → remove → re-merge lost the
    re-added document from probe output). O(manifest) broadcast
    semi-join, run only when a tombstone relation exists."""
    from pyspark.sql import functions as F

    if tomb is None:
        return
    key = tomb.columns[0]
    hit = (
        batch_ids.select(F.col(batch_ids.columns[0]).alias(key))
        .join(F.broadcast(tomb.select(key)), key, "left_semi")
        .limit(1)
        .count()
    )
    if hit:
        raise ValueError(
            f"merge into {index_desc} would re-add tombstoned ids; "
            "compact the index first (physical removal retires the "
            "tombstones), then merge the new generation"
        )


def retire_tombstones(tomb_dir: str, snapshot: list[str]) -> None:
    """Delete exactly the snapshotted tombstone entries after a
    compaction has physically applied them; files appended since the
    snapshot survive. Drops the directory itself only when nothing
    arrived mid-compaction. Deleting an already-applied tombstone twice
    (crashed-and-retried compaction) is safe — missing entries are
    skipped, and a tombstone that outlives a crash merely anti-joins an
    already-removed id, a no-op."""
    import shutil as _shutil

    for name in snapshot:
        p = os.path.join(tomb_dir, name)
        if os.path.isdir(p):
            _shutil.rmtree(p, ignore_errors=True)
        elif os.path.exists(p):
            os.remove(p)
    if os.path.isdir(tomb_dir) and not os.listdir(tomb_dir):
        os.rmdir(tomb_dir)


def recover_staged_swap(path: str) -> None:
    """:func:`staged_swap`'s crash self-heal, factored out (ADVICE r13)
    so compactions that must READ the dataset before entering the swap
    (compact_gram_index's counted-vs-set schema inference) can recover a
    half-swapped store first — a crash between the swap's two renames
    leaves the live dir missing and ``*._compact_bak`` holding the only
    copy, and a pre-swap ``spark.read`` would throw PATH_NOT_FOUND
    before the retry ever reached the recovery block. Idempotent; every
    leftover combination identifies exactly where the crash hit."""
    import shutil as _shutil

    path = os.path.normpath(path)
    tmp = path + "._compact_tmp"
    bak = path + "._compact_bak"
    if os.path.exists(bak):
        if os.path.exists(path):
            # crashed after rename(tmp, path), before rmtree(bak): the
            # compacted data is already live — finish the cleanup.
            _shutil.rmtree(bak)
        else:
            # crashed between the two renames: the original is intact
            # under bak — roll it back.
            os.rename(bak, path)
    if os.path.exists(tmp):
        # crashed mid-write: tmp is an incomplete copy — discard it.
        _shutil.rmtree(tmp)


def record_compaction_watermark(live_dir: str) -> None:
    """Persist the compaction WATERMARK for the generation-debt axis
    (ADVICE r13): ``committed_append``'s ``._merged_*`` done markers can
    never be deleted (they are the replay-idempotence record), so
    ``index_admin._merge_markers`` counting them raw made 'generations'
    a lifetime append count — past ``max_generations`` lifetime merges,
    ``needs_compaction`` returned True forever, even immediately after a
    compaction, scheduling useless O(index) rewrites. Every compact_*
    calls this after its swap: ``<live>._compacted`` records the marker
    names present at compaction time, and the debt count becomes
    'markers beyond the watermark' — merges SINCE the last rewrite.
    Overwritten whole each compaction (the set only grows); a crash
    after the swap but before this write merely over-counts generations
    until the next compaction — conservative, never stuck-on."""
    live_dir = os.path.normpath(live_dir)
    parent = os.path.dirname(live_dir) or "."
    prefix = os.path.basename(live_dir) + "._merged_"
    names = sorted(n for n in os.listdir(parent) if n.startswith(prefix))
    tmp = live_dir + "._compacted_tmp"
    with open(tmp, "w") as f:
        f.write("".join(n + "\n" for n in names))
    os.replace(tmp, live_dir + "._compacted")


def compaction_watermark(live_dir: str) -> set[str]:
    """The marker names recorded by :func:`record_compaction_watermark`
    at the last compaction (empty set if the index was never
    compacted)."""
    wm = os.path.normpath(live_dir) + "._compacted"
    if not os.path.exists(wm):
        return set()
    with open(wm) as f:
        return {ln.strip() for ln in f if ln.strip()}


def staged_swap(path: str, write_to) -> None:
    """Crash-safe directory replacement for locally-stored datasets: the
    compaction-swap core of :func:`compact_partitions`, extracted (VERDICT
    r11 item 2) so every index compaction (gram/MinHash/IVF/PQ) shares the
    same audited protocol instead of re-inventing an rmtree-then-rename
    with a destructive crash window.

    ``write_to(tmp_path)`` must fully materialize the NEW contents at the
    staging path. The swap is then two ``os.rename`` calls with the delete
    LAST — at every instant at least one complete copy exists on disk, and
    every intermediate state is recognizable from the three paths alone,
    so this function self-heals on entry: a leftover ``*._compact_bak``
    with the dataset missing (crash between the two renames) is rolled
    back; a leftover bak with the dataset present (crash before the final
    rmtree) is cleaned up; a stale ``*._compact_tmp`` (crash during the
    write) is discarded. ``os.path.normpath`` first, so a trailing-slash
    path cannot send the staging dir inside the dataset it replaces
    (ADVICE r11). Local-filesystem contract; on an object store or HDFS,
    swap via the catalog (table-location flip) or a table format with
    transactional replace instead.
    """
    import shutil as _shutil

    path = os.path.normpath(path)
    tmp = path + "._compact_tmp"
    bak = path + "._compact_bak"
    # Recover from a previous interrupted swap before touching anything
    # (factored so pre-swap readers can self-heal too, ADVICE r13).
    recover_staged_swap(path)

    write_to(tmp)

    os.rename(path, bak)
    os.rename(tmp, path)
    _shutil.rmtree(bak)


def committed_append(
    df: DataFrame,
    live_dir: str,
    batch_id: str | None = None,
    partition_by: str | None = None,
    pre_move: "Callable[[], None] | None" = None,
) -> None:
    """Append ``df``'s rows to a live parquet dataset as NEW files — the
    write primitive of the four index ``merge_into_*`` maintenance
    functions. With ``batch_id=None`` this is a plain ``mode("append")``
    write: O(batch), but a crashed-and-retried caller double-appends
    (the caller must guarantee exactly-once externally).

    With a ``batch_id`` (ADVICE r11: merges must be retry-safe — a
    re-run nightly close that double-appended MinHash shingle rows would
    duplicate verify rows in minhash_lsh_pairs_indexed output), the
    append is IDEMPOTENT under any crash/retry interleaving via a
    staging-dir + done-marker protocol, all file-level and O(batch):

    1. if ``<live>._merged_<batch_id>`` exists → the merge already
       committed; return (the retry no-op).
    2. stage the batch at ``<live>._merge_<batch_id>`` — rewritten from
       scratch unless a COMPLETE staging (Spark's ``_SUCCESS`` marker)
       is already there, so a retry never mixes two half-written stages
       (Spark part-file names are unique per write attempt; re-staging
       over a complete stage would otherwise double the rows when step 3
       had already moved some files).
    3. move each staged data file into the live dir by relative path
       (atomic per-file renames; moved files leave the staging dir, so a
       crash mid-loop resumes with exactly the remainder).
    4. write the done marker, then drop the staging dir.

    Crash between 3 and 4: the data is fully live, the retry finds a
    complete ``_SUCCESS`` stage with no data files left, moves nothing,
    and commits the marker. Duplicate rows are impossible at every
    interleaving. Markers and staging dirs are SIBLINGS of the live dir
    (suffix-named), so dataset scans never see them. Local-filesystem
    contract, like :func:`staged_swap`; a table format's transactional
    append replaces this on an object store.

    ``pre_move`` (optional): a destructive live-dir preparation step —
    in practice :func:`clear_plain_empty_root` — deferred until AFTER
    the batch is fully staged (``_SUCCESS`` verified) and run
    immediately before the move loop (ADVICE r13: clearing the
    plain-empty root's only schema-bearing files BEFORE the staging
    write reopened the unreadable-empty crash window for the whole
    duration of a Spark job; here the window shrinks to two file
    operations, and a crash inside it is healed by the retry, which
    re-runs ``pre_move`` as a no-op and completes the move). With
    ``batch_id=None`` there is no staging protocol, so ``pre_move``
    runs right before the append write — that mode's caller already
    guarantees exactly-once (and therefore crash handling) externally."""
    import re as _re
    import shutil as _shutil

    if batch_id is None:
        if pre_move is not None:
            pre_move()
        w = df.write.mode("append")
        if partition_by is not None:
            w = w.partitionBy(partition_by)
        w.parquet(live_dir)
        return

    if not _re.fullmatch(r"[A-Za-z0-9._-]+", batch_id):
        raise ValueError(f"batch_id must be path-safe, got {batch_id!r}")
    live_dir = os.path.normpath(live_dir)
    done = live_dir + f"._merged_{batch_id}"
    if os.path.exists(done):
        return
    staging = live_dir + f"._merge_{batch_id}"
    if not os.path.exists(os.path.join(staging, "_SUCCESS")):
        if os.path.exists(staging):
            _shutil.rmtree(staging)
        w = df.write.mode("overwrite")
        if partition_by is not None:
            w = w.partitionBy(partition_by)
        w.parquet(staging)
    if pre_move is not None:
        pre_move()
    for root, _dirs, files in os.walk(staging):
        rel = os.path.relpath(root, staging)
        for fname in files:
            if not fname.endswith(".parquet"):
                continue
            dest_dir = live_dir if rel == "." else os.path.join(live_dir, rel)
            os.makedirs(dest_dir, exist_ok=True)
            os.rename(os.path.join(root, fname), os.path.join(dest_dir, fname))
    with open(done, "w") as f:
        f.write("committed\n")
    _shutil.rmtree(staging, ignore_errors=True)


def compact_partitions(
    spark,
    path: str,
    partition_col: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within: tuple[str, ...] = (),
) -> dict[str, int]:
    """Small-file compaction for a date-partitioned parquet dataset.

    Long-running ingestion (one availableNow drain per micro-batch, one
    append per daily re-run) accretes many sub-row-group files per
    partition; at 100 TB the resulting open/seek/footer overhead dominates
    scan time and the NameNode/listing cost grows unbounded. This rewrites
    the dataset in place with ~``target_file_bytes`` files PER PARTITION
    VALUE: each date's file count is ceil(its actual directory bytes /
    target), derived from a driver-side listing only (no data collect).
    A hash repartition on the partition column alone would send every row
    of a date to ONE task — one oversized file per date no matter the
    target — so rows are spread across each date's file budget instead:

    - with ``sort_within``: ``repartitionByRange(total_files,
      partition_col, *sort_within)`` — range sampling splits large dates
      into multiple contiguous sort-key ranges, so output files within a
      date are NON-overlapping in the sort key and a later range predicate
      skips whole files, not just row groups.
    - without a sort key: a deterministic per-date salt
      (``pmod(xxhash64(every column), n_files_for_that_date)``) hashed
      into the shuffle. The per-date file budget comes from the DATA
      (``groupBy(partition_col).count()`` × measured bytes/row), never
      from parsing directory names back into values — URL-escaped or
      NULL partition values would fail a string match, and the budget
      join is null-safe, so no row can drop out of the rewrite.

    Either way it is ONE dataset-sized shuffle — the unavoidable cost of
    re-layout. ``sort_within`` additionally applies sortWithinPartitions
    before the write, tightening parquet row-group min/max stats (poor
    man's clustering / Z-order for the 1-D case — the dominant access
    path here is time).

    CONSTRAINT: the final swap is two ``os.rename`` calls plus an rmtree —
    local-filesystem only and NOT atomic. The crash-window contract is:
    the new data is fully written to ``*._compact_tmp`` BEFORE the first
    rename, so at every instant at least one complete copy exists on
    disk, and every intermediate state is recognizable from the three
    paths alone. This function self-heals on entry: a leftover
    ``*._compact_bak`` with the dataset missing (crash between the two
    renames) is rolled back; a leftover bak with the dataset present
    (crash before the rmtree) is cleaned up; a stale ``*._compact_tmp``
    (crash during the write) is discarded. On an object store or HDFS,
    swap via the catalog (table-location flip) or a format with
    transactional replace instead.

    Returns {"files_before": ..., "files_after": ...}.
    """
    import glob as _glob

    path = os.path.normpath(path)
    stats: dict[str, int] = {}

    def _write(tmp: str) -> None:
        # runs AFTER staged_swap's self-heal, so the listing and the scan
        # see a recovered dataset, never a half-swapped one
        before = _glob.glob(os.path.join(path, "*", "*.parquet"))
        stats["files_before"] = len(before)
        total_bytes = sum(os.path.getsize(f) for f in before)

        df = spark.read.parquet(path)
        # Per-partition file budgets from the DATA, not from parsing
        # directory names: a "col=value" dir name is URL-escaped
        # (':' → '%3A') and NULL becomes __HIVE_DEFAULT_PARTITION__, so a
        # string match back to column values can silently miss rows —
        # fatal in a rewrite-and-swap. Row counts per partition value are
        # exact; per-partition bytes are rows × measured average row
        # width (uniform-width approximation).
        counts = df.groupBy(F.col(partition_col).alias("_pv")).count().collect()
        total_rows = sum(r["count"] for r in counts) or 1
        bytes_per_row = total_bytes / total_rows
        n_per_part = {
            r["_pv"]: max(
                1, -(-int(r["count"] * bytes_per_row) // target_file_bytes)
            )  # ceil
            for r in counts
        }
        total_files = sum(n_per_part.values())

        if sort_within:
            out = df.repartitionByRange(
                int(total_files),
                F.col(partition_col),
                *[F.col(c) for c in sort_within],
            ).sortWithinPartitions(*[F.col(c) for c in sort_within])
        else:
            n_map = local_frame(
                spark,
                [(r["_pv"], n_per_part[r["_pv"]]) for r in counts],
                df.select(F.col(partition_col).alias("_pv")).schema.add(
                    "_nf", "long"
                ),
            )
            salt = F.pmod(
                F.xxhash64(*[F.col(c) for c in df.columns]), F.col("_nf")
            ).alias("_salt")
            out = (
                df.join(
                    F.broadcast(n_map),
                    F.col(partition_col).eqNullSafe(F.col("_pv")),
                )
                .select(*df.columns, salt)
                .repartition(
                    int(total_files), F.col(partition_col), F.col("_salt")
                )
                .drop("_salt")
            )
        out.write.partitionBy(partition_col).mode("overwrite").parquet(tmp)

    staged_swap(path, _write)
    after = _glob.glob(os.path.join(path, "*", "*.parquet"))
    return {"files_before": stats["files_before"], "files_after": len(after)}
