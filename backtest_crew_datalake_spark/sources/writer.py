"""Lake writer — idempotent keyed upsert into the Hive-partitioned tree.

ref src/datalake/ingestors/ibkr/writer.py:126-233: the reference read-modify-
writes whole monthly parquet files (merge + drop_duplicates keep-last + atomic
tmp→rename). That's fine at 43k rows/month and wrong at 100 TB (SURVEY §7.4).

Spark-first replacement: union(new, existing-overlapping-partitions) →
row_number dedupe keep-last with new-over-existing priority → dynamic
partition OVERWRITE, which atomically replaces only the partitions present in
the output (spark.sql.sources.partitionOverwriteMode=dynamic, set by
session.py). Only partitions the new data touches are ever read or written —
an incremental day-ingest reads ~1 month-partition per symbol, not the lake.
With Delta available this maps 1:1 to MERGE INTO; plain parquet keeps the repo
dependency-free. Writers of one dataset serialize on a kernel ``flock``
(``_dataset_lock``) held across each read-modify-write.

Fixes-by-construction (documented in SURVEY §7.4): the reference routes a
whole frame to the FIRST row's (year, month) file (writer.py:142-143) — Spark's
per-row partitionBy routes correctly; differential tests must not expect the
reference's month-routing hazard.
"""

from __future__ import annotations

import fcntl
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import dedupe_keep
from ..schemas import PRIMARY_KEY, enforce_schema

_PRIO = "__upsert_priority"
_PART_COLS = ["source", "market", "timeframe", "symbol", "year", "month"]

# Above this many touched partitions the per-partition OR-chain predicate
# (planning-time pruning) is replaced by a distributed left-semi join on the
# partition tuple (runtime pruning via DPP) — a 10^5-partition backfill never
# collects its partition list to the driver.
_PRED_LIMIT = 512

# Seconds a writer waits for its dataset lock before PartitionLockTimeout.
_LOCK_TIMEOUT_S = 120.0


class PartitionLockTimeout(RuntimeError):
    """Another writer held the dataset lock past the acquire timeout."""


@contextmanager
def _dataset_lock(lake_root: str, dataset: str):
    """Hold an exclusive ``flock`` on ``<lake_root>/.locks/<dataset>.lock``
    across one writer's read-modify-write of ``<lake_root>/<dataset>``.

    The kernel arbitrates: each ``open()`` is its own lock owner, so threads
    of one process serialize exactly like separate processes, and a holder
    that dies (even by SIGKILL) releases the lock when its descriptor
    closes, with no lease to expire. The lock file lives outside the dataset
    directory, so creating it never makes an empty lake look non-empty.
    Like compact_partitions, this needs a local POSIX filesystem
    (docs/partitioning.md).
    """
    lock_dir = os.path.join(lake_root, ".locks")
    os.makedirs(lock_dir, exist_ok=True)
    path = os.path.join(lock_dir, f"{dataset}.lock")
    fd = os.open(path, os.O_RDWR | os.O_CREAT, 0o644)
    try:
        deadline = time.monotonic() + _LOCK_TIMEOUT_S
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except BlockingIOError:
                if time.monotonic() > deadline:
                    raise PartitionLockTimeout(
                        f"timed out waiting for {path}") from None
                time.sleep(0.05)
        yield
    finally:
        os.close(fd)  # closing the descriptor releases the lock


def _dataset_exists(spark: SparkSession, path: str) -> bool:
    """True if the dataset directory exists (Hadoop FS — works for any
    supported filesystem, not just local). Treating ONLY a missing path as
    'empty lake' keeps transient read errors fatal: a swallowed IO failure
    here would make the dynamic-partition overwrite silently replace
    existing partitions with just the new rows."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(hpath)


def _with_partitions(df: DataFrame) -> DataFrame:
    # Zero-padded strings to match the reference tree exactly
    # (year=2024/month=01, docs/specs/partitioning.md); lexicographic order on
    # concat(year, month) is then chronological, which the reader exploits for
    # partition pruning.
    return df.withColumn("year", F.date_format("ts", "yyyy")).withColumn(
        "month", F.date_format("ts", "MM")
    )


def upsert_candles(
    spark: SparkSession,
    df_new: DataFrame,
    lake_root: str,
    dataset: str = "data",
    key: list[str] | None = None,
) -> None:
    """Merge-upsert candle rows into <lake_root>/<dataset>, dedupe keep-last on
    the primary key (source, symbol, timeframe, ts) with NEW rows winning
    (ref writer.py:193-199 keep='last' after concat([existing, new])).

    Idempotent: re-writing the same rows is a no-op (ref README.md:176).
    """
    key = key or PRIMARY_KEY
    new = _with_partitions(enforce_schema(df_new)).withColumn(_PRIO, F.lit(1))
    path = f"{lake_root}/{dataset}"

    # Restrict the merge to partitions the new data actually touches. The
    # touched list is collected ONLY up to _PRED_LIMIT (planning-time
    # OR-chain pruning); a wide backfill switches to a left-semi join on the
    # partition tuple — fully distributed, pruned at runtime by dynamic
    # partition pruning instead of at the driver.
    touched_df = new.select(*_PART_COLS).distinct()
    touched = touched_df.limit(_PRED_LIMIT + 1).collect()
    overflow = len(touched) > _PRED_LIMIT

    with _dataset_lock(lake_root, dataset):
        if _dataset_exists(spark, path):
            existing = spark.read.option("basePath", path).parquet(path)
            if overflow:
                existing = existing.join(
                    touched_df, on=_PART_COLS, how="left_semi")
            else:
                pred = F.lit(False)
                for r in touched:
                    clause = F.lit(True)
                    for c in _PART_COLS:
                        clause = clause & (F.col(c) == r[c])
                    pred = pred | clause
                existing = existing.where(pred)
            existing = (
                enforce_schema(existing)
                .transform(_with_partitions)
                .withColumn(_PRIO, F.lit(0))
            )
            merged = existing.unionByName(new, allowMissingColumns=True)
        else:  # first write into an empty lake
            merged = new

        out = dedupe_keep(merged, key=key, order=[_PRIO], keep="last").drop(_PRIO)
        (
            # Sort within files by ts so parquet row-group min/max stats make
            # the reader's ts-range pushdown effective (SURVEY §4).
            out.repartition(*_PART_COLS)
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            # Per-write dynamic overwrite: replace ONLY partitions present in
            # the output even when the caller's session lacks the conf —
            # static overwrite here would delete every untouched partition.
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*_PART_COLS)
            .parquet(path)
        )


def write_levels(
    spark: SparkSession, df: DataFrame, lake_root: str, tz_note: str | None = None
) -> None:
    """Upsert OR-levels keyed (session_date, symbol) into <root>/levels
    partitioned by symbol/year (ref or_levels.py:67-83, key at line 76)."""
    path = f"{lake_root}/levels"
    new = df.withColumn("year", F.year("session_date")).withColumn(_PRIO, F.lit(1))
    with _dataset_lock(lake_root, "levels"):
        if _dataset_exists(spark, path):
            existing = (
                spark.read.option("basePath", path).parquet(path)
                .withColumn(_PRIO, F.lit(0))
            )
            merged = existing.unionByName(new, allowMissingColumns=True)
        else:
            merged = new
        out = dedupe_keep(merged, key=["session_date", "symbol"],
                          order=[_PRIO], keep="last").drop(_PRIO)
        (
            out.repartition("symbol", "year")
            .sortWithinPartitions("session_date")
            .write.mode("overwrite")
            # per-write dynamic overwrite — see upsert_candles
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("symbol", "year")
            .parquet(path)
        )


def compact_partitions(
    spark: SparkSession,
    lake_root: str,
    dataset: str = "data",
    target_mb: int = 128,
    sort_col: str | None = "ts",
    zorder_cols: tuple[str, str] | None = None,
    write_options: dict[str, str] | None = None,
) -> dict[str, tuple[int, int]]:
    """Compact small files within each leaf partition of the lake — the
    maintenance pass that keeps scan parallelism healthy after many
    incremental upserts (every upsert rewrites touched partitions; frequent
    small ingests leave each partition with one small file per run, and at
    100 TB a million tiny files costs more in listing+open than the scan).

    LOCAL-FILESYSTEM maintenance pass: it walks/renames via the driver's os
    module (os.walk/os.rename). Run it while no reader scans the dataset:
    the two-rename swap has a window where a reader sees the leaf absent
    and returns zero rows for that partition. For object-store lakes use a
    table format's OPTIMIZE instead.

    Per leaf dir: if it holds more parquet files than ceil(bytes/target),
    rewrite to that many files — sorted by ``sort_col`` when the column
    exists (pass None to skip sorting; the default suits the candle
    datasets), or Z-order CLUSTERED when ``zorder_cols=(a, b)`` is given
    (range-partition + sort on the Morton key, the OPTIMIZE ZORDER BY
    analogue: compaction and multi-column clustering in the same rewrite,
    so the maintenance pass that already pays the partition rewrite also
    buys row-group skipping on both columns) — then swap the directory
    in: old → dot-prefixed bak, tmp → leaf, drop bak. tmp/bak names are dot-prefixed so Spark's file listing
    and partition discovery ignore them mid-swap (hidden-path rule). The
    swap is two renames, not one atomic op: a crash in the gap leaves the
    leaf absent but fully preserved in the bak — the next run restores it
    before compacting (recovery below). Row counts are verified before any
    swap.

    Returns {leaf_path: (files_before, files_after)} for compacted leaves.
    """
    import math
    import shutil

    root = os.path.join(lake_root, dataset)
    out: dict[str, tuple[int, int]] = {}

    def _tmp_bak(dirpath):
        parent, base = os.path.split(dirpath)
        return (os.path.join(parent, f".__compact_tmp_{base}"),
                os.path.join(parent, f".__compact_bak_{base}"))

    with _dataset_lock(lake_root, dataset):
        # recovery pass: restore leaves lost to a crash between the two
        # renames, and clear stale tmps — before the (pre-materialized)
        # compaction walk
        for dirpath, subdirs, _files in list(os.walk(root)):
            for sub in list(subdirs):
                full = os.path.join(dirpath, sub)
                if sub.startswith(".__compact_tmp_"):
                    shutil.rmtree(full, ignore_errors=True)
                elif sub.startswith(".__compact_bak_"):
                    orig = os.path.join(dirpath,
                                        sub[len(".__compact_bak_"):])
                    if os.path.exists(orig):
                        shutil.rmtree(full)      # swap completed; drop bak
                    else:
                        os.rename(full, orig)    # crashed mid-swap; restore

        # materialize the walk before mutating directories beneath it
        leaves = [(d, fs) for d, _sub, fs in os.walk(root)]
        for dirpath, filenames in leaves:
            parts = [f for f in filenames if f.endswith(".parquet")
                     and not f.startswith((".", "_"))]
            if len(parts) <= 1:
                continue
            total_bytes = sum(
                os.path.getsize(os.path.join(dirpath, f)) for f in parts
            )
            want = max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))
            if len(parts) <= want:
                continue
            df = spark.read.parquet(dirpath)
            n_before = df.count()
            tmp, bak = _tmp_bak(dirpath)
            shutil.rmtree(tmp, ignore_errors=True)
            if (zorder_cols is not None
                    and all(c in df.columns for c in zorder_cols)):
                from .layout import zorder_key

                w = (
                    df.withColumn("__z", zorder_key(*zorder_cols))
                    .repartitionByRange(want, "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            else:
                w = df.coalesce(want)
                if sort_col is not None and sort_col in df.columns:
                    w = w.sortWithinPartitions(sort_col)
            writer = w.write.mode("overwrite")
            for k, v in (write_options or {}).items():
                writer = writer.option(k, v)
            writer.parquet(tmp)
            n_after = spark.read.parquet(tmp).count()
            if n_after != n_before:  # never swap in a bad rewrite
                shutil.rmtree(tmp, ignore_errors=True)
                raise RuntimeError(
                    f"compaction row-count mismatch in {dirpath}: "
                    f"{n_before} -> {n_after}"
                )
            os.rename(dirpath, bak)
            os.rename(tmp, dirpath)
            shutil.rmtree(bak)
            new_parts = [f for f in os.listdir(dirpath)
                         if f.endswith(".parquet")]
            out[dirpath] = (len(parts), len(new_parts))
    return out
