"""CDC upsert / SCD2 merge emulation (no MERGE INTO without Delta — the
engine pattern is anti-join + union, per the classic Spark playbook).

- ``upsert_latest``: compact a changelog to latest-row-per-key (CDC apply).
- ``scd2_apply``: apply a batch of updates to a type-2 slowly-changing
  dimension: close current versions of changed keys, append the new
  versions, keep history untouched.

Scale notes: both are one shuffle on the business key. ``scd2_apply``
touches only rows for keys present in the update batch (semi/anti joins
prune the untouched majority before the union); at 100 TB the dimension
should additionally be partitioned/bucketed by key so the join co-locates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_etl_twitter_spark.operators.indexstore import read_pointer, swap_pointer


def upsert_latest(
    changelog: DataFrame,
    *,
    key: str,
    version_col: str,
) -> DataFrame:
    """Latest row per key from an append-only changelog (CDC compaction).
    Deterministic: ties on version break by nothing — version must be a
    total order per key (enforce upstream: offset, commit ts, etc.)."""
    w = Window.partitionBy(key).orderBy(F.col(version_col).desc())
    return (
        changelog.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    *,
    key: str,
    effective_col: str = "effective_from",
    end_col: str = "effective_to",
    current_col: str = "is_current",
    ts_col: str = "update_ts",
) -> DataFrame:
    """Type-2 merge: ``dim`` rows carry (key, attributes…, effective_from,
    effective_to, is_current); ``updates`` carry (key, attributes…, ts_col).

    Result = untouched history ∪ closed-out old current rows ∪ new current
    rows. Updates for unseen keys insert directly."""
    upd_keys = updates.select(key).distinct()

    untouched = dim.join(upd_keys, key, "left_anti")
    touched_current = dim.filter(F.col(current_col)).join(upd_keys, key, "left_semi")
    touched_history = dim.filter(~F.col(current_col)).join(upd_keys, key, "left_semi")

    upd_ts = updates.groupBy(key).agg(F.max(ts_col).alias("_new_from"))
    closed = (
        touched_current.join(upd_ts, key)
        .withColumn(end_col, F.col("_new_from"))
        .withColumn(current_col, F.lit(False))
        .drop("_new_from")
    )

    latest_updates = upsert_latest(updates, key=key, version_col=ts_col)
    new_current = (
        latest_updates.withColumnRenamed(ts_col, effective_col)
        .withColumn(end_col, F.lit(None).cast(dim.schema[end_col].dataType))
        .withColumn(current_col, F.lit(True))
    )

    cols = dim.columns
    return (
        untouched.select(cols)
        .unionByName(touched_history.select(cols))
        .unionByName(closed.select(cols))
        .unionByName(new_current.select(cols))
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
):
    """Reconcile two table snapshots: full outer join on the key, compare
    a sha2 fingerprint of the tracked columns, classify every key as
    added / removed / changed / unchanged. The fingerprint keeps the
    shuffle payload at key + 32 bytes regardless of row width — the same
    trick incremental_dedup uses. Returns (key..., change_type).

    NULL handling: each column is coalesced to a sentinel (``\\x00<NULL>``)
    before concatenation so NULL is distinguishable from empty string and
    from a value shifting between columns — ``concat_ws`` alone silently
    drops NULLs, which would hash ('a', NULL) and (NULL, 'a') identically.
    This matches ``IS DISTINCT FROM`` per-column semantics (the DuckDB
    oracle's comparison)."""
    from pyspark.sql import functions as F

    _NULL = "\x00<NULL>"

    def fp(df):
        return df.select(
            *key_cols,
            F.sha2(
                F.concat_ws(
                    "\x1f",
                    *[
                        F.coalesce(F.col(c).cast("string"), F.lit(_NULL))
                        for c in compare_cols
                    ],
                ),
                256,
            ).alias("_fp"),
        )

    o = fp(old).withColumnRenamed("_fp", "_fp_old")
    n = fp(new).withColumnRenamed("_fp", "_fp_new")
    joined = o.join(n, key_cols, "full_outer")
    change = (
        F.when(F.col("_fp_old").isNull(), "added")
        .when(F.col("_fp_new").isNull(), "removed")
        .when(F.col("_fp_old") != F.col("_fp_new"), "changed")
        .otherwise("unchanged")
    )
    return joined.select(*key_cols, change.alias("change_type"))


# --------------------------------------------------------------------------
# Round 4: snapshot-isolated parquet MERGE (the Delta-sink twin, upgraded)
# --------------------------------------------------------------------------

# Versioned-snapshot table layout:
#   <path>/v=<N>/...parquet     immutable snapshot N
#   <path>/_latest              text file holding "<N> <epoch_marker>"
# Readers resolve _latest then read exactly one immutable snapshot dir —
# they see version N or N+1, never a partial write (the parquet files of
# N+1 are fully written BEFORE the pointer moves, and the pointer write is
# an atomic rename). This is the minimal shape of what Delta's commit log
# provides; it exists because the container has no delta-spark
# (COVERAGE.md environment gates) and the foreachBatch parquet twin
# (sources/sinks.py) needed a MERGE-capable, replay-idempotent target.
# Single-writer by contract (like one streaming query per sink).


def _read_latest_pointer(spark, path: str):
    raw = read_pointer(f"{path}/_latest")
    if raw is None:
        return None, None
    raw = raw.split()
    return int(raw[0]), (raw[1] if len(raw) > 1 else None)


def read_snapshot_table(spark, path: str) -> DataFrame | None:
    """Current contents of a versioned-snapshot table (None if empty)."""
    version, _ = _read_latest_pointer(spark, path)
    if version is None:
        return None
    return spark.read.parquet(f"{path}/v={version}")


def merge_upsert_snapshot(
    spark,
    path: str,
    updates: DataFrame,
    *,
    key: str,
    epoch_id: int | None = None,
) -> int:
    """MERGE INTO emulation with snapshot isolation: rows in ``updates``
    replace current rows with the same ``key``; everything else carries
    over unchanged (classic anti-join + union — no row-level file
    rewrites, the whole next snapshot is written immutably, then the
    pointer swaps atomically). Returns the new version number.

    Idempotent replay (the foreachBatch contract): when ``epoch_id`` is
    given and equals the marker recorded with the CURRENT pointer, the
    epoch already committed — the merge is a no-op returning the current
    version, so Structured Streaming retry semantics (same epoch
    re-delivered after a crash between sink write and checkpoint commit)
    cannot double-apply a batch.

    Crash safety: a crash BETWEEN the snapshot write and the pointer swap
    leaves an orphan ``v=N+1`` dir that no pointer references; the retry
    detects the same target version and overwrites the orphan (mode
    ``overwrite`` scoped to that one uncommitted dir — committed snapshots
    are never targeted because the version counter always moves past
    them), so replay converges instead of wedging on ``errorifexists``.

    Duplicate keys in one batch violate MERGE semantics (which row wins?)
    — exact duplicate ROWS collapse via ``dropDuplicates``, but two
    conflicting rows for one key raise (Delta's multiple-source-match
    error), because silently writing both would hand every downstream
    consumer a key-uniqueness violation.

    Scale: one key-partitioned anti-join per merge; at 100 TB the
    snapshot dirs would be partitioned by a key prefix so the anti-join
    co-locates and untouched partitions hard-link forward — the pointer
    mechanism is unchanged by that optimization."""
    current_version, current_epoch = _read_latest_pointer(spark, path)
    if epoch_id is not None and current_epoch == str(epoch_id):
        return current_version
    updates = updates.dropDuplicates()
    conflicts = (
        updates.groupBy(key).count().filter(F.col("count") > 1).limit(1).count()
    )
    if conflicts:
        raise ValueError(
            f"updates batch has conflicting rows for one {key!r} — "
            "MERGE requires a unique winner per key (pre-compact with "
            "upsert_latest)"
        )
    if current_version is None:
        new_version = 0
        merged = updates
    else:
        new_version = current_version + 1
        current = spark.read.parquet(f"{path}/v={current_version}")
        merged = updates.unionByName(
            current.join(updates.select(key).distinct(), key, "left_anti")
        )
    merged.write.mode("overwrite").parquet(f"{path}/v={new_version}")
    swap_pointer(
        f"{path}/_latest", f"{new_version} {epoch_id if epoch_id is not None else '-'}"
    )
    return new_version


def foreach_batch_merge(path: str, *, key: str):
    """foreachBatch callback factory: streaming MERGE sink with
    exactly-once via the epoch marker (the consumer_delta.py:11 pattern
    with the single-arg defect fixed AND real upsert semantics, which the
    plain parquet-append twin lacks)."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        merge_upsert_snapshot(
            batch_df.sparkSession, path, batch_df, key=key, epoch_id=epoch_id
        )

    return write_batch


def vacuum_snapshots(spark, path: str, *, keep_last: int = 2) -> list[int]:
    """Retention for versioned-snapshot tables: delete snapshot dirs older
    than the ``keep_last`` most recent versions at or below the CURRENT
    pointer. Orphan dirs ABOVE the pointer (a crash between snapshot
    write and pointer swap) are never touched — the next merge
    overwrites them (the documented recovery path). Never deletes the
    current version; returns the removed version numbers. The analogue
    of Delta's VACUUM against this table's commit-log twin: time travel
    back past the horizon becomes impossible, which is the explicit
    trade retention always is."""
    import os
    import re
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the current version stays)")
    current, _ = _read_latest_pointer(spark, path)
    if current is None:
        return []
    root = path.removeprefix("file://")
    removed = []
    for name in os.listdir(root):
        m = re.fullmatch(r"v=(\d+)", name)
        if m and int(m.group(1)) <= current - keep_last:
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
            removed.append(int(m.group(1)))
    return sorted(removed)
