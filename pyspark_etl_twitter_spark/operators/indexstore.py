"""Persisted index stores: the one module that writes, appends to and
rewrites them.

Five index families persist their state as a directory of parquet tables
under one root path. Each family's build, append, compact and rebuild
goes through the helpers here.

Per-family layouts (the ``Table`` constants below state each once):

- IVF (``similarity.build_ivf_index``): ``assignments/`` partitioned by
  ``list_id``, single-file ``centroids/`` and ``queries/``.
- LSH (``similarity.build_lsh_index``): ``corpus/`` partitioned by
  ``(t, bucket)`` or flat (range-partitioned and sorted by them; the
  ``layout`` meta column says which), single-file ``queries/``, ``meta/``.
- IVF-PQ (``similarity.build_ivfpq_index``): ``codes/`` partitioned by
  ``list_id``, single-file ``queries/`` and ``meta/``.
- PQ code table (``similarity.build_pq_code_table``): plain ``codes/``,
  ``meta/``.
- MinHash (``dedup.build_minhash_index``): ``texts/``, ``bands/``,
  ``sigs/``, ``terms/``, each range-partitioned and sorted (``bands`` by
  ``(band_id, band_key)``, the others by ``doc_id``); ``meta/`` with a
  NOT NULL schema; a ``_CLEAN`` marker file. ``texts/`` is the commit
  surface: appends write it last, rewrites write it first.

``perfbench/index_lifecycle.py`` reads the MinHash ``texts/``,
``bands/``, ``sigs/`` and ``meta/`` directories directly, so their names
and layouts are fixed.

The contract every family keeps:

- Single writer. One caller mutates a store at a time; nothing here
  locks.
- Layout. An overwrite shuffles on the layout columns first (one file per
  partition directory, or ordered ranges); an append writes the batch
  into the same layout without that shuffle.
- Match the schema on append. A batch is cast to the table's existing
  schema before it is written (``append``): parquet files of one table
  with mixed types (``int`` vs ``bigint`` ids, ``array<double>`` vs
  ``array<float>`` vectors) fail at scan time depending on which file the
  reader samples for the merged schema. The appended path is then
  refreshed, so cached plans over it see the new files.
- Checkpoint before overwrite. A table rewritten from its own rows
  (``rewrite``: compaction and the MinHash rebuild; the IVF rebalance
  checkpoints its read the same way) is ``localCheckpoint``-ed first, so
  the overwrite never reads the files it deletes.
- Meta is one row written by the build (``write_meta``) and read back as
  a dict (``read_meta``).
- Local paths only where the local filesystem is used. The MinHash marker,
  the compaction file counts and the ``scd2`` snapshot pointer go through
  ``os``; ``require_local_path`` rejects any other URI scheme before a
  Spark job runs.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_etl_twitter_spark.functions.lits import local_table


@dataclass(frozen=True)
class Table:
    """One parquet table of a store: its directory and its layout, hive
    partition columns or range/sort columns (neither: plain files)."""

    name: str
    partition_by: tuple[str, ...] = ()
    range_by: tuple[str, ...] = ()

    def path(self, root: str) -> str:
        return f"{root}/{self.name}"


IVF_ASSIGNMENTS = Table("assignments", partition_by=("list_id",))
LSH_CORPUS = {
    "partitioned": Table("corpus", partition_by=("t", "bucket")),
    "flat": Table("corpus", range_by=("t", "bucket")),
}
IVFPQ_CODES = Table("codes", partition_by=("list_id",))
PQ_CODES = Table("codes")
#: in rewrite order: texts/ first, so a crash mid-rewrite leaves only
#: rows beyond the commit surface, never committed ids with missing rows
MINHASH_TABLES = (
    Table("texts", range_by=("doc_id",)),
    Table("bands", range_by=("band_id", "band_key")),
    Table("sigs", range_by=("doc_id",)),
    Table("terms", range_by=("doc_id",)),
)


def require_local_path(path: str) -> str:
    """``path`` as a local filesystem path, or ``ValueError`` for any URI
    scheme but ``file://``. Through ``hdfs://`` or ``s3a://``,
    ``os.path.exists`` is always False and ``os.walk`` finds nothing: an
    existing ``scd2`` snapshot table would read as empty and its next
    merge would reset it to v=0, a MinHash store would never look clean,
    and a compaction would count 0 files. A deployment on such a store
    swaps these for its own atomic primitive (a commit log, an atomic
    rename through the Hadoop FS API)."""
    scheme = path.split("://", 1)
    if len(scheme) == 2 and scheme[0] != "file":
        raise ValueError(
            f"store paths used through os/pathlib are local-filesystem-only "
            f"(got {path!r}); pointer, marker and file-count operations do "
            f"not exist through a {scheme[0]}:// URI"
        )
    return path.removeprefix("file://")


def write(df: DataFrame, root: str, table: Table, mode: str = "overwrite") -> None:
    """Write ``df`` as ``table`` in its layout."""
    if table.partition_by:
        if mode == "overwrite":
            df = df.repartition(*table.partition_by)
        writer = df.write.partitionBy(*table.partition_by)
    elif table.range_by:
        if mode == "overwrite":
            df = df.repartitionByRange(*table.range_by)
        writer = df.sortWithinPartitions(*table.range_by).write
    else:
        writer = df.write
    writer.mode(mode).parquet(table.path(root))


def refresh(spark: SparkSession, *paths: str) -> None:
    """Invalidate cached file listings and data for rewritten paths."""
    for path in paths:
        spark.catalog.refreshByPath(path)


def append(spark: SparkSession, df: DataFrame, root: str, table: Table) -> None:
    """Append a batch to ``table``, cast to its existing schema."""
    existing = spark.read.parquet(table.path(root)).schema
    df = df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in existing.fields]
    )
    write(df, root, table, "append")
    refresh(spark, table.path(root))


Edit = Callable[[Table, DataFrame], DataFrame]


def rewrite(
    spark: SparkSession, root: str, table: Table, edit: Edit | None = None
) -> None:
    """Overwrite ``table`` with its own rows, passed through ``edit``."""
    df = spark.read.parquet(table.path(root))
    if edit is not None:
        df = edit(table, df)
    write(df.localCheckpoint(), root, table)
    refresh(spark, table.path(root))


def _count_files(root: str, tables: Iterable[Table]) -> int:
    """Parquet files under the given tables of a local store."""
    local = require_local_path(root)
    return sum(
        1
        for table in tables
        for _dir, _sub, files in os.walk(table.path(local))
        for f in files
        if f.endswith(".parquet")
    )


def compact(
    spark: SparkSession,
    root: str,
    tables: tuple[Table, ...],
    edit: Edit | None = None,
) -> tuple[int, int]:
    """Rewrite each table in its layout; returns (files_before,
    files_after) over all of them."""
    before = _count_files(root, tables)
    for table in tables:
        rewrite(spark, root, table, edit)
    return before, _count_files(root, tables)


def write_wave(*writes: Callable[[], None]) -> None:
    """Run independent writes as one wave of concurrent Spark jobs: each
    small write is scheduler-bound, and its straggler tail frees cores the
    next job back-fills. The first failure propagates after all settle."""
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = [pool.submit(fn) for fn in writes]
        for fut in futures:
            fut.result()


def write_meta(spark: SparkSession, root: str, ddl: str, **values) -> None:
    """Write the store's one-row ``meta/`` table (Spark DDL schema)."""
    local_table(spark, ddl, {k: [v] for k, v in values.items()}).coalesce(
        1
    ).write.mode("overwrite").parquet(f"{root}/meta")


def read_meta(
    spark: SparkSession, root: str, *, builder: str | None = None
) -> dict | None:
    """The store's meta row as a dict. A missing meta table reads as None,
    or, when ``builder`` names the function that writes it, raises a
    ``ValueError`` saying to rebuild with it. Only the missing-path error
    is caught: an unreadable meta must propagate, not be mistaken for an
    absent one and probed with caller defaults."""
    try:
        row = spark.read.parquet(f"{root}/meta").first()
    except AnalysisException as exc:
        if not _path_not_found(exc):
            raise
        row = None
    if row is None and builder is not None:
        raise ValueError(
            f"index at {root!r} has no meta table — rebuild it with {builder}"
        )
    return None if row is None else row.asDict()


def _path_not_found(exc: Exception) -> bool:
    # the structured error class first (stable across Spark versions and
    # locales); the message only for builds whose errors carry none
    for getter in ("getCondition", "getErrorClass"):
        condition = getattr(exc, getter, lambda: None)()
        if condition:
            return condition == "PATH_NOT_FOUND"
    return "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc)
