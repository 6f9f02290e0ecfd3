"""Persisted index stores: the one module that writes, commits and reads
them.

Five index families persist their state as a directory of parquet tables
under one root path, plus the manifest ``{root}/_manifest.json`` that
names the live version. Each family's build, append, compact and rebuild
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
  NOT NULL schema.

``perfbench/index_lifecycle.py`` reads the MinHash ``texts/``,
``bands/``, ``sigs/`` and ``meta/`` directories directly, so their names
and layouts are fixed.

The commit protocol. Every change to a store is one commit:

1. ``write`` adds the new part files to the table's directory in append
   mode, so no old file is deleted yet, and finds them by diffing the
   directory listing before and after the write (safe: one writer).
2. ``commit`` atomically replaces the manifest (``swap_pointer``: a temp
   file, then ``os.replace``). Every table an operation writes, such as a
   MinHash append's four, goes into that one swap.
3. ``commit`` then vacuums: every ``.parquet`` file (and its ``.crc``)
   under the store's tables that the manifest does not list is deleted,
   so each table directory holds exactly the live version.

A crash before the swap leaves the previous version: the new files are
listed nowhere, and the next commit's vacuum deletes them. A crash after
it leaves the new version. No reader sees a partial one.

The manifest (format ``FORMAT``)::

    {"format": 1, "version": 3, "params": {...},
     "tables": {"<table>": {"files": ["<path under root>", ...],
                            "rows": 1234, "schema": <Spark schema JSON>}}}

``version`` counts commits. ``rows`` is summed from the parquet footers
on the driver. ``schema`` is what a scan of the files reads, hive
partition columns last. ``params`` are the build parameters: the row of
the ``meta/`` table (still written), or the IVF build's, which has none.

The contract every family keeps:

- Single writer. One caller mutates a store at a time; nothing here
  locks.
- Readers name files. ``read`` scans exactly the manifest's files with
  its schema: no schema-inference job, and no cached directory listing
  that a later commit could make stale. ``read_meta`` is a JSON read.
- Layout. An overwrite shuffles on the layout columns first (one file per
  partition directory, or ordered ranges); an append writes the batch
  into the same layout without that shuffle.
- Match the schema on append. A batch is cast to the table's schema
  before it is written (``append``): parquet files of one table with
  mixed types (``int`` vs ``bigint`` ids, ``array<double>`` vs
  ``array<float>`` vectors) fail at scan time.
- Local paths only. The manifest, the listings and the vacuum go through
  ``os``, as do the ``scd2`` snapshot pointer and the KS monitor's
  histogram pointer (the same ``swap_pointer``/``read_pointer`` pair);
  ``require_local_path`` rejects any other URI scheme before a Spark job
  runs.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from contextlib import suppress
from dataclasses import dataclass
from functools import partial

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pyspark_etl_twitter_spark.functions.lits import local_table

FORMAT = 1
MANIFEST = "_manifest.json"


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
IVF_CENTROIDS = Table("centroids")
QUERIES = Table("queries")
META = Table("meta")
LSH_CORPUS = {
    "partitioned": Table("corpus", partition_by=("t", "bucket")),
    "flat": Table("corpus", range_by=("t", "bucket")),
}
IVFPQ_CODES = Table("codes", partition_by=("list_id",))
PQ_CODES = Table("codes")
MINHASH_TABLES = (
    Table("texts", range_by=("doc_id",)),
    Table("bands", range_by=("band_id", "band_key")),
    Table("sigs", range_by=("doc_id",)),
    Table("terms", range_by=("doc_id",)),
)


def require_local_path(path: str) -> str:
    """``path`` as a local filesystem path, or ``ValueError`` for any URI
    scheme but ``file://``. Through ``hdfs://`` or ``s3a://``,
    ``os.path.exists`` is always False and ``os.walk`` finds nothing: a
    store's manifest would read as absent and its new files as none, an
    existing ``scd2`` snapshot table would read as empty and its next
    merge would reset it to v=0, and the KS monitor would re-merge every
    batch into an empty histogram. A deployment on such a store swaps
    these for its own atomic primitive (a commit log, an atomic rename
    through the Hadoop FS API)."""
    scheme = path.split("://", 1)
    if len(scheme) == 2 and scheme[0] != "file":
        raise ValueError(
            f"store paths used through os/pathlib are local-filesystem-only "
            f"(got {path!r}); pointer, manifest and listing operations do "
            f"not exist through a {scheme[0]}:// URI"
        )
    return path.removeprefix("file://")


def swap_pointer(path: str, payload: str) -> None:
    """Atomically replace the local file ``path`` with ``payload``: a temp
    file beside it, then ``os.replace``, so a reader sees the old payload
    or the new one, never part of one."""
    local = require_local_path(path)
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(local), prefix=f"{os.path.basename(local)}."
    )
    with os.fdopen(fd, "w") as f:
        f.write(payload)
    os.replace(tmp, local)


def read_pointer(path: str) -> str | None:
    """The payload last swapped in at ``path`` (None: none yet)."""
    local = require_local_path(path)
    if not os.path.exists(local):
        return None
    with open(local) as f:
        return f.read()


def manifest(root: str) -> dict | None:
    """The store's manifest (None: no store at ``root``)."""
    raw = read_pointer(f"{root}/{MANIFEST}")
    return None if raw is None else json.loads(raw)


def _tables(root: str) -> dict:
    found = manifest(root)
    if found is None:
        raise ValueError(f"no index store at {root!r} (no {MANIFEST})")
    return found["tables"]


def _files(local: str, name: str) -> set[str]:
    """Parquet files under table ``name``, as paths under the root."""
    return {
        os.path.relpath(os.path.join(d, f), local)
        for d, _sub, files in os.walk(f"{local}/{name}")
        for f in files
        if f.endswith(".parquet")
    }


def _scan(
    spark: SparkSession, root: str, name: str, schema: StructType, files: list[str]
) -> DataFrame:
    reader = spark.read.schema(schema)
    if files:  # hive partition values come from the paths below basePath
        reader = reader.option("basePath", f"{root}/{name}")
    return reader.parquet(*(f"{root}/{f}" for f in files))


def write(df: DataFrame, root: str, table: Table, mode: str = "overwrite") -> dict:
    """Write ``df`` as new files of ``table`` in its layout; returns the
    table's manifest entry for ``commit``, which publishes it. An
    ``overwrite`` entry holds only the new files; an ``append`` casts the
    batch to the table's schema and adds its files to the live ones."""
    local = require_local_path(root)
    before = _files(local, table.name)
    if mode == "append":
        live = _tables(root)[table.name]
        schema = StructType.fromJson(live["schema"])
        df = df.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema])
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
    writer.mode("append").parquet(table.path(root))
    files = sorted(_files(local, table.name) - before)
    rows = sum(pq.read_metadata(f"{local}/{f}").num_rows for f in files)
    if mode == "append":
        files, rows = live["files"] + files, live["rows"] + rows
        return {table.name: {"files": files, "rows": rows, "schema": live["schema"]}}
    # the scan types the partition columns from the directory names
    data = StructType([f for f in df.schema if f.name not in table.partition_by])
    schema = _scan(df.sparkSession, root, table.name, data, files).schema
    return {table.name: {"files": files, "rows": rows, "schema": schema.jsonValue()}}


def write_wave(*writes: Callable[[], dict]) -> list[dict]:
    """Run independent writes as one wave of concurrent Spark jobs: each
    small write is scheduler-bound, and its straggler tail frees cores the
    next job back-fills. The first failure propagates after all settle."""
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = [pool.submit(fn) for fn in writes]
        return [fut.result() for fut in futures]


def write_meta(spark: SparkSession, root: str, ddl: str, **values) -> dict:
    """Write the store's one-row ``meta/`` table (Spark DDL schema)."""
    df = local_table(spark, ddl, {k: [v] for k, v in values.items()})
    return write(df.coalesce(1), root, META)


def commit(root: str, *written: dict, params: dict | None = None) -> None:
    """Publish the ``written`` table entries as the store's next version in
    one manifest swap, then vacuum. The build parameters are the stored
    ``meta/`` row, else ``params``, else the previous version's."""
    local = require_local_path(root)
    old = manifest(root) or {"version": -1, "params": {}, "tables": {}}
    tables = old["tables"]
    for entries in written:
        tables.update(entries)
    if "meta" in tables:  # the meta row as stored is the build parameters
        (params,) = pq.read_table(f"{local}/{tables['meta']['files'][0]}").to_pylist()
    version = {
        "format": FORMAT,
        "version": old["version"] + 1,
        "params": params or old["params"],
        "tables": tables,
    }
    swap_pointer(f"{root}/{MANIFEST}", json.dumps(version, indent=1))
    _vacuum(local, tables)


def _vacuum(local: str, tables: dict) -> None:
    """Delete every parquet file (and its checksum) under the tables that
    the manifest does not list, then the directories that leaves empty."""
    for name, entry in tables.items():
        live = set(entry["files"])
        top = f"{local}/{name}"
        for d, _sub, files in os.walk(top, topdown=False):
            for f in files:
                stale = os.path.relpath(f"{d}/{f}", local) not in live
                if f.endswith(".parquet") and stale:
                    os.remove(f"{d}/{f}")
                    with suppress(FileNotFoundError):
                        os.remove(f"{d}/.{f}.crc")
            if d != top and not os.listdir(d):
                os.rmdir(d)


def read(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Scan table ``name`` of the store's live version: exactly the
    manifest's files, with its schema."""
    entry = _tables(root)[name]
    return _scan(spark, root, name, StructType.fromJson(entry["schema"]), entry["files"])


def read_meta(root: str, builder: str) -> dict:
    """The store's build parameters. A store without a manifest, which
    includes one written before the manifest existed, raises a
    ``ValueError`` saying to rebuild it with ``builder``."""
    found = manifest(root)
    if found is None:
        raise ValueError(
            f"index at {root!r} has no meta table — rebuild it with {builder}"
        )
    return found["params"]


def append(root: str, *batches: tuple[Table, DataFrame]) -> None:
    """Append each ``(table, batch)`` as one wave of writes and one
    commit."""
    writes = (partial(write, df, root, table, "append") for table, df in batches)
    commit(root, *write_wave(*writes))


def compact(
    spark: SparkSession,
    root: str,
    tables: tuple[Table, ...],
    edit: Callable[[DataFrame], DataFrame] | None = None,
) -> tuple[int, int]:
    """Rewrite each table's own rows, passed through ``edit``, in its
    layout, as one commit. The scans name the old files, which stay until
    the vacuum. Returns (files_before, files_after) over the tables."""
    before = sum(len(_tables(root)[t.name]["files"]) for t in tables)
    edit = edit or (lambda df: df)
    written = [write(edit(read(spark, root, t.name)), root, t) for t in tables]
    commit(root, *written)
    return before, sum(len(e["files"]) for w in written for e in w.values())


def refresh(spark: SparkSession, *paths: str) -> None:
    """Invalidate cached file listings and data for rewritten paths."""
    for path in paths:
        spark.catalog.refreshByPath(path)
