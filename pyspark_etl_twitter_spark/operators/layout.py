"""Data-layout management: compaction, total-order writes, Z-order
clustering.

At 100 TB the dominant cost of every later query is decided at WRITE
time: file sizes (small-file explosion vs giant unsplittable files),
partition directories (partition pruning), within-file sort order
(parquet row-group min/max statistics → data skipping). The reference
pipeline appends micro-batch JSON files with no layout control
(consumer.py's file sink); this module is the engine-added surface a
long-lived corpus needs.

Three layouts, in increasing order of multi-dimensional skipping power:

- ``compact_write``: hive-partitioned directories + bounded file sizes +
  within-file sort. Pruning on the partition column is exact (directories
  never opened); skipping on the sort column rides row-group stats.
- ``range_sorted_write``: a TOTAL order across files without a
  single-partition sort — ``repartitionByRange`` samples the key
  distribution, so every file owns a disjoint key range. Point/range
  queries on the key open exactly the overlapping files.
- ``zorder_write``: interleaves the bits of several normalized keys into
  one clustering key, so file min/max boxes stay tight in EVERY queried
  dimension (a linear sort is tight only in the leading one). The same
  trick Delta Lake's OPTIMIZE ZORDER applies, expressed as pure Spark
  column arithmetic — no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark_etl_twitter_spark.operators import indexstore


def compact_write(
    df: DataFrame,
    path: str,
    *,
    partition_by: tuple[str, ...] = (),
    sort_within: tuple[str, ...] = (),
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Compacted parquet: hive partition dirs, optional within-partition
    sort (row-group stats become selective), bounded file row counts.
    ``maxRecordsPerFile`` splits oversized tasks at write time without an
    extra shuffle; pair with a prior ``repartition(n, *partition_by)`` if
    the small-file problem is task-count-driven instead."""
    out = df
    if partition_by:
        # co-locate each partition's rows into one task so each hive
        # directory gets few, large files instead of one per input task
        out = out.repartition(*[F.col(c) for c in partition_by])
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    writer = out.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def range_sorted_write(
    df: DataFrame,
    path: str,
    order_cols: tuple[str, ...],
    *,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Globally ordered layout: file i holds keys strictly below file
    i+1's (range partitioner samples boundaries), rows sorted inside each
    file. Total order at any scale — the sort is n_files independent
    sorts, never a single partition."""
    (
        df.repartitionByRange(n_files, *order_cols)
        .sortWithinPartitions(*order_cols)
        .write.mode(mode)
        .parquet(path)
    )


def zorder_key(
    cols: list[Column | str],
    ranges: list[tuple[float, float]],
    *,
    bits: int = 10,
) -> Column:
    """Bit-interleaved (Morton) clustering key over ``cols`` normalized to
    ``[0, 2^bits)`` by the given (min, max) ranges.

    Pure integer column arithmetic (2·bits·ncols shift/mask terms →
    whole-stage codegen); ranges come from one tiny min/max aggregate the
    caller runs (or from table statistics). Clamps out-of-range values, so
    stale ranges degrade clustering, never correctness."""
    n = len(cols)
    scale = (1 << bits) - 1
    quantized: list[Column] = []
    for c, (lo, hi) in zip(cols, ranges):
        col = F.col(c) if isinstance(c, str) else c
        span = (hi - lo) or 1.0
        q = F.floor((col.cast("double") - F.lit(float(lo))) / F.lit(span) * scale)
        q = F.greatest(F.lit(0), F.least(F.lit(scale), q)).cast("long")
        quantized.append(q)
    key = F.lit(0).cast("long")
    for i in range(bits):
        for j, q in enumerate(quantized):
            bit = F.shiftright(q, i).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, i * n + j))
    return key


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    bits: int = 10,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet: range-partition + sort on the Morton key
    of ``cols`` so every file's min/max box is tight in all ``cols`` at
    once. One extra min/max aggregate (ncols·2 scalars to the driver) to
    learn normalization ranges."""
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"hi_{c}") for c in cols],
    ).first()
    ranges = [(stats[f"lo_{c}"], stats[f"hi_{c}"]) for c in cols]
    keyed = df.withColumn("_zkey", zorder_key(list(cols), ranges, bits=bits))
    (
        keyed.repartitionByRange(n_files, "_zkey")
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode(mode)
        .parquet(path)
    )


def file_minmax_stats(path: str, cols: list[str]) -> list[dict]:
    """Per-file min/max of ``cols`` from parquet footer metadata — the
    same statistics a scan's data-skipping consults. Test/inspection
    helper (driver-side, reads only footers)."""
    import glob
    import os

    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        meta = pq.ParquetFile(f).metadata
        mins: dict[str, float] = {}
        maxs: dict[str, float] = {}
        for rg in range(meta.num_row_groups):
            row_group = meta.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if name in cols and col.statistics is not None:
                    st = col.statistics
                    if st.has_min_max:
                        mins[name] = min(mins.get(name, st.min), st.min)
                        maxs[name] = max(maxs.get(name, st.max), st.max)
        out.append({"file": os.path.basename(f), "min": mins, "max": maxs})
    return out


def files_touched_by_box(
    stats: list[dict], box: dict[str, tuple[float, float]]
) -> int:
    """How many files a min/max-pruning scan must open for a rectangular
    predicate — the layout-quality metric zorder_write optimizes."""
    n = 0
    for s in stats:
        hit = True
        for col, (lo, hi) in box.items():
            if col not in s["min"]:
                continue
            if s["max"][col] < lo or s["min"][col] > hi:
                hit = False
                break
        if hit:
            n += 1
    return n


def backfill_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
) -> None:
    """Idempotent partition backfill: dynamic partition overwrite replaces
    ONLY the partitions present in ``df`` and leaves every other partition
    untouched — the correction/backfill primitive a partitioned lake needs
    (static overwrite mode would wipe the whole table; append would
    duplicate). Re-running the same backfill is a no-op in content terms
    (exactly-once per partition by construction)."""
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    indexstore.refresh(spark, path)
