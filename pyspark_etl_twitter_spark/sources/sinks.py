"""Batch + streaming sinks (SURVEY.md §2.1 S4-S7).

The reference's four sinks: console (consumer.py:58-63), JSON files with
checkpoint (consumer_local.py:59-66), Delta via foreachBatch
(consumer_delta.py:11-13,65-68), Mongo via foreachBatch
(consumer_mongo.py:10-13,69-71). Here: the generic engine equivalents, with
the reference's defects fixed (two-arg foreachBatch callbacks, explicit
query lifecycle, no bogus CSV options) and connector-dependent sinks gated
behind import-tries — the container has no Delta/Mongo jars.

Scale notes: batch writers partition output by a low-cardinality column
when given one (partition pruning for downstream readers); foreachBatch
callbacks must be idempotent on (epoch_id) for exactly-once semantics.
The parquet foreachBatch sinks get that from ``write_epoch``: each epoch
overwrites its own ``{path}/epoch_id=N`` directory, so a replayed epoch
replaces its rows instead of adding a second copy, and
``spark.read.parquet(path)`` returns ``epoch_id`` as an int partition
column, last in the schema. A sink directory written by an older version
of these sinks holds flat part files with an ``epoch_id`` data column;
it cannot be continued (partition discovery rejects the mixed layout), so
start such a stream at a fresh path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet(
    df: DataFrame, path: str, *, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_json(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_csv(df: DataFrame, path: str, *, mode: str = "overwrite", header: bool = True) -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def read_json(spark, path: str, schema) -> DataFrame:
    """Schema-explicit JSON read (never infer in production — inference is
    an extra full pass and non-deterministic under schema drift)."""
    return spark.read.schema(schema).json(path)


def read_csv(spark, path: str, schema, *, header: bool = True) -> DataFrame:
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)


def write_orc(
    df: DataFrame, path: str, *, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    """ORC sink (r7): the other columnar format Spark ships natively —
    same pushdown/pruning machinery as parquet (predicate pushdown via
    ORC SearchArguments, column projection, hive partitioning)."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark, path: str) -> DataFrame:
    """ORC scan — self-describing like parquet, so no schema argument."""
    return spark.read.orc(path)


def _datasource_resolves(spark, short_name: str) -> bool:
    """True when Spark's DataSource registry resolves ``short_name``.

    ``lookupDataSource`` takes a **SQLConf**, not a SparkConf — passing
    ``sc().conf()`` makes py4j raise 'method does not exist' for EVERY
    provider (even parquet), which silently turned the old probe into a
    constant False (r7 advice). Probe with the session's live SQLConf so
    a genuinely-deployed module opens the gate."""
    jvm = spark._jvm
    sql_conf = jvm.org.apache.spark.sql.internal.SQLConf.get()
    try:
        jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            short_name, sql_conf
        )
        return True
    except Exception:  # noqa: BLE001  (JVM AnalysisException via py4j)
        return False


def avro_available(spark) -> bool:
    """True when Spark's DataSource registry resolves the ``avro`` short
    name. A bare classpath check is NOT enough: pip PySpark ships some
    avro classes yet ``lookupDataSource`` still rejects the short name
    ('Avro is built-in but external data source module since Spark 2.4'),
    so probe the exact resolution the writer will perform. Env-gated in
    this container (no network to pull the module) exactly like
    Delta/Mongo. Sanity: if the probe machinery itself is broken, even
    'parquet' fails to resolve — treat that as a loud error, not a gate."""
    if not _datasource_resolves(spark, "parquet"):
        raise RuntimeError(
            "DataSource.lookupDataSource probe is broken: 'parquet' did not "
            "resolve — the avro gate would be meaninglessly closed"
        )
    return _datasource_resolves(spark, "avro")


_AVRO_GATE_MSG = (
    "spark-avro data source not deployable (external module since Spark "
    "2.4; no network in this container) — deploy with "
    "--packages org.apache.spark:spark-avro_2.13:<spark-version>"
)


def write_avro(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    """Avro sink (env-gated: external module, not deployable offline)."""
    if not avro_available(df.sparkSession):
        raise NotImplementedError(_AVRO_GATE_MSG)
    df.write.mode(mode).format("avro").save(path)


def read_avro(spark, path: str) -> DataFrame:
    if not avro_available(spark):
        raise NotImplementedError(_AVRO_GATE_MSG)
    return spark.read.format("avro").load(path)


def delta_available() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def foreach_batch_delta(df: DataFrame, path: str, checkpoint: str):
    """S6: Delta sink via foreachBatch. Gated: no Delta jars in this
    container. Fixes reference defects (a) the duplicate
    ``spark.jars.packages`` config key that clobbered the Delta package
    (consumer_delta.py:26-27), (b) the one-arg callback, (c) the missing
    query lifecycle management."""
    if not delta_available():
        raise NotImplementedError(
            "delta-spark not installed; add the delta jars + package to use this sink"
        )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("epoch_id", F.lit(epoch_id))
            .write.format("delta")
            .mode("append")
            .option("mergeSchema", "true")
            .save(path)
        )

    return (
        df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def mongo_available() -> bool:
    try:
        import pymongo  # noqa: F401

        return True
    except ImportError:
        return False


def foreach_batch_mongo(df: DataFrame, uri: str, database: str, collection: str):
    """S7: Mongo sink via foreachBatch (connector-gated, same defect fixes)."""
    if not mongo_available():
        raise NotImplementedError(
            "mongo connector not installed; add the spark-mongo package to use this sink"
        )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.write.format("mongodb")
            .mode("append")
            .option("spark.mongodb.write.connection.uri", uri)
            .option("spark.mongodb.write.database", database)
            .option("spark.mongodb.write.collection", collection)
            .save()
        )

    return df.writeStream.foreachBatch(write_batch).start()


def write_epoch(batch_df: DataFrame, path: str, epoch_id: int) -> None:
    """Write one foreachBatch epoch to its own ``{path}/epoch_id=N``
    directory, replacing whatever an earlier attempt of the epoch left.

    The epoch lives in the directory name, not in the plan: a
    ``lit(epoch_id)`` column is written into the generated Java source, so
    every epoch would miss Spark's compiled-code cache and recompile its
    whole-stage classes. With no per-epoch expression the plan is the same
    each batch and the classes compiled for the first one are reused."""
    batch_df.write.mode("overwrite").parquet(f"{path}/epoch_id={epoch_id}")


def foreach_batch_parquet(df: DataFrame, path: str, checkpoint: str):
    """Generic exactly-once foreachBatch sink: one directory per epoch
    (``write_epoch``), checkpointed — the engine's stand-in for
    Delta/Mongo in tests."""
    return (
        df.writeStream.foreachBatch(
            lambda batch_df, epoch_id: write_epoch(batch_df, path, epoch_id)
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )
