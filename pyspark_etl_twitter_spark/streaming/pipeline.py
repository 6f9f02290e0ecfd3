"""Streaming pipeline: the reference's Kafka consumers, Spark-first.

The reference reads Kafka (consumer.py:31-38) and the engine-equivalent
source is any Structured Streaming source with the same record shape; tests
use file-replay (JSON micro-batch files in event order) as the in-container
stand-in (SURVEY.md §2.1 S1/S3). The logical pipeline is *identical* to the
batch path — the same column expressions and the same broadcast weight
join — bound to ``readStream`` instead of ``read``. That is the point of
the native rewrite: batch/stream parity for free, because nothing in the
plan is a Python UDF or an MLlib stage.

Reference defects fixed here (SURVEY.md §2.1):
- (b) foreachBatch callbacks take ``(batch_df, epoch_id)`` — the reference
  declared single-parameter callbacks (consumer_delta.py:11,
  consumer_mongo.py:10) which Structured Streaming calls with two args;
- (c) every started query is awaited or explicitly managed — the reference
  started the Delta query without ``awaitTermination()``
  (consumer_delta.py:68);
- (d) no bogus options (``option("header", ...)`` on Kafka/JSON,
  consumer.py:37, consumer_local.py:63).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_etl_twitter_spark.operators.sentiment import score_documents
from pyspark_etl_twitter_spark.sources.sinks import write_epoch

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

DOCUMENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def replay_to_json(
    df: DataFrame, out_dir: str, *, n_files: int = 10, order_col: str = "ts"
) -> list[str]:
    """Split a batch table into ``n_files`` sequential JSON-lines files in
    ``order_col`` order — a deterministic replay directory for file-source
    streaming tests (FIXTURES.md events_stream). Timestamps serialize as
    ISO strings; the stream schema parses them back.

    Each file gets a strictly increasing mtime: Spark's FileStreamSource
    orders pending files by MODIFICATION TIME, not path, and files written
    in the same clock tick tie — a tie broken against event-time order
    makes a later-time file advance the watermark first and the earlier
    file's whole span arrives "late" and is dropped (observed as an
    intermittently missing ~190 sessions in the session-window test)."""
    os.makedirs(out_dir, exist_ok=True)
    pdf = df.toPandas().sort_values(order_col).reset_index(drop=True)
    import time

    import numpy as np

    base = time.time() - 2 * n_files
    paths = []
    for i, chunk in enumerate(np.array_split(pdf, n_files)):
        path = os.path.join(out_dir, f"batch_{i:04d}.json")
        chunk.to_json(
            path, orient="records", lines=True, date_format="iso", date_unit="us"
        )
        os.utime(path, times=(base + i, base + i))
        paths.append(path)
    return paths


def stream_events(
    spark: SparkSession, replay_dir: str, *, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-replay streaming source for events (Kafka stand-in, S3)."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(replay_dir)
    )


def stream_documents(
    spark: SparkSession, replay_dir: str, *, max_files_per_trigger: int = 1
) -> DataFrame:
    return (
        spark.readStream.schema(DOCUMENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(replay_dir)
    )


def score_stream_foreach_batch(
    doc_stream: DataFrame,
    weights: DataFrame,
    out_path: str,
    checkpoint: str,
):
    """Streaming sentiment scoring via foreachBatch — the consumer_delta /
    consumer_mongo pattern (S6/S7) with the defects fixed: the callback
    takes (batch_df, epoch_id) and writes each epoch to its own
    ``out_path/epoch_id=N`` directory (``sinks.write_epoch``), so a
    replayed epoch overwrites its rows and the output stays exactly-once.
    Per micro-batch, the *batch* scoring plan runs unchanged
    (stream-static broadcast join), and since no expression in it carries
    the epoch, every batch after the first reuses its compiled code."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch(score_documents(batch_df, weights), out_path, epoch_id)

    return (
        doc_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .queryName("score_stream")
        .start()
    )


def console_sink(df: DataFrame, *, output_mode: str = "update"):
    """S4: console sink, update mode (consumer.py:58-63)."""
    return df.writeStream.format("console").outputMode(output_mode).start()


def json_sink(df: DataFrame, path: str, checkpoint: str):
    """S5: append-mode JSON file sink with exactly-once via the
    ``_spark_metadata`` commit log (consumer_local.py:59-66)."""
    return (
        df.writeStream.outputMode("append")
        .format("json")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def streaming_score_throughput(
    spark: SparkSession,
    sf_dir: str,
    *,
    replicate: int = 20,
    n_files: int = 10,
    max_files_per_trigger: int = 2,
    tmp_root: str | None = None,
) -> dict:
    """End-to-end streaming sentiment throughput: the reference's whole
    consumer topology (S1 source → P1-P4 projection → M2-M5 scoring →
    sink) as ONE measured number, comparable to BASELINE.md's derived
    ~32 rows/s (2,815 predictions / ~88 s, consumer.py end-to-end).

    The corpus is the sf documents table replicated ``replicate``× via an
    explode (no driver materialization), written once as a JSON replay
    directory (the Kafka stand-in, same as the streaming tests), then
    streamed with ``maxFilesPerTrigger`` batching through foreachBatch →
    broadcast-weight scoring → noop sink. Returns
    ``{rows, batches, elapsed_sec, rows_per_sec}`` where elapsed covers
    first trigger to drain (``processAllAvailable``).

    Scale stance: the per-batch plan is the batch scorer unchanged
    (stream-static broadcast join, one doc-id shuffle); throughput grows
    with executors because no stage is driver-bound."""
    import shutil
    import tempfile
    import time

    from pyspark_etl_twitter_spark.operators.sentiment import (
        build_weight_table,
        score_documents,
    )
    from pyspark_etl_twitter_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    weights = build_weight_table(docs).localCheckpoint()
    rep = (
        docs.select(
            F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))).alias("_r"), "*"
        )
        .withColumn("doc_id", F.col("doc_id") * replicate + F.col("_r"))
        .drop("_r")
    )
    root = tempfile.mkdtemp(prefix="spark_graft_stream_bench_", dir=tmp_root)
    try:
        replay = os.path.join(root, "replay")
        rep.repartition(n_files).write.mode("overwrite").json(replay)
        # exact by construction — avoids re-running the explode just to count
        total = docs.count() * replicate

        # batches are counted in the callback: recentProgress caps at ~100
        # entries, and a stateless file-source query calls foreachBatch
        # only when new files arrived — every replay file holds rows, so
        # every call is a batch with data
        n_batches = [0]

        def _score_batch(batch_df: DataFrame, _epoch: int) -> None:
            n_batches[0] += 1
            score_documents(batch_df, weights).write.format("noop").mode(
                "overwrite"
            ).save()

        stream = stream_documents(
            spark, replay, max_files_per_trigger=max_files_per_trigger
        )
        start = time.perf_counter()
        query = (
            stream.writeStream.foreachBatch(_score_batch)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .queryName("throughput_bench")
            .start()
        )
        query.processAllAvailable()
        elapsed = time.perf_counter() - start
        batches = n_batches[0]
        query.stop()
        return {
            "rows": total,
            "batches": batches,
            "elapsed_sec": round(elapsed, 3),
            "rows_per_sec": round(total / elapsed, 1),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def streaming_events_throughput(
    spark: SparkSession,
    sf_dir: str,
    *,
    kind: str = "window",
    n_files: int = 10,
    max_files_per_trigger: int = 2,
    tmp_root: str | None = None,
) -> dict:
    """Throughput of the STATEFUL streaming surfaces over the full events
    table replay (100k rows at sf0.1), the companion numbers to
    ``streaming_score_throughput`` (which measures the stateless scoring
    topology):

    - ``kind='window'``: watermarked tumbling-window aggregate
      (streaming/windows.tumbling_counts) — state bounded by
      (windows × event types), the shuffle is the windowed groupBy.
    - ``kind='funnel'``: per-user ordered-funnel progress via
      ``applyInPandasWithState`` (streaming/stateful.streaming_funnel) —
      state is 24 bytes/user; the Arrow-batched Python stage is the
      documented slow path this row prices.

    Returns ``{rows, elapsed_sec, rows_per_sec}`` measured from query
    start to ``processAllAvailable`` drain against the noop sink."""
    import shutil
    import tempfile
    import time

    from pyspark_etl_twitter_spark.sources.catalog import load_table
    from pyspark_etl_twitter_spark.streaming.stateful import streaming_funnel
    from pyspark_etl_twitter_spark.streaming.windows import tumbling_counts

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    root = tempfile.mkdtemp(prefix="spark_graft_stream_events_", dir=tmp_root)
    try:
        replay = os.path.join(root, "replay")
        replay_to_json(events, replay, n_files=n_files)
        total = events.count()
        stream = stream_events(
            spark, replay, max_files_per_trigger=max_files_per_trigger
        )
        if kind == "window":
            out, mode = tumbling_counts(stream), "append"
        elif kind == "funnel":
            out, mode = streaming_funnel(stream), "update"
        else:
            raise ValueError(f"kind must be window|funnel, got {kind!r}")
        start = time.perf_counter()
        query = (
            out.writeStream.outputMode(mode)
            .format("noop")
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .queryName(f"events_throughput_{kind}")
            .start()
        )
        query.processAllAvailable()
        elapsed = time.perf_counter() - start
        query.stop()
        return {
            "rows": total,
            "elapsed_sec": round(elapsed, 3),
            "rows_per_sec": round(total / elapsed, 1),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)
