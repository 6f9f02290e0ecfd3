"""Incremental batch ingestion: Structured Streaming's checkpoint
contract driven by ``Trigger.AvailableNow``.

The reference keeps a resident consumer process alive to tail its source
(consumer.py's forever-running query). At 100 TB the equivalent pattern
is usually the opposite: a scheduled job that wakes, processes exactly
the files that arrived since the last run, commits, and exits —
exactly-once across runs and crash-safe mid-run, with no resident
cluster. ``availableNow`` gives that while keeping every streaming
semantic (source offsets, sink commit log, watermarks) intact; the same
pipeline code runs resident (``processingTime`` trigger) or scheduled
(``availableNow``) unchanged.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_etl_twitter_spark.functions.lits import local_table


def incremental_ingest(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    checkpoint_dir: str,
    *,
    schema: T.StructType,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    source_format: str = "json",
    timeout_s: int = 120,
) -> None:
    """One incremental run: read every source file not yet recorded in the
    checkpoint's offset log, apply ``transform``, append to ``dst_dir``
    parquet, commit, stop.

    Exactly-once across invocations comes from the pair of logs the sink
    maintains: the offset log (which files a batch covered) and the commit
    log (which batches the sink fully wrote). A crash between the two
    replays the batch to the same batch id, which the parquet sink's
    ``_spark_metadata`` dedups — the same epoch-idempotence contract the
    foreachBatch sinks in this package test explicitly."""
    reader = spark.readStream.schema(schema)
    stream = getattr(reader, source_format)(src_dir)
    if transform is not None:
        stream = transform(stream)
    q = (
        stream.writeStream.format("parquet")
        .option("path", dst_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)


EMBEDDINGS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def streaming_lsh_ingest(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint_dir: str,
    *,
    timeout_s: int = 120,
) -> None:
    """Streaming maintenance of a persisted LSH ANN index: every arriving
    embedding batch is bucketed with the index's own hyperplanes (read
    from its ``meta`` table) and appended into its layout via
    ``lsh_index_append`` — probes see new vectors as soon as their batch
    commits. ``availableNow`` + checkpoint give exactly-once file intake
    across scheduled runs (see ``incremental_ingest``); the append itself
    is idempotent only per-run, so the checkpoint IS the dedup layer —
    never delete it independently of the index.

    This is the end-to-end shape of a production embedding pipeline:
    embed upstream, stream vectors in, append to inverted/bucketed
    storage, re-center (rebuild) on a schedule. LSH needs no re-center —
    bucketing is stateless — which is why it, not IVF, is the streaming
    append target (IVF appends assign against drifting centroids;
    ``ivf_index_append`` documents that tradeoff)."""
    from pyspark_etl_twitter_spark.operators.similarity import lsh_index_append

    stream = spark.readStream.schema(EMBEDDINGS_STREAM_SCHEMA).json(src_dir)

    def append_batch(batch_df: DataFrame, _epoch: int) -> None:
        lsh_index_append(spark, index_path, batch_df)

    q = (
        stream.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)


def streaming_text_index_ingest(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint_dir: str,
    *,
    dim: int = 64,
    timeout_s: int = 120,
) -> None:
    """Streaming TEXT ingestion into a persisted ANN index: each arriving
    document batch is feature-hash embedded (operators/encoding.
    hashed_embedding — deterministic, so re-embedding a replayed batch
    appends identical vectors) and appended into the LSH index. The
    complete streaming half of the text→vector→near-dup pipeline: batch
    builds the index from the corpus, this keeps it current as documents
    arrive, probes see new text as soon as its batch commits. Same
    exactly-once intake contract as ``streaming_lsh_ingest``."""
    from pyspark_etl_twitter_spark.operators.encoding import hashed_embedding
    from pyspark_etl_twitter_spark.operators.similarity import lsh_index_append
    from pyspark_etl_twitter_spark.streaming.pipeline import (
        DOCUMENTS_STREAM_SCHEMA,
    )

    stream = spark.readStream.schema(DOCUMENTS_STREAM_SCHEMA).json(src_dir)

    def append_batch(batch_df: DataFrame, _epoch: int) -> None:
        emb = (
            hashed_embedding(batch_df, dim=dim)
            .withColumnRenamed("doc_id", "vec_id")
            .withColumn("label", F.lit(0))
        )
        lsh_index_append(spark, index_path, emb)

    q = (
        stream.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)


def streaming_minhash_dedup_ingest(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint_dir: str,
    *,
    timeout_s: int = 120,
) -> None:
    """Streaming NEAR-dup dedup intake against the persisted MinHash
    signature store (r12 verdict ask #2's streaming half): each arriving
    document batch runs ``minhash_index_append`` — band-probe against
    only the colliding buckets, exact-Jaccard verify, survivors appended
    to the store. Later batches therefore dedup against earlier batches'
    survivors, not just the original corpus (the store carries its own
    texts). ``availableNow`` + checkpoint give exactly-once file intake
    across scheduled runs; a crash-replayed epoch is a no-op on the
    store (the id guard drops replayed ids, same-text/new-id copies
    verify at J=1.0 — pinned in tests)."""
    from pyspark_etl_twitter_spark.operators.dedup import minhash_index_append
    from pyspark_etl_twitter_spark.streaming.pipeline import (
        DOCUMENTS_STREAM_SCHEMA,
    )

    stream = spark.readStream.schema(DOCUMENTS_STREAM_SCHEMA).json(src_dir)

    def append_batch(batch_df: DataFrame, _epoch: int) -> None:
        minhash_index_append(spark, index_path, batch_df)

    q = (
        stream.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)


def streaming_dsir_score(
    spark: SparkSession,
    src_dir: str,
    dlog: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    *,
    n_buckets: int = 1024,
    timeout_s: int = 120,
) -> None:
    """Streaming DSIR scoring: arriving document batches are scored
    against a PRE-FIT ``dsir_bucket_dlog`` table (the frozen snapshot
    model — the production shape: distributions fit offline, new data
    scored as it lands). Scoring is stateless per document
    (``dsir_score_with`` inside foreachBatch), so there is no streaming
    state beyond the broadcast B-row table, and replaying a batch under
    the checkpoint recomputes identical weights (deterministic md5
    features). Scores append with the epoch stamped for replay audit."""
    from pyspark_etl_twitter_spark.operators.importance import dsir_score_with
    from pyspark_etl_twitter_spark.streaming.pipeline import (
        DOCUMENTS_STREAM_SCHEMA,
    )

    stream = spark.readStream.schema(DOCUMENTS_STREAM_SCHEMA).json(src_dir)
    model = local_table(spark, dlog.schema, dlog.toArrow())

    def score_batch(batch_df: DataFrame, epoch_id: int) -> None:
        scored = dsir_score_with(batch_df, model, n_buckets=n_buckets)
        (
            scored.withColumn("epoch_id", F.lit(epoch_id))
            .write.mode("append")
            .parquet(out_path)
        )

    q = (
        stream.writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)


def streaming_containment_score(
    spark: SparkSession,
    src_dir: str,
    eval_docs: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    *,
    shingle_n: int = 3,
    timeout_s: int = 120,
) -> None:
    """Ingest-time decontamination: arriving document batches are scored
    against a FROZEN eval set with
    ``curation.containment_contamination`` (max eval-side n-gram
    containment — the GPT-3/PaLM dirty-doc metric) — the production
    shape where the benchmark suite is fixed offline and every new
    crawl batch is screened as it lands, BEFORE it can enter the
    training mix. Scoring is stateless per document (the eval side is a
    constant broadcast, exactly the batch operator's plan), so there is
    no streaming state beyond the frozen eval table, and replaying a
    batch under the checkpoint recomputes identical scores
    (deterministic shingle algebra). Every batch doc is emitted —
    non-matching docs score 0.0 with a NULL best_eval_id — so a
    downstream ``max_containment < tau`` keep-filter sees the whole
    batch; the epoch is stamped for replay audit (the
    ``streaming_dsir_score`` contract)."""
    from pyspark_etl_twitter_spark.operators.curation import (
        containment_contamination,
    )
    from pyspark_etl_twitter_spark.streaming.pipeline import (
        DOCUMENTS_STREAM_SCHEMA,
    )

    stream = spark.readStream.schema(DOCUMENTS_STREAM_SCHEMA).json(src_dir)
    ev_proj = eval_docs.select("doc_id", "text")
    # eval sets are small by definition
    model = local_table(spark, ev_proj.schema, ev_proj.toArrow())

    def score_batch(batch_df: DataFrame, epoch_id: int) -> None:
        scored = containment_contamination(batch_df, model, shingle_n=shingle_n)
        out = (
            batch_df.select("doc_id")
            .join(scored, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("max_containment", F.lit(0.0)).alias(
                    "max_containment"
                ),
                "best_eval_id",
            )
            .withColumn("epoch_id", F.lit(epoch_id))
        )
        out.write.mode("append").parquet(out_path)

    q = (
        stream.writeStream.foreachBatch(score_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)


def streaming_pq_ingest(
    spark: SparkSession,
    src_dir: str,
    table_path: str,
    checkpoint_dir: str,
    *,
    timeout_s: int = 120,
) -> None:
    """Streaming maintenance of a persisted PQ code table
    (`build_pq_code_table`): every arriving embedding batch is encoded
    against the table's FROZEN codebook (read from its meta) and
    appended — probes over codes see new vectors as soon as their batch
    commits, and the appended rows are 32× smaller than the raw vectors
    that arrived. ``availableNow`` + checkpoint give exactly-once file
    intake across scheduled runs; the append itself is idempotent only
    per-run, so the checkpoint IS the dedup layer (the
    ``streaming_lsh_ingest`` contract). Codebook drift is the PQ twin of
    IVF centroid drift: appends stay comparable because the codebook is
    frozen; re-training is a rebuild on a schedule."""
    from pyspark_etl_twitter_spark.operators.similarity import (
        pq_code_table_append,
    )

    stream = spark.readStream.schema(EMBEDDINGS_STREAM_SCHEMA).json(src_dir)

    def append_batch(batch_df: DataFrame, _epoch: int) -> None:
        pq_code_table_append(spark, table_path, batch_df)

    q = (
        stream.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)


def streaming_ivfpq_ingest(
    spark: SparkSession,
    src_dir: str,
    index_path: str,
    checkpoint_dir: str,
    *,
    timeout_s: int = 120,
) -> None:
    """Streaming maintenance of a persisted IVF-PQ index
    (`build_ivfpq_index`): every arriving embedding batch is assigned +
    residual-encoded against the index's FROZEN model (meta) and
    appended into the list_id-partitioned codes layout — probes see new
    vectors as soon as their batch commits, and the appended rows are
    32× smaller than the raw vectors that arrived. ``availableNow`` +
    checkpoint give exactly-once file intake across scheduled runs (the
    ``streaming_lsh_ingest`` contract); both composite drift clocks
    (centroids AND codebooks) are answered by scheduled rebuilds, not by
    the stream."""
    from pyspark_etl_twitter_spark.operators.similarity import (
        ivfpq_index_append,
    )

    stream = spark.readStream.schema(EMBEDDINGS_STREAM_SCHEMA).json(src_dir)

    def append_batch(batch_df: DataFrame, _epoch: int) -> None:
        ivfpq_index_append(spark, index_path, batch_df)

    q = (
        stream.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)


def ks_monitor_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    state_dir: str,
    value_col: str,
    round_dp: int = 0,
) -> None:
    """One epoch of the KS/PSI drift monitor — module-level (not a
    closure) so the crash-replay contract is directly testable: calling
    it twice with the same ``batch_id`` must be a no-op on the histogram
    and must NOT raise.

    Replay guard (r12 advice): if ``_latest`` already points at this
    ``batch_id``, a prior attempt crashed AFTER the pointer flip (e.g.
    during the log append). ``hist/v=<batch_id>`` is then already the
    merged state — re-merging would (a) double-count the delta and
    (b) make Spark read ``hist/v=<batch_id>`` while overwriting the same
    path, which raises and would wedge recovery permanently. The guard
    skips the rewrite and proceeds straight to scoring + log append
    (consumers dedup the log on batch_id)."""
    import json
    import os

    from pyspark_etl_twitter_spark.operators.quality_checks import (
        ks_from_counts,
        psi_from_counts,
    )

    bspark = batch_df.sparkSession
    latest = f"{state_dir}/hist/_latest"
    prev_v = -1
    if os.path.exists(latest):
        with open(latest) as fh:
            prev_v = json.load(fh)["v"]
    new_v = batch_id
    if prev_v == new_v:
        pass  # post-flip replay: hist/v=<batch_id> is already merged
    else:
        delta = (
            batch_df.filter(F.col(value_col).isNotNull())
            .select(F.round(F.col(value_col), round_dp).alias("v"))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        if prev_v >= 0:
            prev = bspark.read.parquet(f"{state_dir}/hist/v={prev_v}")
            merged = (
                prev.unionByName(delta)
                .groupBy("v")
                .agg(F.sum("cnt").alias("cnt"))
            )
        else:
            merged = delta
        merged.write.mode("overwrite").parquet(f"{state_dir}/hist/v={new_v}")
        tmp = f"{latest}.tmp.{new_v}"
        with open(tmp, "w") as fh:
            json.dump({"v": new_v}, fh)
        os.replace(tmp, latest)

    obs = bspark.read.parquet(f"{state_dir}/hist/v={new_v}")
    ref = bspark.read.parquet(f"{state_dir}/reference")
    stacked = obs.withColumn("_b", F.lit(False)).unionByName(
        ref.withColumn("_b", F.lit(True))
    )
    # the histograms ARE ks_two_sample's first stage (per-value
    # counts), so feed the shared core directly — no re-explode
    per_value = stacked.groupBy("v").agg(
        F.sum(F.when(~F.col("_b"), F.col("cnt")).otherwise(0)).alias("_ca"),
        F.sum(F.when(F.col("_b"), F.col("cnt")).otherwise(0)).alias("_cb"),
    )
    ks_row = ks_from_counts(per_value).select(
        F.lit(batch_id).cast("long").alias("batch_id"),
        F.col("n_a").alias("n_obs"),
        "ks_d",
        "crit_05",
        "drifted",
    )
    # both drift rulers from the SAME maintained counts (quantized
    # values are the PSI bins); 1-row x 1-row join on batch_id
    psi_row = psi_from_counts(per_value).select(
        F.lit(batch_id).cast("long").alias("batch_id"),
        "psi",
        F.col("shift").alias("psi_shift"),
    )
    ks_row.join(psi_row, "batch_id").write.mode("append").parquet(
        f"{state_dir}/log"
    )


def streaming_ks_monitor(
    spark: SparkSession,
    src_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    *,
    schema: T.StructType,
    value_col: str,
    reference: DataFrame,
    round_dp: int = 0,
    timeout_s: int = 120,
) -> None:
    """Streaming distribution-drift monitor: maintain a quantized-value
    histogram of everything that has arrived and, after every batch,
    score the cumulative observed ECDF against a frozen ``reference``
    distribution with the exact two-sample KS statistic — the in-stream
    form of ``quality_checks.ks_two_sample``, the drift gate a corpus
    intake pipeline runs continuously.

    State layout under ``state_dir``: ``hist/v=N`` immutable per-epoch
    histogram versions with an atomic ``_latest`` pointer (the package's
    snapshot-isolation idiom from ``operators/scd2.py``) and
    ``log/`` an append-only parquet drift log of
    (batch_id, n_obs, ks_d, crit_05, drifted). Crash-replay contract
    (per-batch logic in ``ks_monitor_process_batch``): a replay that
    crashed BEFORE the ``_latest`` flip re-merges the delta against the
    previous version and rewrites the same ``v=N`` dir (idempotent); a
    replay that crashed AFTER the flip (e.g. during the log append)
    observes ``_latest == batch_id`` and treats ``hist/v=batch_id`` as
    ALREADY MERGED — it skips the rewrite entirely (re-merging would
    double-count the delta, and Spark refuses to overwrite a path it is
    reading from) and only re-scores + re-appends the log row.
    Consumers read ``_latest`` (never partial state) and dedup the log
    on batch_id, the standing epoch-idempotence contract.

    Scale: per batch the stream collapses to its quantized-value counts
    (one narrow agg), merges into the value-domain-bounded histogram,
    and the KS window runs over histogram ∪ reference — state and work
    per batch are bounded by the value DOMAIN, not the stream length."""
    ref_counts = (
        reference.filter(F.col(value_col).isNotNull())
        .select(F.round(F.col(value_col), round_dp).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ref_counts.write.mode("overwrite").parquet(f"{state_dir}/reference")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        ks_monitor_process_batch(
            batch_df,
            batch_id,
            state_dir=state_dir,
            value_col=value_col,
            round_dp=round_dp,
        )

    q = (
        spark.readStream.schema(schema)
        .json(src_dir)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
