"""Streaming tests (SURVEY.md §5.3): file-replay through the streaming path
must equal the batch path — the plan is the same; only the source binding
differs."""

import ast
import os
import threading
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pyspark_etl_twitter_spark.operators.sentiment import (
    build_weight_table,
    score_documents,
)
from pyspark_etl_twitter_spark.sources.catalog import load_table
from pyspark_etl_twitter_spark.sources.sinks import foreach_batch_parquet
from pyspark_etl_twitter_spark.streaming.pipeline import (
    replay_to_json,
    score_stream_foreach_batch,
    stream_documents,
    stream_events,
)
from pyspark_etl_twitter_spark.streaming.windows import (
    session_counts,
    sliding_counts,
    streaming_dedup,
    tumbling_counts,
)
from tests.conftest import SF_TINY


@pytest.fixture(scope="module")
def events_replay_dir(spark, events_tiny, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_replay"))
    replay_to_json(events_tiny, out, n_files=5)
    return out


@pytest.fixture(scope="module")
def docs_replay_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("docs_replay"))
    replay_to_json(
        load_table(spark, SF_TINY, "documents"), out, n_files=4, order_col="doc_id"
    )
    return out


def _run_complete(spark, df, name):
    q = (
        df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_stream_equals_batch(spark, events_tiny, events_replay_dir):
    stream = stream_events(spark, events_replay_dir, max_files_per_trigger=2)
    got = _run_complete(spark, tumbling_counts(stream), "tumbling_out")
    batch = events_tiny
    want = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events", "sum_value")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_sliding_stream_equals_batch(spark, events_tiny, events_replay_dir):
    stream = stream_events(spark, events_replay_dir)
    got = _run_complete(spark, sliding_counts(stream), "sliding_out")
    batch = events_tiny
    want = (
        batch.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_session_stream_matches_batch_sessionization(spark, events_tiny, events_replay_dir):
    stream = stream_events(spark, events_replay_dir)
    got = _run_complete(spark, session_counts(stream), "session_out")
    # batch twin: lag+cumsum sessionization (plans/relational.py), applied
    # to the SAME DataFrame the replay dir was built from
    from pyspark_etl_twitter_spark.plans.relational import sessionize

    want = sessionize(events_tiny)
    got_sessions = sorted(
        (r.user_id, r.n_events, r.session_start) for r in got.collect()
    )
    want_sessions = sorted(
        (r.user_id, r.n_events, r.session_start) for r in want.collect()
    )
    assert got_sessions == want_sessions


def test_streaming_dedup(spark, events_tiny, events_replay_dir, tmp_path):
    # duplicate the replay dir contents → every event appears twice
    dup_dir = str(tmp_path / "dup")
    os.makedirs(dup_dir)
    for f in sorted(os.listdir(events_replay_dir)):
        src = os.path.join(events_replay_dir, f)
        for tag in ("a", "b"):
            with open(src) as fh, open(os.path.join(dup_dir, f"{tag}_{f}"), "w") as out:
                out.write(fh.read())
    stream = stream_events(spark, dup_dir, max_files_per_trigger=10)
    deduped = streaming_dedup(stream).select("event_id")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_out").first()
    n_events = events_tiny.count()
    assert got.n == got.d == n_events


def test_stream_scoring_equals_batch(spark, docs_replay_dir, tmp_path):
    docs = load_table(spark, SF_TINY, "documents")
    weights = build_weight_table(docs)
    out = str(tmp_path / "scored")
    ckpt = str(tmp_path / "ckpt")
    stream = stream_documents(spark, docs_replay_dir, max_files_per_trigger=2)
    q = score_stream_foreach_batch(stream, weights, out, ckpt)
    q.processAllAvailable()
    q.stop()
    got = {r.doc_id: r.prediction for r in spark.read.parquet(out).collect()}
    want = {r.doc_id: r.prediction for r in score_documents(docs, weights).collect()}
    assert got == want
    epochs = spark.read.parquet(out).select("epoch_id").distinct().count()
    assert epochs >= 2  # multiple micro-batches actually ran


def test_stream_scoring_replay_after_crash_is_exactly_once(
    spark, docs_replay_dir, tmp_path
):
    """A crash after the sink write and before the commit-log entry
    replays the epoch on restart; it overwrites its own ``epoch_id=N``
    directory, so every doc is in the sink once, scored as the batch
    path scores it."""
    docs = load_table(spark, SF_TINY, "documents")
    weights = build_weight_table(docs)
    out = str(tmp_path / "scored")
    ckpt = str(tmp_path / "ckpt")

    def run() -> None:
        stream = stream_documents(spark, docs_replay_dir, max_files_per_trigger=2)
        q = score_stream_foreach_batch(stream, weights, out, ckpt)
        q.processAllAvailable()
        q.stop()

    run()
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    assert last >= 1  # two micro-batches ran
    for name in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, name)):
            os.remove(os.path.join(commits, name))
    run()
    assert os.path.exists(os.path.join(commits, str(last)))  # the replay committed

    got = spark.read.parquet(out).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.first("prediction").alias("prediction")
    )
    assert got.filter(F.col("n") != 1).count() == 0
    got = {r.doc_id: r.prediction for r in got.collect()}
    want = {r.doc_id: r.prediction for r in score_documents(docs, weights).collect()}
    assert got == want


@pytest.mark.parametrize(
    "start",
    [
        score_stream_foreach_batch,
        lambda stream, _weights, out, ckpt: foreach_batch_parquet(stream, out, ckpt),
    ],
    ids=["score_stream_foreach_batch", "foreach_batch_parquet"],
)
def test_foreach_batch_sinks_reuse_compiled_code(spark, tmp_path, start):
    """No expression of a sink's per-batch plan carries the epoch, so after
    two warm-up micro-batches the next three compile no Java class: each
    reuses the classes cached under the same generated source."""
    src = load_table(spark, SF_TINY, "documents")
    docs = src.orderBy("doc_id").toPandas()
    weights = build_weight_table(src)
    watch, staged = tmp_path / "watch", tmp_path / "staged"
    watch.mkdir()
    staged.mkdir()
    out = str(tmp_path / "sink")
    query = start(stream_documents(spark, str(watch)), weights, out, str(tmp_path / "ckpt"))
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    try:
        for i in range(5):
            if i == 2:
                warm = compiled.METRIC_COMPILATION_TIME().getCount()
            chunk = staged / f"batch_{i}.json"
            docs.iloc[i * 20 : (i + 1) * 20].to_json(chunk, orient="records", lines=True)
            chunk.rename(watch / chunk.name)
            query.processAllAvailable()
        steady = compiled.METRIC_COMPILATION_TIME().getCount() - warm
    finally:
        query.stop()
    assert steady == 0
    assert spark.read.parquet(out).select("epoch_id").distinct().count() == 5


def _epoch_stamps(tree: ast.AST):
    """Lines that put the epoch into a plan: ``withColumn("epoch_id", …)``
    or ``lit(epoch_id)``."""
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        name = getattr(node.func, "attr", getattr(node.func, "id", None))
        if name == "withColumn" and node.args:
            first = node.args[0]
            if isinstance(first, ast.Constant) and first.value == "epoch_id":
                yield node.lineno
        elif name == "lit" and any(
            isinstance(a, ast.Name) and a.id == "epoch_id" for a in node.args
        ):
            yield node.lineno


def test_epochs_are_written_only_through_write_epoch():
    """foreachBatch writers put the epoch in the directory name
    (``sinks.write_epoch``), never in the plan, where a per-epoch literal
    recompiles the batch's code every epoch. The gated Delta sink is the
    one exception: a Delta table cannot take per-epoch sub-paths."""
    package = Path(__file__).resolve().parents[1] / "pyspark_etl_twitter_spark"
    stray = []
    for file in sorted(package.rglob("*.py")):
        rel = file.relative_to(package)
        tree = ast.parse(file.read_text(), filename=str(file))
        allowed = range(0)
        if rel == Path("sources/sinks.py"):
            delta = next(
                n
                for n in ast.walk(tree)
                if isinstance(n, ast.FunctionDef) and n.name == "foreach_batch_delta"
            )
            allowed = range(delta.lineno, delta.end_lineno + 1)
        stray += [f"{rel}:{line}" for line in _epoch_stamps(tree) if line not in allowed]
    assert stray == []


def test_streaming_content_dedup(spark, docs_replay_dir, tmp_path):
    """Replaying every doc file twice must yield one row per distinct TEXT
    (content dedup, not id dedup — planted duplicate texts collapse too)."""
    from pyspark_etl_twitter_spark.streaming.windows import streaming_content_dedup

    dup_dir = str(tmp_path / "cdup")
    os.makedirs(dup_dir)
    for f in sorted(os.listdir(docs_replay_dir)):
        src = os.path.join(docs_replay_dir, f)
        for tag in ("a", "b"):
            with open(src) as fh, open(os.path.join(dup_dir, f"{tag}_{f}"), "w") as out:
                out.write(fh.read())
    stream = stream_documents(spark, dup_dir, max_files_per_trigger=4)
    q = (
        streaming_content_dedup(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("content_dedup_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql(
        "SELECT count(*) AS n, count(DISTINCT text) AS d FROM content_dedup_out"
    ).first()
    n_distinct = (
        load_table(spark, SF_TINY, "documents").select("text").distinct().count()
    )
    assert got.n == got.d == n_distinct


def test_chained_stateful_aggregation_matches_batch(spark, events_tiny, events_replay_dir):
    """Spark-4 chained stateful ops: hourly agg re-aggregated to daily in
    ONE append-mode streaming query; finalized rows equal the batch
    double-aggregation of the same data."""
    from pyspark_etl_twitter_spark.streaming.windows import chained_hourly_to_daily

    stream = stream_events(spark, events_replay_dir, max_files_per_trigger=2)
    q = (
        chained_hourly_to_daily(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("chained_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.day_start, r.event_type): (r.n_events, r.n_hours_seen)
        for r in spark.sql("SELECT * FROM chained_out").collect()
    }
    want_full = {
        ((r.day), r.event_type): (r.n, r.h)
        for r in (
            events_tiny.groupBy(
                F.window("ts", "1 hour").alias("w1"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n_hour"))
            .groupBy(F.window(F.col("w1.start"), "1 day").alias("w2"), "event_type")
            .agg(F.sum("n_hour").alias("n"), F.count(F.lit(1)).alias("h"))
            .select(F.col("w2.start").alias("day"), "event_type", "n", "h")
            .collect()
        )
    }
    # append mode only emits windows finalized by the watermark — every
    # emitted row must match the batch twin exactly, and most windows
    # (all but the watermark tail) must have been emitted
    assert got, "no finalized windows emitted"
    for k, v in got.items():
        assert want_full[k] == v, k
    assert len(got) >= len(want_full) - 2 * events_tiny.select("event_type").distinct().count()


def test_streaming_score_throughput_smoke(spark, tmp_path):
    """The bench's S1→M5 throughput row: replayed corpus drains fully,
    every row is scored exactly once, the figure is positive, and the
    batch count is the number of batches that read rows, as the query's
    progress reports them."""
    from pyspark.sql.streaming import StreamingQueryListener

    from pyspark_etl_twitter_spark.streaming.pipeline import (
        streaming_score_throughput,
    )

    data_batches, bench_ids, ended = set(), set(), threading.Event()

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            if p.name == "throughput_bench":
                bench_ids.add(p.id)
                if p.numInputRows > 0:
                    data_batches.add(p.batchId)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            if event.id in bench_ids:
                ended.set()

    listener = _Progress()
    spark.streams.addListener(listener)
    try:
        res = streaming_score_throughput(
            spark,
            SF_TINY,
            replicate=2,
            n_files=3,
            max_files_per_trigger=1,
            tmp_root=str(tmp_path),
        )
        assert ended.wait(60)  # every progress event of the query arrived
    finally:
        spark.streams.removeListener(listener)
    n_docs = spark.read.parquet(f"{SF_TINY}/documents.parquet").count()
    assert res["rows"] == 2 * n_docs
    assert res["batches"] == len(data_batches) == 3
    assert res["rows_per_sec"] > 0


def test_streaming_events_throughput_smoke(spark, tmp_path):
    """The bench's stateful-surface throughput rows: the windowed
    aggregate and the applyInPandasWithState funnel both drain the full
    events replay and report positive figures."""
    from pyspark_etl_twitter_spark.streaming.pipeline import (
        streaming_events_throughput,
    )

    n_events = spark.read.parquet(f"{SF_TINY}/events.parquet").count()
    for kind in ("window", "funnel"):
        res = streaming_events_throughput(
            spark,
            SF_TINY,
            kind=kind,
            n_files=3,
            max_files_per_trigger=1,
            tmp_root=str(tmp_path),
        )
        assert res["rows"] == n_events
        assert res["rows_per_sec"] > 0
