"""``stream_score``: the reference's consumer path under an open loop.

A separate generator process (``publisher.py``) publishes JSON tweet files
(documents resampled from a seeded corpus, fresh ``doc_id``s) into a
watched directory: one file of ``PACED_ROWS`` rows every
``FILE_INTERVAL_S`` for ``--seconds``, then one burst backlog of
``BURST_FILES`` files of ``BURST_ROWS`` rows. The program is ``streaming.pipeline.stream_documents``
into ``score_stream_foreach_batch`` (parquet sink, default trigger, every
available file in one micro-batch).

A paced file's event latency runs from its due time to the commit of the
epoch holding its rows (rows map to epochs through the sink's
``epoch_id``; an epoch's commit time is the modification time of its
checkpoint commit-log entry). Burst files are excluded from the latency
percentiles; they give the drain rate instead. The bounded job metric is
the program's CPU time from the first due time to the last commit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd

import datagen
from harness import pct

POOL_DOCS = 2_000
#: One paced file every FILE_INTERVAL_S: about three times a warm
#: micro-batch's duration. Each file then finds the query idle, so the
#: latency is one micro-batch (mostly its fixed cost). Near saturation a
#: file waits for the batch in flight, and the latency of a run depends
#: on the phase of the two.
FILE_INTERVAL_S = 2.5
PACED_ROWS = 100
BURST_FILES = 8
BURST_ROWS = 1_000
#: Warm-up micro-batches (one file each) before timing: the first batches
#: of a fresh JVM run several times slower while code is compiled.
WARMUP_FILES = 5
#: Pause between the last paced file and the burst.
BURST_GAP_S = 1.0
#: Lead time that lets the generator process start before the first due time.
LEAD_S = 0.5
FIRST_ID = 10_000_000


def _render(pool: pd.DataFrame, rng: np.random.Generator, n: int, first_id: int) -> bytes:
    rows = pool.iloc[rng.integers(0, len(pool), n)].copy()
    rows["doc_id"] = np.arange(first_id, first_id + n)
    return rows.to_json(orient="records", lines=True).encode()


def _stage(ctx, pool: pd.DataFrame, n_paced: int) -> list[tuple[str, int, str]]:
    """Render every file up front: (name, rows, phase)."""
    rng = np.random.default_rng([ctx.seed, 7])
    plan = [(f"w{i:03d}.json", PACED_ROWS, "warmup") for i in range(WARMUP_FILES)]
    plan += [(f"p{i:04d}.json", PACED_ROWS, "paced") for i in range(n_paced)]
    plan += [(f"q{i:04d}.json", BURST_ROWS, "burst") for i in range(BURST_FILES)]
    os.makedirs(ctx.path("stage"))
    next_id = FIRST_ID
    for name, rows, _phase in plan:
        with open(ctx.path("stage", name), "wb") as fh:
            fh.write(_render(pool, rng, rows, next_id))
        next_id += rows
    return plan


def _publish_now(ctx, names) -> None:
    """Publish staged files from this process (warm-up, backlog)."""
    for name in names:
        tmp = ctx.path("watch", f".{name}.tmp")
        os.replace(ctx.path("stage", name), tmp)
        os.rename(tmp, ctx.path("watch", name))


def _start_query(ctx, weights, watch: str, tag: str):
    from pyspark_etl_twitter_spark.streaming import pipeline

    stream = pipeline.stream_documents(ctx.spark, watch, max_files_per_trigger=100_000)
    return pipeline.score_stream_foreach_batch(
        stream, weights, ctx.path(f"sink{tag}"), ctx.path(f"ckpt{tag}")
    )


def _fit(ctx):
    from pyspark_etl_twitter_spark.operators.sentiment import build_weight_table
    from pyspark_etl_twitter_spark.sources.catalog import load_table

    data = ctx.path("data")
    os.makedirs(data, exist_ok=True)
    pool = datagen.documents(ctx.seed, POOL_DOCS).to_pandas()
    pool.to_parquet(os.path.join(data, "documents.parquet"))
    docs = load_table(ctx.spark, data, "documents")
    return pool, build_weight_table(docs).localCheckpoint()


def run(ctx) -> None:
    rec = ctx.rec
    with rec.span("setup.fit"):
        pool, weights = _fit(ctx)
    n_paced = max(1, int(ctx.seconds / FILE_INTERVAL_S))
    with rec.span("setup.stage"):
        plan = _stage(ctx, pool, n_paced)
    os.makedirs(ctx.path("watch"))
    with rec.span("setup.query_start"):
        query = _start_query(ctx, weights, ctx.path("watch"), "")
    try:
        with rec.span("setup.warmup"):
            for name, _r, phase in plan:
                if phase == "warmup":
                    _publish_now(ctx, [name])
                    query.processAllAvailable()

        t0 = time.time() + LEAD_S
        t_burst = t0 + n_paced * FILE_INTERVAL_S + BURST_GAP_S
        timed = [p for p in plan if p[2] != "warmup"]
        due = {
            name: (t0 + i * FILE_INTERVAL_S if phase == "paced" else t_burst)
            for i, (name, _r, phase) in enumerate(timed)
        }
        spec = {
            "stage": ctx.path("stage"),
            "watch": ctx.path("watch"),
            "log": ctx.path("publish_log.json"),
            "files": [[name, due[name]] for name, _r, _p in timed],
        }
        with open(ctx.path("plan.json"), "w") as fh:
            json.dump(spec, fh)
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "publisher.py"),
             ctx.path("plan.json")]
        )
        try:
            ctx.begin(at=t0)
            with ctx.rec.op("stream", "stream"):
                if gen.wait(timeout=t_burst - time.time() + 120) != 0:
                    raise RuntimeError("generator process failed")
                query.processAllAvailable()
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
    finally:
        query.stop()
    with open(ctx.path("publish_log.json")) as fh:
        log = json.load(fh)
    _report(ctx, plan, log, t0, t_burst, weights)


def _commit_times(ckpt: str) -> dict[int, float]:
    commits = os.path.join(ckpt, "commits")
    return {
        int(f): os.stat(os.path.join(commits, f)).st_mtime_ns / 1e9
        for f in os.listdir(commits)
        if f.isdigit()
    }


def _report(ctx, plan, log, t0: float, t_burst: float, weights) -> None:
    from pyspark_etl_twitter_spark.operators.sentiment import score_documents
    from pyspark_etl_twitter_spark.streaming.pipeline import DOCUMENTS_STREAM_SCHEMA

    spark = ctx.spark
    sink = spark.read.parquet(ctx.path("sink")).toPandas()
    committed = _commit_times(ctx.path("ckpt"))
    epoch_of = sink.drop_duplicates("doc_id").set_index("doc_id")["epoch_id"]

    # every file's first doc_id identifies the epoch that carried it
    first_id, starts = FIRST_ID, {}
    for name, rows, phase in plan:
        starts[name] = (first_id, rows, phase)
        first_id += rows
    due_of = {e["file"]: e["due"] for e in log}
    lat, burst_end, paced_per_epoch = [], t_burst, {}
    for name, (fid, _rows, phase) in starts.items():
        if phase == "warmup" or fid not in epoch_of.index:
            continue
        epoch = int(epoch_of[fid])
        done = committed[epoch]
        if phase == "paced":
            lat.append(done - due_of[name])
            paced_per_epoch[epoch] = paced_per_epoch.get(epoch, 0) + 1
        else:
            burst_end = max(burst_end, done)
    burst_rows = BURST_FILES * BURST_ROWS
    last_commit = max(committed.values())
    timed_epochs = sink[sink["doc_id"] >= FIRST_ID + WARMUP_FILES * PACED_ROWS]
    per_epoch = timed_epochs.groupby("epoch_id").size()

    ctx.config["paced_latency_ms"] = [round(1000 * x, 1) for x in lat]
    ctx.set("event_latency_p50_ms", 1000 * pct(lat, 50), len(lat))
    ctx.set("event_latency_p90_ms", 1000 * pct(lat, 90), len(lat))
    ctx.set("job_s", last_commit - t0, len(log))
    ctx.set("job_cpu_s", ctx.rec.ops[0].cpu_s, len(log))
    ctx.set("drain_rows_per_s", burst_rows / max(1e-3, burst_end - t_burst), burst_rows)
    ctx.set("stream.batches", len(per_epoch))
    ctx.set("stream.rows_per_batch", float(per_epoch.median()), len(per_epoch))
    ctx.set("stream.backlog_files_max", max(paced_per_epoch.values(), default=0))
    lags = [e["published"] - e["due"] for e in log]
    ctx.set("gen.lag_p90_ms", 1000 * pct(lags, 90), len(lags))
    calls, load_s = ctx.rec.span_total("catalog.load_table")
    ctx.set("catalog.load_s", load_s, calls)
    ctx.set("catalog.load_calls", calls)

    # output checks, off the clock: exactly once, and equal to batch scoring
    published = spark.read.schema(DOCUMENTS_STREAM_SCHEMA).json(ctx.path("watch"))
    expected = score_documents(published, weights).toPandas().set_index("doc_id")
    ctx.attempted = len(expected)
    counts = sink["doc_id"].value_counts()
    missing = len(expected.index.difference(counts.index))
    dupes = int((counts > 1).sum())
    extra = len(counts.index.difference(expected.index))
    if missing or dupes or extra:
        ctx.mismatch(f"sink rows: {missing} missing, {dupes} duplicated, {extra} unknown",
                     missing + dupes + extra)
    got = sink.drop_duplicates("doc_id").set_index("doc_id").reindex(expected.index)
    wrong = int((got["prediction"] != expected["prediction"]).sum())
    if wrong:
        ctx.mismatch(f"{wrong} streamed predictions differ from batch scoring", wrong)


def baseline(ctx) -> None:
    """Single-thread drain rate: the burst backlog scored at
    ``local[1]``, queued before the query starts."""
    ctx.spark.stop()
    ctx.start_session(master="local[1]")
    pool, weights = _fit(ctx)
    rng = np.random.default_rng([ctx.seed, 8])
    watch = ctx.path("watch1")
    os.makedirs(watch)
    for i in range(BURST_FILES):
        with open(os.path.join(watch, f"b{i:04d}.json"), "wb") as fh:
            fh.write(_render(pool, rng, BURST_ROWS, FIRST_ID + i * BURST_ROWS))
    t = time.perf_counter()
    query = _start_query(ctx, weights, watch, "1")
    try:
        query.processAllAvailable()
        elapsed = time.perf_counter() - t
    finally:
        query.stop()
    ctx.set("drain_rows_per_s_1cpu", BURST_FILES * BURST_ROWS / elapsed, BURST_FILES * BURST_ROWS)
