"""Trigger.AvailableNow incremental ingestion: each run processes exactly
the files that arrived since the last run's checkpoint; reruns with no
new input are no-ops."""

import os

from pyspark.sql import functions as F

from pyspark_etl_twitter_spark.streaming.incremental import incremental_ingest
from pyspark_etl_twitter_spark.streaming.pipeline import (
    EVENTS_STREAM_SCHEMA,
    replay_to_json,
)

SF_TINY = "/root/testdata/sf0.001"


def test_incremental_ingest_exactly_once(spark, events_tiny, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckp = str(tmp_path / "ckp")

    events = events_tiny.limit(600)
    files = replay_to_json(events, src, n_files=6)
    # hold back the last two files to simulate later arrivals
    hold_dir = str(tmp_path / "held")
    os.makedirs(hold_dir)
    moved = []
    for f in files[4:]:
        hidden = os.path.join(hold_dir, os.path.basename(f))
        os.rename(f, hidden)
        moved.append((hidden, f))

    def transform(df):
        return df.filter(F.col("value").isNotNull()).withColumn(
            "ingest_marker", F.lit("r2")
        )

    kw = dict(schema=EVENTS_STREAM_SCHEMA, transform=transform)
    incremental_ingest(spark, src, dst, ckp, **kw)
    n1 = spark.read.parquet(dst).count()
    assert 0 < n1 <= 400  # only the first four files

    # new arrivals → second scheduled run picks up exactly the delta
    for hidden, orig in moved:
        os.rename(hidden, orig)
    incremental_ingest(spark, src, dst, ckp, **kw)
    out = spark.read.parquet(dst)
    assert out.count() == 600
    # no duplicates: event ids are unique in the source
    assert out.select("event_id").distinct().count() == 600
    assert out.filter(F.col("ingest_marker") != "r2").count() == 0

    # third run with nothing new: no-op
    incremental_ingest(spark, src, dst, ckp, **kw)
    assert spark.read.parquet(dst).count() == 600


def test_streaming_lsh_ingest_planted_neighbor(spark, tmp_path):
    """Stream embeddings into a persisted LSH index via foreachBatch:
    after the availableNow run drains, a probe finds a planted near-dup
    that only ever existed in the streamed batches; a second run over the
    same files appends nothing (checkpoint = exactly-once intake)."""
    import json
    import os

    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.operators.similarity import (
        build_lsh_index,
        lsh_probe_indexed,
    )
    from pyspark_etl_twitter_spark.sources.catalog import load_table
    from pyspark_etl_twitter_spark.streaming.incremental import (
        streaming_lsh_ingest,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "lsh")
    build_lsh_index(emb, idx, n_planes=6)
    n0 = spark.read.parquet(f"{idx}/corpus").count()

    # stream two files: one noise batch, one containing the planted dup of
    # query vector 0
    q0 = emb.filter(F.col("vec_id") == 0).first()
    src = tmp_path / "incoming"
    src.mkdir()
    noise = [
        {"vec_id": 5_000_000 + i, "embedding": [float(i % 7) - 3.0] * len(q0.embedding), "label": 0}
        for i in range(5)
    ]
    planted = {
        "vec_id": 9_000_000,
        "embedding": [v * 1.0001 for v in q0.embedding],
        "label": 0,
    }
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in noise))
    (src / "b.json").write_text(json.dumps(planted))

    ckpt = str(tmp_path / "ckpt")
    streaming_lsh_ingest(spark, str(src), idx, ckpt)
    n1 = spark.read.parquet(f"{idx}/corpus").count()
    n_tables = spark.read.parquet(f"{idx}/meta").first()["n_tables"]
    assert n1 == n0 + 6 * n_tables

    top = (
        lsh_probe_indexed(spark, idx, n_queries=1, k=1)
        .filter(F.col("q_id") == 0)
        .first()
    )
    assert top.neighbor_id == 9_000_000

    # replaying the same directory must be a no-op (offsets committed)
    streaming_lsh_ingest(spark, str(src), idx, ckpt)
    assert spark.read.parquet(f"{idx}/corpus").count() == n1


def test_streaming_text_index_ingest_finds_planted_edit(spark, tmp_path):
    """Stream raw DOCUMENTS into the ANN index: the foreachBatch embeds
    each batch with the same deterministic hashing as the batch build, so
    a streamed one-word edit of a corpus document becomes probe-visible."""
    import json

    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.operators.encoding import hashed_embedding
    from pyspark_etl_twitter_spark.operators.similarity import (
        build_lsh_index,
        lsh_probe_indexed,
    )
    from pyspark_etl_twitter_spark.sources.catalog import load_table
    from pyspark_etl_twitter_spark.streaming.incremental import (
        streaming_text_index_ingest,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(100)
    emb = (
        hashed_embedding(docs, dim=64)
        .withColumnRenamed("doc_id", "vec_id")
        .withColumn("label", F.lit(0))
    )
    idx = str(tmp_path / "textlsh")
    build_lsh_index(emb, idx, n_planes=6, max_queries=1)

    base = docs.filter(F.col("doc_id") == 0).first()
    src = tmp_path / "incoming"
    src.mkdir()
    (src / "edit.json").write_text(
        json.dumps(
            {
                "doc_id": 77_000,
                "text": base.text + " zzedit",
                "lang": "en",
                "source": "stream",
                "n_chars": len(base.text) + 7,
            }
        )
    )
    streaming_text_index_ingest(
        spark, str(src), idx, str(tmp_path / "ckpt"), dim=64
    )
    top3 = (
        lsh_probe_indexed(spark, idx, n_queries=1, k=3)
        .filter(F.col("q_id") == 0)
        .collect()
    )
    by_id = {r.neighbor_id: r.cos_sim for r in top3}
    assert 77_000 in by_id and by_id[77_000] > 0.95


def test_pq_code_table_lifecycle(spark, tmp_path):
    """Persisted PQ code table: (1) indexed probe ≡ one-shot pq_adc_topk
    on the same corpus; (2) a streamed batch containing an exact copy of
    query 0's vector is appended (encoded against the FROZEN codebook)
    and becomes the probe's rank-1 neighbor at ADC distance 0; (3) a
    replay of the same source directory appends nothing."""
    import json

    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.operators.similarity import (
        build_pq_code_table,
        pq_adc_topk,
        pq_adc_topk_indexed,
    )
    from pyspark_etl_twitter_spark.sources.catalog import load_table
    from pyspark_etl_twitter_spark.streaming.incremental import (
        streaming_pq_ingest,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "pq")
    build_pq_code_table(emb, path)
    queries = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in sorted(
            emb.filter(F.col("vec_id") < 8).collect(), key=lambda r: r[0]
        )
    ]
    one_shot = sorted(
        (r.q_id, r.neighbor_id, r.adc_dist, r.rank)
        for r in pq_adc_topk(emb).collect()
    )
    indexed = sorted(
        (r.q_id, r.neighbor_id, r.adc_dist, r.rank)
        for r in pq_adc_topk_indexed(spark, path, queries).collect()
    )
    assert indexed == one_shot

    n0 = spark.read.parquet(f"{path}/codes").count()
    src = tmp_path / "incoming"
    src.mkdir()
    planted = {
        "vec_id": 9_000_000,
        "embedding": [float(v) for v in queries[0][1]],
        "label": 0,
    }
    (src / "a.json").write_text(json.dumps(planted))
    ckpt = str(tmp_path / "ckpt")
    streaming_pq_ingest(spark, str(src), path, ckpt)
    assert spark.read.parquet(f"{path}/codes").count() == n0 + 1

    top = (
        pq_adc_topk_indexed(spark, path, queries, k=1)
        .filter(F.col("q_id") == 0)
        .first()
    )
    # identical vector → identical codes → ADC distance exactly the
    # query's own quantization residual sum == the planted row's, and
    # the tie-break can't demote it below any true neighbor: rank 1
    assert top.neighbor_id == 9_000_000
    assert top.adc_dist >= 0.0

    streaming_pq_ingest(spark, str(src), path, ckpt)  # replay = no-op
    assert spark.read.parquet(f"{path}/codes").count() == n0 + 1


def test_pq_split_build_append_equals_full_build(spark, tmp_path):
    """The `knn_pq_indexed` registry-row identity: building the code
    table on a prefix and appending the rest (encoded against the frozen
    codebook read back from meta) yields byte-identical codes AND an
    identical on-disk schema to a one-shot full build — the codebook is
    the first-16 sub-slices either way, and the append path's
    schema-conform cast keeps the parquet type homogeneous."""
    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.operators.similarity import (
        build_pq_code_table,
        pq_code_table_append,
    )
    from pyspark_etl_twitter_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    full_p = str(tmp_path / "full")
    split_p = str(tmp_path / "split")
    build_pq_code_table(emb, full_p)
    build_pq_code_table(emb.filter(F.col("vec_id") < 400), split_p)
    pq_code_table_append(spark, split_p, emb.filter(F.col("vec_id") >= 400))
    full_codes = spark.read.parquet(f"{full_p}/codes")
    split_codes = spark.read.parquet(f"{split_p}/codes")
    assert split_codes.schema == full_codes.schema
    a = sorted((r.vec_id, tuple(r.codes)) for r in full_codes.collect())
    b = sorted((r.vec_id, tuple(r.codes)) for r in split_codes.collect())
    assert a == b


def test_ivfpq_index_append_and_streaming_ingest(spark, tmp_path):
    """IVF-PQ lifecycle: (1) a streamed batch containing an exact copy
    of query 0's vector is assigned + residual-encoded against the
    FROZEN model and becomes the probe's minimal-distance neighbor;
    (2) a replay of the same source directory appends nothing; (3) the
    appended rows conform to the existing codes schema."""
    import json

    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_probe_indexed,
    )
    from pyspark_etl_twitter_spark.sources.catalog import load_table
    from pyspark_etl_twitter_spark.streaming.incremental import (
        streaming_ivfpq_ingest,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path)
    schema_before = spark.read.parquet(f"{path}/codes").schema
    n0 = spark.read.parquet(f"{path}/codes").count()

    q0 = emb.filter(F.col("vec_id") == 0).first()
    src = tmp_path / "incoming"
    src.mkdir()
    planted = {
        "vec_id": 9_000_000,
        "embedding": [float(v) for v in q0["embedding"]],
        "label": 0,
    }
    (src / "a.json").write_text(json.dumps(planted))
    ckpt = str(tmp_path / "ckpt")
    streaming_ivfpq_ingest(spark, str(src), path, ckpt)
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == n0 + 1
    assert codes.schema == schema_before

    # identical vector -> identical list + codes -> its ADC distance is
    # the query's own quantization residual, the minimal possible. At
    # m=8/ksub=16 on random data MANY vectors share that minimal code
    # distance (ties at 0.0) and the planted id is the LARGEST, so probe
    # wide enough to cover the whole tie class and assert by distance.
    top = ivfpq_probe_indexed(spark, path, n_queries=1, k=500)
    rows = sorted(
        ((r.adc_dist, r.neighbor_id, r.rank) for r in top.collect())
    )
    planted_rows = [r for r in rows if r[1] == 9_000_000]
    assert planted_rows, rows[:10]
    assert planted_rows[0][0] == rows[0][0]  # minimal ADC distance

    streaming_ivfpq_ingest(spark, str(src), path, ckpt)  # replay = no-op
    assert spark.read.parquet(f"{path}/codes").count() == n0 + 1


def test_ivf_index_append_two_level_matches_exact(spark, tmp_path):
    """ivf_index_append(coarse_probe>=n_coarse) is bit-identical to the
    exact single-level append (same fold, same (sim DESC, list_id)
    tie rule — the ivf_assignments exhaustive contract applied to the
    append path), and the "auto" default stays exact below the
    break-even threshold."""
    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
    )
    from pyspark_etl_twitter_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    old = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter(F.col("vec_id") >= 400)

    def appended(p, **kw):
        build_ivf_index(old, p, n_lists=16)
        ivf_index_append(spark, p, batch, **kw)
        return {
            (r.vec_id, r.list_id)
            for r in spark.read.parquet(f"{p}/assignments")
            .filter(F.col("vec_id") >= 400)
            .collect()
        }

    exact = appended(str(tmp_path / "exact"), coarse_probe=None)
    auto = appended(str(tmp_path / "auto"))  # k=16 < 80 -> exact path
    exhaustive = appended(str(tmp_path / "exh"), coarse_probe=16)
    assert auto == exact
    assert exhaustive == exact


def test_ks_monitor_mid_epoch_replay_idempotent(spark, events_tiny, tmp_path):
    """Crash-replay safety of the drift monitor's per-batch logic (r12
    advice): a replay AFTER the ``_latest`` flip (prev_v == batch_id,
    i.e. the crash hit the log append) must neither raise (Spark refuses
    to overwrite ``hist/v=N`` while reading it) nor double-count the
    delta — the guard treats the histogram version as already merged and
    only re-scores + re-appends the (consumer-deduped) log row."""
    import json as _json

    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.streaming.incremental import (
        ks_monitor_process_batch,
    )

    state = str(tmp_path / "state")
    events = events_tiny.limit(300).select("value")
    reference = events_tiny.limit(800).select("value")
    ref_counts = (
        reference.filter(F.col("value").isNotNull())
        .select(F.round(F.col("value"), 1).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ref_counts.write.mode("overwrite").parquet(f"{state}/reference")

    b0 = events.limit(200)
    b1 = events.subtract(b0)
    kw = dict(state_dir=state, value_col="value", round_dp=1)
    ks_monitor_process_batch(b0, 0, **kw)
    ks_monitor_process_batch(b1, 1, **kw)

    hist = lambda: sorted(  # noqa: E731
        (r.v, r.cnt)
        for r in spark.read.parquet(f"{state}/hist/v=1").collect()
    )
    before = hist()
    log_before = spark.read.parquet(f"{state}/log")
    row_before = log_before.filter(F.col("batch_id") == 1).collect()[0]

    # mid-epoch replay: _latest already points at v=1 (crash-after-flip)
    with open(f"{state}/hist/_latest") as fh:
        assert _json.load(fh)["v"] == 1
    ks_monitor_process_batch(b1, 1, **kw)  # must not raise

    assert hist() == before  # no double count, no wedged overwrite
    replayed = spark.read.parquet(f"{state}/log").filter(
        F.col("batch_id") == 1
    ).collect()
    assert len(replayed) == 2  # re-appended; consumers dedup on batch_id
    for r in replayed:  # identical stats both times
        assert (r.ks_d, r.crit_05, r.drifted, r.n_obs, r.psi) == (
            row_before.ks_d,
            row_before.crit_05,
            row_before.drifted,
            row_before.n_obs,
            row_before.psi,
        )


def test_streaming_ks_monitor_stream_equals_batch(spark, events_tiny, tmp_path):
    """Streaming drift monitor: after draining the replay directory, the
    LAST drift-log row's KS statistic equals ks_two_sample computed
    statically over (all streamed values) vs (the frozen reference) —
    the stream ≡ batch contract; the log carries one row per batch with
    cumulative n_obs; a re-run with no new files is a no-op (exactly
    once); crash-replay of an epoch dedups on batch_id."""
    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.operators.quality_checks import (
        ks_two_sample,
    )
    from pyspark_etl_twitter_spark.streaming.incremental import (
        streaming_ks_monitor,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckp = str(tmp_path / "ckp")

    events = events_tiny.limit(400).select("event_id", "ts", "user_id", "event_type", "value", "props")
    reference = events_tiny.limit(1000).select("value")
    replay_to_json(events, src, n_files=4)

    kw = dict(
        schema=EVENTS_STREAM_SCHEMA,
        value_col="value",
        reference=reference,
        round_dp=1,
    )
    streaming_ks_monitor(spark, src, state, ckp, **kw)
    log = spark.read.parquet(f"{state}/log").orderBy("batch_id")
    rows = log.collect()
    assert len(rows) >= 1
    assert rows[-1].n_obs == 400
    assert all(
        a.n_obs < b.n_obs for a, b in zip(rows, rows[1:])
    )  # cumulative

    # stream ≡ batch: replay the same comparison statically
    static = (
        events.select(F.col("value").alias("x"), F.lit(False).alias("b"))
        .unionByName(
            reference.select(F.col("value").alias("x"), F.lit(True).alias("b"))
        )
    )
    want = ks_two_sample(static, "x", "b", round_dp=1).collect()[0]
    got = rows[-1]
    assert got.ks_d == want.ks_d and got.crit_05 == want.crit_05
    assert got.drifted == want.drifted

    # the PSI ruler rides the same counts: quantized values ARE the bins,
    # so psi_two_sample at bin_width=0.1 over 10x-scaled values replays it
    from pyspark_etl_twitter_spark.operators.quality_checks import (
        psi_from_counts,
    )

    pv = (
        static.select((F.round(F.col("x"), 1)).alias("v"), "b")
        .groupBy("v")
        .agg(
            F.sum(F.when(~F.col("b"), 1).otherwise(0)).alias("_ca"),
            F.sum(F.when(F.col("b"), 1).otherwise(0)).alias("_cb"),
        )
    )
    want_psi = psi_from_counts(pv).collect()[0]
    assert got.psi == want_psi.psi and got.psi_shift == want_psi.shift

    # no new files -> no new log rows, histogram pointer unchanged
    import json as _json

    with open(f"{state}/hist/_latest") as fh:
        v_before = _json.load(fh)["v"]
    streaming_ks_monitor(spark, src, state, ckp, **kw)
    assert spark.read.parquet(f"{state}/log").count() == len(rows)
    with open(f"{state}/hist/_latest") as fh:
        assert _json.load(fh)["v"] == v_before
