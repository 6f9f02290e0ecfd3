"""Similarity search tests: exact top-k vs NumPy oracle; ANN sanity."""

import ast
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Row

from pyspark_etl_twitter_spark.operators.similarity import (
    ann_lsh_topk,
    cosine_topk,
    embedding_near_dup_pairs,
)
from tests.conftest import SF_TINY


@pytest.fixture(scope="module")
def emb_pd():
    return pd.read_parquet(f"{SF_TINY}/embeddings.parquet")


def _numpy_topk(emb_pd, n_queries=10, k=5):
    mat = np.stack(emb_pd["embedding"].to_numpy()).astype(np.float64)
    ids = emb_pd["vec_id"].to_numpy()
    norms = np.linalg.norm(mat, axis=1)
    out = {}
    for qi in range(len(ids)):
        if ids[qi] >= n_queries:
            continue
        cos = (mat @ mat[qi]) / (norms * norms[qi])
        cand = [(round(c, 6), int(i)) for c, i in zip(cos, ids) if i != ids[qi]]
        cand.sort(key=lambda t: (-t[0], t[1]))
        out[int(ids[qi])] = cand[:k]
    return out


def test_cosine_topk_matches_numpy(spark, emb_pd):
    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    got = cosine_topk(emb, n_queries=10, k=5).collect()
    want = _numpy_topk(emb_pd)
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append((r.rank, r.neighbor_id, r.cos_sim))
    assert set(by_q) == set(want)
    for q, rows in by_q.items():
        rows.sort()
        for (rank, nid, cos), (wcos, wid) in zip(rows, want[q]):
            assert nid == wid and abs(cos - wcos) < 2e-6, (q, rank)


def test_ann_results_are_exact_cosines(spark, emb_pd):
    """ANN may miss neighbors (recall<1) but must never misreport a score."""
    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    got = ann_lsh_topk(emb, n_queries=10, k=5).collect()
    mat = np.stack(emb_pd["embedding"].to_numpy()).astype(np.float64)
    ids = {int(v): i for i, v in enumerate(emb_pd["vec_id"].to_numpy())}
    norms = np.linalg.norm(mat, axis=1)
    assert len(got) > 0
    for r in got:
        a, b = ids[r.q_id], ids[r.neighbor_id]
        true_cos = float(mat[a] @ mat[b] / (norms[a] * norms[b]))
        assert abs(r.cos_sim - round(true_cos, 6)) < 2e-6


def test_pandas_cosine_equals_hof_cosine(spark, emb_pd):
    """The Arrow/BLAS path must produce the identical result set as the
    codegen HOF path (same rounding, same tiebreaks)."""
    from pyspark_etl_twitter_spark.operators.similarity import cosine_topk_pandas

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    a = sorted(map(tuple, cosine_topk(emb, n_queries=10, k=5).collect()))
    b = sorted(map(tuple, cosine_topk_pandas(emb, n_queries=10, k=5).collect()))
    assert a == b


def test_ivf_results_are_exact_cosines_and_decent_recall(spark, emb_pd):
    from pyspark_etl_twitter_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    got = ivf_topk(emb, n_queries=10, k=5, n_lists=16, n_probe=4).collect()
    mat = np.stack(emb_pd["embedding"].to_numpy()).astype(np.float64)
    ids = {int(v): i for i, v in enumerate(emb_pd["vec_id"].to_numpy())}
    norms = np.linalg.norm(mat, axis=1)
    assert len(got) > 0
    for r in got:
        a, b = ids[r.q_id], ids[r.neighbor_id]
        true_cos = float(mat[a] @ mat[b] / (norms[a] * norms[b]))
        assert abs(r.cos_sim - round(true_cos, 6)) < 2e-6
    # recall sanity vs exact top-5: probing 4/16 lists must find some
    # true neighbors across the query set
    want = _numpy_topk(emb_pd)
    hits = sum(
        1
        for r in got
        if r.neighbor_id in {nid for _, nid in want[r.q_id]}
    )
    assert hits >= 5


@pytest.mark.slow
def test_indexed_probes_match_one_shot(spark, tmp_path):
    """build+probe must return the identical result set as the one-shot
    forms (same centroids / hyperplanes, same rounding, same tiebreaks) —
    the index changes WHERE the work happens, never the answer."""
    from pyspark_etl_twitter_spark.operators.similarity import (
        build_ivf_index,
        build_lsh_index,
        ivf_probe_indexed,
        ivf_topk,
        lsh_probe_indexed,
    )

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    ivf_dir, lsh_dir = str(tmp_path / "ivf"), str(tmp_path / "lsh")
    build_ivf_index(emb, ivf_dir, n_lists=16)
    build_lsh_index(emb, lsh_dir)  # engine defaults, matching ann_lsh_topk

    got_ivf = sorted(
        map(tuple, ivf_probe_indexed(spark, ivf_dir, n_queries=10, k=5, n_probe=4).collect())
    )
    want_ivf = sorted(
        map(tuple, ivf_topk(emb, n_queries=10, k=5, n_lists=16, n_probe=4).collect())
    )
    assert got_ivf == want_ivf

    got_lsh = sorted(
        map(tuple, lsh_probe_indexed(spark, lsh_dir, n_queries=10, k=5).collect())
    )
    want_lsh = sorted(map(tuple, ann_lsh_topk(emb, n_queries=10, k=5).collect()))
    assert got_lsh == want_lsh


def test_index_layout_is_partitioned(spark, tmp_path):
    """The on-disk index must be hive-partitioned by list/bucket so probes
    prune to the probed partitions instead of scanning the corpus."""
    import os

    from pyspark_etl_twitter_spark.operators.similarity import build_ivf_index

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    ivf_dir = str(tmp_path / "ivf")
    build_ivf_index(emb, ivf_dir, n_lists=16)
    parts = [d for d in os.listdir(f"{ivf_dir}/assignments") if d.startswith("list_id=")]
    assert len(parts) > 1
    # probe plan scans the partitioned layout with list_id as partition col
    from pyspark_etl_twitter_spark.operators.similarity import ivf_probe_indexed

    plan = (
        ivf_probe_indexed(spark, ivf_dir, n_queries=10, k=5, n_probe=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan


def test_embedding_near_dup_finds_planted_duplicate(spark):
    rng = np.random.RandomState(3)
    base = rng.rand(30, 8).astype("float32")
    rows = [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(base)]
    # vec 30 = copy of vec 0; vec 31 = tiny perturbation of vec 1
    rows.append(Row(vec_id=30, embedding=[float(x) for x in base[0]]))
    rows.append(
        Row(vec_id=31, embedding=[float(x) for x in base[1] + 0.001 * rng.rand(8).astype("float32")])
    )
    df = spark.createDataFrame(rows)
    pairs = {(r.vec_a, r.vec_b): r.cos_sim for r in embedding_near_dup_pairs(df, threshold=0.999).collect()}
    assert (0, 30) in pairs and pairs[(0, 30)] == 1.0
    assert (1, 31) in pairs


def test_group_centroids_matches_numpy(spark):
    import numpy as np

    from pyspark_etl_twitter_spark.operators.similarity import group_centroids

    rng = np.random.RandomState(11)
    rows = [
        (int(i), ["g1", "g2"][i % 2], rng.randn(8).tolist()) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    got = {r.label: (r.n_vectors, r.centroid) for r in group_centroids(emb).collect()}
    for g in ("g1", "g2"):
        vecs = np.array([v for _, lbl, v in rows if lbl == g])
        want = np.round(vecs.mean(axis=0), 6)
        assert got[g][0] == len(vecs)
        assert np.allclose(got[g][1], want, atol=1e-9)
        assert len(got[g][1]) == 8


def test_ivf_index_append_extends_lists_and_probes_see_new_vectors(spark, tmp_path):
    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_probe_indexed,
    )
    from pyspark_etl_twitter_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_lists=8)
    n0 = spark.read.parquet(f"{idx}/assignments").count()

    # append: a planted near-duplicate of query vector 0 plus 49 others
    q0 = emb.filter(F.col("vec_id") == 0).first()
    dup = [(1_000_000, [v * 1.0001 for v in q0.embedding], q0.label)]
    others = [
        (1_000_001 + i, r.embedding, r.label)
        for i, r in enumerate(
            emb.filter(F.col("vec_id").between(200, 248)).collect()
        )
    ]
    new = spark.createDataFrame(dup + others, ["vec_id", "embedding", "label"])
    ivf_index_append(spark, idx, new)

    after = spark.read.parquet(f"{idx}/assignments")
    assert after.count() == n0 + 50
    # every appended vector landed in exactly one existing list
    lists = {r.list_id for r in after.filter(F.col("vec_id") >= 1_000_000).collect()}
    assert lists <= {r.list_id for r in spark.read.parquet(f"{idx}/centroids").collect()}
    # the planted near-dup of q0 must now be q0's top indexed neighbor
    top = (
        ivf_probe_indexed(spark, idx, n_queries=1, k=1, n_probe=2)
        .filter(F.col("q_id") == 0)
        .first()
    )
    assert top.neighbor_id == 1_000_000


def test_lsh_index_append_planted_duplicate_found(spark, tmp_path):
    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.operators.similarity import (
        build_lsh_index,
        lsh_index_append,
        lsh_probe_indexed,
    )
    from pyspark_etl_twitter_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "lsh")
    build_lsh_index(emb, idx, n_planes=6)
    n0 = spark.read.parquet(f"{idx}/corpus").count()

    q0 = emb.filter(F.col("vec_id") == 0).first()
    new = spark.createDataFrame(
        [(2_000_000, [v * 1.0001 for v in q0.embedding], q0.label)],
        ["vec_id", "embedding", "label"],
    )
    lsh_index_append(spark, idx, new)
    # one appended vector = one corpus row per OR-construction table
    appended = spark.read.parquet(f"{idx}/corpus").count() - n0
    assert appended == spark.read.parquet(f"{idx}/corpus").select("t").distinct().count()
    top = (
        lsh_probe_indexed(spark, idx, n_queries=1, k=1)
        .filter(F.col("q_id") == 0)
        .first()
    )
    assert top.neighbor_id == 2_000_000


def test_lsh_index_append_empty_batch_is_noop(spark, tmp_path):
    from pyspark_etl_twitter_spark.operators.similarity import (
        build_lsh_index,
        lsh_index_append,
    )
    from pyspark_etl_twitter_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "lsh_empty")
    build_lsh_index(emb, idx, n_planes=6)
    n0 = spark.read.parquet(f"{idx}/corpus").count()
    lsh_index_append(spark, idx, emb.limit(0))
    assert spark.read.parquet(f"{idx}/corpus").count() == n0


def test_lsh_flat_and_partitioned_layouts_agree(spark, tmp_path):
    """The adaptive index layout (flat range-sorted files for small
    corpora, hive (t, bucket) dirs for large) changes WHERE bytes live,
    never the probe answer; meta makes the probe self-describing in both."""
    from pyspark_etl_twitter_spark.operators.similarity import (
        build_lsh_index,
        lsh_probe_indexed,
    )

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    flat, part = str(tmp_path / "flat"), str(tmp_path / "part")
    build_lsh_index(emb, flat, n_planes=6)  # auto → flat at 500 vectors
    build_lsh_index(emb, part, n_planes=6, layout="partitioned")
    import os

    assert not any(d.startswith("t=") for d in os.listdir(f"{flat}/corpus"))
    assert any(d.startswith("t=") for d in os.listdir(f"{part}/corpus"))
    a = sorted(map(tuple, lsh_probe_indexed(spark, flat, n_queries=10, k=5).collect()))
    b = sorted(map(tuple, lsh_probe_indexed(spark, part, n_queries=10, k=5).collect()))
    assert a == b and len(a) > 0


def test_pandas_twin_query_cap(spark):
    """The BLAS twin's driver collect is bounded: past MAX_PANDAS_QUERIES
    it must refuse instead of OOMing the driver."""
    from pyspark_etl_twitter_spark.operators.similarity import (
        MAX_PANDAS_QUERIES,
        cosine_topk_pandas,
    )

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    with pytest.raises(ValueError, match="MAX_PANDAS_QUERIES"):
        cosine_topk_pandas(emb, n_queries=MAX_PANDAS_QUERIES + 1)


def test_ann_recall_floors(spark):
    """ANN speed claims ship with accuracy: OR-construction LSH (2 tables,
    2 flipped probe bits) and IVF (4/16 lists) must clear measured recall
    floors vs exact brute-force on the same queries. Runs on the sf0.1
    corpus — the scale the bench's recall bar (≥ 0.6 at 100 queries) is
    defined at; floors sit ~0.15 under the measured values (L=2: 0.668 at
    50 queries, sweep in tools/lsh_param_sweep.py / DESIGN.md) to absorb
    corpus drift, and both the single-probe collapse (recall ~0.02) and
    the single-table regression (0.352 at 100q) stay caught."""
    from pyspark_etl_twitter_spark.operators.similarity import (
        ann_lsh_topk,
        ann_recall_at_k,
        cosine_topk,
        ivf_topk,
    )
    from pyspark_etl_twitter_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    exact = cosine_topk(emb, n_queries=50, k=5).localCheckpoint()

    # engine defaults (r6: L=2, 10 planes, probe_bits=3 — the smallest-
    # storage config clearing recall 0.7 on this corpus; floor leaves
    # margin for the 50-query subset)
    lsh = ann_lsh_topk(emb, n_queries=50, k=5)
    r_lsh = ann_recall_at_k(lsh, exact, k=5).first()
    assert r_lsh.n_queries == 50
    assert r_lsh.recall_at_k >= 0.6

    ivf = ivf_topk(emb, n_queries=50, k=5, n_lists=16, n_probe=4)
    r_ivf = ann_recall_at_k(ivf, exact, k=5).first()
    assert r_ivf.recall_at_k >= 0.45

    # recall of exact against itself is 1.0 by construction
    assert ann_recall_at_k(exact, exact, k=5).first().recall_at_k == 1.0


@pytest.mark.slow
def test_trained_ivf_index_probe_matches_one_shot(spark, tmp_path):
    """A k-means-trained IVF index (train_iters > 0) must probe
    identically to the one-shot form with the same training — the
    refinement is deterministic (first-k init + Lloyd's)."""
    from pyspark_etl_twitter_spark.operators.similarity import (
        _ivf_probe,
        build_ivf_index,
        ivf_assignments,
        ivf_probe_indexed,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    idx = str(tmp_path / "ivf_trained")
    build_ivf_index(emb, idx, n_lists=8, train_iters=2)
    got = sorted(
        map(tuple, ivf_probe_indexed(spark, idx, n_queries=10, k=5, n_probe=3).collect())
    )
    assignments, centroids = ivf_assignments(emb, n_lists=8, train_iters=2)
    queries = assignments.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    want = sorted(
        map(
            tuple,
            _ivf_probe(
                assignments, centroids, queries, k=5, n_probe=3, round_dp=6
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_compact_lsh_index_preserves_probes(spark, tmp_path):
    """After several appends the index accumulates files; compaction must
    shrink the file count without changing any probe result."""
    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.operators.similarity import (
        build_lsh_index,
        compact_lsh_index,
        lsh_index_append,
        lsh_probe_indexed,
    )
    from pyspark_etl_twitter_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "lsh")
    build_lsh_index(emb, idx, n_planes=6)
    for batch in range(3):
        newv = emb.filter(F.col("vec_id") % 7 == batch).select(
            (F.col("vec_id") + 1_000_000 * (batch + 1)).alias("vec_id"),
            "embedding",
            "label",
        )
        lsh_index_append(spark, idx, newv)

    want = sorted(map(tuple, lsh_probe_indexed(spark, idx, n_queries=10, k=5).collect()))
    before, after = compact_lsh_index(spark, idx)
    assert after < before
    got = sorted(map(tuple, lsh_probe_indexed(spark, idx, n_queries=10, k=5).collect()))
    assert got == want


def test_compact_ivf_index_preserves_probes(spark, tmp_path):
    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.operators.similarity import (
        build_ivf_index,
        compact_ivf_index,
        ivf_index_append,
        ivf_probe_indexed,
    )
    from pyspark_etl_twitter_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_lists=8)
    for batch in range(2):
        newv = emb.filter(F.col("vec_id") % 5 == batch).select(
            (F.col("vec_id") + 1_000_000 * (batch + 1)).alias("vec_id"),
            "embedding",
            "label",
        )
        ivf_index_append(spark, idx, newv)
    want = sorted(map(tuple, ivf_probe_indexed(spark, idx, n_queries=10, k=5, n_probe=3).collect()))
    before, after = compact_ivf_index(spark, idx)
    assert after < before
    got = sorted(map(tuple, ivf_probe_indexed(spark, idx, n_queries=10, k=5, n_probe=3).collect()))
    assert got == want


def test_rebalance_ivf_index_equals_fresh_trained_build(spark, tmp_path):
    """The maintenance-equality contract: build UNTRAINED on the old
    corpus, append the new arrivals under the stale centroids, then
    ``rebalance_ivf_index(portable=True)`` — probing the rebalanced
    store must equal probing a FRESH portable-trained index built
    one-shot over the union (the store holds exactly the union, and the
    rebalance re-trains from the store's own vectors, never the corpus
    table). Also pins that the rebalance is load-bearing: the centroid
    table actually changes (trained means replace the raw seed
    vectors)."""
    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.operators.clustering import (
        kmeans_fit_portable,
    )
    from pyspark_etl_twitter_spark.operators.similarity import (
        build_ivf_index,
        ivf_assignments,
        ivf_index_append,
        ivf_probe_indexed,
        rebalance_ivf_index,
        _ivf_probe,
    )
    from pyspark_etl_twitter_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    cut = max(16, (n * 4) // 5)
    corpus = emb.filter(F.col("vec_id") < cut)
    batch = emb.filter(F.col("vec_id") >= cut)
    idx = str(tmp_path / "ivf")
    build_ivf_index(corpus, idx, n_lists=16)
    ivf_index_append(spark, idx, batch)
    cent_before = sorted(
        map(tuple, spark.read.parquet(f"{idx}/centroids").collect())
    )
    rebalance_ivf_index(spark, idx, train_iters=2, portable=True)
    cent_after = sorted(
        map(tuple, spark.read.parquet(f"{idx}/centroids").collect())
    )
    assert cent_after != cent_before  # the retrain actually moved centroids
    got = sorted(map(tuple, ivf_probe_indexed(spark, idx).collect()))

    cents = kmeans_fit_portable(emb, 16, iters=2)
    assignments, centroids = ivf_assignments(
        emb, n_lists=16, centroid_vectors=cents
    )
    queries = assignments.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    want = sorted(
        map(
            tuple,
            _ivf_probe(
                assignments, centroids, queries, k=5, n_probe=4, round_dp=6
            ).collect(),
        )
    )
    assert got == want


def test_mrr_and_ndcg_hand_computed(spark):
    """MRR and nDCG@k against hand-computed values on a tiny fixture,
    plus the identity cases (exact vs itself = 1.0)."""
    import math

    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.operators.similarity import (
        ann_mrr,
        ann_ndcg_at_k,
    )

    # exact top-3 per query; approx: q0 perfect, q1 true-top1 at pos 2
    # and one relevant item missing, q2 finds nothing
    exact = spark.createDataFrame(
        [(q, n, 1.0 - 0.1 * n, n) for q in (0, 1, 2) for n in (1, 2, 3)],
        "q_id long, neighbor_id long, cos_sim double, rank int",
    ).withColumn("neighbor_id", F.col("q_id") * 10 + F.col("neighbor_id"))
    approx = spark.createDataFrame(
        [(0, 1, 0.9, 1), (0, 2, 0.8, 2), (0, 3, 0.7, 3)]      # perfect
        + [(1, 99, 0.9, 1), (1, 11, 0.8, 2), (1, 13, 0.7, 3)]  # top1 at pos 2
        + [(2, 99, 0.9, 1), (2, 98, 0.8, 2), (2, 97, 0.7, 3)],  # nothing
        "q_id long, neighbor_id long, cos_sim double, rank int",
    )
    mrr = ann_mrr(approx, exact, k=3).first()
    assert mrr.n_queries == 3
    assert mrr.mrr == round((1.0 + 0.5 + 0.0) / 3, 4)

    ndcg = ann_ndcg_at_k(approx, exact, k=3).first()
    idcg = sum(1 / math.log2(i + 1) for i in (1, 2, 3))
    q1_dcg = 1 / math.log2(3) + 1 / math.log2(4)  # rel at pos 2 and 3
    want = round((1.0 + q1_dcg / idcg + 0.0) / 3, 4)
    assert ndcg.n_queries == 3
    assert abs(ndcg.ndcg_at_k - want) < 1e-9

    # identity: exact scored against itself is perfect on both metrics
    assert ann_mrr(exact, exact, k=3).first().mrr == 1.0
    assert ann_ndcg_at_k(exact, exact, k=3).first().ndcg_at_k == 1.0


def test_quantized_index_recall_and_size(spark, tmp_path):
    """int8-quantized index: corpus bytes shrink substantially, candidate
    generation is identical (full-precision buckets), and the verified
    top-k matches the full-precision index except where quantization
    noise flips a near-tie — pinned by requiring >=80% identical rows
    AND identical recall-relevant neighbor SETS on >= 8/10 queries,
    plus an append that honors the quantized layout."""
    import os

    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.operators.similarity import (
        build_lsh_index,
        lsh_index_append,
        lsh_probe_indexed,
    )
    from pyspark_etl_twitter_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    full, quant = str(tmp_path / "full"), str(tmp_path / "quant")
    build_lsh_index(emb, full, n_planes=8)
    build_lsh_index(emb, quant, n_planes=8, quantize=True)

    def corpus_bytes(path):
        total = 0
        for d, _s, files in os.walk(f"{path}/corpus"):
            total += sum(
                os.path.getsize(os.path.join(d, f))
                for f in files
                if f.endswith(".parquet")
            )
        return total

    assert corpus_bytes(quant) < 0.55 * corpus_bytes(full)

    rows_full = lsh_probe_indexed(spark, full, n_queries=10, k=5).collect()
    rows_quant = lsh_probe_indexed(spark, quant, n_queries=10, k=5).collect()
    a = {(r.q_id, r.rank): r.neighbor_id for r in rows_full}
    b = {(r.q_id, r.rank): r.neighbor_id for r in rows_quant}
    # quantized probe SCORES match full precision (r5 advice: the query
    # block must stay full-precision — quantized q_emb without a stored
    # query-side scale shipped cos_sim off by ~1/q_scale, ~100×; ranking
    # survived, every similarity-threshold consumer broke)
    sa = {(r.q_id, r.neighbor_id): r.cos_sim for r in rows_full}
    sb = {(r.q_id, r.neighbor_id): r.cos_sim for r in rows_quant}
    shared = set(sa) & set(sb)
    assert shared
    assert all(abs(sa[key] - sb[key]) < 0.02 for key in shared)
    assert all(-1.001 <= v <= 1.001 for v in sb.values())
    same = sum(1 for key in a if b.get(key) == a[key])
    assert same >= 0.8 * len(a)
    # per-query neighbor SETS (recall-relevant) almost always identical
    qs = {q for q, _ in a}
    set_match = sum(
        1
        for q in qs
        if {v for (qq, _), v in a.items() if qq == q}
        == {v for (qq, _), v in b.items() if qq == q}
    )
    assert set_match >= len(qs) - 2

    # appends into a quantized index keep the quantized schema
    q0 = emb.filter(F.col("vec_id") == 0).first()
    new = spark.createDataFrame(
        [(3_000_000, [v * 1.0001 for v in q0.embedding], 0)],
        ["vec_id", "embedding", "label"],
    )
    lsh_index_append(spark, quant, new)
    top = (
        lsh_probe_indexed(spark, quant, n_queries=1, k=1)
        .filter(F.col("q_id") == 0)
        .first()
    )
    assert top.neighbor_id == 3_000_000


def test_lsh_index_without_meta_rejected(spark, tmp_path):
    """An index missing its manifest (and with it the build parameters,
    as in any store written before the manifest existed) is unsupported,
    and both probe and append must say so EARLY with a rebuild hint (r5
    advice: the documented 'legacy fallback' could never work — the probe
    joins on the OR-construction t/q_t columns a pre-meta layout lacks,
    so the old caller-default path died mid-plan with an
    AnalysisException)."""
    import os

    from pyspark_etl_twitter_spark.operators.similarity import (
        build_lsh_index,
        lsh_index_append,
        lsh_probe_indexed,
    )
    from pyspark_etl_twitter_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "idx")
    build_lsh_index(emb, path, n_planes=4)
    os.remove(f"{path}/_manifest.json")
    with pytest.raises(ValueError, match="meta table — rebuild"):
        lsh_probe_indexed(spark, path, n_queries=2, k=2)
    with pytest.raises(ValueError, match="meta table — rebuild"):
        lsh_index_append(spark, path, emb.limit(1))
    # a wholly nonexistent index fails the same way
    with pytest.raises(ValueError, match="meta table — rebuild"):
        lsh_probe_indexed(spark, str(tmp_path / "nope"), n_queries=1, k=1)


def test_zero_norm_vectors_never_score_or_crash(spark):
    """Cosine to the zero vector is undefined; under ANSI mode the naive
    division raises DIVIDE_BY_ZERO mid-job. Zero-norm vectors must be
    excluded from scoring — never returned as neighbors, never a crash
    (surfaced when probe_bits=3 let a zero vector collide with a probed
    bucket in the streaming-ingest test)."""
    rng = np.random.RandomState(5)
    rows = [Row(vec_id=i, embedding=rng.rand(8).tolist()) for i in range(20)]
    rows.append(Row(vec_id=20, embedding=[0.0] * 8))
    df = spark.createDataFrame(rows)
    got = ann_lsh_topk(df, n_queries=5, k=3, n_planes=2, probe_bits=2).collect()
    assert got  # non-degenerate: the tiny bucket space forces collisions
    assert all(r.neighbor_id != 20 for r in got)


def test_lsh_profile_high_recall_equals_explicit_params(spark):
    """profile='high_recall' must be exactly the documented L=3/10/3 tuple —
    a named preset, not a third code path — and unknown names must fail
    loudly before any job runs."""
    import pytest as _pytest

    from pyspark_etl_twitter_spark.operators.similarity import (
        LSH_PROFILES,
        ann_lsh_topk,
    )

    assert LSH_PROFILES["high_recall"] == {
        "n_planes": 10, "n_tables": 3, "probe_bits": 3,
    }
    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    via_profile = sorted(
        map(tuple, ann_lsh_topk(emb, n_queries=5, k=5, profile="high_recall").collect())
    )
    explicit = sorted(
        map(
            tuple,
            ann_lsh_topk(
                emb, n_queries=5, k=5, n_planes=10, n_tables=3, probe_bits=3
            ).collect(),
        )
    )
    assert via_profile == explicit
    with _pytest.raises(ValueError, match="unknown LSH profile"):
        ann_lsh_topk(emb, n_queries=5, k=5, profile="hyper_recall")


def test_lsh_profile_indexed_build_matches_one_shot(spark, tmp_path):
    """build_lsh_index(profile='high_recall') + probe ≡ the one-shot
    high-recall query — the indexed/one-shot equality contract extended to
    the preset."""
    from pyspark_etl_twitter_spark.operators.similarity import (
        ann_lsh_topk,
        build_lsh_index,
        lsh_probe_indexed,
    )

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    path = str(tmp_path / "lsh_hr")
    build_lsh_index(emb, path, profile="high_recall")
    indexed = sorted(
        map(tuple, lsh_probe_indexed(spark, path, n_queries=5, k=5).collect())
    )
    one_shot = sorted(
        map(tuple, ann_lsh_topk(emb, n_queries=5, k=5, profile="high_recall").collect())
    )
    assert indexed == one_shot


def test_ivf_two_level_exhaustive_matches_single(spark):
    """ivf_assignments(coarse_probe >= n_coarse) must be BIT-identical to
    the single-level literal argmax: same dot fold, same division, same
    lowest-list tie-break — on both the untrained (first-k) and trained
    centroid paths."""
    from pyspark_etl_twitter_spark.operators.clustering import (
        kmeans_fit_portable,
    )
    from pyspark_etl_twitter_spark.operators.similarity import ivf_assignments

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for kwargs in (
        {"n_lists": 16},
        {
            "n_lists": 16,
            "centroid_vectors": kmeans_fit_portable(emb, 16, iters=1),
        },
    ):
        single, _ = ivf_assignments(emb, **kwargs)
        two, _ = ivf_assignments(emb, coarse_probe=16, **kwargs)
        a = {r.vec_id: r.list_id for r in single.collect()}
        b = {r.vec_id: r.list_id for r in two.collect()}
        assert a == b


def test_ivf_two_level_approx_total_and_agreement(spark):
    """n_probe=1 two-level assignment: every vector assigned exactly
    once, and agreement with single-level on the unstructured sf0.001
    corpus stays above a measured-margin floor (cosine cells on random
    vectors — the worst case; structured corpora agree near-perfectly,
    see DESIGN.md round-11 table)."""
    from pyspark_etl_twitter_spark.operators.similarity import ivf_assignments

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    single, _ = ivf_assignments(emb, n_lists=16)
    two, _ = ivf_assignments(emb, n_lists=16, coarse_probe=1)
    a = {r.vec_id: r.list_id for r in single.collect()}
    b = {r.vec_id: r.list_id for r in two.collect()}
    assert set(a) == set(b)
    agree = sum(a[i] == b[i] for i in a) / len(a)
    assert agree >= 0.5, agree


def test_ivf_probe_over_two_level_index(spark, tmp_path):
    """A coarse_probe-built index stays a valid probe target: same
    layout, probes run, results rank-consistent (top-1 per query is a
    genuine member of the probed lists)."""
    from pyspark_etl_twitter_spark.operators.similarity import (
        build_ivf_index,
        ivf_probe_indexed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf2l")
    build_ivf_index(emb, path, n_lists=9, coarse_probe=2)
    out = ivf_probe_indexed(spark, path, n_queries=5, k=3).collect()
    assert out
    assert {r.q_id for r in out} <= set(range(5))
    assert all(1 <= r.rank <= 3 for r in out)


def test_build_ivf_index_auto_switch(spark, tmp_path):
    """coarse_probe="auto" (the build_ivf_index default): below the
    measured break-even the build is bit-identical to an exact
    coarse_probe=None build; at/above it the assignments are identical
    to an explicit two-level coarse_probe=IVF_TWO_LEVEL_AUTO_PROBE
    build — the auto rung is a pure dispatch, never a third algorithm."""
    from pyspark_etl_twitter_spark.operators.similarity import (
        IVF_TWO_LEVEL_AUTO_NLISTS,
        IVF_TWO_LEVEL_AUTO_PROBE,
        build_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def assigns(p):
        return {
            (r.vec_id, r.list_id)
            for r in spark.read.parquet(f"{p}/assignments").collect()
        }

    # below break-even: auto == exact
    small_auto = str(tmp_path / "small_auto")
    small_exact = str(tmp_path / "small_exact")
    build_ivf_index(emb, small_auto, n_lists=16)
    build_ivf_index(emb, small_exact, n_lists=16, coarse_probe=None)
    assert assigns(small_auto) == assigns(small_exact)

    # at break-even: auto == explicit two-level p=IVF_TWO_LEVEL_AUTO_PROBE
    k = IVF_TWO_LEVEL_AUTO_NLISTS
    big_auto = str(tmp_path / "big_auto")
    big_two = str(tmp_path / "big_two")
    build_ivf_index(emb, big_auto, n_lists=k)
    build_ivf_index(
        emb, big_two, n_lists=k, coarse_probe=IVF_TWO_LEVEL_AUTO_PROBE
    )
    assert assigns(big_auto) == assigns(big_two)


@pytest.mark.parametrize("coarse_probe", [None, 16])
def test_ivf_append_lands_where_the_build_assigns(spark, tmp_path, coarse_probe):
    """Every appended vector gets the list_id that ``ivf_assignments``
    gives it over the index's stored centroids: the append runs the
    build's assignment, exact (None) and two-level exhaustive (16 ≥
    ⌈√16⌉ coarse groups) alike."""
    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.operators.similarity import (
        build_ivf_index,
        ivf_assignments,
        ivf_index_append,
    )

    emb = spark.read.parquet(f"{SF_TINY}/embeddings.parquet")
    batch = emb.filter(F.col("vec_id") >= 400)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb.filter(F.col("vec_id") < 400), path, n_lists=16)
    ivf_index_append(spark, path, batch, coarse_probe=coarse_probe)

    stored = spark.read.parquet(f"{path}/assignments").filter(F.col("vec_id") >= 400)
    cents = [
        [float(x) for x in r.c_emb]
        for r in spark.read.parquet(f"{path}/centroids").orderBy("list_id").collect()
    ]
    rebuilt, _ = ivf_assignments(
        batch, centroid_vectors=cents, coarse_probe=coarse_probe
    )
    appended = {(r.vec_id, r.list_id) for r in stored.collect()}
    assert len(appended) == batch.count() > 0
    assert appended == {
        (r.vec_id, r.list_id) for r in rebuilt.select("vec_id", "list_id").collect()
    }


SIMILARITY = (
    Path(__file__).resolve().parents[1]
    / "pyspark_etl_twitter_spark"
    / "operators"
    / "similarity.py"
)


class _CallSites(ast.NodeVisitor):
    """The innermost function around every call of a name, and every
    function holding a ``partitionBy`` over "vec_id"."""

    def __init__(self):
        self.fn, self.calls, self.vec_id_windows = "<module>", {}, set()

    def visit_FunctionDef(self, node):
        outer, self.fn = self.fn, node.name
        self.generic_visit(node)
        self.fn = outer

    def visit_Call(self, node):
        func = node.func
        name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
        self.calls.setdefault(name, set()).add(self.fn)
        if name == "partitionBy" and any(
            isinstance(c, ast.Constant) and c.value == "vec_id"
            for a in node.args
            for c in ast.walk(a)
        ):
            self.vec_id_windows.add(self.fn)
        self.generic_visit(node)


def test_ann_stages_live_in_one_function_each():
    """One body per ANN stage in similarity.py: no window over vec_id
    (IVF assignment is the one ``_ivf_assign`` argmax, append included),
    one ADC scan-and-rank (the only 3-D literal besides the PQ codebook),
    and one LSH-table helper drawing the hyperplanes."""
    sites = _CallSites()
    sites.visit(ast.parse(SIMILARITY.read_text(), filename=str(SIMILARITY)))
    assert sites.vec_id_windows == set()
    assert sites.calls["lit_doubles_3d"] == {"_pq_books_lit", "_pq_adc_rank"}
    assert sites.calls["_hyperplanes"] == {
        "rp_matrix",
        "embedding_near_dup_pairs",
        "_lsh_tables",
    }
