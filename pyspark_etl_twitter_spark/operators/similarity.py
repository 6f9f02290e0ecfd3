"""Similarity search over embedding columns (BASELINE.json north star).

Embeddings are plain ``array<float>`` columns; all vector math is built-in
higher-order functions (``zip_with`` + ``aggregate``) evaluated JVM-side in
double precision — no Python, no VectorUDT.

The rungs, exact to most compressed:
- brute force: ``cosine_topk`` (broadcast query block, one per-query
  window; O(corpus × queries), the correct baseline), its Arrow twin
  ``cosine_topk_pandas``, the JL-projected ``rp_cosine_topk`` and the
  sq8-dequantized ``sq8_topk``;
- LSH: ``ann_lsh_topk`` one-shot; ``build_lsh_index``,
  ``lsh_index_append`` and ``lsh_probe_indexed`` persisted;
- IVF: ``ivf_topk`` one-shot; ``build_ivf_index``, ``ivf_index_append``,
  ``ivf_probe_indexed`` and ``rebalance_ivf_index`` persisted;
- PQ: ``pq_adc_topk`` one-shot; ``build_pq_code_table``,
  ``pq_code_table_append`` and ``pq_adc_topk_indexed`` persisted;
- IVF-PQ: ``ivfpq_topk`` one-shot; ``build_ivfpq_index``,
  ``ivfpq_index_append`` and ``ivfpq_probe_indexed`` persisted.

A persisted index is written ONCE as parquet partitioned by bucket/list_id,
and every later probe is an equi-join that only reads the probed partitions
(partition pruning on the index layout). At 100 TB this is the only sane
shape: index build is a batch job, probes are cheap.

Each stage has one private body, which the one-shot call, the build, the
append and the probe all run, so they agree by construction:
- LSH: hyperplane tables ``_lsh_tables``, corpus buckets ``_lsh_base``,
  query block ``_lsh_queries``, probe ``_lsh_probe`` (verify and rank in
  ``_lsh_score_pairs``);
- IVF: list assignment ``_ivf_assign`` (two-level rung
  ``_ivf_assign_two_level``), probe ``_ivf_probe``;
- PQ and IVF-PQ: sub-space distances ``_pq_subdists`` (codes
  ``_pq_codes``, the quantization MSE), residual encode
  ``_ivfpq_encode_plan``, driver-side lookup table ``_pq_lut``, ADC
  scan-and-rank ``_pq_adc_rank`` behind the flat front ``_pq_adc_flat``
  and the IVF-PQ front ``_ivfpq_probe_plan``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyspark_etl_twitter_spark.functions.lits import (
    lit_doubles,
    lit_doubles_2d,
    lit_doubles_3d,
    lit_ints,
    lit_longs,
    local_table,
)
from pyspark_etl_twitter_spark.operators import indexstore


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision (left-fold, deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared ranking tail: per-query top-k by (rounded score desc, id)."""
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "cos_sim", "rank")
    )


def cosine_topk(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 10,
    k: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors.

    Norms are computed once per side before the cross join; the query side
    is broadcast (queries ≪ corpus always, or you should not be brute
    forcing). Ranking orders by the *rounded* score with an id tiebreak so
    results are stable across engines/runs."""
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("emb"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    )
    queries = (
        base.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    pairs = base.crossJoin(F.broadcast(queries)).filter(F.col("vec_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot(F.col("emb"), F.col("q_emb")) / (F.col("nrm") * F.col("q_nrm")), round_dp
        ).alias("cos_sim"),
    )
    return _rank_topk(scored, k)


#: Hard cap on the query block ``cosine_topk_pandas`` collects to the
#: driver: 10k queries × 4 KB/vector ≈ 40 MB — comfortably inside any
#: driver heap, far above any sane brute-force query count. Past this,
#: the caller is misusing the twin as a distributed operator.
MAX_PANDAS_QUERIES = 10_000


def cosine_topk_pandas(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 10,
    k: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """Arrow-batched alternative to ``cosine_topk``: the query block is
    captured as a NumPy matrix inside a pandas UDF, so each Arrow batch of
    corpus vectors does one BLAS matmul against all queries at once —
    no cross join materialized at all.

    This is the measured "UDFs are the slow path, except vectorized
    linear algebra" tradeoff: the HOF version stays fully in codegen; this
    one pays Arrow transfer but replaces |corpus|×|queries| scalar folds
    with a matmul. Results are identical (tested); pick by profile —
    at high query counts the matmul wins, at few queries codegen wins.

    The query block is a bounded driver collect by design (it must be a
    broadcast-sized matrix); ``n_queries`` is capped at
    ``MAX_PANDAS_QUERIES`` so a caller cannot turn the twin into a driver
    OOM — past that, use ``cosine_topk`` (fully distributed) or an index."""
    from pyspark.sql.functions import pandas_udf

    if n_queries > MAX_PANDAS_QUERIES:
        raise ValueError(
            f"n_queries={n_queries} exceeds MAX_PANDAS_QUERIES="
            f"{MAX_PANDAS_QUERIES}: the query block is collected to the "
            "driver; use cosine_topk or a persisted index for larger "
            "query sets"
        )
    q_rows = (
        embeddings.filter(F.col(id_col) < n_queries)
        .select(id_col, vec_col)
        .collect()
    )
    q_ids = [r[0] for r in q_rows]
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)

    @pandas_udf("array<double>")
    def cos_block(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        sims = (mat @ q_mat.T) / np.outer(norms, q_norm)
        return pd.Series(list(sims))

    # one-py4j-call literal (functions/lits): int32-ranged ids keep
    # F.lit's IntegerType, bigger ids the long coercion F.array applied
    q_id_arr = (
        lit_ints(q_ids)
        if all(-(2**31) <= int(i) <= 2**31 - 1 for i in q_ids)
        else lit_longs(q_ids)
    )
    scored = (
        embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("emb"))
        .withColumn("sims", cos_block(F.col("emb")))
        .select(
            "neighbor_id",
            F.explode(F.arrays_zip(q_id_arr.alias("q_id"), F.col("sims").alias("cos"))).alias("z"),
        )
        .select(
            F.col("z.q_id").alias("q_id"),
            "neighbor_id",
            F.round(F.col("z.cos"), round_dp).alias("cos_sim"),
        )
        .filter(F.col("q_id") != F.col("neighbor_id"))
    )
    return _rank_topk(scored, k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _table_seed(seed: int, table: int) -> int:
    """Seed for OR-construction table ``table``: table 0 reproduces the
    single-table buckets (backwards compatible), later tables draw
    independent hyperplane sets."""
    return seed + 1009 * table


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane bucket id: bit p = sign(v · plane_p)."""
    bucket = F.lit(0)
    for p, plane in enumerate(planes):
        plane_lit = lit_doubles(plane)  # one py4j call per plane
        bucket = bucket + F.when(dot(vec, plane_lit) > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def _probe_buckets(bucket: Column, n_planes: int, probe_bits: int) -> Column:
    """Multi-probe LSH bucket expansion: the array of bucket ids within
    hamming distance ≤ ``probe_bits`` of ``bucket``. Sign-bit LSH puts a
    true neighbor in the EXACT same bucket only when all planes agree —
    for k-NN (as opposed to near-dup detection at cosine ≥ 0.95) that
    probability is tiny, so single-probe recall collapses (measured 0.01
    at 8 planes). Probing the 1+P+P(P-1)/2 buckets within 2 flipped bits
    trades a bounded candidate-set growth for most of the lost recall —
    the standard multi-probe LSH move, expressed as a literal array the
    query side explodes (the big corpus side is untouched)."""
    from itertools import combinations

    import math

    if not 0 <= probe_bits <= n_planes:
        raise ValueError(f"probe_bits must be in [0, n_planes]; got {probe_bits}")
    n_masks = sum(math.comb(n_planes, r) for r in range(probe_bits + 1))
    if n_masks > 4096:
        # the probe set is a literal array the query side explodes; past a
        # few thousand buckets the expression tree itself is the problem
        # (and the probe would touch most of the corpus anyway — at that
        # point brute force is the honest plan)
        raise ValueError(
            f"probe_bits={probe_bits} over {n_planes} planes expands to "
            f"{n_masks} probe buckets (> 4096); lower probe_bits or use "
            "cosine_topk"
        )
    masks = [0]
    for r in range(1, probe_bits + 1):
        masks += [
            sum(1 << i for i in bits) for bits in combinations(range(n_planes), r)
        ]
    # one literal mask array + a transform, not n_masks unrolled XOR
    # branches (2·n_masks py4j calls); query-side only, values identical
    return F.transform(lit_ints(masks), lambda m: bucket.bitwiseXOR(m))


def _lsh_tables(
    embeddings: DataFrame, vec_col: str, n_planes: int, n_tables: int, seed: int
) -> list[list[list[float]]] | None:
    """The seeded hyperplane tables of an OR-construction LSH index, sized
    to the dimension of ``embeddings``' first vector (one single-row
    ``first()`` action); None when the frame is empty."""
    row = embeddings.select(vec_col).first()
    if row is None:
        return None
    return [
        _hyperplanes(len(row[0]), n_planes, _table_seed(seed, t))
        for t in range(n_tables)
    ]


def _lsh_base(
    embeddings: DataFrame,
    planes_by_table: list[list[list[float]]],
    *,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Corpus exploded across OR-construction tables: one row per
    (vector, table) carrying ``(t, bucket)``. The explode is NARROW
    (posexplode of a computed L-element array — no shuffle); the L×
    fan-out is the classic LSH storage/recall trade, bounded by
    ``n_tables``, never by corpus skew."""
    buckets = F.array(
        *[lsh_bucket(F.col(vec_col), planes) for planes in planes_by_table]
    )
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("emb"),
        l2_norm(F.col(vec_col)).alias("nrm"),
        F.posexplode(buckets).alias("t", "bucket"),
    )


def _lsh_queries(base: DataFrame, n_queries: int) -> DataFrame:
    """The query block of an ``_lsh_base`` relation: its first
    ``n_queries`` vectors, one row per (query, table)."""
    return base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("t").alias("q_t"),
        F.col("bucket").alias("q_bucket"),
    )


def _lsh_probe(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    n_planes: int,
    probe_bits: int,
    k: int,
    round_dp: int,
) -> DataFrame:
    """The one LSH probe, under ``ann_lsh_topk`` and ``lsh_probe_indexed``:
    each query row ``(q_id, q_emb, q_nrm, q_t, q_bucket)`` explodes into
    its multi-probe buckets (``_probe_buckets``), the broadcast probe side
    equi-joins the corpus on ``(t, bucket)`` — for a partitioned index
    only the probed partitions are scanned (dynamic partition pruning) —
    and ``_lsh_score_pairs`` verifies and ranks the candidates."""
    probes = queries.select(
        "q_id",
        "q_emb",
        "q_nrm",
        "q_t",
        F.explode(
            _probe_buckets(F.col("q_bucket"), n_planes, probe_bits)
        ).alias("q_bucket"),
    )
    pairs = corpus.join(
        F.broadcast(probes),
        (F.col("t") == F.col("q_t"))
        & (F.col("bucket") == F.col("q_bucket"))
        & (F.col("vec_id") != F.col("q_id")),
    )
    return _lsh_score_pairs(pairs, k=k, round_dp=round_dp)


def _lsh_score_pairs(pairs: DataFrame, *, k: int, round_dp: int) -> DataFrame:
    """Shared LSH verification tail: score every (query, candidate)
    collision, then union across tables with a hash aggregate on the
    NARROW scored rows — a pair colliding in multiple tables produces
    identical exact scores, so ``max`` is a dedup. Scoring before the
    dedup trades a few duplicate 64-float folds (bounded by n_tables) for
    keeping the embedding arrays out of the exchange: deduping first
    plans as Sort+SortAggregate over the wide vector payload (measured
    2.5 s vs 1.0 s for the 100-query probe at sf0.1).

    Zero-norm vectors are EXCLUDED before scoring: cosine to the zero
    vector is undefined, and under ANSI mode the division raises
    DIVIDE_BY_ZERO mid-job (surfaced when wider multi-probe let a
    zero vector collide with a probed bucket)."""
    pairs = pairs.filter((F.col("nrm") > 0) & (F.col("q_nrm") > 0))
    scored = pairs.select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot(F.col("emb"), F.col("q_emb")) / (F.col("nrm") * F.col("q_nrm")),
            round_dp,
        ).alias("cos_sim"),
    )
    # ONE exchange for dedup + rank: hash-partitioning on q_id satisfies
    # both the (q_id, neighbor_id) aggregate's clustered distribution and
    # the q_id rank window's, so the agg and the window share the same
    # exchange instead of shuffling twice (scored rows are narrow —
    # 3 columns — so the raw-row repartition costs less than a second
    # stage boundary)
    deduped = (
        scored.repartition("q_id")
        .groupBy("q_id", "neighbor_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    return _rank_topk(deduped, k)


#: Named presets from the measured recall frontier (tools/lsh_param_sweep.py,
#: sf0.1 near-random corpus — DESIGN.md §20). A consumer buys a recall tier
#: by name instead of re-deriving the sweep; ``profile=`` on
#: ``ann_lsh_topk`` / ``build_lsh_index`` REPLACES the n_planes / n_tables /
#: probe_bits kwargs wholesale (no partial overrides — the frontier was
#: measured per-tuple, not per-knob).
LSH_PROFILES: dict[str, dict[str, int]] = {
    # recall@5 0.704 @ ~640 candidates/query, 2× corpus storage
    "default": {"n_planes": 10, "n_tables": 2, "probe_bits": 3},
    # recall@5 0.826 @ ~869 candidates/query, 3× corpus storage — the
    # documented L=3 rung of the frontier ladder (r6 verdict ask #4)
    "high_recall": {"n_planes": 10, "n_tables": 3, "probe_bits": 3},
}


def _apply_lsh_profile(profile, **kwargs):
    """Resolve a profile name to its (n_planes, n_tables, probe_bits) tuple,
    falling back to the explicitly-passed kwargs when profile is None."""
    if profile is None:
        return kwargs
    if profile not in LSH_PROFILES:
        raise ValueError(
            f"unknown LSH profile {profile!r}; available: {sorted(LSH_PROFILES)}"
        )
    chosen = dict(kwargs)
    for key, val in LSH_PROFILES[profile].items():
        if key in chosen:
            chosen[key] = val
    return chosen


def ann_lsh_topk(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 10,
    k: int = 5,
    n_planes: int = 10,
    seed: int = 7,
    round_dp: int = 6,
    probe_bits: int = 3,
    n_tables: int = 2,
    profile: str | None = None,
) -> DataFrame:
    """Approximate top-k via OR-construction LSH: ``n_tables`` independent
    hyperplane tables; a corpus vector is a candidate if it shares a
    probed bucket with the query in ANY table (union of candidate sets,
    deduped before the exact-cosine verify). Per-table miss probability
    p becomes p^L — the standard recall lever that multi-probe alone
    cannot reach (measured on the sf0.1 corpus, the adversarially hard
    near-random-vector case: 1 table/8 planes/2 bits → recall@5 0.352,
    2/8/2 → 0.622, the r6 default 2/10/3 → 0.704 at 640 candidates —
    the smallest-storage config clearing the 0.7 bar; full frontier in
    DESIGN.md §20 / tools/lsh_param_sweep.py).

    The bucket equi-join replaces the cross join — at 100 TB this turns
    O(corpus × queries) into O(corpus·L·buckets_probed/2^planes × queries)
    with a plain broadcast-probe join; the corpus side fans out L× but
    never shuffles. May return fewer than k rows per query (recall
    tradeoff); not oracle-SQL checked (approximate by design).

    ``profile`` (e.g. ``"high_recall"``) replaces n_planes/n_tables/
    probe_bits with a named preset from ``LSH_PROFILES``."""
    p = _apply_lsh_profile(
        profile, n_planes=n_planes, n_tables=n_tables, probe_bits=probe_bits
    )
    planes_by_table = _lsh_tables(
        embeddings, vec_col, p["n_planes"], p["n_tables"], seed
    )
    base = _lsh_base(embeddings, planes_by_table, id_col=id_col, vec_col=vec_col)
    return _lsh_probe(
        base,
        _lsh_queries(base, n_queries),
        n_planes=p["n_planes"],
        probe_bits=p["probe_bits"],
        k=k,
        round_dp=round_dp,
    )


def ivf_assignments(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    train_iters: int = 0,
    centroid_vectors: list[list[float]] | None = None,
    coarse_probe: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantization: partition the corpus into ``n_lists``
    inverted lists by nearest centroid.

    Default centroids are the first ``n_lists`` vectors (deterministic
    seeding — a k-means refinement iterates re-assignment exactly like
    this single assignment pass, so the join shape is the real thing).
    ``train_iters > 0`` runs that refinement (operators/clustering
    Lloyd's) first, which evens out list populations — the probe path's
    worst case is its biggest list. Assignment is ``_ivf_assign`` over
    the collected centroid rows: one narrow pass over the corpus, no
    exchange (the append runs the same function). Returns
    (assignments, centroids).

    ``coarse_probe`` (None = exact single-level) opts the assignment
    into the TWO-LEVEL coarse quantizer — the cosine twin of
    ``clustering.kmeans_assign_two_level`` (DESIGN.md §"Round-11
    coarse-quantizer rung"): unit-normalized centroids are grouped
    driver-side into ⌈√n_lists⌉ super-directions; each vector ranks
    those by one √n_lists-literal dot fold (zero exchanges), then
    refines within its ``coarse_probe`` nearest groups via a broadcast
    equi-join + partial-agg argmax, so per-vector work drops from
    n_lists·dim to (√n_lists + coarse_probe·√n_lists)·dim — the rung
    that keeps index BUILDS linear at the tens-of-thousands n_lists a
    corpus-scale deployment uses. With ``coarse_probe >= ⌈√n_lists⌉``
    every (vector, centroid) pair is scored once by the identical
    arithmetic/tie-break → bit-identical to single-level (pinned by
    ``test_ivf_two_level_exhaustive_matches_single``)."""
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("emb"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    )
    def _centroid_table(vecs: list[list[float]], emb_type: str) -> DataFrame:
        nrm = [math.sqrt(sum(float(x) * float(x) for x in c)) for c in vecs]
        return local_table(
            embeddings.sparkSession,
            "list_id bigint, c_emb array<double>, c_nrm double",
            {"list_id": range(len(vecs)), "c_emb": vecs, "c_nrm": nrm},
        ).select("list_id", F.col("c_emb").cast(emb_type).alias("c_emb"), "c_nrm")

    if centroid_vectors is not None:
        # pre-trained centroids (e.g. kmeans_fit_portable) — kept as
        # DOUBLES, not the float32 cast of the train_iters branch, so a
        # DuckDB oracle carrying the same 6dp-rounded trajectory computes
        # sims from exactly the same values
        centroids = _centroid_table(centroid_vectors, "array<double>")
    elif train_iters > 0:
        from pyspark_etl_twitter_spark.operators.clustering import kmeans_fit

        trained, _ = kmeans_fit(
            embeddings,
            n_lists,
            id_col=id_col,
            vec_col=vec_col,
            max_iters=train_iters,
        )
        centroids = _centroid_table(trained, "array<float>")
    else:
        centroids = base.filter(F.col("vec_id") < n_lists).select(
            F.col("vec_id").alias("list_id"),
            F.col("emb").alias("c_emb"),
            F.col("nrm").alias("c_nrm"),
        )
    crows = sorted(centroids.collect(), key=lambda r: r["list_id"])
    return _ivf_assign(base, crows, coarse_probe), centroids


def _ivf_assign(base: DataFrame, crows, coarse_probe: int | None) -> DataFrame:
    """The one IVF list assignment, under the build (``ivf_assignments``)
    and the append (``ivf_index_append``): ``base`` rows
    ``(vec_id, emb, nrm)`` gain the ``list_id`` of their most
    cosine-similar centroid among the collected, list_id-sorted centroid
    rows ``crows``. ``coarse_probe`` (not None, k > 1) takes the
    two-level rung (``_ivf_assign_two_level``).

    Single-level assignment is a broadcast-LITERAL argmax (the kmeans
    ``_assign`` shape, r7): a crossJoin + row_number window shuffled the
    corpus n_lists-fold on vec_id just to pick each row's max — 14
    exchanges in the knn_ivf plan. The n_lists centroid rows (bounded,
    n_lists ≪ corpus by construction) fold into one codegen expression
    with no exchange. Sims are one HOF fold over a 2-D centroid literal
    (k·dim-times smaller than k unrolled dots + greatest + a k-arm
    when-chain); ``array_position`` picks the FIRST max, so ties go to
    the lowest list_id, the window's (sim DESC, list_id) order. list_ids
    are contiguous by construction (enumerate / first-k vec_ids),
    asserted so the positional lookup can never silently mislabel."""
    if coarse_probe is not None and len(crows) > 1:
        return _ivf_assign_two_level(base, crows, coarse_probe)
    list_ids = [int(r["list_id"]) for r in crows]
    assert list_ids == list(range(len(list_ids))), list_ids
    cent_lit = lit_doubles_2d([r["c_emb"] for r in crows])
    nrm_lit = lit_doubles(float(r["c_nrm"]) for r in crows)
    sims = F.transform(
        F.sequence(F.lit(0), F.lit(len(crows) - 1)),
        lambda i: dot(F.col("emb"), F.element_at(cent_lit, i + 1))
        / (F.col("nrm") * F.element_at(nrm_lit, i + 1)),
    )
    scored = base.select("vec_id", "emb", "nrm", sims.alias("_s"))
    return scored.select(
        "vec_id",
        "emb",
        "nrm",
        (F.array_position(F.col("_s"), F.array_max(F.col("_s"))) - 1)
        .cast("long")
        .alias("list_id"),
    )


def _ivf_assign_two_level(base: DataFrame, crows, n_probe: int) -> DataFrame:
    """Two-level cosine-argmax assignment over collected centroid rows
    (see ``ivf_assignments`` docstring). Stage 1 ranks ⌈√k⌉ unit
    super-directions per vector in one codegen fold (ranking by raw
    dot — |v| is constant per vector, so dot order == cosine order);
    stage 2 equi-joins the probed groups against the broadcast centroid
    relation and takes ``min(struct(-sim, list_id))`` — the same
    (sim DESC, list_id ASC) order as the literal path's first-max
    ``array_position``, partial-aggregated so the exchange carries one
    candidate per vector."""
    from pyspark_etl_twitter_spark.operators.clustering import _group_centroids

    k = len(crows)
    n_coarse = max(1, math.isqrt(k - 1) + 1)  # ceil(sqrt(k))
    n_probe = max(1, min(n_probe, n_coarse))
    unit = [
        [float(x) / float(r["c_nrm"]) for x in r["c_emb"]] for r in crows
    ]
    sup, groups = _group_centroids(unit, n_coarse)
    sup_unit = []
    for s in sup:
        n = math.sqrt(sum(x * x for x in s)) or 1.0
        sup_unit.append([x / n for x in s])

    sup_lit = lit_doubles_2d(sup_unit)
    gd = F.transform(sup_lit, lambda s: dot(F.col("emb"), s))
    scored = base.select("vec_id", "emb", "nrm", gd.alias("_gs"))
    ranked = F.transform(
        F.sequence(F.lit(0), F.lit(len(sup_unit) - 1)),
        lambda i: F.struct(
            (-F.element_at(F.col("_gs"), i + 1)).alias("d"),
            i.cast("int").alias("g"),
        ),
    )
    probed = scored.select(
        "vec_id",
        "emb",
        "nrm",
        F.explode(
            F.transform(
                F.slice(F.array_sort(ranked), 1, n_probe), lambda s: s["g"]
            )
        ).alias("_grp"),
    )
    spark = base.sparkSession
    child = local_table(
        spark,
        "_grp int, list_id bigint, _c array<double>, _cn double",
        {
            "_grp": groups,
            "list_id": [r["list_id"] for r in crows],
            "_c": [r["c_emb"] for r in crows],
            "_cn": [r["c_nrm"] for r in crows],
        },
    )
    pairs = probed.join(F.broadcast(child), "_grp")
    sim = dot(F.col("emb"), F.col("_c")) / (F.col("nrm") * F.col("_cn"))
    return (
        pairs.select(
            "vec_id",
            "emb",
            "nrm",
            F.struct((-sim).alias("ns"), F.col("list_id")).alias("_s"),
        )
        .groupBy("vec_id")
        # emb/nrm are functionally dependent on vec_id (identical on
        # every pair row of the group) — first() is deterministic here
        .agg(
            F.first("emb").alias("emb"),
            F.first("nrm").alias("nrm"),
            F.min("_s").alias("_b"),
        )
        .select("vec_id", "emb", "nrm", F.col("_b.list_id").alias("list_id"))
    )


def _ivf_probe(
    assignments: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    *,
    k: int,
    n_probe: int,
    round_dp: int,
) -> DataFrame:
    """Probe stage shared by one-shot ``ivf_topk`` and the persisted-index
    path: rank centroids per query (broadcast cross join over the tiny
    centroid dim), keep ``n_probe`` lists, then equi-join on ``list_id``
    against the assignments. When ``assignments`` is a parquet table
    partitioned by ``list_id``, the broadcast probe side drives dynamic
    partition pruning — only the probed lists are read."""
    probe_sim = queries.crossJoin(F.broadcast(centroids)).select(
        "q_id",
        "q_emb",
        "q_nrm",
        "list_id",
        (dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm"))).alias(
            "c_sim"
        ),
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("c_sim").desc(), F.col("list_id"))
    probes = (
        probe_sim.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("q_id", "q_emb", "q_nrm", "list_id")
    )
    pairs = F.broadcast(probes).join(assignments, "list_id").filter(
        F.col("vec_id") != F.col("q_id")
    )
    scored = pairs.select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot(F.col("emb"), F.col("q_emb")) / (F.col("nrm") * F.col("q_nrm")),
            round_dp,
        ).alias("cos_sim"),
    )
    return _rank_topk(scored, k)


def ivf_topk(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 10,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    round_dp: int = 6,
) -> DataFrame:
    """IVF approximate top-k, one-shot: each query probes its ``n_probe``
    nearest inverted lists; candidates are only the vectors assigned to
    those lists — O(corpus · n_probe / n_lists) per query instead of
    O(corpus). Builds the assignment in-plan; for repeated querying use
    ``build_ivf_index`` + ``ivf_probe_indexed`` so the build is amortized."""
    assignments, centroids = ivf_assignments(
        embeddings, id_col=id_col, vec_col=vec_col, n_lists=n_lists
    )
    queries = assignments.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    return _ivf_probe(
        assignments, centroids, queries, k=k, n_probe=n_probe, round_dp=round_dp
    )


#: two-level auto-switch break-even: the measured L2 table
#: (DESIGN.md §"Round-11 coarse-quantizer rung") crosses over between
#: k=8 (overhead) and k=80 (1.4-1.9×), widening to 2.9× at k=400; the
#: cosine transplant measured 6-8.6× build-wall wins at k=400. Below
#: this, exact single-level assignment is both faster and exact.
IVF_TWO_LEVEL_AUTO_NLISTS = 80
#: auto rung probes p=2: the measured recall frontier (DESIGN.md
#: §"Cosine (IVF) two-level assignment") — p=2 build at n_probe=40
#: beat the exact build at n_probe=16 end-to-end while building 6×
#: faster, on the worst-case (unstructured) geometry
IVF_TWO_LEVEL_AUTO_PROBE = 2


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    max_queries: int = 100,
    train_iters: int = 0,
    coarse_probe: int | None | str = "auto",
) -> None:
    """Materialize the IVF index: assignments parquet PARTITIONED BY
    ``list_id`` (so a probe of p lists reads p/n_lists of the bytes —
    partition pruning, the on-disk analogue of an inverted list), plus the
    tiny centroid table and a pre-extracted query block (first
    ``max_queries`` vectors) so probes never scan the corpus for queries.

    ``train_iters > 0`` refines the centroids with that many Lloyd's
    iterations before assignment (deterministic — probes against the
    trained index stay equal to the one-shot form with the same iters).
    Measured at sf0.1 (100q, recall@5 vs exact): iters 0 → 0.592/0.710
    at n_probe 4/6, iters 3 → 0.618/0.750, iters 8 → 0.654/0.782 — each
    iteration is one pass over the corpus, so the default stays 0 and
    training is the periodic-rebuild knob (see ``ivf_index_append``).

    ``coarse_probe="auto"`` (the default) switches the assignment pass
    to the two-level coarse quantizer when ``n_lists >=
    IVF_TWO_LEVEL_AUTO_NLISTS`` (measured break-even — at the
    tens-of-thousands n_lists a corpus-scale build uses, single-level
    O(N·k) assignment is the build wall and the rung cuts it 6-8×),
    probing ``IVF_TWO_LEVEL_AUTO_PROBE`` coarse groups; below the
    break-even it stays exact single-level, so every small-k build
    (including all registry/oracle rows at n_lists=16) is bit-unchanged.
    Pass ``None`` to force exact at any k, or an int to pick the probe
    width explicitly. The two-level index trades ~15-20% relative
    recall at equal n_probe on worst-case unstructured geometry, bought
    back with wider probes (measured frontier in the docstring constant
    above); on corpora with real directional clustering the drop set
    converges to exact (the L2 ×50 measurement)."""
    assignments, centroids = ivf_assignments(
        embeddings,
        id_col=id_col,
        vec_col=vec_col,
        n_lists=n_lists,
        train_iters=train_iters,
        coarse_probe=_auto_coarse_probe(coarse_probe, n_lists),
    )
    _write_ivf_tables(path, assignments, centroids, n_lists, max_queries)


def _auto_coarse_probe(coarse_probe: int | None | str, n_lists: int) -> int | None:
    """Resolve ``coarse_probe="auto"``: the two-level rung at or above the
    measured break-even, exact single-level assignment below it."""
    if coarse_probe != "auto":
        return coarse_probe
    return IVF_TWO_LEVEL_AUTO_PROBE if n_lists >= IVF_TWO_LEVEL_AUTO_NLISTS else None


def _write_ivf_tables(
    path: str,
    assignments: DataFrame,
    centroids: DataFrame,
    n_lists: int,
    max_queries: int,
) -> None:
    """Write and commit the IVF store's three tables. The assignment
    (``_ivf_assign``'s centroid argmax) feeds both the assignments and the
    query block, so it is cached for one compute pass: the big write runs
    first and fills the cache, then the two single-file writes run as one
    wave over warm blocks."""
    assignments = assignments.persist()
    queries = assignments.filter(F.col("vec_id") < max_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    try:
        written = indexstore.write(assignments, path, indexstore.IVF_ASSIGNMENTS)
        wave = indexstore.write_wave(
            lambda: indexstore.write(centroids.coalesce(1), path, indexstore.IVF_CENTROIDS),
            lambda: indexstore.write(queries.coalesce(1), path, indexstore.QUERIES),
        )
    finally:
        assignments.unpersist()
    params = {"n_lists": n_lists, "max_queries": max_queries}
    indexstore.commit(path, written, *wave, params=params)


def ivf_build_plan(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    train_iters: int = 0,
) -> DataFrame:
    """Plan-only twin of ``build_ivf_index``'s compute: the assignments
    DataFrame the build materializes, WITHOUT the writes. Exists so the
    bench can plan-fingerprint the ``ann_index_build`` row the same way
    it fingerprints query rows (r9 verdict ask #2: the build rows were a
    fingerprint blind spot — the write action adds no plan shape worth
    hashing, the assignment pipeline is the plan that matters)."""
    assignments, _ = ivf_assignments(
        embeddings,
        id_col=id_col,
        vec_col=vec_col,
        n_lists=n_lists,
        train_iters=train_iters,
    )
    return assignments


def lsh_build_plan(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 10,
    seed: int = 7,
    n_tables: int = 2,
    profile: str | None = None,
) -> DataFrame:
    """Plan-only twin of ``build_lsh_index``'s compute (see
    ``ivf_build_plan``): the exploded corpus×tables relation with norms
    and sign-bit buckets that the build writes. The one action here is
    the single-row ``first()`` probing the embedding dimension — the
    same probe the real build performs."""
    p = _apply_lsh_profile(profile, n_planes=n_planes, n_tables=n_tables)
    planes_by_table = _lsh_tables(
        embeddings, vec_col, p["n_planes"], p["n_tables"], seed
    )
    return _lsh_base(embeddings, planes_by_table, id_col=id_col, vec_col=vec_col)


def ivf_probe_indexed(
    spark,
    path: str,
    *,
    n_queries: int = 10,
    k: int = 5,
    n_probe: int = 4,
    round_dp: int = 6,
) -> DataFrame:
    """Probe-only IVF top-k against a ``build_ivf_index`` layout. No index
    construction in the plan: centroid ranking over a broadcast dim, then a
    list_id equi-join that prunes to the probed partitions.

    ``n_probe`` is the recall/cost knob, measured every round at sf0.1
    (100 queries, recall@5 vs exact, untrained n_lists=16 index):
    n_probe=4 → 0.592 recall scanning ~4/16 of the corpus bytes;
    n_probe=6 → 0.710 scanning ~6/16 (r9 bench: 0.40 s vs 0.43 s —
    probe cost grows sub-linearly because the per-query top-k dominates
    at bench SF; at 100 TB cost tracks bytes ∝ n_probe/n_lists).
    Training the index tightens the same frontier (see
    ``build_ivf_index``: iters 8 → 0.654/0.782 at n_probe 4/6)."""
    assignments = indexstore.read(spark, path, "assignments")
    centroids = indexstore.read(spark, path, "centroids")
    queries = indexstore.read(spark, path, "queries").filter(
        F.col("q_id") < n_queries
    )
    return _ivf_probe(
        assignments, centroids, queries, k=k, n_probe=n_probe, round_dp=round_dp
    )


#: Minimum average vectors per (table, bucket) for the hive-partitioned
#: index layout: below this, each partition directory holds a near-empty
#: parquet file and per-file writer/commit overhead dominates the build
#: (measured at sf0.1: 511 dirs × ~8 vectors = 8.7 s write vs 0.5 s
#: flat) while pruning saves nothing; above it, directory-level pruning
#: (static + DPP) is the 100 TB win. 64 × 64-dim float ≈ 16 KB minimum
#: useful file payload.
LSH_PARTITIONED_MIN_BUCKET = 64


def build_lsh_index(
    embeddings: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 10,
    seed: int = 7,
    max_queries: int = 100,
    n_tables: int = 2,
    layout: str = "auto",
    quantize: bool = False,
    profile: str | None = None,
) -> None:
    """Materialize the OR-construction LSH index: corpus exploded across
    ``n_tables`` hyperplane tables with precomputed norm + sign-bit
    bucket; plus a pre-extracted query block (ids, vectors, norms,
    per-table buckets) for probe-only runs, and a one-row ``meta`` table
    (layout, n_planes, n_tables, seed) so probes and appends are
    self-describing. Storage is L× the corpus — the classic LSH trade
    for p^L miss probability.

    Layout is SIZED TO THE CORPUS (``layout='auto'``):

    - ``partitioned``: parquet PARTITIONED BY (t, bucket), repartitioned
      on the partition columns first so each directory holds one file
      per batch instead of one per writer task. Directory-level pruning
      (static + dynamic partition pruning against the broadcast probe
      side) is the 100 TB shape — a probe reads only the probed buckets.
    - ``flat``: range-partitioned + sorted by (t, bucket) plain parquet.
      Chosen when the average bucket would hold fewer than
      ``LSH_PARTITIONED_MIN_BUCKET`` vectors: 2^planes·L near-empty
      files cost more in writer/commit/listing overhead than a full
      scan of a corpus that small, and row-group (t, bucket) min/max
      stats still order the data for static pushdown.

    ``quantize=True`` stores vectors as int8 (symmetric per-vector
    scale = max|x|/127, tinyint codes + one double scale) — 4× smaller
    corpus bytes, THE index cost at 100 TB where the verify scan is
    byte-bound. Buckets/norms are computed from the FULL-precision
    vectors before quantization, so candidate GENERATION is unchanged;
    only the verify dot uses dequantized values (measured recall delta
    at sf0.1: none at 4 dp — see tests). The probe reads the flag from
    meta and scores accordingly.

    ``profile`` (e.g. ``"high_recall"``) replaces n_planes/n_tables with a
    named preset from ``LSH_PROFILES`` (probe_bits is probe-time — pass
    the profile to the probe call too, or rely on its default)."""
    p = _apply_lsh_profile(profile, n_planes=n_planes, n_tables=n_tables)
    n_planes, n_tables = p["n_planes"], p["n_tables"]
    planes_by_table = _lsh_tables(embeddings, vec_col, n_planes, n_tables, seed)
    # persist across the writes: the hashed relation is consumed by the
    # corpus write (twice under repartitionByRange — sampling + write),
    # then the query-block write; without the cache each pass re-runs the
    # L·planes hyperplane dot products over the corpus
    base = _lsh_base(
        embeddings, planes_by_table, id_col=id_col, vec_col=vec_col
    ).persist()
    # Quantization applies to the CORPUS side only. The query block stays
    # full-precision: the probe scores cos = q_scale·dot(code, q)/(nrm·q_nrm)
    # with exactly one int8 factor per pair. Writing quantized q_emb without
    # a stored query-side scale shipped scores off by 1/q_scale (~100×) —
    # ranking survived (constant per query) but any threshold consumer broke.
    corpus = _lsh_quantize(base) if quantize else base
    try:
        if layout == "auto":
            n_vecs = embeddings.count()
            layout = (
                "partitioned"
                if n_vecs >= (1 << n_planes) * LSH_PARTITIONED_MIN_BUCKET
                else "flat"
            )
        if layout not in indexstore.LSH_CORPUS:
            raise ValueError(f"layout must be auto|partitioned|flat, got {layout!r}")
        queries = _lsh_queries(base, max_queries)
        written = [
            indexstore.write(corpus, path, indexstore.LSH_CORPUS[layout]),
            indexstore.write(queries.coalesce(1), path, indexstore.QUERIES),
        ]
    finally:
        base.unpersist()
    meta = indexstore.write_meta(
        embeddings.sparkSession,
        path,
        "layout string, n_planes int, n_tables int, seed int, quantize boolean",
        layout=layout,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
        quantize=bool(quantize),
    )
    indexstore.commit(path, *written, meta)


def _lsh_quantize(base: DataFrame) -> DataFrame:
    """int8 corpus vectors: a symmetric per-vector scale max|x|/127 and
    tinyint codes (buckets and norms stay those of the full vectors)."""
    amax = F.aggregate(F.col("emb"), F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    scale = F.when(amax > 0, amax / 127.0).otherwise(F.lit(1.0))
    return base.withColumn("q_scale", scale).select(
        "vec_id",
        F.transform(
            "emb", lambda x: F.round(x / F.col("q_scale")).cast("tinyint")
        ).alias("emb"),
        "nrm",
        "q_scale",
        "t",
        "bucket",
    )


def lsh_probe_indexed(
    spark,
    path: str,
    *,
    n_queries: int = 10,
    k: int = 5,
    round_dp: int = 6,
    probe_bits: int = 3,
) -> DataFrame:
    """Probe-only LSH top-k against a ``build_lsh_index`` layout: broadcast
    the query block (multi-probe expanded per table, see _probe_buckets)
    and equi-join on the (t, bucket) columns — for the partitioned
    layout only the probed partitions of the probed tables are scanned
    (dynamic partition pruning off the broadcast probe side); candidates
    union across tables and dedup before the exact verify
    (OR-construction, same semantics as ``ann_lsh_topk``). ``n_planes``
    is read from the index ``meta``; an index without one is unsupported
    (the probe joins on the OR-construction ``t``/``q_t`` columns, which a
    pre-meta single-table layout lacks — it would fail mid-plan with an
    AnalysisException, so fail early and say how to fix it)."""
    meta = indexstore.read_meta(path, "build_lsh_index")
    corpus = indexstore.read(spark, path, "corpus")
    if meta.get("quantize"):
        # int8 codes: cos = q_scale·Σ code_i·q_i / (nrm·q_nrm). Folding the
        # scale into nrm (nrm' = nrm/q_scale) leaves the shared scoring
        # tail untouched — dot() casts tinyint elements to double anyway
        corpus = corpus.withColumn(
            "nrm", F.col("nrm") / F.col("q_scale")
        ).drop("q_scale")
    queries = indexstore.read(spark, path, "queries").filter(
        F.col("q_id") < n_queries
    )
    return _lsh_probe(
        corpus,
        queries,
        n_planes=meta["n_planes"],
        probe_bits=probe_bits,
        k=k,
        round_dp=round_dp,
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int | None = 8,
    seed: int = 7,
    target_bucket_size: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets: vectors with
    cosine ≥ threshold almost surely share a bucket (and nearby buckets —
    this single-probe variant trades recall for one equi-join).

    SIZE THE BUCKETS TO THE CORPUS: within-bucket verification is
    quadratic in bucket population, so ``n_planes`` must grow with the
    corpus — ``n_planes=None`` derives it as
    ``ceil(log2(n_vectors / target_bucket_size))`` (one count action).
    Measured (DESIGN.md §12): at 200k vectors, 12 planes verify 9.8M true
    pairs in ~35 s with ≈99% planted-pair recall, while 4 planes (right
    for the 2k-vector registry corpus) leave 12.5k-vector buckets whose
    ~1.25G candidate pairs never finish."""
    dim = len(embeddings.select(vec_col).first()[0])
    if n_planes is None:
        import math

        n_vecs = embeddings.count()
        n_planes = max(1, math.ceil(math.log2(max(n_vecs, 2) / target_bucket_size)))
    planes = _hyperplanes(dim, n_planes, seed)
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("emb"),
        l2_norm(F.col(vec_col)).alias("nrm"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.nrm") * F.col("b.nrm")), 6
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def group_centroids(
    embeddings: DataFrame,
    *,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding centroids: ``(group, n_vectors, centroid)`` with
    ``centroid[d] = avg(vec[d])`` over the group — the SemDeDup/cluster-
    pruning primitive (score vectors against their cluster centroid, drop
    the closest ones as redundant).

    Distributed shape: posexplode to (group, dim, value) → one hash
    aggregate on (group, dim) — partial aggregation makes the shuffle
    carry one partial sum per (group, dim, mapper) — → array_agg ordered
    by dim to reassemble. Parallelism scales with groups × dims, never
    collects vectors to the driver."""
    per_dim = (
        embeddings.select(
            F.col(group_col).alias("grp"),
            F.posexplode(F.col(vec_col)).alias("dim", "v"),
        )
        .groupBy("grp", "dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("v"), 6).alias("c"),
        )
    )
    return (
        per_dim.groupBy("grp")
        .agg(
            F.max("n").alias("n_vectors"),
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("c")))
            ).alias("_dc"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_vectors",
            F.transform("_dc", lambda s: s.c).alias("centroid"),
        )
    )


def ivf_index_append(
    spark,
    path: str,
    new_embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_probe: int | None | str = "auto",
) -> None:
    """Incrementally add vectors to a persisted IVF index WITHOUT
    rebuilding: assign the new batch to the EXISTING centroids with the
    build's own assignment (``_ivf_assign`` — so an appended vector lands
    in the list a build over the same centroids would pick) and append
    into the partitioned assignments layout. The
    on-disk inverted lists grow in place; probes see the union
    immediately. Centroids drift as the corpus grows — re-run
    ``build_ivf_index`` on a schedule to re-center (the standard
    IVF maintenance tradeoff: cheap appends between periodic rebuilds).
    NULL vectors are dropped (they cannot be assigned to a list and must
    not be written as corrupt entries); an all-NULL/empty batch appends
    nothing.

    ``coarse_probe="auto"`` mirrors ``build_ivf_index``: exact
    assignment below ``IVF_TWO_LEVEL_AUTO_NLISTS`` (every existing
    test/registry index — bit-unchanged), the two-level rung at p=2 at
    or above it — an append against a tens-of-thousands-lists index
    pays the same O(batch·k) assignment wall the build does, and the
    same O(batch·√k) rung cuts it. ``None`` forces exact at any k; an
    int picks the probe width (>= ⌈√k⌉ is bit-identical to exact, the
    ``ivf_assignments`` exhaustive contract)."""
    centroids = indexstore.read(spark, path, "centroids")
    crows = sorted(centroids.collect(), key=lambda r: r["list_id"])
    coarse_probe = _auto_coarse_probe(coarse_probe, len(crows))
    base = new_embeddings.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("emb"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    )
    assigned = _ivf_assign(base, crows, coarse_probe)
    indexstore.append(path, (indexstore.IVF_ASSIGNMENTS, assigned))


def lsh_index_append(
    spark,
    path: str,
    new_embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add vectors to a persisted LSH index: bucket the new
    batch with the SAME seeded hyperplane tables (read from the index
    ``meta`` — bucketing is stateless, so unlike IVF there is no drift and
    no periodic rebuild needed) and append in the index's own layout
    (partitioned dirs or flat sorted files), conformed to the existing
    schema. An index without a ``meta`` table is
    unsupported — the append casts through the OR-construction ``t``
    column, which a pre-meta layout lacks (it would die with a KeyError
    mid-select; fail early instead). An empty batch is a no-op (nothing
    to bucket, nothing to write). NULL vectors are dropped FIRST — a
    NULL-vector first row must not masquerade as an empty batch (silently
    skipping the real rows), and NULL rows in any position must not be
    written as corrupt bucket entries."""
    meta = indexstore.read_meta(path, "build_lsh_index")
    new_embeddings = new_embeddings.filter(F.col(vec_col).isNotNull())
    planes_by_table = _lsh_tables(
        new_embeddings, vec_col, meta["n_planes"], meta["n_tables"], meta["seed"]
    )
    if planes_by_table is None:
        return
    base = _lsh_base(new_embeddings, planes_by_table, id_col=id_col, vec_col=vec_col)
    if meta.get("quantize"):
        base = _lsh_quantize(base)
    indexstore.append(path, (indexstore.LSH_CORPUS[meta["layout"]], base))


def ann_recall_at_k(approx: DataFrame, exact: DataFrame, *, k: int = 5) -> DataFrame:
    """Recall@k of an approximate neighbor result against the exact one —
    the number every ANN speed claim must ship with. Per query:
    |approx ∩ exact| / |exact| over the rank ≤ k rows (exact is the
    denominator, so queries where the approximate path returned fewer
    than k candidates are penalized, not excused). Returns one row
    ``(n_queries, recall_at_k)``; distributed (semi-join + two tiny
    aggregates), no driver-side set math."""
    a = approx.filter(F.col("rank") <= k).select("q_id", "neighbor_id")
    e = exact.filter(F.col("rank") <= k).select("q_id", "neighbor_id")
    hits = (
        e.join(a, ["q_id", "neighbor_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    per_q = (
        e.groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            (
                F.coalesce("n_hit", F.lit(0)).cast("double") / F.col("n_exact")
            ).alias("recall"),
        )
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("recall"), 4).alias("recall_at_k"),
    )


def compact_lsh_index(spark, path: str) -> tuple[int, int]:
    """Compact a persisted LSH index after incremental appends: every
    ``lsh_index_append`` / ``streaming_lsh_ingest`` batch adds files, and
    probe latency is footer-read-bound — periodic compaction is the
    maintenance half of the append story (exactly what OPTIMIZE does for
    a Delta table). Rewrites the corpus in its own layout (partitioned
    dirs → one file per (t, bucket); flat → range-sorted files), leaving
    buckets, meta, and probe results untouched (equality tested).
    Single-writer by contract, like every sink in this package. Returns
    (files_before, files_after)."""
    layout = indexstore.read_meta(path, "build_lsh_index")["layout"]
    return indexstore.compact(spark, path, (indexstore.LSH_CORPUS[layout],))


def compact_ivf_index(spark, path: str) -> tuple[int, int]:
    """IVF twin of ``compact_lsh_index``: rewrite the list_id-partitioned
    assignments after ``ivf_index_append`` batches accumulate files —
    one file per inverted list again. Centroids/queries are single-file
    already. Returns (files_before, files_after)."""
    return indexstore.compact(spark, path, (indexstore.IVF_ASSIGNMENTS,))


def rebalance_ivf_index(
    spark,
    path: str,
    *,
    train_iters: int = 3,
    portable: bool = False,
    round_dp: int = 6,
    max_queries: int = 100,
    coarse_probe: int | None | str = "auto",
) -> None:
    """Maintenance rebalance of a persisted IVF index FROM ITS OWN STORED
    VECTORS — the centroid-drift closer ``ivf_index_append`` defers to
    "re-run build on a schedule": appended batches are assigned to the
    FROZEN centroids, so list populations skew as the corpus grows and
    the probe's worst case (its biggest list) degrades. This operator
    re-trains the coarse quantizer with ``train_iters`` Lloyd's
    iterations over the vectors already IN the store (``assignments``
    carries emb/nrm), re-assigns every stored vector, and rewrites the
    three tables in place — a rebalance never re-reads the corpus table
    (the ``rebuild_minhash_index`` contract: at scale the raw corpus has
    moved on; the index is self-contained).

    ``portable=True`` trains with ``kmeans_fit_portable`` (the
    6dp-rounded fixed-iteration trajectory) instead of the production
    ``kmeans_fit`` — the DuckDB-replayable path the oracle-backed
    registry row uses: after build(old corpus) → append(new batch) →
    rebalance, probing the store must equal the one-shot trained pipeline
    over the UNION (``knn_ivf_rebalanced`` pins it against
    ``ORACLE_KNN_IVF_TRAINED`` verbatim)."""
    # checkpointed: training and the re-assignment both scan it
    stored = (
        indexstore.read(spark, path, "assignments")
        .select("vec_id", "emb")
        .localCheckpoint()
    )
    n_lists = indexstore.manifest(path)["tables"]["centroids"]["rows"]
    coarse_probe = _auto_coarse_probe(coarse_probe, n_lists)
    if portable:
        from pyspark_etl_twitter_spark.operators.clustering import (
            kmeans_fit_portable,
        )

        cents = kmeans_fit_portable(
            stored,
            n_lists,
            vec_col="emb",
            iters=train_iters,
            round_dp=round_dp,
        )
        assignments, centroids = ivf_assignments(
            stored,
            vec_col="emb",
            n_lists=n_lists,
            centroid_vectors=cents,
            coarse_probe=coarse_probe,
        )
    else:
        assignments, centroids = ivf_assignments(
            stored,
            vec_col="emb",
            n_lists=n_lists,
            train_iters=train_iters,
            coarse_probe=coarse_probe,
        )
    _write_ivf_tables(path, assignments, centroids, n_lists, max_queries)


def ann_mrr(approx: DataFrame, exact: DataFrame, *, k: int = 5) -> DataFrame:
    """Mean reciprocal rank of each query's TRUE nearest neighbor within
    the approximate top-``k``: 1/position if the exact rank-1 neighbor
    appears, else 0 — the "did we find THE neighbor, and how high" number
    that recall@k (set overlap) cannot express. One row
    (n_queries, mrr); distributed (equi-join + two aggregates)."""
    true_top = exact.filter(F.col("rank") == 1).select(
        "q_id", F.col("neighbor_id").alias("_true")
    )
    hit = (
        true_top.join(
            approx.filter(F.col("rank") <= k).select(
                "q_id", "neighbor_id", F.col("rank").alias("_r")
            ),
            ["q_id"],
        )
        .filter(F.col("neighbor_id") == F.col("_true"))
        .groupBy("q_id")
        .agg((1.0 / F.min("_r")).alias("_rr"))
    )
    per_q = true_top.join(hit, "q_id", "left").select(
        "q_id", F.coalesce("_rr", F.lit(0.0)).alias("rr")
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("rr"), 4).alias("mrr"),
    )


def ann_ndcg_at_k(approx: DataFrame, exact: DataFrame, *, k: int = 5) -> DataFrame:
    """Binary-relevance nDCG@k of the approximate ranking against the
    exact top-``k`` as the relevant set: DCG = Σ 1/log2(pos+1) over
    approx positions holding a true top-k neighbor; IDCG = the same sum
    over positions 1..min(k, |exact|). Position-sensitive where recall
    is not (an approx list with the right set in the wrong order scores
    < 1). One row (n_queries, ndcg_at_k), fully distributed."""
    rel = exact.filter(F.col("rank") <= k).select("q_id", "neighbor_id")
    dcg = (
        approx.filter(F.col("rank") <= k)
        .join(rel, ["q_id", "neighbor_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.sum(1.0 / F.log2(F.col("rank") + 1)).alias("_dcg"))
    )
    idcg = (
        rel.groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "q_id",
            F.aggregate(
                F.sequence(F.lit(1), F.least(F.col("_n"), F.lit(k))),
                F.lit(0.0),
                lambda acc, i: acc + 1.0 / F.log2(i.cast("double") + 1),
            ).alias("_idcg"),
        )
    )
    per_q = idcg.join(dcg, "q_id", "left").select(
        "q_id",
        (F.coalesce("_dcg", F.lit(0.0)) / F.col("_idcg")).alias("ndcg"),
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("ndcg"), 4).alias("ndcg_at_k"),
    )


# --------------------------------------------------------------------------
# Product quantization (PQ): compress vectors to m sub-space codes, search
# with asymmetric distance computation (ADC) — Jégou et al., "Product
# Quantization for Nearest Neighbor Search", TPAMI 2011. The fourth rung of
# the ANN family (brute → LSH → IVF → PQ): where IVF prunes WHICH vectors a
# query scans, PQ shrinks WHAT is scanned — a 64-dim float32 vector (256 B)
# becomes m=8 uint8 codes (8 B, 32×), so a 100 TB embedding corpus's code
# table fits in ~3 TB of executor memory and the ADC scan reads no raw
# vectors at all.
# --------------------------------------------------------------------------


def pq_codebooks(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: sub-space ``s``'s entry ``j`` is the
    ``s``-th slice of the corpus's ``j``-th vector (first-``ksub``
    seeding, the exact precedent of ``ivf_assignments``' default
    centroids — SQL-replayable, so the whole PQ pipeline stays
    oracle-backed). Returns ``books[s][j][t]`` with ``len == m``,
    ``len(books[s]) == ksub``, ``len(books[s][j]) == dim // m``.

    Bounded collect: ``ksub`` rows (16 by default) — the codebook is
    driver-state by definition (it must ship to every executor as a
    literal/broadcast; ksub·dim doubles ≈ 8 KB).

    A Lloyd's-trained codebook (per-sub-space k-means on residuals or raw
    slices) drops in by replacing this function's output — training is
    ``clustering.kmeans_fit_portable`` per sub-space over ``F.slice``
    projections; the deterministic seeding is the verification twin,
    exactly like ``knn_ivf`` vs ``knn_ivf_trained``."""
    rows = sorted(
        embeddings.filter(F.col(id_col) < ksub)
        .select(id_col, vec_col)
        .collect(),
        key=lambda r: r[0],
    )
    if len(rows) < ksub:
        raise ValueError(f"corpus has {len(rows)} rows < ksub={ksub}")
    dim = len(rows[0][1])
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} sub-spaces")
    dsub = dim // m
    return [
        [
            [float(rows[j][1][s * dsub + t]) for t in range(dsub)]
            for j in range(ksub)
        ]
        for s in range(m)
    ]


def _pq_books_lit(books: list[list[list[float]]]) -> Column:
    """3-D literal ``books[s][j][t]`` as nested Spark arrays — one shared
    expression tree indexed positionally, not m·ksub unrolled branches;
    built in one py4j call (functions/lits)."""
    return lit_doubles_3d(books)


def _pq_subdists(vec: Column, books: list[list[list[float]]]) -> Column:
    """The one PQ sub-space distance array: ``dists[s][j] = Σ_t
    (vec[s·dsub+t] − books[s][j][t])²``, m × ksub doubles per row, over
    a vector column (raw in ``pq_encode`` and ``pq_reconstruction_mse``,
    the residual in ``_ivfpq_encode_plan``). ``t`` folds ascending in
    double precision (the ``dot`` contract), and each sub-space's ksub
    distances are materialized ONCE, so an argmin or min reads the
    evaluated array instead of re-running the dsub-fold per comparison."""
    m, ksub, dsub = len(books), len(books[0]), len(books[0][0])
    books_lit = _pq_books_lit(books)

    def subdist(s, j):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(dsub - 1)),
            F.lit(0.0),
            # (d*d, not F.pow(d, 2): Math.pow costs ~4.6x in the interpreted
            # HOF path for bit-identical values — measured 6.0 s -> 1.3 s on
            # the sf0.1 encode; oracles square by multiplication too)
            lambda acc, t: acc
            + (lambda d: d * d)(
                F.element_at(vec, (s * dsub + t + 1).cast("int")).cast("double")
                - F.element_at(
                    F.element_at(
                        F.element_at(books_lit, (s + 1).cast("int")),
                        (j + 1).cast("int"),
                    ),
                    (t + 1).cast("int"),
                )
            ),
        )

    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.transform(
            F.sequence(F.lit(0), F.lit(ksub - 1)), lambda j: subdist(s, j)
        ),
    )


def _pq_codes(vec: Column, books: list[list[list[float]]]) -> Column:
    """PQ codes of a vector column: the per-sub-space argmin of
    ``_pq_subdists`` (``array_position`` first match — ties → lowest j)."""
    return F.transform(
        _pq_subdists(vec, books),
        lambda d: (F.array_position(d, F.array_min(d)) - 1).cast("int"),
    )


def pq_encode(
    embeddings: DataFrame,
    books: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector to ``m`` codebook indices: ``codes[s] =
    argmin_j Σ_t (v[s·dsub+t] − books[s][j][t])²`` (ties → lowest j via
    ``array_position`` first-match, matching a ``(d, j)`` sort order).

    One narrow codegen pass, ZERO exchanges — the codebook rides along as
    a literal and the whole argmin is a higher-order-function fold, so at
    100 TB this is scan-bound map work that AQE can coalesce freely.
    Sub-distances fold ``t`` ascending in double precision (deterministic
    summation order, same contract as ``dot``).

    Returns ``(vec_id, codes array<int>)``."""
    return embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_emb")
    ).select("vec_id", _pq_codes(F.col("_emb"), books).alias("codes"))


def pq_adc_topk(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    n_queries: int = 8,
    k: int = 5,
    round_dp: int = 6,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k via PQ + asymmetric distance computation.

    For each query q, ``lut[s][j] = ‖q_s − books[s][j]‖²`` is computed
    ONCE driver-side (n_queries·m·ksub doubles — 8 KB at the defaults),
    then the scan approximates ``‖q − v‖² ≈ Σ_s lut[s][codes_v[s]]`` —
    m array lookups per (query, vector) instead of a dim-length fold.

    Plan shape (deliberate): encode is a narrow map; the query dimension
    enters via ``explode(sequence(...))`` — a generator, NOT a cross
    join, so there is no BroadcastNestedLoopJoin anywhere; the only
    exchange is the final per-query top-k window. The query block is a
    bounded collect (``MAX_PANDAS_QUERIES`` cap, same contract as
    ``cosine_topk_pandas``); for corpus-scale query sets the LUT becomes
    a broadcast relation keyed on (q_id, s, code) instead of a literal.

    Returns ``(q_id, neighbor_id, adc_dist, rank)`` ranked by
    (rounded ADC distance asc, neighbor_id)."""
    if n_queries > MAX_PANDAS_QUERIES:
        raise ValueError(
            f"n_queries={n_queries} exceeds MAX_PANDAS_QUERIES="
            f"{MAX_PANDAS_QUERIES}: the ADC LUT is driver-built; join a "
            "LUT relation instead for larger query sets"
        )
    if books is None:
        books = pq_codebooks(
            embeddings, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub
        )
    q_rows = sorted(
        embeddings.filter(F.col(id_col) < n_queries)
        .select(id_col, vec_col)
        .collect(),
        key=lambda r: r[0],
    )
    codes = pq_encode(embeddings, books, id_col=id_col, vec_col=vec_col)
    return _pq_adc_flat(codes, q_rows, books, k=k, round_dp=round_dp)


def _pq_lut(vec, books: list[list[list[float]]]) -> list[list[float]]:
    """Driver-side ADC lookup table ``lut[s][j] = ‖vec_s − books[s][j]‖²``
    for one query (or one query residual): ``_py_l2``, the t-ascending
    fold ``_pq_subdists`` runs, on the same float32→double promotions, so
    an entry is bit-identical to the encode's distance."""
    vec = [float(x) for x in vec]
    dsub = len(books[0][0])
    return [
        [_py_l2(vec[s * dsub : (s + 1) * dsub], entry) for entry in book]
        for s, book in enumerate(books)
    ]


def _pq_adc_rank(rows: DataFrame, luts, *, k: int, round_dp: int) -> DataFrame:
    """The one ADC scan-and-rank tail, under flat PQ (``_pq_adc_flat``)
    and IVF-PQ (``_ivfpq_probe_plan``). ``rows`` carry ``(q_id, vec_id,
    codes, qp)``; ``qp`` indexes ``luts``, one ``_pq_lut`` per query (flat)
    or per (query, probed list) (IVF-PQ), shipped as ONE 3-D literal.
    ADC is ``Σ_s luts[qp][s][codes[s]]``, s ascending — m array lookups
    per (query, vector) instead of a dim-length fold. Self-pairs drop,
    then one per-query window ranks by (rounded ADC asc, neighbor_id).
    Returns ``(q_id, neighbor_id, adc_dist, rank)``."""
    lut_lit = lit_doubles_3d(luts)
    m = len(luts[0]) if luts else 0  # no queries: no rows to score
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(
                F.element_at(lut_lit, (F.col("qp") + 1).cast("int")),
                (s + 1).cast("int"),
            ),
            (F.element_at(F.col("codes"), (s + 1).cast("int")) + 1).cast("int"),
        ),
    )
    scored = rows.filter(F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(adc, round_dp).alias("adc_dist"),
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "adc_dist", "rank")
    )


def _pq_adc_flat(
    codes: DataFrame, queries, books, *, k: int, round_dp: int
) -> DataFrame:
    """Flat-PQ front of ``_pq_adc_rank`` over a ``(vec_id, codes)`` table
    and a bounded ``(q_id, vector)`` query list: ``qp`` is the query's
    position, generated by ``explode(sequence(...))`` (no cross join —
    ``pq_adc_topk``'s plan shape), and ``q_id`` a literal lookup
    (int32-ranged ids keep IntegerType, bigger ids are longs)."""
    ids = [int(q) for q, _ in queries]
    qid_lit = (
        lit_ints(ids)
        if all(-(2**31) <= i <= 2**31 - 1 for i in ids)
        else lit_longs(ids)
    )
    rows = codes.select(
        "vec_id",
        "codes",
        F.explode(F.sequence(F.lit(0), F.lit(len(ids) - 1))).alias("qp"),
    ).select(
        F.element_at(qid_lit, (F.col("qp") + 1).cast("int")).alias("q_id"),
        "vec_id",
        "codes",
        "qp",
    )
    luts = [_pq_lut(vec, books) for _, vec in queries]
    return _pq_adc_rank(rows, luts, k=k, round_dp=round_dp)


def pq_encode_pandas(
    embeddings: DataFrame,
    books: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched twin of ``pq_encode`` — the ``cosine_topk_pandas``
    tradeoff applied to quantization: the codebook is a captured NumPy
    tensor and each Arrow batch computes all m argmins as one broadcasted
    ``(batch, ksub, dsub)`` subtraction per sub-space, replacing the
    m·ksub·dsub-op codegen fold per row with BLAS-shaped batch math.
    Both sides are float64 with the same argmin/lowest-j tie rule, AND
    the same accumulation order: the per-subspace distance accumulates
    with an explicit left-to-right loop over the ``dsub`` dimensions
    (``d += sq[:, :, t]``) instead of numpy's ``.sum(axis=2)`` —
    pairwise summation there could differ from the codegen fold's
    sequential order by a last ulp and flip a near-exact argmin tie
    (r12 verdict). With the loop, every ``d[i, j]`` is the IDENTICAL
    FP operation sequence ``(((sq₀+sq₁)+sq₂)+…)`` the fold executes, so
    the equivalence is an arithmetic identity, not an empirical pin
    (the full-corpus equality test remains as the regression guard).
    Measured at sf0.1 ×100 (200k 64-dim
    vectors, m=8/ksub=16): codegen fold 48.5 s → Arrow twin 2.0 s — the
    vectorized-linear-algebra exception to "UDFs are the slow path"."""
    from pyspark.sql.functions import pandas_udf

    books_np = np.array(books, dtype=np.float64)  # (m, ksub, dsub)
    m, ksub, dsub = books_np.shape

    @pandas_udf("array<int>")
    def enc(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        codes = np.empty((mat.shape[0], m), dtype=np.int32)
        for s in range(m):
            sub = mat[:, s * dsub : (s + 1) * dsub]
            diff = sub[:, None, :] - books_np[s][None, :, :]
            sq = diff * diff  # (batch, ksub, dsub)
            # sequential left-to-right accumulation over dsub — the
            # codegen fold's exact FP operation order (NOT .sum(axis=2),
            # whose pairwise summation is a different rounding sequence)
            d = sq[:, :, 0].copy()
            for t in range(1, dsub):
                d += sq[:, :, t]
            codes[:, s] = d.argmin(axis=1)  # np argmin ties → lowest j
        return pd.Series(list(codes))

    return embeddings.select(
        F.col(id_col).alias("vec_id"), enc(F.col(vec_col)).alias("codes")
    )


def _l2_sq(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)² in double precision (left-fold, deterministic order —
    the L2 twin of ``dot``)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _py_l2(a, b):
    """Sequential-order Python L2² — the driver-side twin of ``_l2_sq``
    (same left-to-right accumulation, same multiply-not-pow squaring)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


def _ivfpq_model(seed_rows, n_lists: int, m: int, ksub: int):
    """Deterministic IVF-PQ model from the sorted seed prefix: the
    first ``n_lists`` vectors are the L2 coarse centroids and the first
    ``ksub`` vectors' RESIDUALS (against their own L2-assigned centroid)
    sub-slice into the PQ codebooks — the ``knn_ivf``/``pq_codebooks``
    seeding precedent, SQL-replayable end to end. Returns
    ``(cents, books, dsub)``."""
    cents = [[float(x) for x in r[1]] for r in seed_rows[:n_lists]]
    dim = len(cents[0])
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m

    def _py_assign(v):
        # same arithmetic + lowest-id tie rule as the Spark fold
        ds = [_py_l2(v, c) for c in cents]
        return ds.index(min(ds))

    seed_res = []
    for r in seed_rows[:ksub]:
        v = [float(x) for x in r[1]]
        c = cents[_py_assign(v)]
        seed_res.append([v[t] - c[t] for t in range(dim)])
    books = [
        [
            [seed_res[j][s * dsub + t] for t in range(dsub)]
            for j in range(ksub)
        ]
        for s in range(m)
    ]
    return cents, books, dsub


def _ivfpq_encode_plan(base, cents, books):
    """Assign + residual-encode as ONE zero-exchange codegen pass over
    ``base`` (vec_id, _emb): centroid and codebook literals, L2-argmin
    assignment (lowest-list tie), per-sub-space residual argmin codes.
    Returns a (vec_id, list_id, codes) DataFrame."""
    n_lists = len(cents)
    cent_lit = lit_doubles_2d(cents)
    cdists = F.transform(
        F.sequence(F.lit(0), F.lit(n_lists - 1)),
        lambda l: _l2_sq(F.col("_emb"), F.element_at(cent_lit, (l + 1).cast("int"))),
    )
    assigned = base.select(
        "vec_id",
        "_emb",
        (F.array_position(cdists, F.array_min(cdists)) - 1)
        .cast("int")
        .alias("list_id"),
    )
    residual = F.zip_with(
        F.col("_emb"),
        F.element_at(cent_lit, F.col("list_id") + 1),
        lambda x, y: x.cast("double") - y,
    )
    return assigned.select(
        "vec_id", "list_id", residual.alias("_res")
    ).select("vec_id", "list_id", _pq_codes(F.col("_res"), books).alias("codes"))


def _ivfpq_probe_plan(
    spark,
    encoded,
    cents,
    books,
    q_rows,
    *,
    n_probe: int,
    k: int,
    round_dp: int,
):
    """Probe front shared by one-shot ``ivfpq_topk`` and the persisted
    index: each query ranks the centroids by L2 (lowest list on ties)
    and keeps ``n_probe``; each (query, probed list) gets a driver-built
    ``_pq_lut`` over the query's residual, and the probe set
    broadcast-EQUI-joins the codes on ``list_id`` (BroadcastHashJoin;
    drives partition pruning when ``encoded`` is the hive-partitioned
    on-disk table) into the shared ``_pq_adc_rank`` tail."""
    probe_rows = []  # (q_id, qp, list_id); luts[qp] is that pair's LUT
    luts = []
    for q_id, qv in q_rows:
        ranked = sorted(
            range(len(cents)), key=lambda l: (_py_l2(qv, cents[l]), l)
        )[:n_probe]
        for l in ranked:
            luts.append(_pq_lut([x - c for x, c in zip(qv, cents[l])], books))
            probe_rows.append((q_id, len(luts) - 1, l))
    probes = local_table(
        spark,
        "q_id bigint, qp int, list_id int",
        {
            "q_id": [q for q, _, _ in probe_rows],
            "qp": [p for _, p, _ in probe_rows],
            "list_id": [l for _, _, l in probe_rows],
        },
    )
    return _pq_adc_rank(
        encoded.join(F.broadcast(probes), "list_id"), luts, k=k, round_dp=round_dp
    )


def ivfpq_topk(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    m: int = 8,
    ksub: int = 16,
    n_probe: int = 4,
    n_queries: int = 8,
    k: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """IVF-PQ with residual encoding — the full Jégou et al. 2011
    composite: IVF prunes WHICH vectors a query scans (``n_probe`` of
    ``n_lists`` inverted lists), PQ shrinks WHAT each scan touches
    (m residual codes per vector), and the ADC lookup table is built per
    (query, probed list) on the query's residual against that list's
    centroid. Coherently L2 end-to-end: L2-argmin assignment, L2 list
    ranking, L2 ADC — unlike ``ivf_topk`` (cosine verify), this is the
    paper's metric, so PQ error is the ONLY approximation added on top
    of the IVF candidate cut. Measured recall@5 vs exact L2 at the
    defaults on RANDOM 64-dim data: 0.15 (sf0.001) / 0.125 (sf0.01) —
    the n_probe=4/16 candidate cut alone bounds recall near the probe
    fraction when true neighbors are uniform across lists (flat
    ``pq_adc_topk`` over the full corpus measures 0.25); on clustered
    corpora the IVF cut recovers what the coarse structure captures.

    Everything is deterministic (first-``n_lists`` centroids, residual
    codebooks from the first ``ksub`` vectors' residuals) → the whole
    pipeline replays in SQL (``knn_ivfpq`` driver oracle).

    Plan shape: one codegen pass assigns + residual-encodes (centroid
    and codebook literals, zero exchanges — ``_ivfpq_encode_plan``), the
    probe set arrives as a BROADCAST EQUI-join on ``list_id``
    (nq·n_probe rows — a BroadcastHashJoin, not a nested loop), ADC is a
    4-D-literal LUT fold, and the only other exchange is the final top-k
    window (``_ivfpq_probe_plan``). At corpus scale the
    assignment/encode pass writes once (``build_ivfpq_index``) and
    probes read ``n_probe/n_lists`` of the codes — the 32×-smaller scan
    IVF alone cannot give.

    Driver state is bounded: n_lists centroids + first-ksub rows +
    nq query vectors (``MAX_PANDAS_QUERIES`` contract); LUT literal is
    nq·n_probe·m·ksub doubles (4 KB at defaults).

    Returns ``(q_id, neighbor_id, adc_dist, rank)``."""
    if n_queries > MAX_PANDAS_QUERIES:
        raise ValueError(
            f"n_queries={n_queries} exceeds MAX_PANDAS_QUERIES="
            f"{MAX_PANDAS_QUERIES}: the per-query LUT is driver-built"
        )
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_emb")
    )
    # bounded collects: centroids, codebook seeds, queries — all prefixes
    # of the corpus, fetched in ONE pass
    seed_n = max(n_lists, ksub, n_queries)
    seed_rows = sorted(
        base.filter(F.col("vec_id") < seed_n).collect(), key=lambda r: r[0]
    )
    if len(seed_rows) < seed_n:
        raise ValueError(f"corpus has {len(seed_rows)} rows < {seed_n}")
    cents, books, _ = _ivfpq_model(seed_rows, n_lists, m, ksub)
    encoded = _ivfpq_encode_plan(base, cents, books)
    q_rows = [(int(r[0]), [float(x) for x in r[1]]) for r in seed_rows[:n_queries]]
    return _ivfpq_probe_plan(
        embeddings.sparkSession,
        encoded,
        cents,
        books,
        q_rows,
        n_probe=n_probe,
        k=k,
        round_dp=round_dp,
    )


def build_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    m: int = 8,
    ksub: int = 16,
    max_queries: int = 100,
) -> None:
    """Materialize the IVF-PQ composite index — the corpus-scale form of
    ``ivfpq_topk``: the residual CODE table (m small ints per vector,
    32× smaller than the raw floats) written PARTITIONED BY ``list_id``
    (a probe of p lists reads p/n_lists of an already-32×-smaller
    table — the two compounding cuts are the whole point of the
    composite), plus a one-row meta table carrying centroids + frozen
    residual codebooks and a pre-extracted query block. Deterministic
    first-k seeding throughout, so a probe of this index is
    value-identical to the one-shot ``ivfpq_topk`` on the same corpus
    (ints and doubles round-trip parquet exactly) — the
    ``build_pq_code_table``/``build_ivf_index`` lifecycle contract,
    composite edition."""
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_emb")
    )
    seed_n = max(n_lists, ksub)
    seed_rows = sorted(
        base.filter(F.col("vec_id") < seed_n).collect(), key=lambda r: r[0]
    )
    if len(seed_rows) < seed_n:
        raise ValueError(f"corpus has {len(seed_rows)} rows < {seed_n}")
    cents, books, dsub = _ivfpq_model(seed_rows, n_lists, m, ksub)
    encoded = _ivfpq_encode_plan(base, cents, books)
    queries = base.filter(F.col("vec_id") < max_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("_emb").cast("array<double>").alias("q_emb"),
    )
    indexstore.commit(
        path,
        indexstore.write(encoded, path, indexstore.IVFPQ_CODES),
        indexstore.write_meta(
            embeddings.sparkSession,
            path,
            "n_lists int, m int, ksub int, dsub int, cents array<array<double>>,"
            " books array<array<array<double>>>",
            n_lists=n_lists,
            m=m,
            ksub=ksub,
            dsub=dsub,
            cents=cents,
            books=books,
        ),
        indexstore.write(queries.coalesce(1), path, indexstore.QUERIES),
    )


def ivfpq_probe_indexed(
    spark,
    path: str,
    *,
    n_queries: int = 8,
    k: int = 5,
    n_probe: int = 4,
    round_dp: int = 6,
) -> DataFrame:
    """Probe-only IVF-PQ against a ``build_ivfpq_index`` layout: no
    assignment or encoding in the plan — the scan reads only the
    ``n_probe`` probed list partitions of the code table (partition
    pruning via the broadcast probe join), m ints per candidate. Same
    driver-built LUT arithmetic as the one-shot, so results are
    value-identical to ``ivfpq_topk`` on the indexed corpus (pinned in
    pytest and by the shared ``knn_ivfpq`` oracle)."""
    meta = indexstore.read_meta(path, "build_ivfpq_index")
    q_rows = sorted(
        (int(r["q_id"]), [float(x) for x in r["q_emb"]])
        for r in indexstore.read(spark, path, "queries")
        .filter(F.col("q_id") < n_queries)
        .collect()
    )
    encoded = indexstore.read(spark, path, "codes").select(
        "vec_id", F.col("list_id").cast("int").alias("list_id"), "codes"
    )
    return _ivfpq_probe_plan(
        spark,
        encoded,
        meta["cents"],
        meta["books"],
        q_rows,
        n_probe=n_probe,
        k=k,
        round_dp=round_dp,
    )


def ivfpq_index_append(
    spark,
    path: str,
    new_embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add vectors to a persisted IVF-PQ index WITHOUT
    rebuilding: assign + residual-encode the batch against the FROZEN
    model from meta (same zero-exchange codegen pass as the build —
    codes from different centroids/codebooks are not comparable) and
    append into the ``list_id``-partitioned codes layout. Probes see the
    union immediately. Both drift clocks of the composite tick here —
    centroids (IVF re-center) AND codebooks (PQ re-train); re-run
    ``build_ivfpq_index`` on a schedule, the standard tradeoff. NULL
    vectors are dropped (unassignable); idempotence comes from the
    caller's checkpoint (streaming) or run discipline (batch), the
    ``ivf_index_append``/``pq_code_table_append`` contract."""
    meta = indexstore.read_meta(path, "build_ivfpq_index")
    base = new_embeddings.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_emb")
    )
    encoded = _ivfpq_encode_plan(base, meta["cents"], meta["books"])
    indexstore.append(path, (indexstore.IVFPQ_CODES, encoded))


def pq_train_codebooks(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    round_dp: int = 6,
) -> list[list[list[float]]]:
    """Lloyd's-trained PQ codebooks — the production trainer, in the
    ``kmeans_fit_portable`` mold (fixed iterations, per-round rounding
    to ``round_dp`` so the whole trajectory replays in ANSI SQL — the
    ``knn_pq_trained`` oracle unrolls it in DuckDB).

    All m sub-space k-means problems train in ONE distributed job per
    iteration, not m: vectors posexplode into (s, sub-vector) rows once,
    assignment is a codegen argmin against the 3-D codebook literal, and
    the update is a single partial-aggregated ``groupBy(s, cluster, t)``
    mean — the exchange carries m·ksub·dsub = dim·ksub cells regardless
    of corpus size, and only those rounded means reach the driver.
    Empty clusters keep their previous entry.

    Seeds are the first-``ksub`` sub-slices (``pq_codebooks``), rounded
    engine-side with ``F.round`` (HALF_UP — matches DuckDB ``round``;
    Python ``round`` is banker's and would fork the trajectory)."""
    base = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("emb")
    )
    seed_rows = (
        base.orderBy("vec_id")
        .limit(ksub)
        .select(
            F.transform(
                "emb", lambda v: F.round(v.cast("double"), round_dp)
            ).alias("emb")
        )
        .collect()
    )
    if len(seed_rows) < ksub:
        raise ValueError(f"corpus has {len(seed_rows)} rows < ksub={ksub}")
    dim = len(seed_rows[0]["emb"])
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    books = [
        [
            [float(seed_rows[j]["emb"][s * dsub + t]) for t in range(dsub)]
            for j in range(ksub)
        ]
        for s in range(m)
    ]
    subs = base.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.transform(
                    F.slice("emb", s * dsub + 1, dsub),
                    lambda v: v.cast("double"),
                ),
            )
        ).alias("s", "sub"),
    )
    for _ in range(iters):
        blit = _pq_books_lit(books)
        dists = F.transform(
            F.sequence(F.lit(0), F.lit(ksub - 1)),
            lambda j: _l2_sq(
                F.col("sub"),
                F.element_at(
                    F.element_at(blit, (F.col("s") + 1).cast("int")),
                    (j + 1).cast("int"),
                ),
            ),
        )
        cluster = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        upd = (
            subs.withColumn("cluster", cluster)
            .select("s", "cluster", F.posexplode("sub").alias("t", "val"))
            .groupBy("s", "cluster", "t")
            .agg(F.round(F.avg("val"), round_dp).alias("val"))
            .collect()
        )
        nxt = [[list(entry) for entry in sub] for sub in books]
        for r in upd:
            nxt[r["s"]][r["cluster"]][r["t"]] = float(r["val"])
        books = nxt
    return books


def pq_reconstruction_mse(
    embeddings: DataFrame,
    books: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Mean squared quantization error ``avg(‖v − dequant(encode(v))‖²)``
    — the codebook-quality scalar (lower is better; trained books must
    beat first-k seeds, pinned in tests). Computed as one narrow agg:
    per sub-space the error IS the winning argmin distance, so MSE =
    avg over vectors of Σ_s min_j ‖v_s − books[s][j]‖² — no explicit
    dequantization pass."""
    err = F.aggregate(
        _pq_subdists(F.col("_emb"), books),
        F.lit(0.0),
        lambda acc, d: acc + F.array_min(d),
    )
    row = (
        embeddings.select(F.col(vec_col).alias("_emb"))
        .agg(F.avg(err).alias("mse"))
        .first()
    )
    return float(row["mse"])


def mmr_topk(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 8,
    pool: int = 20,
    k: int = 5,
    lam: float = 0.7,
    round_dp: int = 6,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein 1998): from each query's ``pool`` most-relevant candidates,
    greedily select ``k`` maximizing ``λ·rel(c) − (1−λ)·max_{s∈S}
    sim(c, s)`` — the retrieval-diversity rerank a training-data
    pipeline uses to avoid sampling near-identical documents.

    The greedy loop is inherently sequential in k, so it is UNROLLED as
    k pure-DataFrame stages (no Python in the plan): stage i anti-joins
    the selected set, computes each remaining candidate's max similarity
    to the selection via an equi-join on (q_id, selected id) + partial
    max-agg, and takes the per-query argmax window. Everything after the
    relevance scan is bounded — pool self-join is ``pool²`` rows per
    query, each stage exchanges ≤ n_queries·pool rows — so cost is the
    relevance scan (one broadcast-query pass over the corpus, the
    ``cosine_topk`` shape) + k·O(n_queries·pool²) rerank. At 100 TB the
    rerank is noise; the scan is whatever ANN rung feeds the pool
    (swap ``cosine_topk`` for an index probe upstream).

    rel and sim round to ``round_dp`` BEFORE the greedy compare; the
    stage score ``λ·rel − (1−λ)·maxsim`` is then identical IEEE
    arithmetic on identical decimal inputs in any engine — DuckDB
    replays the full greedy trajectory (``mmr_diversified_topk``).
    Ties break (score desc, id asc). First pick's score is its rel.

    Returns ``(q_id, neighbor_id, mmr_score, rank)``."""
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("emb"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    )
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    # zero-norm guard (the _lsh_score_pairs contract): a zero-norm vector
    # — as candidate OR query — would raise DIVIDE_BY_ZERO under ANSI
    # mode in the rel division below (and again in `sims`, whose inputs
    # are pool rows, so filtering here covers both)
    rel_all = (
        base.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .filter((F.col("nrm") > 0) & (F.col("q_nrm") > 0))
        .select(
            "q_id",
            F.col("vec_id").alias("cand"),
            "emb",
            "nrm",
            F.round(
                dot(F.col("emb"), F.col("q_emb"))
                / (F.col("nrm") * F.col("q_nrm")),
                round_dp,
            ).alias("rel"),
        )
    )
    w_pool = Window.partitionBy("q_id").orderBy(
        F.col("rel").desc(), F.col("cand")
    )
    # localCheckpoint the pool ONCE: the greedy stages below each reuse
    # it (and `sims`, and the growing `selected`), and without the cuts
    # every stage re-executes the full corpus relevance scan through its
    # lineage — the three checkpoints here/below measured 15.3 s → 3.0 s
    # at sf0.1 for byte-identical output. All three frames are bounded
    # (n_queries·pool, n_queries·pool², n_queries·k rows) by
    # construction, so materializing is executor-memory-safe at any
    # corpus size.
    pool_df = (
        rel_all.withColumn("_rn", F.row_number().over(w_pool))
        .filter(F.col("_rn") <= pool)
        .select("q_id", "cand", "emb", "nrm", "rel")
        .localCheckpoint()
    )
    a = pool_df.select(
        "q_id",
        F.col("cand").alias("a"),
        F.col("emb").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = pool_df.select(
        "q_id",
        F.col("cand").alias("b"),
        F.col("emb").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    sims = (
        a.join(b, "q_id")
        .filter(F.col("a") != F.col("b"))
        .select(
            "q_id",
            "a",
            "b",
            F.round(
                dot(F.col("a_emb"), F.col("b_emb"))
                / (F.col("a_nrm") * F.col("b_nrm")),
                round_dp,
            ).alias("sim"),
        )
        .localCheckpoint()  # bounded: n_queries·pool² rows, reused k−1×
    )
    cands = pool_df.select("q_id", "cand", "rel")
    w_pick = Window.partitionBy("q_id").orderBy(
        F.col("_score").desc(), F.col("cand")
    )
    selected = (
        cands.withColumn("_score", F.col("rel"))
        .withColumn("_rn", F.row_number().over(w_pick))
        .filter(F.col("_rn") == 1)
        .select(
            "q_id",
            F.col("cand").alias("neighbor_id"),
            F.round("_score", round_dp).alias("mmr_score"),
            F.lit(1).alias("rank"),
        )
    )
    for i in range(2, k + 1):
        maxsim = (
            sims.join(
                selected.select(
                    "q_id", F.col("neighbor_id").alias("b")
                ),
                ["q_id", "b"],
            )
            .groupBy("q_id", "a")
            .agg(F.max("sim").alias("_ms"))
        )
        pick = (
            cands.join(
                selected.select(
                    "q_id", F.col("neighbor_id").alias("cand")
                ),
                ["q_id", "cand"],
                "left_anti",
            )
            .join(maxsim.withColumnRenamed("a", "cand"), ["q_id", "cand"])
            .withColumn(
                "_score",
                F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * F.col("_ms"),
            )
            .withColumn("_rn", F.row_number().over(w_pick))
            .filter(F.col("_rn") == 1)
            .select(
                "q_id",
                F.col("cand").alias("neighbor_id"),
                F.round("_score", round_dp).alias("mmr_score"),
                F.lit(i).alias("rank"),
            )
        )
        # flatten the lineage each round: stage i's plan otherwise
        # re-executes stages 2..i−1's joins/windows (selected ≤ nq·k rows)
        selected = selected.unionByName(pick).localCheckpoint()
    return selected


def sq8_params(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) quantization ranges, rounded to
    ``round_dp`` so both engines quantize against identical decimal
    grids. ONE narrow agg: posexplode → groupBy(pos) min/max → dim rows
    to the driver (bounded by dimensionality, never corpus size)."""
    rows = (
        embeddings.select(
            F.posexplode(
                F.transform(vec_col, lambda v: v.cast("double"))
            ).alias("pos", "x")
        )
        .groupBy("pos")
        .agg(
            F.round(F.min("x"), round_dp).alias("lo"),
            F.round(F.max("x"), round_dp).alias("hi"),
        )
        .collect()
    )
    rows.sort(key=lambda r: r["pos"])
    return [float(r["lo"]) for r in rows], [float(r["hi"]) for r in rows]


def sq8_encode(
    embeddings: DataFrame,
    lo: list[float],
    hi: list[float],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar 8-bit quantization: ``code_t = round(255·(x_t − lo_t) /
    (hi_t − lo_t))`` clamped to [0, 255] — 4× smaller than float32 with
    near-lossless recall (the cheap rung of the compression frontier;
    PQ is the 32× rung). Zero-exchange codegen map; constant dims
    (hi == lo) encode as 0 and dequantize back to lo exactly."""
    lo_lit = lit_doubles(lo)
    hi_lit = lit_doubles(hi)
    codes = F.zip_with(
        F.zip_with(
            F.transform(F.col("_emb"), lambda v: v.cast("double")),
            lo_lit,
            lambda x, l: x - l,
        ),
        F.zip_with(hi_lit, lo_lit, lambda h, l: h - l),
        lambda d, r: F.when(r <= 0.0, F.lit(0)).otherwise(
            F.greatest(
                F.lit(0),
                F.least(F.lit(255), F.round(d / r * 255.0, 0).cast("int")),
            )
        ),
    )
    return embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_emb")
    ).select("vec_id", codes.alias("codes"))


def sq8_topk(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 10,
    k: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """Top-k cosine over DEQUANTIZED sq8 codes (asymmetric: raw query
    vs dequantized corpus — the FAISS SQ8 search shape). Dequant is
    ``lo_t + code_t·(hi_t − lo_t)/255`` folded into the same codegen
    pass; ranking mirrors ``cosine_topk`` (rounded score desc, id).
    Near-lossless by construction (measured recall@5 vs exact cosine in
    tests); the value is the 4× scan-size cut, not a recall trade."""
    lo, hi = sq8_params(embeddings, vec_col=vec_col, round_dp=round_dp)
    lo_lit = lit_doubles(lo)
    step_lit = lit_doubles((h - l) / 255.0 for l, h in zip(lo, hi))
    codes = sq8_encode(embeddings, lo, hi, id_col=id_col, vec_col=vec_col)
    deq = F.zip_with(
        F.zip_with(F.col("codes"), step_lit, lambda c, s: c.cast("double") * s),
        lo_lit,
        lambda x, l: x + l,
    )
    base = codes.select("vec_id", deq.alias("emb")).select(
        "vec_id", "emb", l2_norm(F.col("emb")).alias("nrm")
    )
    queries = (
        embeddings.filter(F.col(id_col) < n_queries)
        .select(
            F.col(id_col).alias("q_id"),
            F.transform(vec_col, lambda v: v.cast("double")).alias("q_emb"),
        )
        .select("q_id", "q_emb", l2_norm(F.col("q_emb")).alias("q_nrm"))
    )
    # zero-norm guard (the _lsh_score_pairs contract): cosine to the zero
    # vector is undefined, and under ANSI mode the division raises
    # DIVIDE_BY_ZERO mid-job — exclude both sides before scoring
    pairs = (
        base.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .filter((F.col("nrm") > 0) & (F.col("q_nrm") > 0))
    )
    scored = pairs.select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            dot(F.col("emb"), F.col("q_emb")) / (F.col("nrm") * F.col("q_nrm")),
            round_dp,
        ).alias("cos_sim"),
    )
    return _rank_topk(scored, k)


# ---- persisted PQ code table: build once, append forever, probe cheap ----


def build_pq_code_table(
    embeddings: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    books: list[list[list[float]]] | None = None,
) -> None:
    """Persist the PQ form of a corpus: a ``codes`` parquet (vec_id,
    codes — 32× smaller than the raw vectors) plus a one-row ``meta``
    table carrying the codebook. The codebook FREEZES at build time —
    appends encode against it (codes from different codebooks are not
    comparable), re-training means rebuild: the `build_ivf_index`
    re-center tradeoff, documented there."""
    if books is None:
        books = pq_codebooks(
            embeddings, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub
        )
    indexstore.commit(
        path,
        indexstore.write(
            pq_encode(embeddings, books, id_col=id_col, vec_col=vec_col),
            path,
            indexstore.PQ_CODES,
        ),
        indexstore.write_meta(
            embeddings.sparkSession,
            path,
            "m int, ksub int, dsub int, books array<array<array<double>>>",
            m=len(books),
            ksub=len(books[0]),
            dsub=len(books[0][0]),
            books=books,
        ),
    )


def pq_code_table_append(
    spark,
    path: str,
    batch: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a batch of vectors to a persisted PQ code table, encoding
    against the FROZEN codebook from its meta. Narrow map + append write;
    idempotence comes from the caller's checkpoint (streaming) or run
    discipline (batch), same contract as ``lsh_index_append``."""
    books = indexstore.read_meta(path, "build_pq_code_table")["books"]
    encoded = pq_encode(batch, books, id_col=id_col, vec_col=vec_col)
    indexstore.append(path, (indexstore.PQ_CODES, encoded))


def pq_adc_topk_indexed(
    spark,
    path: str,
    queries: list[tuple[int, list[float]]],
    *,
    k: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """ADC top-k over a PERSISTED code table — the amortized form: the
    scan reads codes only (32× smaller than raw vectors; no raw-vector
    IO at probe time at all). ``queries`` is an explicit bounded
    (q_id, vector) list — the LUT carrier, same driver-state contract
    as the one-shot ``pq_adc_topk``. Identical ranking semantics
    (pinned: indexed ≡ one-shot on the same corpus)."""
    if len(queries) > MAX_PANDAS_QUERIES:
        raise ValueError(
            f"{len(queries)} queries exceeds MAX_PANDAS_QUERIES="
            f"{MAX_PANDAS_QUERIES}"
        )
    books = indexstore.read_meta(path, "build_pq_code_table")["books"]
    codes = indexstore.read(spark, path, "codes")
    return _pq_adc_flat(codes, queries, books, k=k, round_dp=round_dp)


# --------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (round 12): the DIMENSION
# rung of the compression frontier, orthogonal to the PQ/SQ8 PRECISION
# rungs — project dim-d vectors onto d' seeded Gaussian directions and
# search in the reduced space. Cosine is scale-invariant, so the JL
# 1/sqrt(d') normalization is dropped. The projection matrix is a seeded
# Python literal (the LSH-hyperplane precedent), so DuckDB replays the
# projection AND the reduced-space search exactly.
# --------------------------------------------------------------------------

#: default seed for the JL projection matrix — distinct from the LSH
#: hyperplane seed so the two families never share directions
RP_SEED = 31


def rp_matrix(dim: int, out_dim: int, seed: int = RP_SEED) -> list[list[float]]:
    """Seeded Gaussian projection rows (out_dim × dim) as plain floats —
    embedded as literals on both engines."""
    return _hyperplanes(dim, out_dim, seed)


def rp_project(vec: Column, planes: list[list[float]]) -> Column:
    """array<double> of ``len(planes)`` projections — one codegen fold
    per component, zero shuffle, zero Python."""
    return F.array(
        *[dot(vec, lit_doubles(plane)) for plane in planes]
    )


def rp_cosine_topk(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_dim: int = 16,
    n_queries: int = 10,
    k: int = 5,
    seed: int = RP_SEED,
    round_dp: int = 6,
) -> DataFrame:
    """Brute-force cosine top-k in the JL-reduced space: project once
    (narrow pass), then run the exact ``cosine_topk`` machinery over
    d'-dim vectors — 4x less exchange and 4x fewer fold steps at
    out_dim=16/dim=64, with recall governed by the JL distortion bound
    (pinned empirically in tests, not assumed). At corpus scale the
    reduced vectors are the materialization candidate: 16 doubles ride
    shuffles that 64 wouldn't."""
    planes = rp_matrix(dim, out_dim, seed)
    reduced = embeddings.select(
        F.col(id_col), rp_project(F.col(vec_col), planes).alias("emb_rp")
    )
    return cosine_topk(
        reduced,
        id_col=id_col,
        vec_col="emb_rp",
        n_queries=n_queries,
        k=k,
        round_dp=round_dp,
    )


# --------------------------------------------------------------------------
# Contrastive training-pair mining (round 12): the operators that turn a
# labeled embedding corpus into contrastive training pairs — hard
# negatives (nearest vectors with a DIFFERENT label: the pairs that
# actually move a contrastive loss) and seeded uniform negatives (the
# cheap baseline every recipe mixes in). Both fully deterministic and
# ANSI-replayable.
# --------------------------------------------------------------------------

def hard_negative_topk(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_queries: int = 10,
    k: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """Top-``k`` HARD NEGATIVES per query: the most cosine-similar
    corpus vectors whose ``label_col`` differs from the query's — the
    mining step of a contrastive training loop (in-batch negatives are
    easy; the near-miss different-label neighbors carry the gradient).

    Same distributed shape as ``cosine_topk`` (norms precomputed,
    query block broadcast, rounded-score ranking) plus the one label
    filter; at corpus scale swap the scan for any ANN rung upstream —
    the filter and ranking compose unchanged."""
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("emb"),
        F.col(label_col).alias("lbl"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    )
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("lbl").alias("q_lbl"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = (
        base.crossJoin(F.broadcast(queries))
        .filter(
            (F.col("vec_id") != F.col("q_id"))
            & (F.col("lbl") != F.col("q_lbl"))
            & (F.col("nrm") > 0)
            & (F.col("q_nrm") > 0)
        )
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("lbl").alias("neg_label"),
            F.round(
                dot(F.col("emb"), F.col("q_emb"))
                / (F.col("nrm") * F.col("q_nrm")),
                round_dp,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "neg_label", "cos_sim", "rank")
    )


def seeded_negatives(
    ids: DataFrame,
    *,
    id_col: str = "vec_id",
    k: int = 4,
    pad: int = 4,
    seed: int = 97,
) -> DataFrame:
    """``k`` seeded uniform negative ids per anchor — deterministic,
    engine-portable (md5 idiom), collision-safe: ``k + pad`` candidates
    are drawn as ``md5_u32(seed:anchor:i) % N`` (N = corpus size, a
    1-row broadcast scalar), self-hits and duplicate draws are dropped
    keeping the SMALLEST draw index per (anchor, candidate), and the
    first ``k`` surviving draws are kept in draw order. Returns
    (anchor_id, neg_id, draw). Entirely narrow generate/filter/rank —
    the corpus-sized relations never shuffle on anything but the anchor.

    ``pad`` bounds the failure mode honestly: an anchor keeps fewer
    than ``k`` rows only if more than ``pad`` of its draws collided
    (self-hit or duplicate) — at k+pad=8 draws over any realistic N the
    shortfall probability is negligible, and a short anchor is visible
    in the output rather than silently refilled. The ``% N`` draw has
    the usual modulo bias (the first 2^32 mod N values are favored by
    N/2^32 ≈ 1e-5 at a 100M-row corpus) — irrelevant for negative
    sampling, stated so nobody mistakes this for a uniform RNG."""
    from pyspark.sql import Window

    n_total = ids.agg(F.count(F.lit(1)).alias("_n"))
    draws = ids.select(F.col(id_col).alias("anchor_id")).crossJoin(
        F.broadcast(n_total)
    )
    idx = F.explode(F.sequence(F.lit(0), F.lit(k + pad - 1))).alias("draw")
    cand = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit(str(seed)),
                        F.col("anchor_id").cast("string"),
                        F.col("draw").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % F.col("_n")
    ).alias("neg_id")
    exploded = draws.select("anchor_id", "_n", idx).select(
        "anchor_id", "draw", cand
    )
    dedup = (
        exploded.filter(F.col("neg_id") != F.col("anchor_id"))
        .groupBy("anchor_id", "neg_id")
        .agg(F.min("draw").alias("draw"))
    )
    w = Window.partitionBy("anchor_id").orderBy("draw")
    return (
        dedup.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("anchor_id", "neg_id", F.col("draw").cast("int").alias("draw"))
    )
