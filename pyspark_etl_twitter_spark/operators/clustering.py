"""Distributed k-means (Lloyd's) over an embedding column.

The scale shape: each iteration does ONE distributed pass — assign every
vector to its nearest centroid (broadcast cross join against the k-row
centroid dim, argmin per vector) and average the member vectors per
cluster (posexplode to (cluster, dim_pos, value), one partial-aggregated
groupBy). The k×dim centroid table (a few KB) comes back to the driver
and is re-broadcast as literals for the next round — the corpus is never
collected and never shuffles on anything wider than (cluster, pos).

Used standalone (`semantic clustering / SemDeDup partitioning`) and as a
trainer for the IVF index (`operators/similarity.ivf_assignments` uses
first-k seeding; passing centroids trained here tightens its lists).
Deterministic: seeding is id-ordered, iteration count and tolerance are
explicit, ties break on lowest cluster id.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_etl_twitter_spark.functions.lits import lit_doubles_2d, local_table


def _assign(emb: DataFrame, centroids: list[list[float]], id_col: str, vec_col: str) -> DataFrame:
    """(id, cluster, dist2): nearest centroid per vector, ties → lowest id.

    Distances as ONE higher-order fold over a 2-D centroid literal
    (transform → aggregate(zip_with)) instead of k unrolled per-centroid
    expressions + least() + a k-arm when-chain: same values, same
    lowest-index tie-break (array_position returns the FIRST match), but
    a k·dim-times smaller expression tree — measured 2.25 s → 0.45 s cold
    / 0.97 s → 0.27 s warm for the 8×64 assignment pass at sf0.1, codegen
    compile being the cost (the r6 AQE/codegen-traps note: HOF folds beat
    giant unrolled expressions ~3×). Pure codegen, no explode, no
    shuffle."""
    cent_lit = lit_doubles_2d(centroids)  # one py4j call (functions/lits)
    dists = F.transform(
        cent_lit,
        lambda c: F.aggregate(
            F.zip_with(
                F.col(vec_col),
                c,
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    scored = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), dists.alias("_d")
    )
    return scored.select(
        F.col("_id").alias(id_col),
        F.col("_v").alias(vec_col),
        (F.array_position(F.col("_d"), F.array_min(F.col("_d"))) - 1)
        .cast("int")
        .alias("cluster"),
        F.array_min(F.col("_d")).alias("dist2"),
    )


def kmeans_fit(
    emb: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iters: int = 10,
    tol: float = 1e-6,
    coarse_probe: int | None = None,
) -> tuple[list[list[float]], list[float]]:
    """Lloyd's iterations; returns (centroids, per-iteration inertia).

    Inertia (Σ dist²) is monotonically non-increasing — asserted by the
    property tests. Empty clusters keep their previous centroid. Stops
    when max centroid shift < ``tol`` or after ``max_iters``.

    ``coarse_probe`` opts each iteration's assignment pass into the
    two-level coarse quantizer (``kmeans_assign_two_level``) — the
    TRAINING-time face of the O(N·√k·dim) rung: at corpus-scale k every
    Lloyd's iteration pays the dense O(N·k·dim) sweep, which is exactly
    the cost the ×50 scale runs showed dominating. Approximate-assignment
    Lloyd's still converges in practice (each step still reduces the
    objective it sees), but the strict inertia-monotonicity guarantee is
    waived — boundary vectors may land one cell over, so use it for
    index/SemDeDup training at large k, not when exact Voronoi cells are
    the contract (the oracle-parity fits keep the default None)."""
    seeds = (
        emb.orderBy(id_col).limit(k).select(vec_col).collect()
    )
    centroids = [[float(x) for x in r[0]] for r in seeds]
    history: list[float] = []

    def assign_pass(cents):
        if coarse_probe is not None:
            return kmeans_assign_two_level(
                emb, cents, id_col=id_col, vec_col=vec_col, n_probe=coarse_probe
            ).join(emb.select(id_col, vec_col), id_col)
        return _assign(emb, cents, id_col, vec_col)

    for _ in range(max_iters):
        assigned = assign_pass(centroids)
        per_dim = (
            assigned.select(
                "cluster", "dist2", F.posexplode(vec_col).alias("pos", "val")
            )
            .groupBy("cluster", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("mean"))
        )
        rows = per_dim.collect()
        inertia = assigned.agg(F.sum("dist2")).first()[0] or 0.0
        history.append(float(inertia))
        new_centroids = [list(c) for c in centroids]
        by_cluster: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["mean"]
        shift = 0.0
        for ci, dims in by_cluster.items():
            vec = [dims[p] for p in sorted(dims)]
            shift = max(
                shift,
                math.sqrt(sum((a - b) ** 2 for a, b in zip(vec, centroids[ci]))),
            )
            new_centroids[ci] = vec
        centroids = new_centroids
        if shift < tol:
            break
    return centroids, history


def kmeans_assign(
    emb: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, dist2) for trained centroids — one codegen pass."""
    return _assign(emb, centroids, id_col, vec_col).drop(vec_col)


def kmeans_fit_portable(
    emb: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
    round_dp: int = 6,
) -> list[list[float]]:
    """Fixed-iteration Lloyd's with centroids ROUNDED to ``round_dp`` after
    every update — the ANSI-SQL-verifiable twin of ``kmeans_fit`` (r6
    verdict ask #5).

    Two deliberate differences from ``kmeans_fit`` make the math
    reproducible in DuckDB:

    - no tolerance early-stop (an oracle can't see Spark's shift test), and
    - per-dim means snap to ``round_dp`` decimals each round, so both
      engines iterate from EXACTLY the same centroid doubles — float noise
      from differing summation order (~1e-13) can't accumulate across
      iterations or flip an argmin whose true gap exceeds the noise floor.

    Same structure otherwise: assignment is the broadcast-literal argmin
    codegen pass of ``_assign``; the update is one partial-aggregated
    groupBy(cluster, pos); only k×dim rounded means hit the driver. Empty
    clusters keep their previous centroid (coalesce on the oracle side)."""
    # Seed rounding happens ENGINE-side with F.round (HALF_UP), matching
    # both the iteration updates below and DuckDB's half-away-from-zero
    # round() — Python round() is banker's half-to-even, which diverges on
    # exact halves at round_dp and would corrupt the whole trajectory
    # (r7 advice).
    seeds = (
        emb.orderBy(id_col)
        .limit(k)
        .select(
            F.transform(
                vec_col, lambda v: F.round(v.cast("double"), round_dp)
            ).alias(vec_col)
        )
        .collect()
    )
    centroids = [[float(x) for x in r[0]] for r in seeds]
    for _ in range(iters):
        assigned = _assign(emb, centroids, id_col, vec_col)
        per_dim = (
            assigned.select("cluster", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg(F.col("val").cast("double")), round_dp).alias("mean"))
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in per_dim.collect():
            by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["mean"]
        new_centroids = [list(c) for c in centroids]
        for ci, dims in by_cluster.items():
            new_centroids[ci] = [dims[p] for p in sorted(dims)]
        centroids = new_centroids
    return centroids


def _group_centroids(
    centroids: list[list[float]], n_coarse: int, iters: int = 5
) -> tuple[list[list[float]], list[int]]:
    """Driver-side grouping of the k centroids into ``n_coarse``
    super-centroids (the coarse quantizer): a tiny Lloyd's run over the
    k×dim centroid table itself. Deterministic — seeds are the first
    ``n_coarse`` centroids, argmin ties break to the lowest group index
    (np.argmin first-occurrence), empty groups keep their previous
    super-centroid. Distances use the gram form (|c|² − 2c·s + |s|²) so
    memory is k×n_coarse, never k×n_coarse×dim — at the paper's
    k ~ tens of thousands that is a few MB on the driver.

    Returns (super_centroids, group_of_centroid)."""
    import numpy as np

    c = np.asarray(centroids, dtype=np.float64)
    k = len(centroids)
    n_coarse = min(n_coarse, k)
    sup = c[:n_coarse].copy()
    c_sq = (c * c).sum(axis=1)
    for _ in range(iters):
        d2 = c_sq[:, None] - 2.0 * (c @ sup.T) + (sup * sup).sum(axis=1)[None, :]
        g = d2.argmin(axis=1)
        new = sup.copy()
        for j in range(n_coarse):
            members = c[g == j]
            if len(members):
                new[j] = members.mean(axis=0)
        moved = not np.allclose(new, sup)
        sup = new
        if not moved:
            break
    d2 = c_sq[:, None] - 2.0 * (c @ sup.T) + (sup * sup).sum(axis=1)[None, :]
    g = d2.argmin(axis=1)
    return sup.tolist(), [int(x) for x in g]


def kmeans_assign_two_level(
    emb: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_coarse: int | None = None,
    n_probe: int = 1,
    group_iters: int = 5,
) -> DataFrame:
    """(id, cluster, dist2) via a COARSE QUANTIZER — the O(N·√k·dim)
    assignment rung for k∝N regimes (the r10 ×50 SemDeDup scale run
    showed dense assignment is O(N²·dim) under the paper's k∝N rule and
    dominates the wall at scale; DESIGN.md §22).

    Two stages:

    1. **Coarse** (pure codegen, zero exchanges): the k centroids are
       grouped driver-side into ``n_coarse`` (default ⌈√k⌉)
       super-centroids (``_group_centroids`` — a tiny deterministic
       Lloyd's over the k×dim table). Each vector computes √k distances
       as one HOF fold over the super-centroid literal and keeps its
       ``n_probe`` nearest GROUPS — ``array_sort`` over (d2, group)
       structs, so ties break to the lowest group id.
    2. **Refine** (broadcast equi-join, N-row shuffle): the full
       centroid table broadcasts as (group, cluster, vec) DATA; each
       vector equi-joins its probed groups — fanning out to
       ~``n_probe``·k/√k candidate pairs instead of k — and argmin is
       the same ``min(struct(d2, cluster))`` partial-agg as
       ``kmeans_assign_join``, so the exchange carries N rows.

    Identical distance fold, casts, and tie-break as the single-level
    paths. With ``n_probe >= n_coarse`` every (vector, centroid) pair is
    scored exactly once → BIT-IDENTICAL to ``kmeans_assign_join``
    (pinned by test). With the default ``n_probe=1`` it is approximate:
    a vector whose true nearest centroid lives in a non-probed group is
    mis-assigned (the classic IVF coarse-quantizer recall tradeoff —
    measured at bench k in ``test_two_level_recall_at_bench_k``;
    ``n_probe`` is the knob)."""
    if not centroids:
        raise ValueError("centroids must be non-empty")
    k = len(centroids)
    if n_coarse is None:
        n_coarse = max(1, math.isqrt(k - 1) + 1)  # ceil(sqrt(k))
    n_coarse = min(n_coarse, k)
    n_probe = max(1, min(n_probe, n_coarse))
    sup, groups = _group_centroids(centroids, n_coarse, group_iters)

    sup_lit = lit_doubles_2d(sup)
    d_arr = F.transform(
        sup_lit,
        lambda c: F.aggregate(
            F.zip_with(
                F.col(vec_col),
                c,
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    scored = emb.select(
        F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col), d_arr.alias("_gd")
    )
    ranked = F.transform(
        F.sequence(F.lit(0), F.lit(len(sup) - 1)),
        lambda i: F.struct(
            F.element_at(F.col("_gd"), i + 1).alias("d"), i.cast("int").alias("g")
        ),
    )
    probed = scored.select(
        id_col,
        vec_col,
        F.explode(
            F.transform(
                F.slice(F.array_sort(ranked), 1, n_probe), lambda s: s["g"]
            )
        ).alias("_grp"),
    )

    spark = emb.sparkSession
    child = local_table(
        spark,
        "_grp int, cluster int, _c array<double>",
        {"_grp": groups, "cluster": range(k), "_c": centroids},
    )
    pairs = probed.join(F.broadcast(child), "_grp")
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("_c"),
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        pairs.select(
            F.col(id_col),
            F.struct(d2.alias("d2"), F.col("cluster")).alias("_s"),
        )
        .groupBy(id_col)
        .agg(F.min("_s").alias("_b"))
        .select(
            id_col,
            F.col("_b.cluster").alias("cluster"),
            F.col("_b.d2").alias("dist2"),
        )
    )


def kmeans_assign_join(
    emb: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, dist2) via a broadcast centroid RELATION — the
    large-k twin of ``kmeans_assign``.

    The literal fold of ``_assign`` embeds k·dim doubles in the
    expression tree: unbeatable at k≲100 (zero exchanges, whole plan in
    codegen) but the PLAN grows with k — analysis and codegen cost scale
    with the literal count, and at SemDeDup-scale k (tens of thousands,
    per the paper) the expression tree itself becomes the bottleneck
    long before the k×dim floats would trouble an 8 GB broadcast. Here
    the centroids broadcast as DATA: one BroadcastNestedLoopJoin fans
    each vector out to k (row, centroid) pairs, one HOF fold computes
    the distance, and argmin is ``min(struct(d2, cluster))`` — PARTIAL
    aggregation collapses each map task's pair stream to one candidate
    per vector before the exchange, so the shuffle carries N rows, not
    N×k (the reason this beats the row_number window the IVF append
    path uses: a window must shuffle all N×k pairs to sort them).

    Same distance arithmetic (identical fold, element order, casts) and
    same tie-break (min struct orders by d2 then cluster = first-match
    argmin of the literal path) → bit-identical assignments; pinned by
    ``test_kmeans_assign_join_matches_literal``."""
    spark = emb.sparkSession
    cent_df = local_table(
        spark,
        "cluster int, _c array<double>",
        {"cluster": range(len(centroids)), "_c": centroids},
    )
    pairs = emb.select(id_col, vec_col).crossJoin(F.broadcast(cent_df))
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("_c"),
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        pairs.select(
            F.col(id_col),
            F.struct(d2.alias("d2"), F.col("cluster")).alias("_s"),
        )
        .groupBy(id_col)
        .agg(F.min("_s").alias("_b"))
        .select(
            id_col,
            F.col("_b.cluster").alias("cluster"),
            F.col("_b.d2").alias("dist2"),
        )
    )
