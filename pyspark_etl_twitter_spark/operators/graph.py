"""Graph analytics over relational co-occurrence edges — engine-added
family (the reference, SURVEY.md §2, has no graph surface; connected
components for dedup clustering live in operators/dedup.py and this module
adds the degree/triangle layer on explicitly derived edges).

Edges are DERIVED, not stored: two suppliers are connected when they ship
lineitems in the same order. The pair generation is a per-order self-join
— safe at 100 TB because the fan-out per join key is bounded by the
per-order supplier count (≤7 lineitems/order in TPC-H-shaped data), so no
key explodes regardless of total volume. Skewed *nodes* (a supplier in
millions of orders) surface only after the dedup to distinct edges, where
each edge appears once.

Triangle counting uses the degree-ordered orientation (Schank & Wagner's
forward algorithm, the standard distributed formulation — also how
Spark/GraphFrames and the MapReduce literature do it): orient every edge
from the lower-(degree, id) endpoint to the higher one, join oriented
adjacency on the source to enumerate wedges, then semi-join wedges against
oriented edges. Orientation caps every node's out-degree at O(sqrt(m)),
so the wedge join's fan-out — the step that explodes on skewed graphs —
is bounded even for celebrity nodes.

All steps are DataFrame ops (joins + aggregates); everything shuffles on
edge endpoints, nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def supplier_edges(lineitem: DataFrame) -> DataFrame:
    """Distinct undirected edges (u < v) between suppliers sharing an
    order. Distinct (order, supplier) first so the per-order self-join
    fans out over supplier count, not lineitem count."""
    os = lineitem.select("l_orderkey", "l_suppkey").distinct()
    a = os.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("u"))
    b = os.select(F.col("l_orderkey").alias("k"), F.col("l_suppkey").alias("v"))
    return (
        a.join(b, "k")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Degree per node from undirected (u < v) edges: count both
    endpoint roles in one union-aggregate (a single shuffle on node)."""
    ends = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    )
    return ends.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Distribution of degrees: n_nodes per degree value."""
    return (
        degrees(edges)
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


def oriented_edges(edges: DataFrame) -> DataFrame:
    """Orient each undirected edge from the endpoint with the smaller
    (degree, id) to the larger — the total order that caps out-degree at
    O(sqrt(m)) and makes the wedge join skew-proof."""
    deg = degrees(edges)
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("deg_v"))
    with_deg = edges.join(du, "u").join(dv, "v")
    u_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    return with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count (1-row DataFrame, column ``n_triangles``).

    Wedges: ordered pairs (src→b, src→c), b ≠ c. Each triangle yields
    exactly two wedges at its lowest-order corner, but only the one whose
    (b, c) agrees with the closing edge's orientation survives the
    semi-join against oriented edges — so each triangle counts exactly
    once. Two shuffles (wedge join on src, closing
    semi-join on (b, c)); no step's fan-out exceeds the oriented
    out-degree bound."""
    oe = oriented_edges(edges)
    e1 = oe.select(F.col("src").alias("s"), F.col("dst").alias("b"))
    e2 = oe.select(F.col("src").alias("s"), F.col("dst").alias("c"))
    wedges = e1.join(e2, "s").filter(F.col("b") != F.col("c"))
    closing = oe.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    closed = wedges.join(closing, ["b", "c"], "left_semi")
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def triangles_per_node(edges: DataFrame) -> DataFrame:
    """Triangle participation count per node (local clustering numerator).
    Same wedge enumeration; each closed wedge credits all three corners
    via one explode — still bounded fan-out (3× triangles)."""
    oe = oriented_edges(edges)
    e1 = oe.select(F.col("src").alias("s"), F.col("dst").alias("b"))
    e2 = oe.select(F.col("src").alias("s"), F.col("dst").alias("c"))
    wedges = e1.join(e2, "s").filter(F.col("b") != F.col("c"))
    closing = oe.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    closed = wedges.join(closing, ["b", "c"], "left_semi")
    corners = closed.select(
        F.explode(F.array("s", "b", "c")).alias("node")
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def pagerank_portable(
    edges: DataFrame,
    *,
    iters: int = 3,
    damping: float = 0.85,
    round_dp: int = 9,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Fixed-iteration PageRank over undirected (u < v) edges, each
    treated as two directed edges — the `kmeans_fit_portable`
    discipline applied to power iteration: no convergence test, ranks
    ROUNDED to ``round_dp`` after every update, so the whole trajectory
    replays in ANSI SQL (`pagerank_suppliers` oracle).

    Per iteration: one equi-join of the rank relation against the
    directed edge list + one partial-agg groupBy(dst) — the exchange
    carries one row per edge then one per node; no driver state at all
    (ranks stay a DataFrame; N enters as a count). Bidirected edges
    mean every node has in-degree ≥ 1, so no dangling-mass term is
    needed and each iteration's contribution relation covers every
    node. At 100 TB this is the textbook join-agg PageRank whose cost
    is iters × (edges join + node agg), AQE-coalescible.

    Lineage discipline for parameterized ``iters`` (the engine's
    checkpoint-at-bounded-frontiers rule, DESIGN.md — same treatment as
    ``mmr_topk``/``duplicate_clusters``): the rank relation is
    ``localCheckpoint``-ed every ``checkpoint_every`` iterations, so the
    optimizer never sees a plan tree deeper than j rounds and no stage
    re-executes earlier rounds' joins through lineage. The checkpointed
    frame is N rows (nodes) — bounded by contract, never corpus-sized;
    the out-degree relation (also N rows, reused every round) persists
    once via the bounded cache registry. Edges stay pure lineage: the
    per-round edge scan is the iteration's working set and must not be
    pinned in executor memory at 100 TB. Ranks are rounded to the
    ``round_dp`` grid every round, so checkpoint placement cannot change
    a single output bit (`pagerank_suppliers` hash is pinned unchanged).

    Returns (node, pagerank) with ranks on the ``round_dp`` grid;
    Σ pagerank ≈ 1 (pinned in pytest)."""
    from pyspark_etl_twitter_spark.operators.cachereg import keep_cached

    de = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    od = keep_cached(de.groupBy("src").agg(F.count(F.lit(1)).alias("od")))
    n = float(od.count())
    teleport = 1.0 - damping
    pr = od.select(
        F.col("src").alias("node"),
        F.round(F.lit(1.0) / F.lit(n), round_dp).alias("pr"),
    )
    for i in range(iters):
        contrib = (
            de.join(pr, de["src"] == pr["node"])
            .join(od, "src")
            .select(F.col("dst"), (F.col("pr") / F.col("od")).alias("_c"))
            .groupBy("dst")
            .agg(F.sum("_c").alias("_sum"))
        )
        pr = contrib.select(
            F.col("dst").alias("node"),
            F.round(
                F.lit(teleport) / F.lit(n) + F.lit(damping) * F.col("_sum"),
                round_dp,
            ).alias("pr"),
        )
        if (i + 1) % checkpoint_every == 0 and (i + 1) < iters:
            pr = pr.localCheckpoint()
    return pr.select("node", F.col("pr").alias("pagerank"))


def kcore_nodes(
    edges: DataFrame,
    k: int,
    *,
    rounds: int = 6,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Fixed-round k-core peel over undirected (u < v) edges: each round
    drops every node whose CURRENT degree is below ``k`` and every edge
    touching a dropped node. The k-core is the classic dense-subgraph
    extractor (spam/link-farm detection, community seeds); the peel is
    confluent, so a FIXED round count is deterministic and
    oracle-replayable — at the fixpoint further rounds are no-ops, and
    the fixpoint is reached once a round removes nothing (pin
    convergence by choosing ``rounds`` past the measured fixpoint, the
    ``pagerank_portable`` fixed-iteration discipline).

    Returns the surviving (node, degree) relation — degrees counted in
    the final surviving edge set.

    Scale: per round one union-aggregate on node (degree) and two
    node-keyed semi joins; no driver state at all. The iterated relation
    is the EDGE set, which shrinks monotonically — it is
    localCheckpointed every ``checkpoint_every`` rounds because each
    round's plan references its predecessor twice (degree + filter), so
    an uncut lineage tree doubles per round (the MMR/PageRank lineage
    rule applied to the one bounded-above-by-input relation in the
    loop)."""
    # checkpoint the INPUT edge relation too (r15): every round
    # references its edge set three times (degree + two semi joins), so
    # an expensive upstream subtree (kcore_suppliers feeds a lineitem
    # co-occurrence self-join) re-executed multiplicatively inside each
    # checkpoint window — 3 references per round compound to ~3^w
    # expansions of the input across a w-round window where exchange
    # reuse fails to unify them. A lazy localCheckpoint makes each
    # round's downstream read an RDD scan of once-computed blocks
    # instead; values are unchanged. Same reasoning moved the default
    # cadence to every round: measured sf0.1 peel medians at rounds=6
    # were 2.0 s (every=1), 2.0 (2), 4.0 (3), and the uncut window
    # (every=6) blew past a 10-minute kill — per-round checkpoints cost
    # one tiny edge-sized job each and cap every window at one round.
    # Caveat: localCheckpoint blocks live only in executor storage — an
    # executor lost after the cut takes them with it and the job fails
    # (no lineage to recompute from). Safe in local mode; on a cluster
    # these cuts need recompute-on-failure (a reliable checkpoint).
    e = edges.localCheckpoint(eager=False)
    for r in range(rounds):
        deg = degrees(e)
        keep = deg.filter(F.col("degree") >= k).select("node")
        e = e.join(
            keep.select(F.col("node").alias("u")), "u", "leftsemi"
        ).join(keep.select(F.col("node").alias("v")), "v", "leftsemi")
        if checkpoint_every and (r + 1) % checkpoint_every == 0 and r + 1 < rounds:
            e = e.localCheckpoint(eager=False)
    return degrees(e)
