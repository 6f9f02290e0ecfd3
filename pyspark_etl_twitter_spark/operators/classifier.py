"""Distributed quality-classifier TRAINING — fastText-style linear model
over hashing-trick features, trained in-engine with portable full-batch
gradient descent.

The reference pipeline ships a pre-trained sentiment LR and only does
inference (`operators/sentiment.py`, cf. reference model_training.py);
this module closes the training side for the LLM-data use case: fit
"does this document look like the target domain?" (the CCNet/fastText
quality-classifier framing — target = curated source, rest = raw crawl)
without any ML library, on the same md5 feature hashing whose arithmetic
is already oracle-verified (`encoding.hashed_term_features`).

Portability discipline = `kmeans_fit_portable`: fixed iteration count,
weights ROUNDED to 6dp after every update — and the rounding happens
ENGINE-side (F.round, HALF_UP) exactly like the k-means trajectory, so
DuckDB replays the full GD trajectory CTE by CTE (`quality_lr_weights`
oracle). Per iteration: one margin exchange (groupBy doc), one gradient
exchange (groupBy bucket) — the driver only ever holds the (dim+1)-float
weight vector. Sigmoid exp() may differ by ulps across engines; the
per-round rounding grid (0.5e-6) absorbs summation noise orders of
magnitude larger than that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_etl_twitter_spark.functions.lits import lit_doubles, local_table

from pyspark_etl_twitter_spark.operators.encoding import hashed_term_features


def _lr_features(
    docs: DataFrame,
    *,
    dim: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Signed hashed term features + an always-on intercept feature at
    bucket ``dim`` (guarantees every doc has ≥1 row → a margin)."""
    sparse = hashed_term_features(
        docs, dim=dim, id_col=id_col, text_col=text_col
    ).select(F.col(id_col).alias("doc_id"), "bucket", "val")
    intercept = docs.select(
        F.col(id_col).alias("doc_id"),
        F.lit(dim).cast("long").alias("bucket"),
        F.lit(1.0).alias("val"),
    )
    return sparse.unionByName(intercept)


def lr_train_portable(
    docs: DataFrame,
    *,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "_y",
    iters: int = 3,
    lr: float = 0.5,
    round_dp: int = 6,
) -> list[float]:
    """Full-batch logistic GD: ``w ← round(w − η·avg((σ(w·x) − y)·x))``
    for ``iters`` rounds from w = 0. ``docs`` must carry a 0/1 double
    ``label_col``. Returns the (dim+1)-float weight vector (last entry
    = intercept).

    Scale shape: features are the hashed sparse rows (≤ dim+1 per doc);
    the margin pass folds the weight literal bucket-wise and partial-agg
    sums per doc; the gradient pass partial-agg sums per bucket — both
    exchanges carry one row per (doc) / (bucket), never the corpus ×
    dim. N (the gradient divisor) is a count, not a collect."""
    # NOTE (r15, measured and deliberately NOT cached): every iteration
    # uses feats twice (margin + gradient pass), so persisting the hashed
    # feature rows looks like an obvious 6×→1× cut — but interleaved A/B
    # at sf0.1 showed persist(MEMORY_AND_DISK) made the fused
    # train+score row ~27% SLOWER in matched legs: materializing the
    # exploded (doc, bucket, val) rows into block storage costs more
    # than re-running the tokenize→md5 pipeline fused into each
    # aggregate by whole-stage codegen (the recompute never materializes
    # the explode). Guide §1.1's empirical loop beats the first-
    # principles cut here.
    feats = _lr_features(docs, dim=dim, id_col=id_col, text_col=text_col)
    labels = docs.select(
        F.col(id_col).alias("doc_id"), F.col(label_col).cast("double").alias("y")
    )
    n = float(docs.count())
    spark = docs.sparkSession
    w = [0.0] * (dim + 1)
    for _ in range(iters):
        w_lit = lit_doubles(w)  # one py4j call (functions/lits)
        marg = feats.groupBy("doc_id").agg(
            F.sum(
                F.col("val")
                * F.element_at(w_lit, (F.col("bucket") + 1).cast("int"))
            ).alias("marg")
        )
        err = labels.join(marg, "doc_id", "left").select(
            "doc_id",
            (
                1.0 / (1.0 + F.exp(-F.coalesce(F.col("marg"), F.lit(0.0))))
                - F.col("y")
            ).alias("e"),
        )
        grad = feats.join(err, "doc_id").groupBy("bucket").agg(
            (F.sum(F.col("e") * F.col("val")) / F.lit(n)).alias("g")
        )
        w_df = local_table(
            spark, "bucket bigint, w double", {"bucket": range(dim + 1), "w": w}
        )
        upd = (
            w_df.join(grad, "bucket", "left")
            .select(
                "bucket",
                F.round(
                    F.col("w") - F.lit(lr) * F.coalesce(F.col("g"), F.lit(0.0)),
                    round_dp,
                ).alias("w"),
            )
            .collect()
        )
        nxt = list(w)
        for r in upd:
            nxt[int(r["bucket"])] = float(r["w"])
        w = nxt
    return w


def lr_score(
    docs: DataFrame,
    weights: list[float],
    *,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """σ(w·x) per document against a trained weight vector — the
    inference pass (one margin exchange). Returns (doc_id, score)."""
    if len(weights) != dim + 1:
        raise ValueError(f"weights has {len(weights)} entries, want {dim + 1}")
    feats = _lr_features(docs, dim=dim, id_col=id_col, text_col=text_col)
    w_lit = lit_doubles(weights)
    marg = feats.groupBy("doc_id").agg(
        F.sum(
            F.col("val") * F.element_at(w_lit, (F.col("bucket") + 1).cast("int"))
        ).alias("marg")
    )
    return marg.select(
        "doc_id", (1.0 / (1.0 + F.exp(-F.col("marg")))).alias("score")
    )
