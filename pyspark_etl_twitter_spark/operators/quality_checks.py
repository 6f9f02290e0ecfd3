"""Data-quality operators for pipeline gating.

``data_quality_report``: a one-aggregate-pass expectation report — row
count, null counts, range violations, key duplication — the pre-flight
check a training-data job runs before consuming a table. Everything is a
conditional aggregate, so cost is one scan regardless of how many
expectations are attached.

``observed_pipeline``: Spark's ``DataFrame.observe`` API — metrics
accumulated *during* another query's execution (zero extra passes). At
100 TB an extra validation scan is real money; observe() rides along with
whatever action runs anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from pyspark_etl_twitter_spark.functions.lits import local_table


def data_quality_report(
    df: DataFrame,
    *,
    not_null: list[str] | None = None,
    unique: list[str] | None = None,
    ranges: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """One-row report: n_rows plus per-expectation violation counts.
    Column naming: ``null_<col>``, ``dup_<col>``, ``oob_<col>``."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("n_rows")]
    for c in not_null or []:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"null_{c}"))
    for c in unique or []:
        aggs.append(
            (F.count(F.lit(1)) - F.countDistinct(c)).alias(f"dup_{c}")
        )
    for c, (lo, hi) in (ranges or {}).items():
        aggs.append(
            F.count(F.when((F.col(c) < lo) | (F.col(c) > hi), 1)).alias(f"oob_{c}")
        )
    return df.agg(*aggs)


def observed_pipeline(df: DataFrame, name: str = "metrics") -> tuple[DataFrame, Observation]:
    """Attach in-flight metrics to a plan: returns (df, observation).
    After any action on the returned df, ``observation.get`` holds the
    metrics — no second pass over the data."""
    obs = Observation(name)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col(df.columns[0]).isNull(), 1).otherwise(0)).alias(
            f"null_{df.columns[0]}"
        ),
    )
    return observed, obs


def robust_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    *,
    k: float = 3.0,
) -> DataFrame:
    """Median/MAD outlier flagging per group: adds ``_med``, ``_mad`` and
    ``is_outlier`` (|x − median| > k·MAD) columns.

    Exact medians need two aggregate passes over the fact (median, then
    median of absolute deviations), but both aggregates reduce to one tiny
    row per group, re-attached via broadcast joins — the fact table itself
    never shuffles. At 100 TB swap ``F.median`` for
    ``F.percentile_approx(value, 0.5)`` to fold both passes into one scan
    each with bounded-memory sketches; exact is kept here because the
    oracle (DuckDB ``median``) is exact."""
    med = df.groupBy(*group_cols).agg(F.median(value_col).alias("_med"))
    dev = df.join(F.broadcast(med), group_cols).withColumn(
        "_adev", F.abs(F.col(value_col) - F.col("_med"))
    )
    mad = dev.groupBy(*group_cols).agg(F.median("_adev").alias("_mad"))
    return dev.join(F.broadcast(mad), group_cols).withColumn(
        "is_outlier", F.col("_adev") > k * F.col("_mad")
    )


# --------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift test (round 12)
# --------------------------------------------------------------------------

#: asymptotic KS critical coefficient at alpha = 0.05:
#: D_crit = 1.358 · sqrt((n_a + n_b) / (n_a · n_b))
KS_C_ALPHA_05 = 1.358


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    b_flag_col: str,
    *,
    group_cols: list[str] | None = None,
    round_dp: int = 0,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the rows
    where ``b_flag_col`` is false (sample A) and true (sample B) — the
    distribution-drift check a corpus pipeline runs between snapshots,
    sources, or time slices (did the price/length/score distribution
    move, not just its mean?).

    D = max over values v of |ECDF_A(v) - ECDF_B(v)|, computed as exact
    integer cross-multiplication: with cumulative counts (ca, cb) and
    totals (na, nb), the numerator |ca·nb - cb·na| is an integer, so the
    argmax (and every tie-break) is exact — no float comparisons until
    the final rounded report. ``ks_at`` is the smallest value attaining
    D. ``drifted`` compares D against the asymptotic 5% critical value
    1.358·sqrt((na+nb)/(na·nb)).

    Scale: values are first quantized (``round_dp``) and aggregated —
    the corpus collapses to the |distinct quantized values| relation in
    ONE shuffle, and the cumulative window runs over THAT bounded
    frontier (partitioned by ``group_cols`` when given; the unpartitioned
    case is a deliberate single-partition window over the already-bounded
    value-domain relation, the engine's bounded-frontier rule). At 100 TB
    the quantization IS the knob: dollars not micro-cents.
    """
    from pyspark.sql import Window

    gcols = list(group_cols or [])
    v = F.round(F.col(value_col), round_dp).alias("v")
    b = F.col(b_flag_col).cast("boolean")
    # NULL values are dropped, not binned: Spark orders NULLS FIRST in an
    # ascending window, DuckDB NULLS LAST — a null bin would silently
    # desynchronize the two ECDFs (and a null carries no distribution
    # evidence anyway)
    per_value = (
        df.filter(F.col(value_col).isNotNull())
        .select(*gcols, v, b.alias("_b"))
        .groupBy(*gcols, "v")
        .agg(
            F.sum(F.when(~F.col("_b"), 1).otherwise(0)).alias("_ca"),
            F.sum(F.when(F.col("_b"), 1).otherwise(0)).alias("_cb"),
        )
    )
    return ks_from_counts(per_value, group_cols=gcols)


def ks_from_counts(
    per_value: DataFrame,
    *,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """KS statistic from a pre-aggregated (group..., v, _ca, _cb)
    per-value count relation — the shared core of ``ks_two_sample``
    (row-level entry) and the streaming histogram monitor
    (``streaming/incremental.streaming_ks_monitor``), which maintains
    the counts incrementally and must not re-explode its history."""
    from pyspark.sql import Window

    gcols = list(group_cols or [])
    w = (
        Window.partitionBy(*gcols).orderBy("v")
        if gcols
        else Window.orderBy("v")
    )
    wg = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    cum = per_value.select(
        *gcols,
        "v",
        F.sum("_ca").over(w).alias("cuma"),
        F.sum("_cb").over(w).alias("cumb"),
        F.sum("_ca").over(wg).alias("na"),
        F.sum("_cb").over(wg).alias("nb"),
    )
    # Cross-products in decimal, not long (r12 advice): cuma·nb and the
    # na·nb divisor pass 2^63 once BOTH samples exceed ~3e9 rows — real
    # at the engine's design scale. decimal(19,0) holds any int64; the
    # product promotes to decimal(38,0) (max 8.5e37 < 1e38, never
    # truncates), so the argmax and every tie-break stay EXACT. DuckDB's
    # BIGINT·BIGINT promotes to HUGEINT (int128) natively — the oracle
    # side is already exact.
    dec = "decimal(19,0)"
    dnum = F.abs(
        F.col("cuma").cast(dec) * F.col("nb").cast(dec)
        - F.col("cumb").cast(dec) * F.col("na").cast(dec)
    )
    best = cum.select(
        *gcols,
        "na",
        "nb",
        F.struct(
            (-dnum).alias("neg_d"), F.col("v").alias("at")
        ).alias("_cand"),
    ).groupBy(*gcols, "na", "nb").agg(F.min("_cand").alias("best"))
    d = (-F.col("best.neg_d")).cast("double")
    nanb = (F.col("na").cast(dec) * F.col("nb").cast(dec)).cast("double")
    ks_d = d / nanb
    crit = F.lit(KS_C_ALPHA_05) * F.sqrt(
        (F.col("na") + F.col("nb")).cast("double") / nanb
    )
    return best.select(
        *gcols,
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round(ks_d, 6).alias("ks_d"),
        F.col("best.at").alias("ks_at"),
        F.round(crit, 6).alias("crit_05"),
        (ks_d > crit).alias("drifted"),
    )


#: PSI interpretation thresholds (the standard scorecard convention):
#: < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 major shift
PSI_MODERATE = 0.1
PSI_MAJOR = 0.25


def psi_two_sample(
    df: DataFrame,
    value_col: str,
    b_flag_col: str,
    *,
    bin_width: float,
    group_cols: list[str] | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Population Stability Index between the rows where ``b_flag_col``
    is false (A, "expected") and true (B, "actual") over equi-width
    bins: PSI = Σ_bins (p_A - p_B) · ln(p_A / p_B) — the scorecard
    companion to ``ks_two_sample`` (KS reacts to the single worst ECDF
    gap; PSI integrates shift across the whole distribution).

    Bins are ``floor(v / bin_width)``; probabilities are Laplace-
    smoothed with +0.5 per observed bin (p = (c + 0.5)/(n + 0.5·K),
    K = bins observed in the UNION), so a bin empty on one side
    contributes a finite, deterministic term instead of ±inf. Returns
    (group..., n_a, n_b, n_bins, psi, shift) with the standard
    0.1 / 0.25 interpretation labels.

    Scale: one hash agg collapses the corpus to its observed-bin counts
    (domain-bounded); everything after runs on that relation."""
    gcols = list(group_cols or [])
    b = F.col(b_flag_col).cast("boolean")
    bin_col = F.floor(F.col(value_col) / bin_width).cast("long").alias("v")
    per_bin = (
        df.filter(F.col(value_col).isNotNull())
        .select(*gcols, bin_col, b.alias("_b"))
        .groupBy(*gcols, "v")
        .agg(
            F.sum(F.when(~F.col("_b"), 1).otherwise(0)).alias("_ca"),
            F.sum(F.when(F.col("_b"), 1).otherwise(0)).alias("_cb"),
        )
    )
    return psi_from_counts(per_bin, group_cols=gcols, round_dp=round_dp)


def psi_from_counts(
    per_value: DataFrame,
    *,
    group_cols: list[str] | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """PSI from a pre-aggregated (group..., v, _ca, _cb) per-bin count
    relation — the shared core mirroring ``ks_from_counts``; the
    streaming monitor feeds its maintained histogram here (its quantized
    values ARE the bins)."""
    from pyspark.sql import Window

    gcols = list(group_cols or [])
    wg = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    stats = per_value.select(
        *gcols,
        "_ca",
        "_cb",
        F.sum("_ca").over(wg).alias("na"),
        F.sum("_cb").over(wg).alias("nb"),
        F.count(F.lit(1)).over(wg).alias("k"),
    )
    pa = (F.col("_ca") + 0.5) / (F.col("na") + 0.5 * F.col("k"))
    pb = (F.col("_cb") + 0.5) / (F.col("nb") + 0.5 * F.col("k"))
    term = (pa - pb) * F.log(pa / pb)
    agg = stats.groupBy(*gcols, "na", "nb", "k").agg(
        F.round(F.sum(term), round_dp).alias("psi")
    )
    shift = (
        F.when(F.col("psi") > PSI_MAJOR, F.lit("major"))
        .when(F.col("psi") > PSI_MODERATE, F.lit("moderate"))
        .otherwise(F.lit("stable"))
    )
    return agg.select(
        *gcols,
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("k").cast("long").alias("n_bins"),
        "psi",
        shift.alias("shift"),
    )


# --------------------------------------------------------------------------
# Benford leading-digit conformity (round 13)
# --------------------------------------------------------------------------

#: Benford's-law expected first-digit proportions, log10(1 + 1/d) for
#: d = 1..9 — Python-computed ONCE so the Spark literals and the DuckDB
#: oracle literals (emitted via repr(), the JL-plane trick) are the same
#: doubles bit for bit.
BENFORD_P: tuple[float, ...] = tuple(
    __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)
)

#: conventional conformity threshold on the max absolute deviation
#: between observed and expected first-digit proportions (the
#: Kolmogorov-flavored ruler; order-free, unlike a chi-square sum)
BENFORD_MAX_DEV = 0.03


def benford_profile(
    df: DataFrame,
    value_col: str,
    *,
    group_cols: list[str] | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """First-significant-digit distribution of a positive money-like
    column vs Benford's law — the classic fabricated/truncated-data
    ruler a corpus intake runs next to KS/PSI drift: organically
    generated amounts follow log10(1 + 1/d); capped, minimum-priced, or
    synthesized columns do not, and the DEVIATION is the signal.

    The digit is extracted from the integer CENTS rendered as a string
    (first character), never from ``floor(v / 10^floor(log10(v)))`` —
    integer-to-string is bit-identical across engines while ``log10``
    may differ in the last ulp exactly at power-of-ten boundaries. The
    conformity statistic is ``max_d |obs_p(d) - exp_p(d)|`` (a max, so
    no cross-digit float summation order to pin down).

    SUB-CENT EXCLUSION: values in (0, 0.005) round to 0 cents and carry
    no first significant digit at cent precision, so they are filtered
    out EXPLICITLY (``round(v·100) >= 1``) — they contribute to neither
    ``n_d`` nor the denominator ``n``. A column dominated by sub-cent
    values should be rescaled by the caller before profiling.

    Returns one row per (group..., digit 1-9): ``n_d`` (count,
    zero-filled), ``obs_p``, ``exp_p``, plus the group-level ``max_dev``
    and ``benford_ok`` repeated on each row. One narrow aggregate over
    the corpus; the digit frontier is 9 rows per group."""
    from pyspark.sql import Window

    gcols = list(group_cols or [])
    cents = F.round(F.col(value_col) * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = (
        df.filter(F.col(value_col).isNotNull() & (cents >= 1))
        .select(*gcols, digit.alias("digit"))
        .groupBy(*gcols, "digit")
        .agg(F.count(F.lit(1)).alias("n_d"))
    )
    # zero-fill digits 1..9 per group so sparse groups still compare
    # against the full expectation vector
    digits = local_table(
        counts.sparkSession,
        "digit int, exp_p double",
        {"digit": range(1, 10), "exp_p": BENFORD_P},
    )
    frame = (
        counts.select(*gcols).distinct().crossJoin(F.broadcast(digits))
        if gcols
        else digits
    )
    wg = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    full = (
        frame.join(counts, [*gcols, "digit"], "left")
        .withColumn("n_d", F.coalesce(F.col("n_d"), F.lit(0)))
        .withColumn("n", F.sum("n_d").over(wg))
    )
    obs_p = F.col("n_d").cast("double") / F.col("n").cast("double")
    dev = F.abs(obs_p - F.col("exp_p"))
    out = full.withColumn("_dev", dev).withColumn(
        "max_dev", F.max("_dev").over(wg)
    )
    return out.select(
        *gcols,
        "digit",
        F.col("n_d").cast("long").alias("n_d"),
        F.round(obs_p, round_dp).alias("obs_p"),
        F.round(F.col("exp_p"), round_dp).alias("exp_p"),
        F.round(F.col("max_dev"), round_dp).alias("max_dev"),
        (F.col("max_dev") <= BENFORD_MAX_DEV).alias("benford_ok"),
    )
