"""SparkSession factory.

Mirrors the reference's session construction (consumer.py:16-25) minus its
defects (the duplicate ``spark.jars.packages`` keys of consumer_delta.py:26-27
/ consumer_mongo.py:30-31 clobbered connector packages; we have no such
packages to load), and adds the scale-oriented defaults the reference lacked:
AQE (runtime re-planning, skew-join splitting, partition coalescing), UTC
session timezone (required for oracle-stable timestamp semantics), and Arrow
for the pandas-UDF slow path.

At 100 TB these settings are cluster-level concerns; the factory keeps them in
one place so a real deployment overrides master/memory/shuffle-partitions via
``spark-submit`` while the logical plans stay unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    """Core count: ``$SPARK_GRAFT_CPUS`` when it is a positive integer
    (the same value that sizes ``local[...]``), else the host's."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    return (int(cpus) if cpus.isdigit() else 0) or os.cpu_count() or 8


def get_session(
    app_name: str = "pyspark_etl_twitter_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else ``*``).
    ``shuffle_partitions`` defaults to the core count (``_cpus``) — the
    guide's rule: 200 default partitions over-parallelizes local runs and
    under-parallelizes 100 TB ones; it must track the actual parallelism.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _cpus()))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # partition discovery over many hive dirs (the (t, bucket)-
        # partitioned ANN indexes are 512 dirs) launches a distributed
        # listing job past this threshold — ~1 s of job overhead per
        # spark.read on a LOCAL filesystem where serial driver listing
        # takes ~0.1 s. Local-mode tuning: a real cluster against an
        # object store wants the distributed listing back (lower this or
        # rely on a metastore's file-status cache).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
        # InferFiltersFromGenerate duplicates the generator expression
        # into an inferred size()>0/isnotnull filter; when the exploded
        # array is a COMPUTED pipeline (tokenize → shingle → distinct —
        # this engine's universal explode shape), that filter re-runs the
        # whole pipeline per row, and filter pushdown parks it below the
        # fan-out exchange on the narrow pre-shuffle side. Measured on
        # jaccard_contamination at sf0.1: 3.4 s → 0.63 s with the rule
        # excluded. The rule only ever skips rows whose generator input
        # is empty/null (a no-op for correctness); its benefit case — a
        # cheap attribute input with mostly-empty arrays — does not occur
        # here. DESIGN.md §19 records the full analysis.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # a default-trigger query sleeps this long after a trigger that
        # found no data, then re-lists its source; at the stock 10 ms an
        # idle file-source query burns ~0.3 CPU-s per second, at 100 ms
        # ~0.06. Back-to-back batches, availableNow runs and drains never
        # sleep on it; a file landing mid-sleep waits at most 100 ms more.
        # A processing-time trigger saves the same CPU but logs a
        # "falling behind" WARN for every batch longer than its interval.
        .config("spark.sql.streaming.pollingDelay", "100ms")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def pin_oracle_confs(spark: SparkSession) -> SparkSession:
    """Runtime-settable confs required for DuckDB-oracle comparability
    and sane execution under a caller-owned session.

    The driver owns the session it passes to ``queries()`` callables; these
    confs are safe to set post-hoc (unlike ``spark.driver.memory``).
    UTC keeps timestamp values identical to DuckDB's naive-UTC timestamps;
    AQE + core-count shuffle partitions avoid 200-task fan-out for small
    stages when the caller's session still has stock defaults.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # see get_session: the inferred generate-filter re-runs computed
    # explode pipelines per row (3.4 s → 0.63 s on the fuzzy-decon query)
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    )
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        spark.conf.set("spark.sql.shuffle.partitions", str(_cpus()))
    return spark
