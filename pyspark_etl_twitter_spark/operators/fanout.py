"""Corpus fan-out repartitioning — AQE-proof and gated variants.

The engine's explode-heavy operators (tokenize → shingle → explode →
aggregate/probe) pre-partition compact document rows by id so that

(a) downstream ``groupBy(id, ...)`` aggregates are satisfied by the id
    clustering and the EXPLODED rows never shuffle (the exchange carries
    document bodies once, instead of token fan-out many times), and
(b) a narrow input (a single local parquet file, a post-filter trickle)
    spreads across all cores before the CPU-heavy explode.

Two hazards, both measured in round 5:

1. **AQE coalescing defeats ``repartition(col)``.** A repartition WITHOUT
   an explicit partition count is eligible for adaptive coalescing; on a
   bench-scale corpus (0.6 MB of documents) AQE merges it to ONE
   partition and the whole explode runs single-core — measured
   ``ngram_profile`` 1.8 s vs 0.68 s at sf0.1 for the identical logical
   plan. ``fan_out`` therefore pins the count to
   ``spark.sql.shuffle.partitions`` (the cluster-tuned width), which AQE
   must respect.
2. **The unconditional form is a 100 TB corpus shuffle.** When the
   downstream aggregate does NOT group by id (``ngram_profile`` groups
   by gram, ``jaccard_contamination`` aggregates only broadcast-probe
   MATCHES), partial aggregation already shrinks the real exchange, and
   repartitioning the raw corpus first moves everything to buy nothing.
   Those sites use ``fan_out_if_narrow``: the exchange happens only when
   the scan is narrower than the cluster (its sole legitimate purpose).

Site audit (why each remaining unconditional ``fan_out`` is justified —
the downstream aggregate/dedup groups by id, so the id exchange REPLACES
a strictly larger exploded-row exchange):

- ``sentiment.py`` fit_and_score    → ``groupBy(id, term)``
- ``sentiment.py`` score_documents  → ``groupBy(id, term)``, size-gated
  through ``fan_out_unless_small``: below ``SINGLE_TASK_BYTES`` of
  plan-estimated input (a paced stream micro-batch) the exchange's job
  costs more than the cores it buys. Warm ``local[4]``, one JSON file
  scored to ``noop``, median of 5, wall ms / JVM CPU-s::

      input                 fan_out       coalesce(1)
      100 rows, 37 KB       539 / 1.20    489 / 0.85
      300 rows, 111 KB      538 / 1.09    571 / 0.99
      1,000 rows, 363 KB    666 / 1.14    681 / 1.03
      2,000 rows, 727 KB    587 / 1.23    761 / 1.23
      5,000 rows, 1.8 MB    779 / 2.07    1,334 / 1.62

- ``dedup.py`` _distinct_terms      → ``dropDuplicates([id, term])``
- ``dedup.py`` simhash_fingerprints → ``groupBy(id, term)`` then ``groupBy(id)``
- ``textstats.py`` fingerprints / repetition / tf-idf / char-entropy /
  repeated-spans                    → ``groupBy(id, ...)``
- ``lm.py`` doc_logprob / oov_rate → ``groupBy(id, ...)`` after
  broadcast model joins (``bigram_pairs`` has NO fan-out: its consumers
  aggregate/join on gram keys, and adjacent-pairs explode work is linear
  in input bytes already bounded per scan split — see its docstring)
- ``encoding.py`` build_vocab       → ``countDistinct(id)`` expands to a
  ``(term, id)`` dedup phase whose clustering the id partitioning
  satisfies partition-locally
- ``encoding.py`` encode_documents  → order re-assembly ``groupBy(id)``

DESIGN.md §19 (the AQE-coalesced fan-out finding) carries the same
table with measurements.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Plan-estimated input bytes below which ``fan_out_unless_small`` runs
#: the input in one task. It sits under the measured wall-time crossover
#: (between 111 KB and 727 KB of JSON, module docstring), so sf0.1
#: ``documents`` (595 KB) keeps its fan-out.
SINGLE_TASK_BYTES = 128 * 1024


def _shuffle_width(df: DataFrame) -> int:
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


def fan_out(df: DataFrame, *keys) -> DataFrame:
    """Repartition by ``keys`` with an EXPLICIT partition count
    (``spark.sql.shuffle.partitions``) so adaptive coalescing cannot
    merge the fan-out back to one partition on small inputs."""
    return df.repartition(_shuffle_width(df), *keys)


def fan_out_if_narrow(df: DataFrame, *keys) -> DataFrame:
    """``fan_out`` only when the input's scan parallelism is below the
    cluster default — for operators whose downstream exchange does not
    benefit from id clustering (see module docstring hazard #2).
    ``df.rdd.getNumPartitions()`` compiles the physical plan (no job):
    a plan-build cost, traded against a corpus-wide shuffle at run."""
    if df.rdd.getNumPartitions() < df.sparkSession.sparkContext.defaultParallelism:
        return fan_out(df, *keys)
    return df


def plan_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df`` in bytes. File scans sum
    their file sizes, so this runs no Spark job; a filter keeps its
    child's size, a ``localCheckpoint`` keeps its source plan's, and an
    RDD-backed input of unknown size reports ``Long.MaxValue``."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    return int(stats.sizeInBytes())


def fan_out_unless_small(df: DataFrame, *keys) -> DataFrame:
    """``coalesce(1)`` when ``df`` is estimated below ``SINGLE_TASK_BYTES``,
    else ``fan_out``. A single partition satisfies every downstream
    clustering on ``keys``, so a small input runs with no exchange at all
    and writes one file; a large or unknown-size input keeps the fan-out,
    as does a streaming DataFrame, which has no estimate until a
    micro-batch binds it (the plan cannot be optimized before ``start``)."""
    if not df.isStreaming and plan_bytes(df) < SINGLE_TASK_BYTES:
        return df.coalesce(1)
    return fan_out(df, *keys)
