"""Corpus-curation operators beyond the reference's surface (engine-added,
SURVEY.md §2.12): benchmark decontamination, PII redaction /
pseudonymization, deterministic epoch shuffling, corpus n-gram profiles,
and length histograms.

These are the operations a training-data pipeline runs between raw corpus
and tokenizer:

- ``contamination_overlap``: flag documents sharing any word n-gram with an
  evaluation/benchmark set (the standard n-gram decontamination pass).
  Scale shape: the benchmark side is tiny (thousands of eval documents vs a
  100 TB corpus), so its distinct n-gram set is **broadcast** — the corpus
  is scanned once, its n-grams never shuffle, and the join is a map-side
  hash probe.
- ``redact_pii`` / ``pseudonymize``: regex scrubbing plus deterministic
  sha256 keyed pseudonyms — pure narrow column expressions, zero shuffle.
- ``epoch_shuffle``: a deterministic global permutation of the corpus
  (training epoch ordering) keyed by ``md5(id:seed)``. A naive
  ``row_number() OVER (ORDER BY key)`` is a single-partition window; this
  implementation derives a **monotone bucket** from the key's hex prefix,
  so per-bucket windows run in parallel and a tiny (≤ ``n_buckets`` rows)
  driver-side offset table stitches bucket-local ranks into one contiguous
  global index. Determinism needs no caching: bucket = f(key), not a
  sampled range boundary.
- ``ngram_profile``: corpus-wide top-k n-gram counts (boilerplate and
  collocation discovery) — one explode + map-side-combined count +
  ``TakeOrderedAndProject`` top-k, never a global sort.
- ``length_histogram``: binned corpus length profile, one aggregate pass.

The reference (consumer.py:60-66, ETL to storage) never curates its corpus;
this module is the engine's answer to "what would the same pipeline need at
100 TB" — every operator here keeps document bodies out of shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark_etl_twitter_spark.functions.lits import local_table
from pyspark_etl_twitter_spark.operators.dedup import shingle_array
from pyspark_etl_twitter_spark.operators.fanout import fan_out_if_narrow
from pyspark_etl_twitter_spark.operators.textstats import token_count, ws_tokens


# --------------------------------------------------------------------------
# Decontamination
# --------------------------------------------------------------------------


def contamination_overlap(
    docs: DataFrame,
    eval_docs: DataFrame,
    *,
    n: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = False,
) -> DataFrame:
    """Append (n_shared, contaminated) to ``docs``: the number of distinct
    word ``n``-grams each document shares with ``eval_docs``, and whether
    that count is > 0.

    The eval side reduces to its distinct n-gram set and is broadcast; the
    corpus scan is one fully NARROW pass (tokenize → shingle → explode →
    map-side hash-join probe) — the broadcast probe runs BEFORE any
    dedup/shuffle, so only matching (doc, gram) rows — a vanishingly
    small fraction — are ever exchanged (per-doc distinct + count on the
    survivors). The corpus itself never shuffles. Documents shorter than
    ``n`` tokens have no n-grams and come back n_shared=0 via the left
    join.

    ``hash_grams=True`` probes on ``xxhash64(gram)`` instead of the gram
    string, shrinking the broadcast table to 8 bytes/gram — the knob for
    when the eval set's distinct-gram table threatens the broadcast
    threshold, NOT a CPU win (measured on 500k docs × ~200 grams,
    local[32], warm: string probe 20 s, hashed 25 s — hashing 100M corpus
    grams costs more than the cheaper comparisons save). Collisions can
    only inflate ``n_shared`` (never miss a real overlap) at
    ~|eval grams|·|corpus grams|/2⁶⁴ odds; the exact string form stays
    the default and the oracle twin."""
    probe = (
        (lambda c: F.xxhash64(c)) if hash_grams else (lambda c: c)
    )
    # gated fan-out (see fan_out_if_narrow): a single-file local input
    # would run the shingle explode on one core; at scale the scan is
    # already parallel and the corpus must not shuffle (the aggregates
    # below only ever see broadcast-probe MATCHES)
    grams = fan_out_if_narrow(docs, F.col(id_col)).select(
        F.col(id_col),
        F.explode(shingle_array(ws_tokens(text_col), n)).alias("_g0"),
    ).select(F.col(id_col), probe(F.col("_g0")).alias("_gram"))
    eval_grams = (
        eval_docs.select(
            F.explode(shingle_array(ws_tokens(text_col), n)).alias("_g0")
        )
        .select(probe(F.col("_g0")).alias("_gram"))
        .distinct()
    )
    hits = (
        # probe first (map-side, no exchange), dedup only the matches:
        # distinct-of-matched ≡ matched-of-distinct, and the match set is
        # tiny, so the expensive per-doc distinct never sees the full corpus
        grams.join(F.broadcast(eval_grams), "_gram")
        .dropDuplicates([id_col, "_gram"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        docs.join(hits, id_col, "left")
        .withColumn("n_shared", F.coalesce("n_shared", F.lit(0)))
        .withColumn("contaminated", F.col("n_shared") > 0)
    )


# --------------------------------------------------------------------------
# PII redaction / pseudonymization
# --------------------------------------------------------------------------

# RE2-safe patterns (no lookaround) so DuckDB oracles can mirror them.
DIGIT_RUN = "[0-9]+"
EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"


def redact_pii(
    text: Column | str,
    *,
    patterns: tuple[tuple[str, str], ...] = ((EMAIL, "<EMAIL>"), (DIGIT_RUN, "<NUM>")),
) -> Column:
    """Apply ordered regex redactions (emails before digit runs so an
    address is one ``<EMAIL>``, not shredded into ``<NUM>`` fragments).
    Pure string expression — whole-stage codegen, zero shuffle."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, repl in patterns:
        c = F.regexp_replace(c, pat, repl)
    return c


def pseudonymize(key: Column | str, *, namespace: str = "id") -> Column:
    """Deterministic pseudonym: sha256 of ``namespace:key``. Joinable
    across tables sharing the namespace, irreversible without the raw key
    column — the standard keyed-pseudonym column for training corpora."""
    c = F.col(key) if isinstance(key, str) else key
    return F.sha2(F.concat_ws(":", F.lit(namespace), c.cast("string")), 256)


def generalize_band(value: Column | str, *, width: float) -> Column:
    """k-anonymity style numeric generalization: floor to a band lower
    bound. Returns a double (band lower edge)."""
    c = F.col(value) if isinstance(value, str) else value
    return F.floor(c / F.lit(width)) * F.lit(width)


# --------------------------------------------------------------------------
# Deterministic epoch shuffle (scale-safe global row index)
# --------------------------------------------------------------------------


def shuffle_key(id_col: Column | str, seed: int) -> Column:
    """md5 of ``id:seed`` — a uniform, deterministic, engine-portable
    permutation key (identical hex in Spark and DuckDB)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.md5(F.concat_ws(":", c.cast("string"), F.lit(str(seed))))


def global_row_index(
    df: DataFrame,
    order_col: str,
    *,
    index_name: str = "pos",
    n_buckets: int = 256,
) -> DataFrame:
    """Contiguous 0-based global index in ``order_col`` order WITHOUT a
    single-partition window.

    The first 4 hex chars of the (uniform, lowercase-hex) ``order_col``
    pick a bucket; lowercase-hex string order equals numeric prefix order,
    so bucket id is monotone in the key and a global index decomposes into
    per-bucket ``row_number`` + per-bucket offset. Offsets come from one
    tiny aggregate (≤ ``n_buckets`` rows collected to the driver — this
    runs an eager action at call time) and are stitched in as a map
    literal. Each bucket holds ~1/``n_buckets`` of the data: at 100 TB use
    more buckets, never a bigger window.

    Requires ``order_col`` values to be unique lowercase-hex strings
    (md5/sha output — see ``shuffle_key``)."""
    bkt = (
        F.conv(F.substring(F.col(order_col), 1, 4), 16, 10).cast("int")
        * n_buckets
        / 65536
    ).cast("int")
    bucketed = df.withColumn("_bkt", bkt)
    sizes = bucketed.groupBy("_bkt").agg(F.count(F.lit(1)).alias("c")).collect()
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(sizes, key=lambda r: r["_bkt"]):
        offsets[row["_bkt"]] = acc
        acc += row["c"]
    omap = F.create_map(
        *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
    )
    w = Window.partitionBy("_bkt").orderBy(order_col)
    return (
        bucketed.withColumn(
            index_name,
            (F.row_number().over(w) - 1 + omap[F.col("_bkt")]).cast("long"),
        )
        .drop("_bkt")
    )


def epoch_shuffle(
    docs: DataFrame,
    *,
    seed: int = 42,
    id_col: str = "doc_id",
    index_name: str = "pos",
    n_buckets: int = 256,
) -> DataFrame:
    """Deterministic training-epoch permutation: every document gets a
    contiguous global position by ``md5(id:seed)`` order. Different seeds
    give independent permutations of the same corpus; the same seed is
    reproducible across runs and engines."""
    keyed = docs.withColumn("_skey", shuffle_key(id_col, seed))
    return global_row_index(
        keyed, "_skey", index_name=index_name, n_buckets=n_buckets
    ).drop("_skey")


# --------------------------------------------------------------------------
# Entity resolution: blocked fuzzy string matching
# --------------------------------------------------------------------------


def fuzzy_name_pairs(
    df: DataFrame,
    *,
    name_col: str = "p_name",
    block_pattern: str = "[a-z]+$",
    max_dist: int = 4,
) -> DataFrame:
    """Fuzzy-duplicate name pairs by edit distance, with blocking:
    (name_a, name_b, dist) for distinct values whose blocking key (by
    default the last lowercase word) matches and 0 < levenshtein ≤
    ``max_dist``.

    The two standard ER scale moves are both here: compare the DISTINCT
    value vocabulary, not the rows (the vocabulary is orders of magnitude
    smaller than a 100 TB fact table), and equi-join on a blocking key so
    the quadratic comparison runs per block, never corpus-wide. Oversized
    blocks are the residual hazard — tighten the key (add a length band)
    or reuse the LSH star guard from ``dedup._band_candidates``."""
    names = (
        df.select(F.col(name_col).alias("name"))
        .distinct()
        .withColumn("_blk", F.regexp_extract("name", block_pattern, 0))
    )
    a, b = names.alias("a"), names.alias("b")
    return (
        a.join(
            b,
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.levenshtein("a.name", "b.name").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


# --------------------------------------------------------------------------
# Corpus n-gram profile + length histogram
# --------------------------------------------------------------------------


def ngram_profile(
    docs: DataFrame,
    *,
    n: int = 2,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` corpus ``n``-grams by occurrence count (ties broken by
    gram text). The only aggregate groups by GRAM, and partial (map-side)
    aggregation already shrinks the gram shuffle to distinct grams per
    mapper — so the corpus must NOT be shuffled first: the explode runs
    in place on the scan partitions (``fan_out_if_narrow`` repartitions
    only a below-parallelism local input). The top-k is
    ``orderBy().limit()`` → TakeOrderedAndProject, never a global sort
    materialization."""
    grams = fan_out_if_narrow(docs, F.col(id_col)).select(
        F.explode(shingle_array(ws_tokens(text_col), n)).alias("gram")
    )
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n_occurrences"))
    return counts.orderBy(F.col("n_occurrences").desc(), F.col("gram")).limit(k)


def length_histogram(
    docs: DataFrame,
    *,
    bin_width: int = 64,
    length_col: str = "n_chars",
    text_col: str = "text",
) -> DataFrame:
    """Corpus length profile: per ``bin_width``-char bin, document count
    and mean whitespace-token count. One narrow map + one aggregate."""
    bin_lo = (F.floor(F.col(length_col) / bin_width) * bin_width).cast("long")
    return (
        docs.select(
            bin_lo.alias("bin_lo"), token_count(text_col).alias("_ntok")
        )
        .groupBy("bin_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("_ntok"), 6).alias("avg_tokens"),
        )
    )


# --------------------------------------------------------------------------
# Deterministic train/val/test splitting
# --------------------------------------------------------------------------


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    *,
    seed: str = "split-v1",
    weights: tuple[tuple[str, int], ...] = (("train", 98), ("val", 1), ("test", 1)),
    split_name: str = "split",
) -> DataFrame:
    """Deterministic, engine-portable split assignment (train/val/test).

    Bucket = first 8 hex chars of ``md5(id:seed)`` mod Σweights, mapped to
    the split whose cumulative weight range contains it. Row-local (no
    shuffle, no state, no sampling pass): the assignment of a given id
    never changes as the corpus grows — the property a training pipeline
    needs so incremental ingestion can't leak val/test docs into train.
    Mirrors the reference's consume-everything model (consumer.py writes
    one undifferentiated stream; splitting is engine-added surface)."""
    total = sum(w for _, w in weights)
    bkt = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(":", F.col(id_col).cast("string"), F.lit(seed))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % total
    )
    acc = 0
    out = None
    for name, w in weights:
        acc += w
        out = F.when(bkt < acc, name) if out is None else out.when(bkt < acc, name)
    return df.withColumn(split_name, out)


def weighted_bernoulli_sample(
    df: DataFrame,
    *,
    weight_col: str,
    denom: int,
    id_col: str = "doc_id",
    seed: str = "wsample-v1",
) -> DataFrame:
    """Weight-proportional Poisson/Bernoulli sampling, engine-portable.

    Row i is kept with probability ``min(1, weight_i / denom)`` — the
    standard length/token-weighted corpus sampling a training mix uses
    (longer documents contribute proportionally more often). Inclusion is
    decided by EXACT INTEGER arithmetic: a 32-bit uniform from
    ``md5(id:seed)`` is compared against ``weight * 2^32 // denom``, both
    bigint, so the same row set is selected on any engine (no float
    rounding, no RNG state) and assignment is row-local — no shuffle, no
    sampling pass, stable as the corpus grows (same property as
    ``hash_split``). Weights must be non-negative integers with
    ``weight * 2^32`` within int64 (weight < ~2·10^9/denom-free).
    """
    u32 = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(seed))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    # integer `div`, not `/`: float division + floor can disagree with true
    # floor-division at quotients that round to an integer boundary
    threshold = F.expr(
        f"CAST({weight_col} AS BIGINT) * 4294967296 div {int(denom)}"
    )
    return df.filter(u32 < threshold)


# --------------------------------------------------------------------------
# Round 4: fuzzy decontamination, budgeted selection, temperature mixing
# --------------------------------------------------------------------------


def _gram_overlap(
    docs: DataFrame,
    eval_docs: DataFrame,
    *,
    shingle_n: int,
    id_col: str,
    text_col: str,
    hash_grams: bool,
) -> DataFrame:
    """Shared corpus×eval shingle-set intersection relation:
    ``(id_col, _eid, _asz, _bsz, _inter)`` for every (train doc, eval
    doc) pair sharing ≥1 distinct ``shingle_n``-gram. The single scan +
    broadcast-probe + matched-rows-only aggregate that both the Jaccard
    and the containment contamination metrics score from — extracted
    verbatim from ``jaccard_contamination`` (plan shape unchanged).

    Scale shape: the eval side reduces to (eval_id, gram, eval_size) and
    BROADCASTS (eval sets are tiny by definition); the corpus makes one
    narrow pass — shingle → explode → broadcast probe — so only matching
    (doc, eval, gram) rows (a vanishingly small fraction) are ever
    aggregated, and the corpus never shuffles. Per-doc shingle-set sizes
    ride the same single aggregate."""
    # distinct-shingle sets dedup ROW-LOCALLY (array_distinct before the
    # explode) and each exploded gram carries its document's set size, so
    # the corpus is scanned exactly once with no dedup exchange and no
    # second sizes aggregate (the round-4 review caught the two-branch
    # formulation re-running the whole explode for doc_sizes).
    # TWO-STEP select, deliberately: the shingle set must be materialized
    # as a column BELOW the Generate — explode(doc_set) with a sibling
    # size(doc_set) in one projection makes Catalyst re-evaluate the
    # whole tokenize→shingle→distinct pipeline per EXPLODED row (measured:
    # 137 s vs 6 s at sf0.1 for the same logical result).
    # hash_grams: probe/aggregate on xxhash64 of each shingle — 8-byte
    # keys instead of strings in the broadcast and groupBy (the 100 TB
    # knob, same contract as contamination_overlap: collisions can only
    # inflate an intersection at ~|a|·|b|/2⁶⁴ odds; set sizes are taken
    # BEFORE hashing so |a|, |b| are exact). The string form stays the
    # default and the oracle twin.
    doc_set = F.array_distinct(shingle_array(ws_tokens(text_col), shingle_n))
    if hash_grams:
        doc_set = F.transform(doc_set, lambda g: F.xxhash64(g))
    # NO unconditional corpus shuffle: the broadcast probe runs on the
    # scan partitions and only MATCHED (doc, eval, gram) rows — a
    # vanishingly small fraction — reach the groupBy exchange, so
    # repartitioning the raw corpus first would move 100 TB to save a
    # kilobyte-scale aggregate (the round-4 slowest-bench-query finding).
    # fan_out_if_narrow keeps the one real benefit: spreading a
    # single-file local input across cores.
    doc_grams = (
        fan_out_if_narrow(docs, F.col(id_col))
        .select(F.col(id_col), doc_set.alias("_gs"))
        .select(
            F.col(id_col),
            F.size("_gs").alias("_asz"),
            F.explode("_gs").alias("g"),
        )
    )
    eval_sized = (
        eval_docs.select(F.col(id_col).alias("_eid"), doc_set.alias("_gs"))
        .select(
            "_eid",
            F.size("_gs").alias("_bsz"),
            F.explode("_gs").alias("g"),
        )
    )
    return (
        doc_grams.join(F.broadcast(eval_sized), "g")
        .groupBy(id_col, "_eid")
        .agg(
            F.first("_asz").alias("_asz"),
            F.first("_bsz").alias("_bsz"),
            F.count(F.lit(1)).alias("_inter"),
        )
    )


def jaccard_contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    *,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = False,
) -> DataFrame:
    """Per-document MAX shingle-Jaccard against any eval document —
    the fuzzy upgrade of ``contamination_overlap`` (which only counts
    shared grams): near-paraphrased eval leakage scores high even when no
    single doc contains many eval grams verbatim.

    Returns (id_col, max_jaccard, best_eval_id) for documents with at
    least one shared shingle; callers left-join and coalesce(0) like the
    exact variant. Jaccard = inter / (|a| + |b| - inter); the shared
    scan/probe/aggregate shape lives in ``_gram_overlap``."""
    inter = _gram_overlap(
        docs,
        eval_docs,
        shingle_n=shingle_n,
        id_col=id_col,
        text_col=text_col,
        hash_grams=hash_grams,
    )
    scored = inter.select(
        F.col(id_col),
        F.col("_eid"),
        F.round(
            F.col("_inter")
            / (F.col("_asz") + F.col("_bsz") - F.col("_inter")).cast("double"),
            6,
        ).alias("_j"),
    )
    # min_by over (−jaccard, eval_id) ⇒ max jaccard, ties → smallest eval
    # id. Only _j is negated (always double); _eid is compared as its own
    # type, so string/UUID eval ids keep a deterministic tiebreak (a
    # negated non-numeric id would cast to NULL and break determinism).
    return scored.groupBy(id_col).agg(
        F.max("_j").alias("max_jaccard"),
        F.min_by("_eid", F.struct((-F.col("_j")).alias("nj"), F.col("_eid").alias("e"))).alias(
            "best_eval_id"
        ),
    )


def containment_contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    *,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_grams: bool = False,
) -> DataFrame:
    """Per-document MAX eval-side n-gram CONTAINMENT — inter / |eval
    set|, the GPT-3/PaLM "dirty document" definition — against any eval
    document. The asymmetric complement of ``jaccard_contamination``:
    a long training doc that embeds an ENTIRE short eval item verbatim
    scores 1.0 here, while its Jaccard is diluted to ~|eval|/|doc| by
    the doc's own size and slips under any fixed Jaccard threshold —
    exactly the leak containment-based decontamination exists to catch.

    Returns (id_col, max_containment, best_eval_id) for documents with
    at least one shared shingle; same ``_gram_overlap`` scan shape
    (eval side broadcast, corpus never shuffles), same min_by tiebreak
    (max score, ties → smallest eval id)."""
    inter = _gram_overlap(
        docs,
        eval_docs,
        shingle_n=shingle_n,
        id_col=id_col,
        text_col=text_col,
        hash_grams=hash_grams,
    )
    scored = inter.select(
        F.col(id_col),
        F.col("_eid"),
        F.round(F.col("_inter") / F.col("_bsz").cast("double"), 6).alias("_c"),
    )
    return scored.groupBy(id_col).agg(
        F.max("_c").alias("max_containment"),
        F.min_by("_eid", F.struct((-F.col("_c")).alias("nc"), F.col("_eid").alias("e"))).alias(
            "best_eval_id"
        ),
    )


def select_within_budget(
    docs: DataFrame,
    *,
    group_col: str = "source",
    size_col: str = "n_chars",
    budget: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Budgeted corpus selection: keep each group's largest documents
    until the running total of ``size_col`` reaches ``budget`` (the
    standard per-source token/char budget a training mix enforces).
    Deterministic order (size desc, id asc); a document is kept while the
    PRECEDING documents' total stays under budget, so the first
    over-budget doc is included — matching SQL's
    ``sum() OVER (... ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)``.

    Scale: the window partitions by group — parallel across groups, and
    per-group volume is budget-bounded by construction upstream
    (size-desc order means the scan can stop early under AQE top-k
    pushdown; for a group too large to window, pre-filter with the
    two-phase rank in operators/ranking.py)."""
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(size_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    running = docs.withColumn("_prev", F.coalesce(F.sum(size_col).over(w), F.lit(0)))
    return running.filter(F.col("_prev") < budget).drop("_prev")


def temperature_mix_sample(
    docs: DataFrame,
    *,
    group_col: str = "source",
    scale: int = 50,
    id_col: str = "doc_id",
    seed: str = "tmix-v1",
) -> DataFrame:
    """√-temperature (T = 0.5) mixture sampling: group g is kept with
    probability ``min(1, scale / sqrt(n_g))`` — small sources are kept
    (near-)whole, large sources downsampled toward √n_g, flattening the
    mixture the way multilingual / multi-corpus training mixes do.

    Determinism across engines: inclusion compares the ``md5(id:seed)``
    32-bit uniform (see ``hash_split``) against
    ``floor(2^32 * scale / sqrt(n_g))``. ``sqrt`` and division are
    IEEE-754 correctly-rounded in both the JVM and DuckDB, so the
    threshold — and therefore the selected row set — is bit-identical
    (this is why T is pinned to 0.5: a general ``pow(n, T)`` is NOT
    correctly rounded and could flip rows at rounding boundaries).

    Scale: one tiny per-group count aggregate broadcast back; the fact
    table's filter is row-local."""
    counts = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    rates = counts.select(
        group_col,
        F.least(
            F.lit(float(2**32)),
            F.floor(F.lit(2**32) * F.lit(float(scale)) / F.sqrt(F.col("_n"))),
        ).cast("long").alias("_thr"),
    )
    u32 = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(seed))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (
        docs.join(F.broadcast(rates), group_col)
        .filter(u32 < F.col("_thr"))
        .drop("_thr")
    )


def source_vocab_overlap(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the corpus-mixing
    diagnostic (two sources with near-identical vocabularies add less
    diversity than their row counts suggest; near-zero overlap flags a
    language/domain outlier in the mix).

    Scale shape: one pass reduces the corpus to DISTINCT (group, term)
    rows — the shuffle is bounded by groups × vocabulary, independent of
    corpus row count (the relation is persisted via the bounded cache
    registry so its three consumers — both join sides and the sizes —
    share one computation) — then per-group set sizes broadcast back and
    the pair intersection is an equi-join ON TERM (never a group×group
    cross of term sets). Output is |groups|² rows at most: a diagnostic
    table, not a data product. CONTRACT: pairs with ZERO shared terms
    are ABSENT from the output (inner intersection join — the DuckDB
    oracle twin matches); a consumer hunting disjoint-vocabulary
    outliers must anti-join the group list against the result rather
    than scan for low jaccard values."""
    from pyspark_etl_twitter_spark.operators.cachereg import keep_cached

    terms = keep_cached(
        docs.select(
            F.col(group_col).alias("g"), F.explode(ws_tokens(text_col)).alias("t")
        ).dropDuplicates(["g", "t"])
    )
    sizes = terms.groupBy("g").agg(F.count(F.lit(1)).alias("sz"))
    a = terms.select(F.col("g").alias("ga"), "t")
    b = terms.select(F.col("g").alias("gb"), "t")
    inter = (
        a.join(b, "t")
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(F.broadcast(sizes.select(F.col("g").alias("ga"), F.col("sz").alias("_sa"))), "ga")
        .join(F.broadcast(sizes.select(F.col("g").alias("gb"), F.col("sz").alias("_sb"))), "gb")
        .select(
            "ga",
            "gb",
            "n_inter",
            F.round(
                F.col("n_inter")
                / (F.col("_sa") + F.col("_sb") - F.col("n_inter")).cast("double"),
                6,
            ).alias("vocab_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Bloom-filter decontamination (round 10)
# --------------------------------------------------------------------------


def bloom_positions(gram: Column, *, k_hashes: int, m_bits: int) -> Column:
    """The ``k_hashes`` Bloom bit positions of a word n-gram, as an array
    expression — md5-derived so the DuckDB oracle reproduces every
    position bit-for-bit (same idiom as ``portable_term_hash``,
    operators/dedup.py): position_j = int(md5('b{j}:' || gram)[:8], 16) %
    m_bits. The ``b`` prefix domain-separates these hashes from the
    MinHash permutation family, which shares the md5 base."""
    return F.array(
        *[
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"b{j}:"), gram)), 1, 8), 16, 10
            ).cast("long")
            % m_bits
            for j in range(k_hashes)
        ]
    )


def bloom_contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    *,
    n: int = 4,
    k_hashes: int = 4,
    m_bits: int = 1 << 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Append ``(n_bloom_hits, bloom_flagged)`` to ``docs``: per-document
    count of distinct word ``n``-grams whose ``k_hashes`` Bloom bits are
    ALL set in a bitmap built from ``eval_docs``'s n-grams.

    Why a Bloom bitmap when ``contamination_overlap`` already broadcasts
    the eval n-gram set: the broadcast there is the *string* gram table —
    at a realistic eval suite (tens of benchmarks × millions of n-grams ×
    ~40 bytes/gram) it brushes Spark's broadcast limits, and
    ``hash_grams=True`` still costs 8 bytes/gram. The Bloom bitmap is
    **constant-size** (``m_bits/8`` bytes — 128 KiB at the default 2^20 —
    regardless of eval-set cardinality), traded for a quantified
    false-positive rate ≈ fill_ratio^k. Bloom can only over-flag, never
    miss: a contaminated doc per the exact pass is always flagged here.

    Scale shape: the bitmap is built by OR-folding the eval side's bit
    positions — the only driver materialization is ≤ min(|eval grams| ×
    k, m_bits) distinct positions (the SMALL side, same bound class as
    the broadcast eval set it replaces) — and ships to executors as a
    one-row broadcast relation (array<long> column), NOT a plan literal,
    so the plan text stays O(1) and the 100 TB corpus pass is fully
    narrow: shingle → probe k ``bit_get`` lookups per gram → only
    bloom-POSITIVE (doc, gram) rows — true hits plus the engineered-rare
    false positives — ever reach the dedup/aggregate exchange, exactly
    the probe-before-distinct shape of ``contamination_overlap``.
    """
    if m_bits <= 0 or m_bits % 64 != 0:
        # the word array is sized m_bits // 64: a non-multiple would
        # silently truncate and positions >= n_words*64 would IndexError
        # at build time (r10 ADVICE)
        raise ValueError(f"m_bits must be a positive multiple of 64, got {m_bits}")
    spark = docs.sparkSession
    eval_pos = (
        eval_docs.select(
            F.explode(shingle_array(ws_tokens(text_col), n)).alias("_g")
        )
        .select(F.explode(bloom_positions(F.col("_g"), k_hashes=k_hashes, m_bits=m_bits)).alias("p"))
        .distinct()
        .collect()
    )
    n_words = m_bits // 64
    words = [0] * n_words
    for row in eval_pos:
        p = row["p"]
        words[p // 64] |= 1 << (p % 64)
    # two's-complement wrap: Spark LongType is signed; bit_get reads the
    # same physical bit either way
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    bitmap = local_table(spark, "bloom_bits array<bigint>", {"bloom_bits": [words]})

    grams = fan_out_if_narrow(docs, F.col(id_col)).select(
        F.col(id_col),
        F.explode(shingle_array(ws_tokens(text_col), n)).alias("_gram"),
    )
    hits = (
        grams.crossJoin(F.broadcast(bitmap))
        .filter(
            F.forall(
                bloom_positions(F.col("_gram"), k_hashes=k_hashes, m_bits=m_bits),
                lambda p: F.bit_get(
                    F.element_at("bloom_bits", (F.floor(p / 64) + 1).cast("int")),
                    (p % 64).cast("int"),
                )
                == 1,
            )
        )
        .dropDuplicates([id_col, "_gram"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_bloom_hits"))
    )
    return (
        docs.join(hits, id_col, "left")
        .withColumn("n_bloom_hits", F.coalesce("n_bloom_hits", F.lit(0)))
        .withColumn("bloom_flagged", F.col("n_bloom_hits") > 0)
    )


def quantile_map(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    n_q: int = 10,
    round_dp: int = 0,
) -> DataFrame:
    """Per-group inverse-ECDF quantile map vs the pooled distribution —
    the calibration table for cross-source score normalization (a
    quality threshold tuned on one source is meaningless on another
    unless their score distributions are aligned; quantile mapping IS
    the alignment).

    For each interior quantile q = i/n_q the step inverse ECDF is the
    smallest quantized value v with cum_count(v) >= q·total — computed
    with EXACT integer cross-multiplication (n_q·cum >= i·total), no
    float thresholds. Returns (group, q_pct, group_value, pooled_value,
    shift) where shift = group − pooled at that quantile.

    Scale: one hash agg collapses the corpus to its per-(group,
    quantized value) counts; every later stage (cumulative window,
    min-when fold, the pooled twin, the unpivot) runs on that
    domain-bounded relation. Apply-side: join a row's (group, bucket)
    against this map — the map is groups·n_q rows, always broadcast."""
    v = F.round(F.col(value_col), round_dp).alias("v")
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("g"), v)
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    def _inv(rel: DataFrame, keys: list[str]) -> DataFrame:
        from pyspark.sql import Window

        w = (
            Window.partitionBy(*keys).orderBy("v")
            if keys
            else Window.orderBy("v")
        )
        wg = Window.partitionBy(*keys) if keys else Window.partitionBy()
        cum = rel.select(
            *keys,
            "v",
            F.sum("c").over(w).alias("cum"),
            F.sum("c").over(wg).alias("tot"),
        )
        aggs = [
            F.min(
                F.when(
                    F.col("cum") * n_q >= F.col("tot") * i, F.col("v")
                )
            ).alias(f"q{i}")
            for i in range(1, n_q)
        ]
        return cum.groupBy(*keys).agg(*aggs)

    per_group = _inv(counts, ["g"])
    pooled = _inv(
        counts.groupBy("v").agg(F.sum("c").alias("c")), []
    )
    stack_expr = ", ".join(
        f"int({100 * i / n_q}) , q{i}" for i in range(1, n_q)
    )
    gl = per_group.selectExpr(
        "g", f"stack({n_q - 1}, {stack_expr}) AS (q_pct, group_value)"
    )
    pl = pooled.selectExpr(
        f"stack({n_q - 1}, {stack_expr}) AS (q_pct, pooled_value)"
    )
    return gl.join(F.broadcast(pl), "q_pct").select(
        F.col("g").alias(group_col),
        F.col("q_pct").cast("int").alias("q_pct"),
        "group_value",
        "pooled_value",
        F.round(F.col("group_value") - F.col("pooled_value"), round_dp + 2).alias(
            "shift"
        ),
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    seed: str = "leak-v1",
    weights: tuple[tuple[str, int], ...] = (
        ("train", 80),
        ("val", 10),
        ("test", 10),
    ),
    split_name: str = "split",
) -> DataFrame:
    """Near-dup-CLUSTER-keyed train/val/test assignment — the leakage
    guard ``hash_split`` alone cannot give: two near-duplicate documents
    split independently by id WILL eventually straddle train and test,
    and the eval set then scores memorization (the core motivation of
    Lee et al. 2022). Here the split key is the duplicate-cluster
    canonical id (``dedup.duplicate_clusters`` over the given pairs;
    unpaired docs key by their own id), so an entire near-dup cluster
    lands in ONE split by construction — and, like ``hash_split``, the
    assignment of a cluster never changes as the corpus grows.

    Adds ``_cluster_key`` and ``split_name`` columns. Scale: the pairs
    relation is the banded-LSH output (never all-pairs), the CC runs on
    pairs only, and the split itself is row-local."""
    from pyspark_etl_twitter_spark.operators.dedup import duplicate_clusters

    clusters = duplicate_clusters(pairs).withColumnRenamed(
        "doc_id", id_col
    )
    assigned = docs.join(clusters, id_col, "left").withColumn(
        "_cluster_key", F.coalesce(F.col("cluster_id"), F.col(id_col))
    ).drop("cluster_id")
    return hash_split(
        assigned,
        "_cluster_key",
        seed=seed,
        weights=weights,
        split_name=split_name,
    )
