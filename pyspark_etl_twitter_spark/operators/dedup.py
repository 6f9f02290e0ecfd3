"""Deduplication operators (BASELINE.json north star; SURVEY.md §7.3 M5).

Exact dedup is a hash aggregate; near-dup is MinHash+LSH (the scale path:
shingle → k min-hashes → banded bucket join → verify candidates only) and
SimHash (bit-sampling fingerprints + banded hamming search). The exact
n-gram-Jaccard pair join exists as the oracle-able baseline — it is
quadratic in posting-list length and must only run on bounded subsets;
MinHash-LSH is the operator that survives 100 TB.

Scale notes:
- All hashing is ``xxhash64`` (JVM, codegen'd); no Python in the row path.
- The LSH bucket self-join is the only join; its key (band_id, band_hash)
  is high-cardinality by construction. Exact-duplicate clusters all land in
  one bucket → quadratic in cluster size; run exact dedup FIRST, then LSH
  on distinct texts (``near_dup_pairs_minhash(distinct_texts=True)``).
- Candidate verification joins shingles only for candidate pairs (semi-join
  pruned), never all-pairs.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_etl_twitter_spark.operators import indexstore
from pyspark_etl_twitter_spark.operators.fanout import fan_out

from pyspark_etl_twitter_spark.operators.sentiment import tokens_column

# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def exact_dedup_summary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level duplication profile in one aggregate pass."""
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(text_col).alias("n_distinct_texts"),
        (F.count(F.lit(1)) - F.countDistinct(text_col)).alias("n_dup_docs"),
    )


def exact_dedup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Duplicate groups with canonical (min-id) representative.
    groupBy(text) shuffles the full text as key — for 100 TB use the sha
    fingerprint as the shuffle key instead (``sha_fingerprints``)."""
    return (
        docs.groupBy(text_col)
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .select("canonical_id", "n_copies")
    )


def sha_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Content-hash column for exact dedup at scale: shuffle 32-byte keys,
    not document bodies."""
    return docs.select(id_col, F.sha2(F.col(text_col), 256).alias("text_sha"))


def drop_exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the min-id row per distinct text (deterministic survivor)."""
    keep = docs.groupBy(text_col).agg(F.min(id_col).alias(id_col))
    return docs.join(keep, [id_col, text_col], "left_semi")


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Append-time dedup: drop new documents whose text already exists in
    the corpus, then exact-dedup within the batch (min-id survivor). The
    batch-ingest twin of ``streaming_dedup`` for content rather than ids.

    Scale shape: both sides reduce to sha256 fingerprints before the
    anti-join, so the shuffle carries 32-byte keys — never document bodies
    (the corpus side would be a precomputed fingerprint column in a real
    deployment; recomputing here keeps the operator self-contained)."""
    new_fp = new_docs.withColumn("_sha", F.sha2(F.col(text_col), 256))
    corpus_fp = corpus.select(F.sha2(F.col(text_col), 256).alias("_sha")).distinct()
    fresh = new_fp.join(corpus_fp, "_sha", "left_anti")
    keep = fresh.groupBy("_sha").agg(F.min(id_col).alias(id_col))
    return fresh.join(keep, [id_col, "_sha"], "left_semi").drop("_sha")


# --------------------------------------------------------------------------
# Shingles + exact n-gram Jaccard (oracle-able baseline)
# --------------------------------------------------------------------------

def shingle_array(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles as one array expression (no explode needed)."""
    sz = F.size(tokens)
    seq = F.sequence(F.lit(0), sz - n)
    return F.when(
        sz >= n,
        F.transform(seq, lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n))),
    ).otherwise(F.array().cast("array<string>"))


def _distinct_terms(docs: DataFrame, id_col: str, text_col: str, shingle_n: int) -> DataFrame:
    toks = tokens_column(text_col, stop=False)
    term = F.explode(shingle_array(toks, shingle_n)) if shingle_n > 1 else F.explode(toks)
    # repartition compact docs pre-explode: the distinct's (id, term)
    # clustering is satisfied by id-partitioning, so shingles themselves are
    # never shuffled (and single-file local inputs fan out across cores)
    return (
        fan_out(docs, F.col(id_col))
        .select(F.col(id_col).alias("_id"), term.alias("term"))
        .dropDuplicates(["_id", "term"])
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 1,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact set-Jaccard over all pairs sharing ≥1 term. Quadratic in
    posting-list length — the correctness baseline for MinHash, to be run
    on bounded subsets only (callers subsample)."""
    terms = _distinct_terms(docs, id_col, text_col, shingle_n)
    sizes = terms.groupBy("_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = terms.alias("a"), terms.alias("b")
    inter = (
        a.join(b, (F.col("a.term") == F.col("b.term")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def _xxhash_term(term: Column, i: int) -> Column:
    return F.xxhash64(F.lit(i), term)


def _min_hashes(terms: DataFrame, num_hashes: int, term_hash) -> DataFrame:
    """(_id, h0..h{k-1}) MinHash signatures of a ``_distinct_terms``
    relation under the seeded family ``term_hash(term, i)`` — xxhash64 for
    the scale path, md5 (``portable_term_hash``) for the DuckDB-verifiable
    twins and the persisted store. One map-side-combined groupBy(id) with
    k min-aggregates: the shuffle carries k longs per doc, independent of
    doc length."""
    mins = [
        F.min(term_hash(F.col("term"), i)).alias(f"h{i}") for i in range(num_hashes)
    ]
    return terms.groupBy("_id").agg(*mins)


def minhash_signatures(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """(minhash_id, h0..h{k-1}) min-hash signature via k seeded xxhash64
    families (``_min_hashes``)."""
    terms = _distinct_terms(docs, id_col, text_col, shingle_n)
    return _min_hashes(terms, num_hashes, _xxhash_term).withColumnRenamed(
        "_id", "minhash_id"
    )


def _bands(sigs: DataFrame, num_hashes: int, bands: int, band_key) -> DataFrame:
    """(_id, band_id, band_key) band rows of a signature relation: band
    j's key is ``band_key`` over its ``num_hashes // bands`` signature
    columns (xxhash64 of them, or ``_portable_band_key``)."""
    rows = num_hashes // bands
    keys = F.array(
        *[
            band_key(*[F.col(f"h{j * rows + r}") for r in range(rows)])
            for j in range(bands)
        ]
    )
    return sigs.select("_id", F.posexplode(keys).alias("band_id", "band_key"))


def _band_candidates(
    rows: DataFrame, star: int | None, new: str | None = None
) -> DataFrame:
    """(doc_a < doc_b) candidate pairs of band rows (_id, band_id,
    band_key[, new]): docs agreeing on all rows of any band. The one band
    join under every MinHash path — the xxhash64 and md5 pair flows, the
    store append and the store rebuild — so append candidates ≡ rebuild
    candidates by construction. The band-key join is the only shuffle.

    Bucket skew is THE hazard at scale: a swarm of n near-identical
    documents (template spam, boilerplate) lands in one bucket and a naive
    self-join emits n²/2 pairs — measured as an executor OOM at a 100-doc
    clique × 500 swarms on a 100× replicated corpus. Exact-dedup-first only
    collapses byte-identical swarms, not near-identical ones. Buckets
    larger than ``star`` therefore emit a STAR instead: every member pairs
    with the bucket's min doc id only — O(n) edges whose connected
    components (what downstream clustering consumes) are IDENTICAL to the
    clique's. The tradeoff is pair-level recall inside oversized buckets
    (member↔member edges are not listed/verified individually); ``None``
    disables the guard. The bucket-stats window runs over the same
    (band, key) shuffle the join needs anyway.

    ``new`` names a boolean column marking batch rows (the store append's
    probe, whose buckets hold the batch plus the stored members of the
    buckets it touches): only pairs touching a batch row are kept — a
    bucket pair with either side new, a star edge whose member or hub is
    new — before the ``distinct``."""
    from pyspark.sql import Window

    if star is not None:
        w = Window.partitionBy("band_id", "band_key")
        hub = F.min(F.struct("_id", new) if new else F.col("_id")).over(w)
        rows = rows.withColumn("_bsz", F.count(F.lit(1)).over(w)).withColumn(
            "_bmin", hub
        )
        hub_id = F.col("_bmin._id") if new else F.col("_bmin")
        spokes = rows.filter((F.col("_bsz") > star) & (F.col("_id") != hub_id))
        if new:
            spokes = spokes.filter(F.col(new) | F.col(f"_bmin.{new}"))
        spokes = spokes.select(hub_id.alias("doc_a"), F.col("_id").alias("doc_b"))
        rows = rows.filter(F.col("_bsz") <= star)
    a, b = rows.alias("a"), rows.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a._id") < F.col("b._id")),
    )
    if new:
        pairs = pairs.filter(F.col(f"a.{new}") | F.col(f"b.{new}"))
    pairs = pairs.select(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
    if star is not None:
        pairs = pairs.union(spokes)
    return pairs.distinct()


def lsh_candidate_pairs(
    signatures: DataFrame,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    star_bucket_threshold: int | None = 64,
) -> DataFrame:
    """Banded LSH over ``minhash_signatures``: docs agreeing on all rows
    of any band become candidates, buckets larger than
    ``star_bucket_threshold`` emit a star (``_band_candidates``); pass
    ``None`` to disable the guard."""
    sigs = signatures.withColumnRenamed("minhash_id", "_id")
    return _band_candidates(
        _bands(sigs, num_hashes, bands, F.xxhash64), star_bucket_threshold
    )


def near_dup_pairs_minhash(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    star_bucket_threshold: int | None = 64,
) -> DataFrame:
    """Full near-dup flow: LSH candidates → exact-Jaccard verify on the
    candidate set only. Returns (doc_a, doc_b, jaccard).

    The distinct-shingle relation feeds four plan branches (signatures,
    per-doc sizes, both verify-join sides), all rooted at the SAME
    dropDuplicates exchange — Spark's ReuseExchange materializes that
    shuffle once and the other branches read its files, so no explicit
    persist is needed (measured: adding one cost +0.4 s of block writes
    at sf0.1 for zero savings)."""
    sigs = minhash_signatures(
        docs, id_col=id_col, text_col=text_col, num_hashes=num_hashes, shingle_n=shingle_n
    )
    cand = lsh_candidate_pairs(
        sigs,
        num_hashes=num_hashes,
        bands=bands,
        star_bucket_threshold=star_bucket_threshold,
    )
    terms = _distinct_terms(docs, id_col, text_col, shingle_n)
    return _verify_jaccard(cand, terms, threshold)


def _verify_jaccard(cand: DataFrame, terms: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of (doc_a, doc_b) candidates against the
    distinct-term relation — shingles are joined only for candidate pairs
    (semi-join pruned), never all-pairs."""
    sizes = terms.groupBy("_id").agg(F.count(F.lit(1)).alias("sz"))
    sa, sb = terms.alias("sa"), terms.alias("sb")
    inter = (
        cand.join(sa, F.col("doc_a") == F.col("sa._id"))
        .join(
            sb,
            (F.col("doc_b") == F.col("sb._id")) & (F.col("sa.term") == F.col("sb.term")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# --------------------------------------------------------------------------
# Portable-hash MinHash twin (round 7): md5-derived permutation hashes
# --------------------------------------------------------------------------

def portable_term_hash(term: Column, i: int) -> Column:
    """60-bit permutation hash from md5, reproducible in ANSI SQL.

    Spark: conv(substring(md5(i || ':' || term), 1, 15), 16, 10)::long.
    DuckDB twin: ('0x' || substr(md5(i || ':' || term), 1, 15))::BIGINT.
    15 hex digits = 60 bits, so the value fits a signed 64-bit integer on
    both engines with no overflow disagreement."""
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit(str(i)), term)), 1, 15), 16, 10
    ).cast("long")


def _portable_band_key(*hashes: Column) -> Column:
    """Band key of the md5 family: decimal-rendered row hashes joined
    with '|' — identical string on both engines."""
    return F.concat_ws("|", *[h.cast("string") for h in hashes])


def _sig_match_estimate(num_hashes: int) -> Column:
    """Signature-estimated Jaccard for a candidate pair: the fraction of
    the ``num_hashes`` MinHash positions that agree, computed over the
    aliased a{i}/b{i} signature columns of a pair join. Integer
    compares + one division — identical doubles on Spark and DuckDB."""
    matched = reduce(
        add,
        [
            F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
            for i in range(num_hashes)
        ],
    )
    return matched.cast("double") / F.lit(float(num_hashes))


def near_dup_pairs_minhash_portable(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
    threshold: float = 0.5,
    star_bucket_threshold: int | None = 64,
) -> DataFrame:
    """The same banded-LSH → star-guard → exact-Jaccard-verify flow as
    ``near_dup_pairs_minhash``, with the xxhash64 hash families swapped for
    md5-derived ones (``portable_term_hash``) so EVERY stage — signatures,
    band keys, the star guard's oversized-bucket rule, verification — has
    an exact DuckDB twin the driver can hash-verify end to end. md5 is
    ~2-3× the per-term cost of xxhash64, so the xxhash64 path stays the
    scale default; this is its fully-verified twin (the pattern proved by
    the semantic-dedup oracle, plans/advanced_queries.py)."""
    terms = _distinct_terms(docs, id_col, text_col, shingle_n)
    sigs = _min_hashes(terms, num_hashes, portable_term_hash)
    cand = _band_candidates(
        _bands(sigs, num_hashes, bands, _portable_band_key), star_bucket_threshold
    )
    return _verify_jaccard(cand, terms, threshold)


# --------------------------------------------------------------------------
# Persisted MinHash signature index → incremental NEAR-dup dedup (round 13)
# --------------------------------------------------------------------------

def build_minhash_index(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 1,
    threshold: float = 0.5,
    star_bucket_threshold: int = 64,
    est_slack: float = 0.1875,
) -> None:
    """Materialize the portable-MinHash signature/band store so NEAR-dup
    dedup gets the same build → append → probe lifecycle as the four ANN
    indexes (r12 verdict ask #2): at 100 TB you cannot re-sign the corpus
    for every arriving batch — the signatures and term sets are computed
    ONCE and new batches band-probe only the colliding buckets.

    Layout under ``path``:

    - ``bands/``: (doc_id, band_id, band_key) — the probe surface, one
      row per (doc, band). Range-partitioned + sorted by (band_id,
      band_key) so row-group min/max stats prune probe scans.
      ``bucketBy(band_key)`` (zero-exchange colocated probes) was
      CONSIDERED and deliberately not taken (r13 verdict option b):
      bucketed tables require a metastore ``saveAsTable``, coupling a
      path-addressed self-contained store to a catalog, and the probe's
      exchange is BATCH-sized (the stored side is read through a
      semi-join on the batch's keys), so after the r14 re-execution cut
      the exchange is noise next to verify — stats pruning gives the
      scan-side win without the coupling. A deployment with a proper
      catalog can still bucket: every probe consumer joins on
      (band_id, band_key) only.
    - ``sigs/``: (doc_id, h0..h{k-1}) — the full MinHash signatures,
      sorted by id. Probes estimate Jaccard from matched signature
      positions and PREFILTER band-collision candidates (estimate ≥
      threshold − est_slack) before any term fetch — the r13 verdict's
      probe-wall cut: the exact term-join verify sees only plausible
      pairs. Also the maintenance-rebuild input.
    - ``terms/``: (doc_id, term) — the distinct term sets verification
      joins, precomputed so a probe NEVER re-tokenizes or re-hashes an
      indexed document (texts are read back only by a deployment that
      wants the surviving bodies). Sorted by id for stats pruning.
    - ``texts/``: (doc_id, text) of the INDEXED docs, sorted by id; its
      id set is what the replay/id guard keys on. A deployment whose
      corpus is already a table can point this at it; storing it keeps
      the index self-contained.
    - ``meta/``: one row (num_hashes, bands, shingle_n, threshold,
      star_bucket_threshold, est_slack) so appends are self-describing
      and use the exact hash family/banding the index was built with.
      The same row is the manifest's build parameters.

    All five tables commit together in one manifest swap
    (``operators/indexstore.py``), as does every later append, compaction
    and rebuild.

    Every stage uses the md5 ``portable_term_hash`` family, so the whole
    incremental flow (signatures, band keys, star guard, prefilter,
    verification, survivor rule) has an exact DuckDB replay — the driver
    hash-verifies it end to end (``dedup_incremental_minhash``)."""
    # the term relation feeds three writes (bands via sigs, sigs, terms);
    # cache it for the build's duration so the corpus is tokenized ONCE —
    # MEMORY_AND_DISK, so a corpus-scale build spills instead of OOMing
    from pyspark import StorageLevel

    terms = _distinct_terms(docs, id_col, text_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sigs = _min_hashes(terms, num_hashes, portable_term_hash).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    band_rows = _bands(sigs, num_hashes, bands, _portable_band_key).select(
        F.col("_id").alias("doc_id"), "band_id", "band_key"
    )
    # sigs/ first and alone: its job materializes BOTH caches (sigs reads
    # terms), so the concurrent wave below hits warm blocks instead of
    # racing to compute the same partitions. bands/terms/texts then run
    # as one 3-concurrent wave (guide §2.6): each write's straggler tail
    # frees cores the next job back-fills — 4 sequential jobs → 1 + wave.
    # Nothing is visible until the one commit at the end.
    t_texts, t_bands, t_sigs, t_terms = indexstore.MINHASH_TABLES
    first = indexstore.write(sigs.withColumnRenamed("_id", "doc_id"), path, t_sigs)
    wave = indexstore.write_wave(
        lambda: indexstore.write(band_rows, path, t_bands),
        lambda: indexstore.write(
            terms.select(F.col("_id").alias("doc_id"), "term"), path, t_terms
        ),
        lambda: indexstore.write(
            docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
            path,
            t_texts,
        ),
    )
    sigs.unpersist()
    terms.unpersist()
    # NOT NULL: the meta/ parquet schema every existing store was written with
    meta = indexstore.write_meta(
        docs.sparkSession,
        path,
        "num_hashes int NOT NULL, bands int NOT NULL, shingle_n int NOT NULL,"
        " threshold double NOT NULL, star_bucket_threshold int NOT NULL,"
        " est_slack double NOT NULL",
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        star_bucket_threshold=star_bucket_threshold,
        est_slack=est_slack,
    )
    indexstore.commit(path, first, *wave, meta)


def minhash_index_append(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental NEAR-dup dedup of a new batch against a
    ``build_minhash_index`` store, then append the survivors — the
    near-dup analogue of ``incremental_dedup`` (which is exact-sha only).

    Flow — per-batch work is bounded by the batch and its COLLISIONS,
    never the corpus:

    1. Sign the batch (portable MinHash → signatures → band rows; the
       corpus is NOT re-signed).
    2. Band-probe: semi-join the stored band table to the batch's band
       keys — only buckets the batch touches are read; bucket size and
       min-id (the star guard) are computed over that touched membership,
       which equals what a full rebuild would see for those buckets, and
       both run ``_band_candidates`` (here keeping batch-touching pairs
       only), so probe candidates ≡ rebuild candidates by construction.
    3. PREFILTER by signature-estimated Jaccard (r13 verdict ask #1):
       the fraction of matched MinHash positions estimates J, and the
       signatures are already in hand (batch in-flight, partners in
       ``sigs/``) — candidates estimating < threshold − est_slack are
       dropped BEFORE any term fetch, so the exact verify joins only
       plausible pairs. The default slack (0.1875 → cutoff 5/16 at the
       registry parameters) sits one signature quantum above the floor a
       single band collision guarantees (rows/num_hashes = 4/16), so it
       prunes only pairs with no agreement beyond their colliding band;
       a pair with true J ≥ threshold estimating below the cutoff is a
       ~2σ MinHash underestimate — possible in principle (the estimate
       is binomial), measured absent at all three fixture SFs, and the
       DuckDB oracle replays the SAME prefilter, so the two engines
       agree by construction either way.
    4. Exact-Jaccard verify: candidate partners' term sets are read from
       ``terms/`` by id semi-join — a probe never re-tokenizes or
       re-hashes an indexed document.
    5. Survivor rule — non-transitive by design, the oracle-exact form:
       a batch doc is DROPPED iff it has a verified pair with any indexed
       doc, or with a smaller-id batch doc (the pair-min rule; chains are
       handled by ``rebuild_minhash_index``, like every LSH dedup).
       Empty docs have no terms → no bands → always survive.
    6. Append the SURVIVORS' band rows, signatures, terms and texts as
       four concurrent jobs and one commit: a crash before the manifest
       swap leaves the store exactly as it was, so a replay re-processes
       the batch against the same state.

    The band-probe chain, the prefiltered candidate set, and the verify
    term relation are each ``localCheckpoint``-ed — all bounded by the
    batch and its collisions, NEVER the corpus. Without the cuts every
    downstream branch (three verify term uses, four appends, the
    caller's action) re-executed the probe from the parquet scans up —
    measured 12.5 s/batch at sf0.1, ~4 s after (the r13 probe wall).

    Re-appending an already-indexed batch is a no-op on the store — the
    idempotence contract streaming-ingest crash replays rely on: ids
    already in the index are dropped up front (the candidate join's
    strict ``id < id`` would otherwise never pair a doc with its own
    replayed copy), and same-text/new-id copies verify at J=1.0."""
    meta = indexstore.read_meta(path, "build_minhash_index")
    nh, nb, sh = meta["num_hashes"], meta["bands"], meta["shingle_n"]
    thr, star = meta["threshold"], meta["star_bucket_threshold"]
    slack = meta["est_slack"]

    indexed_ids = indexstore.read(spark, path, "texts").select(
        F.col("doc_id").alias(id_col)
    )
    new_docs = new_docs.join(indexed_ids, id_col, "left_anti")
    new_terms = _distinct_terms(new_docs, id_col, text_col, sh)
    # ONE batch tokenize+hash pass: signatures are checkpointed (batch-
    # sized), and band rows are a projection of them
    new_sigs = _min_hashes(new_terms, nh, portable_term_hash).localCheckpoint()
    new_bands = _bands(new_sigs, nh, nb, _portable_band_key)
    stored = indexstore.read(spark, path, "bands")
    keys = new_bands.select("band_id", "band_key").distinct()
    touched = stored.join(keys, ["band_id", "band_key"], "left_semi")
    members = touched.select(
        F.col("doc_id").alias("_id"), "band_id", "band_key", F.lit(False).alias("is_new")
    ).unionByName(new_bands.withColumn("is_new", F.lit(True)))
    cand = _band_candidates(members, star, new="is_new")

    # signature-estimate prefilter BEFORE any term fetch: batch sigs are
    # in hand, partner sigs come from the store
    sig_union = new_sigs.withColumnRenamed("_id", "doc_id").unionByName(
        indexstore.read(spark, path, "sigs")
    )
    sa_sig = sig_union.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(nh)],
    )
    sb_sig = sig_union.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(nh)],
    )
    cand = (
        cand.join(sa_sig, "doc_a")
        .join(sb_sig, "doc_b")
        .filter(_sig_match_estimate(nh) >= F.lit(thr) - F.lit(slack))
        .select("doc_a", "doc_b")
        # collision-bounded; cuts the band-probe chain out of every
        # downstream branch (verify runs it once, not 4-6×)
        .localCheckpoint()
    )

    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # partner term sets come precomputed from the store — a probe never
    # re-tokenizes indexed docs; checkpoint the (batch + collisions)-
    # bounded relation so verify's three uses (sizes + both join sides)
    # read it instead of re-running the scans
    old_terms = (
        indexstore.read(spark, path, "terms")
        .join(cand_ids, "doc_id", "left_semi")
        .select(F.col("doc_id").alias("_id"), "term")
    )
    terms = new_terms.unionByName(old_terms).localCheckpoint()
    vpairs = _verify_jaccard(cand, terms, thr)

    new_ids = new_docs.select(F.col(id_col).alias("_nid"))
    # doc_a < doc_b always, so a batch doc_b is dropped whatever doc_a is
    # (indexed partner OR smaller batch doc); a batch doc_a is dropped
    # only when its larger partner is an indexed doc
    dropped_b = vpairs.join(
        new_ids, F.col("doc_b") == F.col("_nid"), "left_semi"
    ).select(F.col("doc_b").alias("_d"))
    a_new = vpairs.join(new_ids, F.col("doc_a") == F.col("_nid"), "left_semi")
    dropped_a = a_new.join(
        new_ids, F.col("doc_b") == F.col("_nid"), "left_anti"
    ).select(F.col("doc_a").alias("_d"))
    # ONE execution of the probe+verify pipeline: everything downstream
    # (bands append, texts append, the survivors the caller acts on)
    # consumes the dropped-id set, which is bounded by the BATCH size —
    # without this cut the expensive corpus-side probe re-runs for every
    # write/action (measured 3× on the registry row)
    dropped = dropped_b.union(dropped_a).distinct().localCheckpoint()
    survivors = new_docs.join(
        dropped, F.col(id_col) == F.col("_d"), "left_anti"
    )

    surv_ids = survivors.select(F.col(id_col).alias("_id"))
    # the stored-side scans name the files of the version read above, so
    # `survivors` re-executing for the caller sees the same store. The
    # four appends run as one wave of concurrent jobs (guide §2.6: each
    # write's tail leaves cores idle that the next job back-fills) and
    # commit together. Survivors are batch docs, so their term rows all
    # sit in the checkpointed verify relation (new_terms ⊆ terms; indexed
    # ids are never survivors).
    def surviving(df: DataFrame) -> DataFrame:
        return df.join(surv_ids, "_id", "left_semi").withColumnRenamed("_id", "doc_id")

    texts = survivors.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    t_texts, t_bands, t_sigs, t_terms = indexstore.MINHASH_TABLES
    indexstore.append(
        path,
        (t_bands, surviving(new_bands).select("doc_id", "band_id", "band_key")),
        (t_sigs, surviving(new_sigs)),
        (t_terms, surviving(terms).select("doc_id", "term")),
        (t_texts, texts),
    )
    return survivors


# --------------------------------------------------------------------------
# Duplicate clusters (connected components) → keep-canonical
# --------------------------------------------------------------------------

def duplicate_clusters(
    pairs: DataFrame,
    *,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id) with
    cluster_id = min doc id reachable through the pair graph. Transitive
    closure matters — A~B and B~C must land A, B, C in ONE cluster even when
    the A~C edge was never emitted (LSH band misses, threshold straddling).

    Partition-local contraction (the shape large dedup pipelines use):
    each distributed round solves connected components WITHIN every
    partition in memory — vectorized NumPy hash-min with pointer doubling
    over the partition's edges, so a million-edge partition converges in
    ~log(diameter) in-memory sweeps, microseconds each — then merges the
    per-partition labelings (one min-aggregate per vertex), relabels the
    edge list, drops self-edges, and recurses on the contracted label
    graph. A chain that pure distributed hash-min needs diameter-many
    shuffle rounds to collapse (measured: 17 rounds on the sf0.1 semantic
    near-dup graph) collapses here in the first local sweep whenever it is
    partition-resident; cross-partition structure survives as a far
    smaller contracted graph, and 2-3 distributed rounds suffice in
    practice. Driver synchronization is one cheap ``isEmpty`` on the
    (checkpointed) contracted edges per round — there is no per-round
    convergence count, and each round's work is 3-4 equi-joins/aggregates
    on vertex-sized tables, all AQE-coalescible. ``localCheckpoint``
    truncates lineage so plan size stays constant across rounds. Only
    nodes appearing in ``pairs`` are returned; singletons are their own
    cluster by definition and never enter the computation.

    Correctness invariants: local components are subsets of true
    components, so every merge is valid; relabeling preserves
    connectivity, so two nodes of one true component either share a label
    or an edge still connects their label classes — the loop only stops
    when no edges remain, at which point each component is exactly one
    label class, rooted at its minimum node id (the minimum maps to
    itself, and a one-class component inherits its label).

    ``checkpoint_dir`` selects the lineage-truncation mode. Default
    (None) uses ``localCheckpoint()``: zero-copy to executor block
    storage — right for local mode and short interactive jobs, but the
    blocks are pinned to live executors, so ON A REAL CLUSTER AN
    EXECUTOR LOSS MID-LOOP KILLS THE JOB (the truncated lineage cannot
    be recomputed). For the 100 TB deployment pass a durable directory
    (HDFS/S3): each round's working set is then written via reliable
    ``checkpoint()`` and survives executor churn, at the cost of one
    distributed write per round — the write is vertex-sized (contracted
    labels/edges, shrinking every round), not corpus-sized. Measured at
    sf0.1 (tools/bench_durable_cc.py, local disk): durable/local =
    0.94× — statistically zero, the working set is small enough that
    the write round-trip sits inside run noise; on a real cluster the
    cost is ~rounds × (HDFS/S3 write+read latency) for those same
    vertex-sized tables. Note ``setCheckpointDir`` is
    SparkContext-global; this call sets it when a dir is supplied.

    CLEANUP: reliable checkpoint files are NOT removed by default —
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` defaults to
    false, so each contraction round leaves its checkpoint dirs behind
    (~3 per solve, up to ``max_iters`` in the adversarial case), which
    accumulates on HDFS/S3 for a long-running pipeline. Either set that
    conf to ``true`` at session build (checkpoints are then GC'd when
    their RDD is unreferenced — safe here, each round only reads the
    previous round's checkpoint) or point ``checkpoint_dir`` at a
    job-scoped path and delete it after the result is materialized, as
    tools/bench_durable_cc.py does."""
    # the partition-local NumPy solve and its Arrow schema are integral;
    # reject non-integral ids up front (the pre-contraction propagation
    # was type-generic — string/UUID ids would now fail deep inside Arrow
    # with an opaque cast error; map such ids to longs, e.g. xxhash64 or
    # a dense rank, before clustering)
    for c in (a_col, b_col):
        dt = pairs.schema[c].dataType.typeName()
        if dt not in ("long", "integer", "short", "byte"):
            raise TypeError(
                f"duplicate_clusters requires integral ids; {c} is {dt} — "
                "pre-map ids to longs (xxhash64 / dense rank) first"
            )
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint()
    else:

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint()

    fwd = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    # checkpoint the symmetrized edge list ONCE: both consumers below
    # (the initial vertex mapping and the contraction loop's working set)
    # would otherwise each re-run the caller's full pair pipeline —
    # for the semantic-dedup caller that is the whole LSH-bucket +
    # exact-cosine verify, measured 1.7 s per extra evaluation at sf0.1
    sym = _ckpt(
        fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    )
    mapping = sym.select("src").distinct().select(
        F.col("src").alias("doc_id"), F.col("src").alias("cluster_id")
    )
    cur = _ckpt(sym.filter(F.col("src") != F.col("dst")))

    def _local_cc(batches):
        import numpy as np
        import pandas as pd

        dfs = list(batches)
        if not dfs:
            return
        pdf = pd.concat(dfs, ignore_index=True)
        if len(pdf) == 0:
            return
        s = pdf["src"].to_numpy()
        d = pdf["dst"].to_numpy()
        nodes, inv = np.unique(np.concatenate([s, d]), return_inverse=True)
        si, di = inv[: len(s)], inv[len(s):]
        lab = np.arange(len(nodes), dtype=np.int64)
        while True:
            new = lab.copy()
            np.minimum.at(new, si, lab[di])
            np.minimum.at(new, di, lab[si])
            new = new[new]  # pointer jump: labels are node indices
            if np.array_equal(new, lab):
                break
            lab = new
        out = pd.DataFrame({"x": nodes, "l": nodes[lab]})
        yield out[out["x"] != out["l"]]

    for _ in range(max_iters):
        if cur.isEmpty():
            break
        local = cur.repartition("src").mapInPandas(_local_cc, "x long, l long")
        # a vertex split across partitions gets one labeling per partition;
        # min over them is still a valid (smaller) member of its component
        m = _ckpt(
            local.groupBy("x")
            .agg(F.min("l").alias("l"))
            .filter(F.col("l") != F.col("x"))
        )
        mapping = _ckpt(
            mapping.join(
                m.select(F.col("x").alias("cluster_id"), F.col("l").alias("_nl")),
                "cluster_id",
                "left",
            )
            .select(
                "doc_id",
                F.coalesce("_nl", "cluster_id").alias("cluster_id"),
            )
        )
        cur = _ckpt(
            cur.join(
                m.select(F.col("x").alias("src"), F.col("l").alias("_ns")),
                "src",
                "left",
            )
            .join(
                m.select(F.col("x").alias("dst"), F.col("l").alias("_nd")),
                "dst",
                "left",
            )
            .select(
                F.coalesce("_ns", "src").alias("src"),
                F.coalesce("_nd", "dst").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
    return mapping


def drop_near_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Keep one canonical (min-id) document per near-dup cluster; documents
    in no pair are untouched. One anti-join against the loser set — the
    loser list is |dup docs| − |clusters| rows, tiny next to the corpus."""
    clusters = duplicate_clusters(pairs, a_col=a_col, b_col=b_col)
    losers = clusters.filter(F.col("cluster_id") != F.col("doc_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def cluster_source_profile(
    clusters: DataFrame,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Cross-source duplication matrix over near-dup clusters — the
    snapshot-overlap question every multi-crawl corpus audit asks
    ("how much of crawl A is near-duplicated in crawl B?"): for every
    unordered source pair ``(source_a ≤ source_b)``, the number of
    clusters with members in both sources and the number of cross-source
    member pairs. A same-source row counts clusters with ≥2 members in
    that source (within-source duplication) and its
    ``n·(n−1)/2`` internal pairs.

    Scale shape: ``clusters`` is already the tiny relation (only docs in
    ≥1 near-dup pair); the per-(cluster, source) count aggregate shrinks
    it further, and the pair expansion self-joins THAT relation on
    cluster_id — per-cluster work is |distinct sources in cluster|², with
    the star guard upstream bounding cluster fan-out. The corpus appears
    only as the broadcast-able (id → source) projection."""
    per = (
        clusters.join(docs.select(F.col(id_col), F.col(group_col)), id_col)
        .groupBy("cluster_id", group_col)
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    a, b = per.alias("a"), per.alias("b")
    joined = a.join(
        b,
        (F.col("a.cluster_id") == F.col("b.cluster_id"))
        & (F.col(f"a.{group_col}") <= F.col(f"b.{group_col}")),
    ).filter(
        (F.col(f"a.{group_col}") != F.col(f"b.{group_col}"))
        | (F.col("a._c") >= 2)
    )
    same = F.col(f"a.{group_col}") == F.col(f"b.{group_col}")
    n_pairs = F.when(
        same, (F.col("a._c") * (F.col("a._c") - 1) / 2).cast("long")
    ).otherwise(F.col("a._c") * F.col("b._c"))
    return joined.groupBy(
        F.col(f"a.{group_col}").alias("source_a"),
        F.col(f"b.{group_col}").alias("source_b"),
    ).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum(n_pairs).alias("n_doc_pairs"),
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 63  # bits 0..62 keep the fingerprint in a signed BIGINT


def _simhash(
    docs: DataFrame, id_col: str, text_col: str, term_hash: Column, bits: int
) -> DataFrame:
    """``bits``-bit SimHash: ``term_hash`` (an expression over the
    ``term`` column) per distinct token, each bit votes ±tf, fingerprint
    bit = sign of the vote sum. One explode + one groupBy(id) with
    ``bits`` integer-sum aggregates — all codegen, shuffle carries
    ``bits`` longs/doc."""
    toks = tokens_column(text_col, stop=False)
    tf = (
        fan_out(docs, F.col(id_col))
        .select(F.col(id_col).alias("_id"), F.explode(toks).alias("term"))
        .groupBy("_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("h", term_hash)
    )
    votes = [
        F.sum(
            F.col("tf")
            * (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = tf.groupBy("_id").agg(*votes)
    fp = reduce(
        add,
        [
            F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(bits)
        ],
    )
    return agg.select(
        F.col("_id").alias(id_col), fp.cast("long").alias("simhash")
    )


def simhash_fingerprints(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """63-bit SimHash over per-token xxhash64 (``_simhash``)."""
    return _simhash(docs, id_col, text_col, F.xxhash64(F.col("term")), SIMHASH_BITS)


PORTABLE_SIMHASH_BITS = 60  # portable_term_hash yields 60 bits (15 hex chars)


def simhash_fingerprints_portable(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """60-bit SimHash over md5-derived term hashes — the fully
    SQL-verifiable twin of ``simhash_fingerprints`` (same vote/sign
    construction, ``portable_term_hash`` instead of xxhash64, 60 bits
    because the portable hash carries 15 hex chars). DuckDB reproduces
    every stage: tf, per-bit ±tf votes via (h >> b) & 1, sign fold."""
    return _simhash(
        docs,
        id_col,
        text_col,
        portable_term_hash(F.col("term"), 0),
        PORTABLE_SIMHASH_BITS,
    )


def simhash_near_dup_pairs(
    fingerprints: DataFrame,
    *,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 7,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Near-dup by fingerprint: band the ``bits`` fingerprint bits into
    ``bands`` equal keys (pigeonhole: pairs within ``bands-1`` differing
    bits share ≥1 exact band), bucket-join, then exact hamming filter via
    bit_count(xor). ``bits`` MUST be the actual fingerprint width — the
    63-bit xxhash64 default or PORTABLE_SIMHASH_BITS (60) for the md5
    portable twins (r7 advice: band width must derive from the real
    width, or engine/oracle agreement is a 63//b == 60//b coincidence)."""
    width = bits // bands
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), j * width).bitwiseAND(F.lit((1 << width) - 1))
            for j in range(bands)
        ]
    )
    exploded = fingerprints.select(
        F.col(id_col).alias("_id"),
        F.col("simhash"),
        F.posexplode(band_vals).alias("band_id", "band_val"),
    )
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("doc_a"),
            F.col("b._id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def normalize_for_dedup(text) -> "Column":
    """Casefold/whitespace/punctuation-insensitive canonical form: lower,
    collapse every non-alphanumeric run to one space, trim. Catches the
    near-duplicates exact dedup misses (re-encoded whitespace, trailing
    punctuation, case drift) WITHOUT fuzzy matching cost — still a pure
    narrow expression, still an exact groupBy downstream. Identical
    semantics in the DuckDB oracle (same lower/regexp_replace/trim
    pipeline; the class [^a-z0-9]+ is engine-portable RE2/Java)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "))


def normalized_dedup_summary(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Duplication profile under the normalized form, beside the raw
    one: (n_docs, n_distinct_norm, n_norm_dup_docs, n_extra_vs_exact) —
    the last column is how many duplicates normalization finds that raw
    exact dedup misses, the number that justifies running it.

    Shape: pre-aggregate on the RAW text once, then a single-distinct
    final aggregate over the (much smaller) distinct-text relation —
    norm is a pure function of text, so distinct-norm over distinct
    texts equals distinct-norm over the corpus. Two reasons over the
    naive two-countDistinct one-shot agg: (a) scale — a multi-distinct
    aggregate Expands the corpus 3× before its shuffle, this shuffles
    the corpus once un-expanded and runs the distinct on the contracted
    relation; (b) determinism — Spark's RewriteDistinctAggregates
    assigns the distinct groups' gids in expr-id-hash order, so the
    TWO-distinct plan PRINTS as either of two equivalent variants
    depending on the session's expr-id counter (r9 What's-wrong #1: the
    bench fingerprint for this query flipped between runs of the same
    commit; captured by the r10 bench's self-check text diff). A single
    distinct has one group and one plan."""
    per_text = (
        docs.groupBy(F.col(text_col).alias("_text"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("_norm", normalize_for_dedup("_text"))
    )
    # null semantics match the old form: count("_text")/countDistinct
    # skip the single null-text group, sum(cnt) counts every row
    return per_text.agg(
        F.sum("cnt").alias("n_docs"),
        F.countDistinct("_norm").alias("n_distinct_norm"),
        (F.sum("cnt") - F.countDistinct("_norm")).alias("n_norm_dup_docs"),
        (F.count("_text") - F.countDistinct("_norm")).alias("n_extra_vs_exact"),
    )


# --------------------------------------------------------------------------
# Segment-level exact dedup (CCNet/RefinedWeb line dedup; round 10)
# --------------------------------------------------------------------------

def segment_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 5,
) -> DataFrame:
    """Sub-document exact dedup: split each document into fixed-width
    token segments, keep only the FIRST global occurrence of every
    distinct segment (ordered by (id, position)), and reassemble what
    survives — the line/paragraph dedup step of web-corpus pipelines
    (CCNet, RefinedWeb) with fixed-width segments standing in for lines
    on line-less text. Returns ``(id, n_segments, n_kept, new_text)``
    for EVERY input document (``n_kept=0, new_text=''`` when all of a
    document's segments were seen earlier).

    Scale shape — two shuffles, both load-bearing:

    1. keep-first is ``groupBy(segment).agg(min(struct(id, pos)))`` —
       NOT a window. Partial aggregation collapses each mapper's copies
       of a hot segment before the shuffle, so corpus-wide boilerplate
       (the exact thing this operator removes, possibly 10^6 copies of
       one segment) costs one row per mapper instead of one sorted
       window partition holding every copy. The aggregate's output IS
       the survivor set — no join back to the exploded relation.
    2. reassembly is ``groupBy(id)`` + position-sorted concat; bounded
       by document size.

    The shuffle key is the segment text itself (bounded: ``seg_tokens``
    tokens). Hashing it (sha2) would shrink the key but the segment
    text must travel to the reducer anyway for reassembly, so a digest
    column would be pure overhead here — unlike document-level dedup
    (``sha_fingerprints``) where the body can be left behind."""
    toks = F.split(F.col(text_col), " ")
    n_seg = F.ceil(F.size(toks) / F.lit(float(seg_tokens))).cast("int")
    segments = F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * seg_tokens + 1, seg_tokens)
        ),
    )
    base = docs.select(
        F.col(id_col), n_seg.alias("n_segments"), segments.alias("_segs")
    )
    exploded = base.select(
        id_col, F.posexplode("_segs").alias("seg_idx", "segment")
    )
    kept = (
        exploded.groupBy("segment")
        .agg(
            F.min(
                F.struct(
                    F.col(id_col).alias("i"), F.col("seg_idx").alias("s")
                )
            ).alias("_f")
        )
        .select(
            F.col("_f.i").alias(id_col),
            F.col("_f.s").alias("seg_idx"),
            "segment",
        )
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "segment"))),
                lambda s: s["segment"],
            ),
        ).alias("new_text"),
    )
    return (
        base.select(id_col, "n_segments")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_segments",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("new_text", F.lit("")).alias("new_text"),
        )
    )


# --------------------------------------------------------------------------
# SemDeDup: k-means-bucketed embedding dedup (round 10)
# --------------------------------------------------------------------------

def semdedup_drop_ids(
    emb: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.30,
    round_dp: int = 6,
    engine: str = "hof",
    coarse_probe: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): partition the
    embedding space with k-means, then inside each cluster drop the
    higher-id member of every pair whose cosine similarity (rounded to
    ``round_dp``) is >= ``threshold``. Returns the distinct ids to drop.

    ``engine`` picks the within-cluster pair kernel:

    - ``"hof"`` — the pair scan as a cluster-key self-join whose cosine
      is a JVM higher-order fold, sequential-sum like DuckDB's
      ``list_dot_product``: the ORACLE-parity path, and the right shape
      when the pair count is bounded. The fold is interpreted, ~16 µs
      per 64-dim pair (measured sf0.1) — the per-pair constant, not the
      shuffle, is what limits it.
    - ``"pandas"`` — ``applyInPandas`` per cluster: unit-normalize the
      cluster block once, one BLAS gram matrix (U @ U.T), mask the
      upper triangle — the ~100× fast path for production pair scans
      (the engine-wide UDF policy: when Python, Arrow-batched BLAS,
      never per-row). Values can differ from the fold in the last float
      bit (pairwise-SIMD vs sequential summation), so the rounded
      threshold decision is equal in practice but not PROVABLY equal —
      which is why the driver-verified query keeps the fold and this
      path is pinned by an equality test instead. Requires each
      cluster's block to fit one executor's memory: at the paper's
      k ~ N/1e4 that is ~1e4 × dim floats, trivially so.

    ``coarse_probe`` (None = exact single-level assignment) opts the
    assignment stage into the two-level coarse quantizer
    (``kmeans_assign_two_level``): argmin over ⌈√k⌉ super-centroids,
    refine within the ``coarse_probe`` nearest groups — O(N·√k·dim)
    where k∝N makes single-level assignment O(N²·dim). Approximate at
    coarse_probe=1 (boundary vectors may land one cell over — the same
    recall-for-pruning trade the paper's clustering already makes);
    measured assignment agreement and the ×50 wall drop are in
    DESIGN.md §"Round-11 coarse-quantizer rung".

    Compared to the LSH route (``embedding_near_dup_pairs``): LSH
    buckets by random hyperplanes and needs L tables for recall;
    SemDeDup buckets by LEARNED structure, so semantically-close pairs
    co-locate in one partition by construction and the pair scan is a
    single cluster-key self-join. The tradeoff is also the classic one:
    pairs straddling a cluster boundary are missed (the paper accepts
    this; recall is traded for a one-partition scan).

    Scale: the self-join is quadratic WITHIN a cluster — the k knob
    bounds it. Pick k ~ N/target_cluster_size so the per-reducer pair
    work is (N/k)^2 · k; the paper uses k in the tens of thousands at
    corpus scale. A runaway cluster (all-identical embeddings) is the
    same star-shape hazard as an oversized LSH bucket — cap it upstream
    with exact dedup of identical vectors, which collapses those rows
    before clustering. Rounding the cosine before the threshold
    comparison keeps the decision identical across engines (summation
    order differs ~1e-15; the 0.5e-6 rounding grid absorbs it —
    same convention as the LSH verify stage)."""
    from pyspark_etl_twitter_spark.operators.clustering import (
        kmeans_assign,
        kmeans_assign_join,
        kmeans_assign_two_level,
    )
    from pyspark_etl_twitter_spark.operators.similarity import dot

    # assignment path switches on k: literal fold embeds k·dim doubles
    # in the expression tree (fastest below ~100 centroids, zero
    # exchanges); past that the broadcast centroid RELATION wins — the
    # paper's corpus-scale k is in the tens of thousands, where a
    # literal plan would be MBs of expression tree. Both paths are
    # bit-identical (test_kmeans_assign_join_matches_literal).
    # ``coarse_probe`` opts into the two-level coarse-quantizer rung
    # (O(N·√k·dim) instead of O(N·k·dim) — the k∝N scale path; slightly
    # approximate at n_probe=1, see kmeans_assign_two_level).
    if coarse_probe is not None:
        assigned = kmeans_assign_two_level(
            emb, centroids, id_col=id_col, vec_col=vec_col, n_probe=coarse_probe
        )
    elif len(centroids) > 64:
        assigned = kmeans_assign_join(
            emb, centroids, id_col=id_col, vec_col=vec_col
        )
    else:
        assigned = kmeans_assign(emb, centroids, id_col=id_col, vec_col=vec_col)
    # Precompute each vector's norm ONCE per row before the self-join:
    # evaluating cosine(a, b) whole inside the pair condition would
    # recompute sqrt(<a,a>) and sqrt(<b,b>) per CANDIDATE PAIR —
    # O(pairs · dim) HOF work where O(n · dim) suffices; only the cross
    # dot product is genuinely per-pair.
    with_vec = assigned.select(id_col, "cluster").join(emb, id_col)
    if engine == "pandas":
        return _semdedup_pairs_pandas(
            with_vec, id_col, vec_col, threshold, round_dp
        )
    with_vec = with_vec.withColumn(
        "_nrm", F.sqrt(dot(F.col(vec_col), F.col(vec_col)))
    )
    a, b = with_vec.alias("a"), with_vec.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cluster") == F.col("b.cluster"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    cos = dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")) / (
        F.col("a._nrm") * F.col("b._nrm")
    )
    dups = pairs.filter(F.round(cos, round_dp) >= threshold)
    return dups.select(F.col(f"b.{id_col}").alias(id_col)).distinct()


def semdedup_drop_ids_precollapsed(
    emb: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.30,
    round_dp: int = 6,
    engine: str = "hof",
    coarse_probe: int | None = None,
) -> DataFrame:
    """``semdedup_drop_ids`` with EXACT-duplicate pre-collapse — the
    star-cluster guard the base operator's docstring prescribes, now as
    a composition with PROVABLY identical results (pinned by
    ``test_semdedup_precollapse_equals_plain``):

    identical vectors have cosine exactly 1 ≥ any threshold ≤ 1 and the
    identical argmin cell, so SemDeDup always drops every copy except
    the lowest id. Therefore collapsing each identical-vector group to
    its min-id representative FIRST, running the pair scan over
    representatives only, and emitting
    (every non-representative copy) ∪ (all copies of dropped
    representatives) is the same drop set — while the quadratic
    within-cluster scan sees ONE row per distinct vector. A 10⁶-copy
    boilerplate embedding (the web-corpus reality) costs one
    ``groupBy(vector)`` exchange instead of a 5·10¹¹-pair star.

    The collapse key is the raw vector array (Spark groups on arrays
    natively); the rep table is (vector → min id), joined back narrow."""
    reps = (
        emb.groupBy(vec_col)
        .agg(F.min(id_col).alias("_rep"))
    )
    mapped = emb.join(reps, vec_col).select(
        F.col(id_col), F.col("_rep"), F.col(vec_col)
    )
    rep_corpus = mapped.filter(F.col(id_col) == F.col("_rep")).select(
        F.col(id_col), F.col(vec_col)
    )
    rep_drops = semdedup_drop_ids(
        rep_corpus,
        centroids,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        round_dp=round_dp,
        engine=engine,
        coarse_probe=coarse_probe,
    ).select(F.col(id_col).alias("_dropped_rep"))
    return (
        mapped.join(
            rep_drops, mapped["_rep"] == rep_drops["_dropped_rep"], "left"
        )
        .filter(
            (F.col(id_col) != F.col("_rep"))
            | F.col("_dropped_rep").isNotNull()
        )
        .select(id_col)
    )


def _semdedup_pairs_pandas(
    with_vec: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    round_dp: int,
) -> DataFrame:
    """BLAS kernel for the within-cluster drop scan: one grouped Arrow
    batch per cluster, gram matrix over the unit-normalized block,
    strict-upper-triangle mask (row id < col id after an id sort), drop
    the column ids. The shuffle is the same single cluster-key exchange
    as the self-join; only the per-pair arithmetic moves from the
    interpreted fold to vectorized BLAS."""
    import numpy as np
    import pandas as pd

    def _scan(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids, m = ids[order], m[order]
        nrm = np.sqrt((m * m).sum(axis=1))
        u = m / nrm[:, None]
        hit = np.round(u @ u.T, round_dp) >= threshold
        # strict upper triangle: row index < col index == lower id < higher
        hit &= np.triu(np.ones_like(hit, dtype=bool), k=1)
        return pd.DataFrame({id_col: np.unique(ids[hit.any(axis=0)])})

    # no global distinct needed: every id lives in exactly one cluster
    # group and the kernel emits each at most once
    return (
        with_vec.select(id_col, "cluster", vec_col)
        .groupBy("cluster")
        .applyInPandas(_scan, schema=f"{id_col} long")
    )


def semdedup_from_ivf(
    spark,
    index_path: str,
    *,
    threshold: float = 0.30,
    round_dp: int = 6,
) -> DataFrame:
    """SemDeDup over a PERSISTED IVF index (``similarity.build_ivf_index``
    layout) — the corpus-scale form of ``semdedup_drop_ids``.

    At 100 TB the expensive half of SemDeDup is the assignment sweep, and
    an IVF deployment has already paid it: the index's ``assignments``
    table holds (vec_id, emb, nrm, list_id) hive-partitioned BY LIST, so
    this operator is just the within-list pair scan — each inverted list
    is one pruned partition read, norms are precomputed at build time,
    and the bucketing cost is amortized across every consumer of the
    index (probes, appends, dedup). Same contract as the standalone
    operator: drop the higher-id member of every within-list pair whose
    cosine (rounded to ``round_dp``) >= ``threshold``; cross-list pairs
    are missed by design (IVF lists are cosine-argmax cells rather than
    the L2-argmin Voronoi cells of ``kmeans_assign`` — the boundary-miss
    tradeoff is the same, the cells differ)."""
    from pyspark_etl_twitter_spark.operators.similarity import dot

    vecs = indexstore.read(spark, index_path, "assignments").select(
        "vec_id", "emb", "nrm", "list_id"
    )
    a, b = vecs.alias("a"), vecs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.list_id") == F.col("b.list_id"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    cos = dot(F.col("a.emb"), F.col("b.emb")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    dups = pairs.filter(F.round(cos, round_dp) >= threshold)
    return dups.select(F.col("b.vec_id").alias("vec_id")).distinct()


# --------------------------------------------------------------------------
# Cross-document duplicated-span REMOVAL (round 12)
# --------------------------------------------------------------------------

def remove_duplicated_spans(
    docs: DataFrame,
    *,
    n: int = 8,
    min_docs: int = 2,
    keep_first: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
    scale_mode: str = "postings",
) -> DataFrame:
    """Exact-substring deduplication at n-gram granularity — the REMOVAL
    companion to the ``repeated_ngram_spans`` diagnostic (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": cut the
    duplicated substring out of every occurrence, don't drop the doc).

    A token is removed iff it is covered by ANY word ``n``-gram that
    appears in at least ``min_docs`` DISTINCT documents; adjacent and
    overlapping duplicated n-grams therefore merge into maximal removed
    spans, which is exactly the paper's maximal-match semantics with a
    minimum match length of ``n`` tokens (their suffix-array ExactSubstr
    is the single-node construction; the n-gram fingerprint + groupBy
    form is the shuffle-native equivalent).

    ``keep_first=True`` is the paper-faithful retention mode: each
    duplicated n-gram's CANONICAL occurrence — the (doc, start) argmin,
    deterministic — is exempt from removal, so one copy of every
    boilerplate block survives the corpus instead of none (the variant
    that matters when the duplicated text is the only copy of real
    content). The argmin rides the same fingerprint aggregate that
    counts distinct docs: zero extra shuffles.

    Returns one row per document: ``id_col``, ``keep_cols``,
    ``n_tokens`` (before), ``tokens_removed``, and the rebuilt
    ``text_col`` (surviving tokens re-joined with single spaces; a doc
    that was entirely boilerplate rebuilds to the empty string).

    Scale: the gram stream is |tokens| rows of (doc, start, 32-hex md5)
    — the one big exchange, keyed on the fingerprint (counts are
    aggregated, never pairs, so a licence block in half the corpus is a
    skewed REDUCER, not a pair blowup). Two shapes for the duplicated-
    postings re-expansion, selected by ``scale_mode``:

    - ``"postings"`` (default): ONE pass over the gram stream collecting
      each fingerprint's posting list. Fastest at bench scale (halves
      the corpus scans vs join-back; measured 5.9 → 3.6 s at sf0.1),
      but the hottest fingerprint's postings materialize as an ARRAY in
      one task — AQE skew handling canNOT split a single aggregation
      group (r12 advice), so a fingerprint with ~10⁸ postings (a
      boilerplate block across a 100 TB corpus) is a multi-GB single
      task. Use when the max per-fingerprint occurrence count is known
      to be bounded (~12 MB per million postings).
    - ``"aggjoin"``: no array ever forms. The fingerprint aggregate
      keeps only (distinct-doc count, canonical argmin) — constant
      state per group, safe for arbitrarily hot fingerprints — and the
      flagged starts come from joining the duplicated fingerprints back
      to the gram stream (a second corpus scan; AQE's skew-JOIN
      splitting applies to that join). This is the 100 TB shape.

    Both modes return identical rows (equality-pinned in tests). The
    flagged-start relation that returns to each doc is bounded by the
    doc's own gram count, and the rebuild is a per-row higher-order
    filter — zero Python end to end, so DuckDB replays every stage
    verbatim.
    """
    from pyspark_etl_twitter_spark.operators.textstats import ws_tokens

    toks = ws_tokens(text_col)
    sz = F.size(toks)
    idx = F.when(
        sz >= n, F.sequence(F.lit(0), (sz - n).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    gram_fp = lambda i: F.md5(  # noqa: E731
        F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    grams = docs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                idx, lambda i: F.struct(i.alias("start"), gram_fp(i).alias("fp"))
            )
        ).alias("g"),
    ).select(id_col, F.col("g.start").alias("start"), F.col("g.fp").alias("fp"))

    if scale_mode == "postings":
        # ONE pass over the gram stream: aggregate each fingerprint's
        # full posting list, filter to duplicated fps, and re-expand only
        # THOSE postings — vs the agg + join-back shape, this halves the
        # corpus scans and fp shuffles (the r11 DSIR single-scan lesson;
        # measured 5.9 -> 3.6 s at sf0.1 with identical output hashes).
        # The hottest fingerprint's postings form one ARRAY in one task
        # (~12 MB per million postings) — see the docstring's scale_mode
        # contract for when to switch to "aggjoin".
        posts = grams.groupBy("fp").agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("d"), F.col("start").alias("s"))
            ).alias("posts")
        )
        nd = F.size(
            F.array_distinct(F.transform(F.col("posts"), lambda p: p["d"]))
        )
        dup = posts.filter(nd >= min_docs)
        if keep_first:
            canon = F.array_min(F.col("posts"))
            dup = dup.select(
                F.filter(
                    F.col("posts"),
                    lambda p: ~(
                        (p["d"] == canon["d"]) & (p["s"] == canon["s"])
                    ),
                ).alias("posts")
            )
        flagged = dup.select(F.explode("posts").alias("p")).select(
            F.col("p.d").alias(id_col), F.col("p.s").alias("start")
        )
    elif scale_mode == "aggjoin":
        # Constant aggregation state per fingerprint (count + argmin
        # struct), then join the duplicated fps back to the gram stream:
        # a second corpus scan, but no posting array ever materializes —
        # an arbitrarily hot fingerprint is just a skewed JOIN key, which
        # AQE's skew-join splitting DOES handle (unlike a hot group).
        stats = grams.groupBy("fp").agg(
            F.count_distinct(F.col(id_col)).alias("_nd"),
            F.min(
                F.struct(F.col(id_col).alias("d"), F.col("start").alias("s"))
            ).alias("canon"),
        )
        dupfp = stats.filter(F.col("_nd") >= min_docs).select("fp", "canon")
        hit = grams.join(dupfp, "fp")
        if keep_first:
            hit = hit.filter(
                ~(
                    (F.col(id_col) == F.col("canon.d"))
                    & (F.col("start") == F.col("canon.s"))
                )
            )
        flagged = hit.select(id_col, "start")
    else:
        raise ValueError(
            f"scale_mode must be 'postings' or 'aggjoin', got {scale_mode!r}"
        )
    flagged_starts = flagged.groupBy(id_col).agg(
        F.sort_array(F.collect_list("start")).alias("ss")
    )

    joined = docs.join(flagged_starts, id_col, "left").withColumn(
        "ss", F.coalesce(F.col("ss"), F.array().cast("array<int>"))
    )
    ss = F.col("ss")
    kept = F.filter(
        F.transform(
            toks,
            lambda x, p: F.when(
                ~F.exists(ss, lambda s: (s <= p) & (p < s + n)), x
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return joined.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        sz.alias("n_tokens"),
        (sz - F.size(kept)).cast("long").alias("tokens_removed"),
        F.array_join(kept, " ").alias(text_col),
    )


def compact_minhash_index(spark: SparkSession, path: str) -> tuple[int, int]:
    """MinHash twin of ``similarity.compact_lsh_index``: every
    ``minhash_index_append`` / ``streaming_minhash_dedup_ingest`` batch
    appends files to the store's four tables, and probe latency is
    footer-read-bound — periodic compaction is the maintenance half of
    the incremental-dedup story. Rewrites each table in the build layout
    (range-partitioned + sorted: (band_id, band_key) for bands, doc_id
    for sigs/terms/texts), leaving meta and probe results untouched
    (equality tested), and commits the four rewrites together.
    Single-writer by contract. Returns (files_before, files_after) over
    all tables."""
    return indexstore.compact(spark, path, indexstore.MINHASH_TABLES)


def rebuild_minhash_index(spark: SparkSession, path: str) -> DataFrame:
    """Maintenance rebuild of a ``build_minhash_index`` store (r13
    verdict ask #5): ``minhash_index_append``'s survivor rule is
    deliberately NON-transitive (a batch doc is checked against the
    index and smaller-id batch docs, so A~B, B~C chains can leave both
    A and C in the store), and ``build_minhash_index`` itself never
    dedups its build corpus — this operator closes both gaps by
    re-clustering the WHOLE store and keeping one canonical (min-id)
    document per near-dup cluster, then rewriting the four tables
    without the dropped docs.

    Everything is computed from the PERSISTED relations — stored band
    rows feed the star-guarded candidate join (``_band_candidates``, the
    append's own), stored term sets feed the exact-Jaccard verify — so a
    rebuild never re-tokenizes or re-hashes a document (the one-shot
    candidate algebra over the store's docs). Cluster collapse is
    ``duplicate_clusters`` (partition-local contraction CC). The dropped
    set is localCheckpoint-ed (bounded by the duplicate count), since all
    four table rewrites read it; they commit together. Returns the kept
    (doc_id, text) rows re-read from the rewritten store.

    Equality contract (oracle-pinned by ``dedup_minhash_maintenance``):
    rebuild-after-appends ≡ clusters+keep-canonical over the one-shot
    portable pair algebra on (corpus ∪ append survivors)."""
    meta = indexstore.read_meta(path, "build_minhash_index")
    star, thr = meta["star_bucket_threshold"], meta["threshold"]
    band_rows = indexstore.read(spark, path, "bands").withColumnRenamed("doc_id", "_id")
    terms = indexstore.read(spark, path, "terms").select(
        F.col("doc_id").alias("_id"), "term"
    )
    cand = _band_candidates(band_rows, star)
    vpairs = _verify_jaccard(cand, terms, thr)
    dropped = (
        duplicate_clusters(vpairs.select("doc_a", "doc_b"))
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
        .localCheckpoint()
    )
    indexstore.compact(
        spark,
        path,
        indexstore.MINHASH_TABLES,
        lambda df: df.join(dropped, "doc_id", "left_anti"),
    )
    return indexstore.read(spark, path, "texts")


# --------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup (round 14)
# --------------------------------------------------------------------------

#: Mersenne modulus for the CDC rolling hash: gear values and fold state
#: stay < 2^31, so acc·31 + g < 2^36 — exact int64 arithmetic on both
#: engines, no overflow disagreement.
CDC_HASH_MOD = 2_147_483_647
CDC_HASH_BASE = 31


def _cdc_gear(tok: Column) -> Column:
    """Portable per-token gear value: the md5 60-bit construction
    (``portable_term_hash``) reduced mod ``CDC_HASH_MOD`` — identical
    non-negative integers on Spark and DuckDB."""
    return portable_term_hash(tok, 0) % CDC_HASH_MOD


def cdc_chunk_dedup(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 4,
    divisor: int = 8,
) -> DataFrame:
    """Sub-document dedup over CONTENT-DEFINED chunk boundaries — the
    shift-robust twin of ``segment_dedup``: fixed-width segments fall
    out of phase after a single token insertion (every later segment
    changes), while a rolling-hash boundary depends only on the last
    ``window`` tokens, so boundaries RE-ALIGN right after an edit and
    the downstream chunks dedup again — the property CDC storage
    systems (and LLM-corpus near-edit dedup) are built on.

    Boundary rule: position ``i`` closes a chunk when the gear-style
    rolling hash of tokens ``(i-window, i]`` ≡ 0 mod ``divisor`` (the
    last position always closes) — expected chunk length ≈ ``divisor``
    tokens, geometric. The hash is a left fold ``acc·31 + gear(tok)
    mod 2^31-1`` over the bounded window, computed per position as one
    higher-order-array expression: O(n·window) integer ops per doc,
    zero shuffle, codegen throughout, and DuckDB replays the identical
    fold (``list_reduce`` with a prepended 0 seed over the same gear
    list). Keep-first + reassembly are exactly ``segment_dedup``'s two
    load-bearing shuffles (map-side-combined min-struct aggregate, then
    a doc-bounded groupBy) — see that docstring for the 100 TB shape.

    Returns ``(id, n_chunks, n_kept, new_text)`` for EVERY input doc.

    STAGED PROJECTIONS are load-bearing: the gear array is materialized
    as a column in its OWN select before the per-position roll
    references it. Inlining the ``transform(toks, gear)`` expression
    inside the roll lambda re-evaluates the whole md5 gear array per
    position (lambda bodies are expression trees, re-evaluated per
    element; codegen subexpression elimination does not reach inside
    higher-order functions) — measured 20.4 s vs 0.68 s for the hash
    stage over the sf0.1 corpus, a 30× cliff. Each derived array
    (``_g``, ``_h``, ``_bp``) therefore gets its own projection; Spark's
    CollapseProject keeps multi-referenced non-cheap aliases
    un-inlined, preserving the once-per-row evaluation.

    TWO more Catalyst traps this operator had to dodge (both found by
    reading the optimized plan, not the code):

    * ``posexplode_outer`` + ``isNotNull`` instead of ``posexplode``:
      the non-outer generator lets ``InferFiltersFromGenerate`` infer
      ``size(_chunks) > 0`` below the Generate, and predicate pushdown
      substitutes the ENTIRE alias chain into that filter — the plan
      gains a Filter whose predicate embeds the md5 gear transform 17
      times, with ``element_at(<bp-expr>, j)`` inside the chunk lambda
      re-evaluating the whole chain per element: O(n²·window) md5 calls
      per doc, a >100× wall (the sf0.1 explode went 1.6 s → >400 s).
      The outer variant removes no rows, so no filter is inferred; the
      ``isNotNull`` guard above the Generate restores exact semantics
      (every doc has ≥1 chunk — the last position always closes — so
      the guard never actually drops anything).
    * boundary positions come from an INDEXED ``transform`` over ``_h``
      (binary lambda, array as the HOF *input* — evaluated once per
      row) rather than ``filter(sequence(1,n), i ->
      element_at(_h,i)…)``, which references ``_h`` inside a lambda
      body and re-evaluates it per position if Catalyst ever inlines
      the alias. Rule of thumb: prior-stage arrays may appear as HOF
      input arguments, never via ``element_at`` inside lambda bodies."""
    base = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
    )
    base = base.select(
        id_col, "_toks", F.transform(F.col("_toks"), _cdc_gear).alias("_g")
    )

    def _roll(i: Column) -> Column:
        start = F.greatest(i - F.lit(window) + 1, F.lit(1))
        return F.aggregate(
            F.slice(F.col("_g"), start, i - start + 1),
            F.lit(0).cast("long"),
            lambda acc, g: (acc * CDC_HASH_BASE + g) % CDC_HASH_MOD,
        )

    base = base.select(
        id_col,
        "_toks",
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("_g"))), _roll
        ).alias("_h"),
    )
    marked = F.transform(
        F.col("_h"),
        lambda hv, i0: F.when(
            (hv % divisor == 0) | (i0 == F.size(F.col("_toks")) - 1), i0 + 1
        ).otherwise(F.lit(None).cast("int")),
    )
    base = base.select(
        id_col, "_toks", F.filter(marked, lambda x: x.isNotNull()).alias("_bp")
    )

    def _chunk(j: Column) -> Column:
        start = F.when(j == 1, F.lit(1)).otherwise(
            F.element_at(F.col("_bp"), j - 1) + 1
        )
        end = F.element_at(F.col("_bp"), j)
        return F.concat_ws(" ", F.slice(F.col("_toks"), start, end - start + 1))

    chunks = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_bp"))), _chunk
    )
    base = base.select(
        id_col, F.size(F.col("_bp")).cast("int").alias("n_chunks"),
        chunks.alias("_chunks"),
    )
    exploded = base.select(
        id_col, F.posexplode_outer("_chunks").alias("chunk_idx", "chunk")
    ).where(F.col("chunk").isNotNull())
    kept = (
        exploded.groupBy("chunk")
        .agg(
            F.min(
                F.struct(
                    F.col(id_col).alias("i"), F.col("chunk_idx").alias("c")
                )
            ).alias("_f")
        )
        .select(
            F.col("_f.i").alias(id_col),
            F.col("_f.c").alias("chunk_idx"),
            "chunk",
        )
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk"))),
                lambda s: s["chunk"],
            ),
        ).alias("new_text"),
    )
    return (
        base.select(id_col, "n_chunks")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_chunks",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("new_text"), F.lit("")).alias("new_text"),
        )
    )
