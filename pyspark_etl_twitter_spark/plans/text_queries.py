"""Text / dedup / similarity / analytics queries with DuckDB oracle twins.

The sentiment queries re-express the reference's entire streaming ML
pipeline (SURVEY.md §1.4) as batch relational algebra over ``documents``;
their oracles rebuild the identical deterministic weight table in pure SQL,
so DuckDB verifies tokenize → stopword-filter → TF → IDF → LR margin →
threshold end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_etl_twitter_spark.functions.lits import lit_doubles_2d, local_table
from pyspark_etl_twitter_spark.functions.stopwords import ENGLISH_STOPWORDS
from pyspark_etl_twitter_spark.operators import dedup as D
from pyspark_etl_twitter_spark.operators import similarity as S
from pyspark_etl_twitter_spark.operators import textstats as TS
from pyspark_etl_twitter_spark.operators.packing import (
    MIX_PRIME as _MIX_PRIME,
    MIX_RESOLUTION as _MIX_RESOLUTION,
)
from pyspark_etl_twitter_spark.operators.sentiment import (
    INTERCEPT,
    MIN_DOC_FREQ,
    build_weight_table,
    fit_and_score,
    sentiment_class_counts,
)
from pyspark_etl_twitter_spark.session import pin_oracle_confs
from pyspark_etl_twitter_spark.sources.catalog import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    pin_oracle_confs(spark)
    return load_table(spark, sf_dir, name)


def _sql_strings(words) -> str:
    return ", ".join("'" + w.replace("'", "''") + "'" for w in words)


_STOPLIST_SQL = _sql_strings(ENGLISH_STOPWORDS)

# Shared SQL fragment: documents tokenized, stop-filtered (engine semantics:
# split on single space, drop empties, case-insensitive stop filter).
_TOK_CTE = f"""
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tok_f AS (
  SELECT doc_id, term FROM tok
  WHERE term <> '' AND lower(term) NOT IN ({_STOPLIST_SQL})
)"""

_WEIGHTS_CTE = f"""
n AS (SELECT count(*) AS n_docs FROM documents),
dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok_f GROUP BY term
),
vocab AS (
  SELECT term, df, row_number() OVER (ORDER BY df DESC, term) - 1 AS idx
  FROM dfreq
),
weights AS (
  SELECT term,
         CASE WHEN df < {MIN_DOC_FREQ} THEN CAST(0.0 AS DOUBLE)
              ELSE ln((CAST((SELECT n_docs FROM n) AS DOUBLE) + 1.0)
                      / (CAST(df AS DOUBLE) + 1.0)) END AS idf,
         CAST((idx % 13) - 6 AS DOUBLE) / 5.0 AS coef
  FROM vocab
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok_f GROUP BY doc_id, term
),
dots AS (
  SELECT tf.doc_id, sum(tf.tf * w.idf * w.coef) AS dot
  FROM tf JOIN weights w USING (term) GROUP BY tf.doc_id
),
scored AS (
  SELECT d.doc_id,
         coalesce(dots.dot, CAST(0.0 AS DOUBLE)) + ({INTERCEPT!r}) AS margin
  FROM documents d LEFT JOIN dots ON d.doc_id = dots.doc_id
)"""


# --------------------------------------------------------------------------
# Sentiment (the reference's core capability, batch-relational)
# --------------------------------------------------------------------------

def sentiment_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return sentiment_class_counts(fit_and_score(docs))


ORACLE_SENTIMENT_CLASSES = f"""
WITH {_TOK_CTE}, {_WEIGHTS_CTE}
SELECT CASE WHEN margin > 0 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(0.0 AS DOUBLE) END AS prediction,
       count(*) AS n_docs
FROM scored GROUP BY 1
"""


def sentiment_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    scored = fit_and_score(docs)
    return scored.select("doc_id", F.round("margin", 6).alias("margin"), "prediction")


ORACLE_SENTIMENT_DOC_SCORES = f"""
WITH {_TOK_CTE}, {_WEIGHTS_CTE}
SELECT doc_id, round(margin, 6) AS margin,
       CASE WHEN margin > 0 THEN CAST(1.0 AS DOUBLE)
            ELSE CAST(0.0 AS DOUBLE) END AS prediction
FROM scored
"""


def sentiment_weights_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fitted weight dimension itself (top 100 terms by idx) — verifies
    vocabulary order, df counts, idf math, coef derivation."""
    docs = _t(spark, sf_dir, "documents")
    w = build_weight_table(docs)
    return (
        w.filter(F.col("idx") < 100)
        .select("term", "idx", "df", F.round("idf", 6).alias("idf"), "coef")
    )


ORACLE_SENTIMENT_WEIGHTS_HEAD = f"""
WITH {_TOK_CTE},
n AS (SELECT count(*) AS n_docs FROM documents),
dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM tok_f GROUP BY term
),
vocab AS (
  SELECT term, df, row_number() OVER (ORDER BY df DESC, term) - 1 AS idx
  FROM dfreq
)
SELECT term, CAST(idx AS INTEGER) AS idx, df,
       round(CASE WHEN df < {MIN_DOC_FREQ} THEN CAST(0.0 AS DOUBLE)
                  ELSE ln((CAST((SELECT n_docs FROM n) AS DOUBLE) + 1.0)
                          / (CAST(df AS DOUBLE) + 1.0)) END, 6) AS idf,
       CAST((idx % 13) - 6 AS DOUBLE) / 5.0 AS coef
FROM vocab
WHERE idx < 100
"""


# --------------------------------------------------------------------------
# Dedup
# --------------------------------------------------------------------------

def dedup_exact_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_summary(_t(spark, sf_dir, "documents"))


ORACLE_DEDUP_EXACT_SUMMARY = """
SELECT count(*) AS n_docs,
       count(DISTINCT text) AS n_distinct_texts,
       CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_dup_docs
FROM documents
"""


def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_groups(_t(spark, sf_dir, "documents"))


ORACLE_DEDUP_EXACT_GROUPS = """
SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
FROM documents GROUP BY text HAVING count(*) > 1
"""


def dedup_sha_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.sha_fingerprints(_t(spark, sf_dir, "documents"))


ORACLE_DEDUP_SHA_FINGERPRINTS = """
SELECT doc_id, sha256(text) AS text_sha FROM documents
"""


def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact unigram-Jaccard pairs on a 2% deterministic subset (the
    quadratic oracle baseline for MinHash — never run unsubsetted at scale)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    return D.ngram_jaccard_pairs(docs, shingle_n=1, threshold=0.5)


ORACLE_DEDUP_JACCARD_PAIRS = """
WITH sub AS (SELECT * FROM documents WHERE doc_id % 50 = 0),
terms AS (
  SELECT DISTINCT doc_id, t.term
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM sub) t
  WHERE t.term <> ''
),
sizes AS (SELECT doc_id, count(*) AS sz FROM terms GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM terms a JOIN terms b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(CAST(n_inter AS DOUBLE)
             / CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.5
"""


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-verified. xxhash64-based → not
    ANSI-SQL-expressible; driver records rows-only (pytest covers recall
    against the exact-Jaccard oracle on fixtures)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return D.near_dup_pairs_minhash(docs, shingle_n=1, threshold=0.5)


_PMH_HASHES = 16
_PMH_BANDS = 4
_PMH_STAR = 64
_PMH_THRESHOLD = 0.5
#: append-probe signature-estimate slack: cutoff = threshold − slack =
#: 5/16, one signature quantum above the 4/16 floor a single band
#: collision guarantees — prunes only pairs with no agreement beyond
#: their colliding band (dedup.minhash_index_append step 3)
_PMH_EST_SLACK = 0.1875


def dedup_minhash_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs over md5-derived permutation hashes — the
    FULLY SQL-VERIFIABLE twin of ``dedup_minhash_pairs`` (r6 verdict ask #3).
    Same 10% subset, same banded-LSH → star-guard → exact-verify algorithm;
    only the hash family differs, so the driver hash-checks the entire flow
    (signatures, band buckets, star edges, verified Jaccard) against DuckDB."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    return D.near_dup_pairs_minhash_portable(
        docs,
        num_hashes=_PMH_HASHES,
        bands=_PMH_BANDS,
        shingle_n=1,
        threshold=0.5,
        star_bucket_threshold=_PMH_STAR,
    )


def _portable_minhash_ctes(
    *,
    base: str = "sub AS (SELECT * FROM documents WHERE doc_id % 10 = 0)",
    src: str = "sub",
    sfx: str = "",
    prefilter: bool = False,
) -> str:
    """The shared CTE chain (subset → signatures → star-guarded candidates
    → verified pairs) — reused by the pairs/clusters/incremental oracles,
    so every twin verifies the SAME candidate algebra. ``base``/``src``
    rebase the chain on another doc-set CTE and ``sfx`` suffixes every
    CTE name (the maintenance oracle runs a second chain over the
    post-append store); ``prefilter=True`` inserts the append path's
    signature-estimate cut (matched positions / num_hashes ≥ threshold −
    est_slack) between candidates and the exact verify, replaying
    ``minhash_index_append`` exactly."""
    rows = _PMH_HASHES // _PMH_BANDS
    hash_cols = ",\n         ".join(
        f"min(('0x' || substr(md5('{i}:' || term), 1, 15))::BIGINT) AS h{i}"
        for i in range(_PMH_HASHES)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {j} AS band_id, concat_ws('|', {cols}) AS band_key FROM sigs{s}".format(
            j=j,
            s=sfx,
            cols=", ".join(
                f"CAST(h{j * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for j in range(_PMH_BANDS)
    )
    matched = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
        for i in range(_PMH_HASHES)
    )
    if prefilter:
        verify_src = f"""candf{sfx} AS (
  SELECT c.doc_a, c.doc_b FROM cand{sfx} c
  JOIN sigs{sfx} a ON a.doc_id = c.doc_a
  JOIN sigs{sfx} b ON b.doc_id = c.doc_b
  WHERE CAST({matched} AS DOUBLE) / {float(_PMH_HASHES)}
        >= {_PMH_THRESHOLD} - {_PMH_EST_SLACK}
),
"""
        cand_name = f"candf{sfx}"
    else:
        verify_src = ""
        cand_name = f"cand{sfx}"
    return f"""{base},
terms{sfx} AS (
  SELECT DISTINCT doc_id, t.term
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {src}) t
  WHERE t.term <> ''
),
sigs{sfx} AS (
  SELECT doc_id,
         {hash_cols}
  FROM terms{sfx} GROUP BY doc_id
),
bands{sfx} AS (
{band_rows}
),
bstats{sfx} AS (
  SELECT doc_id, band_id, band_key,
         count(*) OVER (PARTITION BY band_id, band_key) AS bsz,
         min(doc_id) OVER (PARTITION BY band_id, band_key) AS bmin
  FROM bands{sfx}
),
cand{sfx} AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bstats{sfx} a JOIN bstats{sfx} b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    WHERE a.bsz <= {_PMH_STAR}
    UNION ALL
    SELECT bmin, doc_id FROM bstats{sfx} WHERE bsz > {_PMH_STAR} AND doc_id <> bmin
  )
),
{verify_src}sizes{sfx} AS (SELECT doc_id, count(*) AS sz FROM terms{sfx} GROUP BY doc_id),
inter{sfx} AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM {cand_name} c
  JOIN terms{sfx} a ON a.doc_id = c.doc_a
  JOIN terms{sfx} b ON b.doc_id = c.doc_b AND b.term = a.term
  GROUP BY 1, 2
),
vpairs{sfx} AS (
  SELECT doc_a, doc_b,
         round(CAST(n_inter AS DOUBLE)
               / CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 6) AS jaccard
  FROM inter{sfx}
  JOIN sizes{sfx} sa ON sa.doc_id = doc_a
  JOIN sizes{sfx} sb ON sb.doc_id = doc_b
  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.5
)"""


ORACLE_DEDUP_MINHASH_PORTABLE_PAIRS = f"""
WITH {_portable_minhash_ctes()}
SELECT doc_a, doc_b, jaccard FROM vpairs
"""

ORACLE_DEDUP_CLUSTERS_MINHASH_PORTABLE = f"""
WITH RECURSIVE {_portable_minhash_ctes()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM vpairs
  UNION
  SELECT doc_b, doc_a FROM vpairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
)
SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
"""


def dedup_clusters_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters over the PORTABLE MinHash pairs — the full scale
    composition (bucketed candidates → star guard → exact verify →
    connected components) with every stage DuckDB-verifiable, including
    the transitive closure (recursive CTE). The xxhash64 composition
    (``dedup_clusters_minhash``) stays the fast path."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    pairs = D.near_dup_pairs_minhash_portable(
        docs,
        num_hashes=_PMH_HASHES,
        bands=_PMH_BANDS,
        shingle_n=1,
        threshold=0.5,
        star_bucket_threshold=_PMH_STAR,
    )
    return D.duplicate_clusters(pairs)


def dedup_cluster_source_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix over the portable MinHash near-dup
    clusters (operators/dedup.cluster_source_profile): for each unordered
    source pair, how many clusters span both sources and how many
    cross-source member pairs they contribute — the crawl-overlap audit a
    multi-snapshot corpus runs before mixing. Rides the exact pair
    algebra of ``dedup_clusters_minhash_portable``; the oracle extends
    that row's recursive-CTE closure with the per-(cluster, source)
    count self-join."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    pairs = D.near_dup_pairs_minhash_portable(
        docs,
        num_hashes=_PMH_HASHES,
        bands=_PMH_BANDS,
        shingle_n=1,
        threshold=0.5,
        star_bucket_threshold=_PMH_STAR,
    )
    clusters = D.duplicate_clusters(pairs)
    return D.cluster_source_profile(clusters, docs)


ORACLE_DEDUP_CLUSTER_SOURCE_PROFILE = f"""
WITH RECURSIVE {_portable_minhash_ctes()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM vpairs
  UNION
  SELECT doc_b, doc_a FROM vpairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
),
clusters AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
pc AS (
  SELECT c.cluster_id, d.source, count(*) AS c
  FROM clusters c JOIN sub d USING (doc_id)
  GROUP BY 1, 2
)
SELECT a.source AS source_a, b.source AS source_b,
       count(*) AS n_clusters,
       CAST(sum(CASE WHEN a.source = b.source
                     THEN CAST(a.c * (a.c - 1) / 2 AS BIGINT)
                     ELSE CAST(a.c * b.c AS BIGINT) END) AS BIGINT)
         AS n_doc_pairs
FROM pc a JOIN pc b
  ON a.cluster_id = b.cluster_id AND a.source <= b.source
WHERE a.source <> b.source OR a.c >= 2
GROUP BY 1, 2
"""


def dedup_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (rows-only: xxhash64 not SQL-expressible)."""
    return D.simhash_fingerprints(_t(spark, sf_dir, "documents"))


def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash over md5-derived term hashes — the fully
    SQL-verifiable twin of ``dedup_simhash_fingerprints`` (r7; same
    vote/sign construction, portable hash family, one bit-budget short of
    the xxhash64 path's 63)."""
    return D.simhash_fingerprints_portable(_t(spark, sf_dir, "documents"))


def _portable_simhash_oracle() -> str:
    from pyspark_etl_twitter_spark.operators.dedup import PORTABLE_SIMHASH_BITS

    votes = ",\n         ".join(
        f"sum(tf * (((h >> {b}) & 1) * 2 - 1)) AS b{b}"
        for b in range(PORTABLE_SIMHASH_BITS)
    )
    fold = "\n       + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(PORTABLE_SIMHASH_BITS)
    )
    return f"""
WITH tf0 AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
  WHERE term <> ''
  GROUP BY doc_id, term
),
tf AS (
  SELECT doc_id, tf,
         ('0x' || substr(md5('0:' || term), 1, 15))::BIGINT AS h
  FROM tf0
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM tf GROUP BY doc_id
)
SELECT doc_id,
       CAST({fold} AS BIGINT) AS simhash
FROM votes
"""


ORACLE_DEDUP_SIMHASH_PORTABLE = _portable_simhash_oracle()


_PSH_BANDS = 6  # 60 bits / 6 = 10-bit bands; pigeonhole covers hamming ≤ 5
_PSH_MAX_HAMMING = 5


def dedup_simhash_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hamming search over the PORTABLE SimHash fingerprints — the
    full simhash near-dup flow (fingerprint → 10-bit band bucket join →
    exact bit_count(xor) filter) with every stage DuckDB-verifiable.
    bands=6 over the 60-bit fingerprint guarantees any pair within
    hamming ≤ 5 shares at least one exact band (pigeonhole)."""
    fps = D.simhash_fingerprints_portable(_t(spark, sf_dir, "documents"))
    return D.simhash_near_dup_pairs(
        fps,
        max_hamming=_PSH_MAX_HAMMING,
        bands=_PSH_BANDS,
        bits=D.PORTABLE_SIMHASH_BITS,
    )


def _portable_simhash_pairs_oracle() -> str:
    from pyspark_etl_twitter_spark.operators.dedup import PORTABLE_SIMHASH_BITS

    width = PORTABLE_SIMHASH_BITS // _PSH_BANDS
    mask = (1 << width) - 1
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {j} AS band_id, "
        f"(simhash >> {j * width}) & {mask} AS band_val FROM fp"
        for j in range(_PSH_BANDS)
    )
    # reuse the fingerprint construction verbatim (same CTE text as the
    # fingerprints oracle, aliased fp) so both oracles verify one algebra
    fp_sql = _portable_simhash_oracle().strip()
    assert fp_sql.startswith("WITH ")
    body = fp_sql[len("WITH "):]
    head, tail = body.rsplit("SELECT doc_id,", 1)
    return f"""{head.rstrip()},
fp AS (
  SELECT doc_id,{tail}
),
bands AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id
),
hpairs AS (
  SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
  FROM cand
  WHERE bit_count(xor(sa, sb)) <= {_PSH_MAX_HAMMING}
)"""


ORACLE_DEDUP_SIMHASH_PORTABLE_PAIRS = f"""
WITH {_portable_simhash_pairs_oracle()}
SELECT doc_a, doc_b, hamming FROM hpairs
"""

ORACLE_DEDUP_CLUSTERS_SIMHASH_PORTABLE = f"""
WITH RECURSIVE {_portable_simhash_pairs_oracle()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM hpairs
  UNION
  SELECT doc_b, doc_a FROM hpairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
)
SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
"""


def dedup_clusters_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the portable-SimHash hamming pairs — the
    third fully-verified dedup composition (after exact-Jaccard and
    portable-MinHash clusters): fingerprint → band bucket join → hamming
    verify → transitive closure, every stage DuckDB-replayed."""
    fps = D.simhash_fingerprints_portable(_t(spark, sf_dir, "documents"))
    pairs = D.simhash_near_dup_pairs(
        fps,
        max_hamming=_PSH_MAX_HAMMING,
        bands=_PSH_BANDS,
        bits=D.PORTABLE_SIMHASH_BITS,
    )
    return D.duplicate_clusters(pairs)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact-Jaccard pair graph (2% subset):
    (doc_id, cluster_id = min reachable doc id). Transitive closure — A~B,
    B~C cluster together even without an A~C edge. Oracle: DuckDB recursive
    CTE over the identical pair set."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    pairs = D.ngram_jaccard_pairs(docs, shingle_n=1, threshold=0.5)
    return D.duplicate_clusters(pairs)


ORACLE_DEDUP_CLUSTERS = """
WITH RECURSIVE
sub AS (SELECT * FROM documents WHERE doc_id % 50 = 0),
terms AS (
  SELECT DISTINCT doc_id, t.term
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM sub) t
  WHERE t.term <> ''
),
sizes AS (SELECT doc_id, count(*) AS sz FROM terms GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM terms a JOIN terms b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.5
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
)
SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-time dedup: docs with id % 3 == 0 play the 'new batch', the
    rest the existing corpus; survivors = batch texts unseen in the corpus,
    min-id per within-batch duplicate group. Anti-join on sha256
    fingerprints (32-byte shuffle keys, never bodies)."""
    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 3 == 0)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    return D.incremental_dedup(new, corpus).select("doc_id")


ORACLE_DEDUP_INCREMENTAL = """
WITH newb AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
corp AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
fresh AS (
  SELECT n.* FROM newb n
  WHERE NOT EXISTS (SELECT 1 FROM corp o WHERE o.text = n.text)
)
SELECT f.doc_id FROM fresh f
WHERE f.doc_id = (SELECT min(g.doc_id) FROM fresh g WHERE g.text = f.text)
"""


def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup against a PERSISTED MinHash signature
    store (r12 verdict ask #2) — the corpus-scale lifecycle exact-sha
    ``dedup_incremental`` lacks: ``build_minhash_index`` signs the
    'existing corpus' (subset ids with doc_id % 20 != 0) ONCE, then
    ``minhash_index_append`` band-probes the 'new batch' (% 20 == 0)
    against only the colliding buckets, exact-verifies candidates, drops
    batch docs that near-dup an indexed doc or a smaller-id batch doc,
    and appends the survivors. Probe candidates ≡ full-rebuild candidates
    for batch-involving pairs (same bucket membership, star guard, and
    verify), so the one-shot portable-MinHash CTE chain replays the whole
    incremental flow — every stage driver-hash-verified."""
    import tempfile
    from pathlib import Path

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    batch = docs.filter(F.col("doc_id") % 20 == 0)
    # deterministic per-corpus path + overwrite build: repeated driver
    # calls rebuild in place, nothing accumulates (knn_pq_indexed pattern)
    base = Path(tempfile.gettempdir()) / "spark_graft_idx"
    path = str(base / f"minhash_{Path(sf_dir).name}")
    D.build_minhash_index(
        corpus,
        path,
        num_hashes=_PMH_HASHES,
        bands=_PMH_BANDS,
        shingle_n=1,
        threshold=_PMH_THRESHOLD,
        star_bucket_threshold=_PMH_STAR,
        est_slack=_PMH_EST_SLACK,
    )
    survivors = D.minhash_index_append(spark, path, batch)
    return survivors.select("doc_id").orderBy("doc_id")


# The probe generates exactly the batch-involving subset of the one-shot
# candidate algebra (bucket membership, bsz/bmin star stats, the
# signature-estimate prefilter, and the exact-Jaccard verify are computed
# over identical sets), so the shared portable-MinHash CTE chain (with
# ``prefilter=True`` replaying the append's estimate ≥ threshold − slack
# cut) + the survivor rule IS the replay: a batch doc (% 20 = 0) is
# dropped iff a verified pair links it to an indexed doc (any order) or
# to a smaller-id batch doc (pairs carry doc_a < doc_b, so "appears as
# doc_b" covers both of those at once).
ORACLE_DEDUP_INCREMENTAL_MINHASH = f"""
WITH {_portable_minhash_ctes(prefilter=True)},
dropped AS (
  SELECT doc_b AS d FROM vpairs WHERE doc_b % 20 = 0
  UNION
  SELECT doc_a FROM vpairs WHERE doc_a % 20 = 0 AND doc_b % 20 <> 0
)
SELECT doc_id FROM sub
WHERE doc_id % 20 = 0 AND doc_id NOT IN (SELECT d FROM dropped)
ORDER BY doc_id
"""


def dedup_minhash_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full store lifecycle with the maintenance rebuild (r13 verdict ask
    #5): build the index on the 'existing corpus' (% 20 != 0 of the % 10
    subset), incremental-append the 'new batch' (% 20 == 0), then
    ``rebuild_minhash_index`` — re-cluster the WHOLE store (the one-shot
    pair algebra over persisted bands/terms, connected components,
    min-id canonical per cluster) and drop everything the non-transitive
    append rule admitted, including the corpus-internal near-dups a
    build never dedups. Returns the store's surviving doc ids. Oracle:
    replay append survivors, form the store set, run the portable chain
    a second time over it, recursive-CTE the clusters, keep canonicals —
    pinning rebuild-after-appends ≡ clusters+keep-canonical on the
    union."""
    import tempfile
    from pathlib import Path

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    batch = docs.filter(F.col("doc_id") % 20 == 0)
    base = Path(tempfile.gettempdir()) / "spark_graft_idx"
    path = str(base / f"minhash_maint_{Path(sf_dir).name}")
    D.build_minhash_index(
        corpus,
        path,
        num_hashes=_PMH_HASHES,
        bands=_PMH_BANDS,
        shingle_n=1,
        threshold=_PMH_THRESHOLD,
        star_bucket_threshold=_PMH_STAR,
        est_slack=_PMH_EST_SLACK,
    )
    D.minhash_index_append(spark, path, batch)
    kept = D.rebuild_minhash_index(spark, path)
    return kept.select("doc_id").orderBy("doc_id")


ORACLE_DEDUP_MINHASH_MAINTENANCE = f"""
WITH RECURSIVE {_portable_minhash_ctes(prefilter=True)},
dropped AS (
  SELECT doc_b AS d FROM vpairs WHERE doc_b % 20 = 0
  UNION
  SELECT doc_a FROM vpairs WHERE doc_a % 20 = 0 AND doc_b % 20 <> 0
),
store AS (
  SELECT * FROM sub
  WHERE doc_id % 20 <> 0 OR doc_id NOT IN (SELECT d FROM dropped)
),
{_portable_minhash_ctes(base="store2 AS (SELECT doc_id, text FROM store)", src="store2", sfx="2")},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM vpairs2
  UNION
  SELECT doc_b, doc_a FROM vpairs2
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
),
clusters AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT s.doc_id FROM store s
WHERE NOT EXISTS (SELECT 1 FROM clusters c
                  WHERE c.doc_id = s.doc_id AND c.cluster_id <> s.doc_id)
ORDER BY doc_id
"""


_SEG_TOKENS = 5


def dedup_segments_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/RefinedWeb-style sub-document dedup: 5-token segments,
    global keep-first (by (doc_id, position)), documents reassembled
    from what survives. At sf0.01 the corpus loses ~6% of its segments
    (320 of 5,638 are repeats of an earlier segment)."""
    return D.segment_dedup(
        _t(spark, sf_dir, "documents"), seg_tokens=_SEG_TOKENS
    )


ORACLE_DEDUP_SEGMENTS_REBUILD = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS lst FROM documents
),
segs AS (
  SELECT doc_id, s.seg_idx, s.segment FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(CAST(ceil(len(lst) / {_SEG_TOKENS}.0) AS BIGINT)),
             i -> struct_pack(
               seg_idx := i,
               segment := array_to_string(
                 list_slice(lst, i * {_SEG_TOKENS} + 1,
                            i * {_SEG_TOKENS} + {_SEG_TOKENS}), ' ')))) AS s
    FROM toks)
),
kept AS (
  SELECT doc_id, seg_idx, segment FROM (
    SELECT *, row_number() OVER (
      PARTITION BY segment ORDER BY doc_id, seg_idx) AS rn
    FROM segs
  ) WHERE rn = 1
),
rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(segment, ' ' ORDER BY seg_idx) AS new_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(ceil(len(t.lst) / {_SEG_TOKENS}.0) AS INTEGER) AS n_segments,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(r.new_text, '') AS new_text
FROM toks t LEFT JOIN rebuilt r USING (doc_id)
"""


_CDC_WINDOW = 4
_CDC_DIVISOR = 8


def dedup_cdc_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup (``dedup.cdc_chunk_dedup``): gear
    rolling-hash boundaries (window 4, divisor 8 → ~8-token chunks),
    global keep-first, documents reassembled — the shift-robust twin of
    ``dedup_segments_rebuild`` (a one-token insertion re-aligns CDC
    boundaries where fixed windows shift every later segment; pinned in
    pytest)."""
    return D.cdc_chunk_dedup(
        _t(spark, sf_dir, "documents"),
        window=_CDC_WINDOW,
        divisor=_CDC_DIVISOR,
    )


ORACLE_DEDUP_CDC_REBUILD = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS lst FROM documents
),
geared AS (
  SELECT doc_id, lst,
         list_transform(lst,
           t -> ('0x' || substr(md5('0:' || t), 1, 15))::BIGINT
                % 2147483647) AS glst
  FROM toks
),
hashed AS (
  SELECT doc_id, lst,
         list_transform(range(1, len(lst) + 1), i ->
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
                          list_slice(glst, greatest(i - {_CDC_WINDOW - 1}, 1), i)),
             (acc, g) -> (acc * 31 + g) % 2147483647)) AS hs
  FROM geared
),
bounds AS (
  SELECT doc_id, lst,
         list_filter(range(1, len(lst) + 1),
                     i -> hs[i] % {_CDC_DIVISOR} = 0 OR i = len(lst)) AS bp
  FROM hashed
),
chunks AS (
  SELECT doc_id, c.chunk_idx, c.chunk FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(bp) + 1),
             j -> struct_pack(
               chunk_idx := j - 1,
               chunk := array_to_string(
                 list_slice(lst,
                            CASE WHEN j = 1 THEN 1 ELSE bp[j - 1] + 1 END,
                            bp[j]), ' ')))) AS c
    FROM bounds)
),
kept AS (
  SELECT doc_id, chunk_idx, chunk FROM (
    SELECT *, row_number() OVER (
      PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
    FROM chunks
  ) WHERE rn = 1
),
rebuilt AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(chunk, ' ' ORDER BY chunk_idx) AS new_text
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.bp) AS INTEGER) AS n_chunks,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       coalesce(r.new_text, '') AS new_text
FROM bounds b LEFT JOIN rebuilt r USING (doc_id)
"""


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition profile (Gopher-style filters): duplicate-token
    ratio, top-token share, top-bigram share."""
    return TS.repetition_columns(_t(spark, sf_dir, "documents"))


_ORACLE_REPETITION_CTES = """
base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
uni AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id, unnest(toks) AS g FROM base) u
  GROUP BY doc_id, g
),
us AS (
  SELECT doc_id, sum(c) AS nt, count(*) AS nd, max(c) AS topc
  FROM uni GROUP BY doc_id
),
bi AS (
  SELECT doc_id, g, count(*) AS c
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(toks) - 1),
                                     i -> toks[i] || ' ' || toks[i + 1])) AS g
        FROM base) v
  GROUP BY doc_id, g
),
bs AS (SELECT doc_id, sum(c) AS nb, max(c) AS topb FROM bi GROUP BY doc_id),
rep AS (
  SELECT b.doc_id,
         CAST(len(b.toks) AS INTEGER) AS n_tokens,
         round(coalesce(1 - CAST(us.nd AS DOUBLE) / us.nt, 0), 6) AS dup_token_ratio,
         round(coalesce(CAST(us.topc AS DOUBLE) / us.nt, 0), 6) AS top_token_share,
         round(coalesce(CAST(bs.topb AS DOUBLE) / bs.nb, 0), 6) AS top_bigram_share
  FROM base b
  LEFT JOIN us ON us.doc_id = b.doc_id
  LEFT JOIN bs ON bs.doc_id = b.doc_id
)
"""

ORACLE_REPETITION_STATS = f"""
WITH {_ORACLE_REPETITION_CTES}
SELECT doc_id, n_tokens, dup_token_ratio, top_token_share, top_bigram_share
FROM rep
"""


def quality_gate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite curation gate rollup: per-source doc counts, kept counts,
    keep rate under the default length/repetition thresholds."""
    gated = TS.quality_gate(_t(spark, sf_dir, "documents"))
    return (
        gated.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.round(F.avg(F.col("kept").cast("double")), 6).alias("keep_rate"),
        )
        .orderBy("source")
    )


ORACLE_QUALITY_GATE_BY_SOURCE = f"""
WITH {_ORACLE_REPETITION_CTES},
gate AS (
  SELECT d.source,
         (rep.n_tokens >= 5 AND rep.n_tokens <= 5000
          AND rep.dup_token_ratio <= 0.3
          AND rep.top_bigram_share <= 0.25) AS kept
  FROM documents d JOIN rep ON rep.doc_id = d.doc_id
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(avg(CASE WHEN kept THEN 1.0 ELSE 0.0 END), 6) AS keep_rate
FROM gate GROUP BY source ORDER BY source
"""


_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_MIX_DEFAULT = 0.05


def curation_pipeline_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composition — the realistic pre-training flow:
    exact-dedup (min-id survivor) → quality gate → deterministic mix
    sampling → per-source funnel counts. Each stage is an operator with its
    own oracle elsewhere; this query verifies the COMPOSITION (operator
    boundaries, column contracts, row multiplicities) end to end."""
    from pyspark_etl_twitter_spark.operators.dedup import drop_exact_duplicates
    from pyspark_etl_twitter_spark.operators.packing import training_mix
    from pyspark_etl_twitter_spark.operators.textstats import quality_gate

    docs = _t(spark, sf_dir, "documents")
    deduped = drop_exact_duplicates(docs)
    gated = quality_gate(deduped).filter(F.col("kept"))
    mixed = training_mix(gated, _MIX_RATES, default_rate=_MIX_DEFAULT)
    return (
        mixed.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_curated"))
        .orderBy("source")
    )


ORACLE_CURATION_PIPELINE_COUNTS = f"""
WITH deduped AS (
  SELECT d.* FROM documents d
  WHERE d.doc_id = (SELECT min(e.doc_id) FROM documents e WHERE e.text = d.text)
),
{_ORACLE_REPETITION_CTES.replace("FROM documents", "FROM deduped", 1)},
gated AS (
  SELECT d.doc_id, d.source FROM deduped d JOIN rep ON rep.doc_id = d.doc_id
  WHERE rep.n_tokens >= 5 AND rep.n_tokens <= 5000
    AND rep.dup_token_ratio <= 0.3 AND rep.top_bigram_share <= 0.25
),
slotted AS (
  SELECT source, (doc_id * {{prime}}) % {{res}} AS slot FROM gated
),
kept AS (
  SELECT source FROM slotted
  WHERE {{mix_case}}
     OR (source NOT IN ({{mix_sources}}) AND slot < {{def_thr}})
)
SELECT source, CAST(count(*) AS BIGINT) AS n_curated
FROM kept GROUP BY source ORDER BY source
""".format(
    prime=_MIX_PRIME,
    res=_MIX_RESOLUTION,
    mix_case=" OR ".join(
        f"(source = '{s}' AND slot < {int(r * _MIX_RESOLUTION)})"
        for s, r in _MIX_RATES.items()
    ),
    mix_sources=", ".join(repr(s) for s in _MIX_RATES),
    def_thr=int(_MIX_DEFAULT * _MIX_RESOLUTION),
)


def vocab_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 rows of the frequency-ranked vocabulary (deterministic
    count-desc, term-asc ranking)."""
    from pyspark_etl_twitter_spark.operators.encoding import build_vocab

    return build_vocab(_t(spark, sf_dir, "documents")).orderBy("vocab_id").limit(50)


_ORACLE_VOCAB_CTES = """
vcounts AS (
  SELECT term,
         CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM (SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
        FROM documents) u
  GROUP BY term
),
vocab AS (
  SELECT term,
         CAST(row_number() OVER (ORDER BY n_occurrences DESC, term) - 1
              AS INTEGER) AS vocab_id,
         n_occurrences, n_docs
  FROM vcounts
)
"""

ORACLE_VOCAB_HEAD = f"""
WITH {_ORACLE_VOCAB_CTES}
SELECT term, vocab_id, n_occurrences, n_docs
FROM vocab ORDER BY vocab_id LIMIT 50
"""


def encoded_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-id encoding of the 2% subset against the full-corpus vocab:
    (doc_id, token_ids string), OOV = -1, empty docs = ''.

    The operator (encoding.encode_documents) returns a real
    ``array<int>`` column; THIS window wrapper serializes it to a
    space-joined string because the driver's canonicalizer hashes scalar
    cells only (r7 verdict #1: pandas ``factorize`` cannot hash Python
    lists, so an array-typed window column errs before comparison).
    ``array_join`` of the empty array is '' — empty docs still survive."""
    from pyspark_etl_twitter_spark.operators.encoding import (
        build_vocab,
        encode_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    sub = docs.filter(F.col("doc_id") % 50 == 0)
    enc = encode_documents(sub, build_vocab(docs))
    return enc.select(
        "doc_id", F.array_join("token_ids", " ").alias("token_ids")
    )


ORACLE_ENCODED_DOCS = f"""
WITH {_ORACLE_VOCAB_CTES},
sub AS (SELECT * FROM documents WHERE doc_id % 50 = 0),
base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM sub
),
tok AS (
  SELECT doc_id, unnest(toks) AS term, generate_subscripts(toks, 1) AS pos
  FROM base
),
enc AS (
  SELECT doc_id,
         list(CAST(coalesce(v.vocab_id, -1) AS INTEGER) ORDER BY pos) AS token_ids
  FROM tok LEFT JOIN vocab v USING (term)
  GROUP BY doc_id
)
SELECT b.doc_id,
       array_to_string(coalesce(e.token_ids, CAST([] AS INTEGER[])), ' ')
         AS token_ids
FROM base b LEFT JOIN enc e USING (doc_id)
"""


def chunk_documents_64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-64-token context-window chunking: (doc_id, chunk_id,
    n_chunk_tokens, chunk_text); final chunk may be short, empty docs
    produce no chunks."""
    from pyspark_etl_twitter_spark.operators.encoding import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"), chunk_tokens=64)


ORACLE_CHUNK_DOCUMENTS_64 = """
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
expanded AS (
  SELECT doc_id, toks,
         CAST(unnest(generate_series(0, CAST(floor((len(toks) - 1) / 64.0) AS INTEGER)))
              AS INTEGER) AS chunk_id
  FROM base WHERE len(toks) > 0
),
sliced AS (
  SELECT doc_id, chunk_id,
         list_slice(toks, chunk_id * 64 + 1,
                    least((chunk_id + 1) * 64, len(toks))) AS chunk
  FROM expanded
)
SELECT doc_id, chunk_id,
       CAST(len(chunk) AS INTEGER) AS n_chunk_tokens,
       array_to_string(chunk, ' ') AS chunk_text
FROM sliced
"""


def training_mix_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source training-mix sample → per-source kept
    counts. Selection is a pure function of doc_id (multiplicative-hash
    slot < rate·resolution), so the mix is reproducible across runs,
    partitionings, and engines."""
    from pyspark_etl_twitter_spark.operators.packing import training_mix

    mixed = training_mix(
        _t(spark, sf_dir, "documents"), _MIX_RATES, default_rate=_MIX_DEFAULT
    )
    return (
        mixed.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .orderBy("source")
    )


_mix_case = " OR ".join(
    f"(source = '{s}' AND slot < {int(r * _MIX_RESOLUTION)})"
    for s, r in _MIX_RATES.items()
)
ORACLE_TRAINING_MIX_COUNTS = f"""
WITH slotted AS (
  SELECT source, (doc_id * {_MIX_PRIME}) % {_MIX_RESOLUTION} AS slot
  FROM documents
),
kept AS (
  SELECT source FROM slotted
  WHERE {_mix_case}
     OR (source NOT IN ({", ".join(repr(s) for s in _MIX_RATES)})
         AND slot < {int(_MIX_DEFAULT * _MIX_RESOLUTION)})
)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept
FROM kept GROUP BY source ORDER BY source
"""


def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup corpus curation on the 2% subset: exact-Jaccard
    pairs → connected components → drop all but the min-id doc per cluster.
    Returns surviving doc_ids (cluster losers removed, singletons kept)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    pairs = D.ngram_jaccard_pairs(docs, shingle_n=1, threshold=0.5)
    return D.drop_near_duplicates(docs, pairs).select("doc_id")


ORACLE_DEDUP_KEEP_CANONICAL = """
WITH RECURSIVE
sub AS (SELECT * FROM documents WHERE doc_id % 50 = 0),
terms AS (
  SELECT DISTINCT doc_id, t.term
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM sub) t
  WHERE t.term <> ''
),
sizes AS (SELECT doc_id, count(*) AS sz FROM terms GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM terms a JOIN terms b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.5
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
),
losers AS (
  SELECT node FROM (SELECT node, min(r) AS cid FROM reach GROUP BY node) c
  WHERE cid <> node
)
SELECT doc_id FROM sub WHERE doc_id NOT IN (SELECT node FROM losers)
"""


def top_terms_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (smoothed IDF, term tiebreak)."""
    return TS.top_tfidf_terms(_t(spark, sf_dir, "documents"), k=3)


ORACLE_TOP_TERMS_PER_DOC = """
WITH tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
        FROM documents) u
  GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(CAST(tf.tf AS DOUBLE) * ln((n.n + 1.0) / (CAST(df.df AS DOUBLE) + 1.0)), 6) AS tfidf
  FROM tf JOIN df ON df.term = tf.term CROSS JOIN n
)
SELECT doc_id, term, tfidf, rnk FROM (
  SELECT doc_id, term, tfidf,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rnk
  FROM scored) r
WHERE rnk <= 3
"""


def dedup_clusters_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters over MinHash-LSH verified pairs (10% subset) —
    the scale path composition: bucketed candidates → verify → connected
    components. xxhash64-seeded → rows-only driver check; transitivity and
    canonical-survivor semantics are pytest-covered on fixtures."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    pairs = D.near_dup_pairs_minhash(docs, shingle_n=1, threshold=0.5)
    return D.duplicate_clusters(pairs)


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------

def knn_brute_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cosine_topk(_t(spark, sf_dir, "embeddings"), n_queries=10, k=5)


ORACLE_KNN_BRUTE_COSINE = """
WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
           WHERE vec_id < 10),
pairs AS (
  SELECT q.q_id, e.vec_id AS neighbor_id,
         round(list_cosine_similarity(e.embedding::DOUBLE[],
                                      q.q_emb::DOUBLE[]), 6) AS cos_sim
  FROM embeddings e, q WHERE e.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, neighbor_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos_sim DESC, neighbor_id)
              AS INTEGER) AS rank
  FROM pairs
)
SELECT q_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
"""


def knn_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR-construction multi-probe LSH ANN top-k. Fully ORACLE-BACKED
    since r7: the hyperplanes are seeded Python literals (same trick as
    the semantic-dedup oracle), the multi-probe expansion is a literal
    xor-mask set, and the rank tie-break is deterministic — so DuckDB
    replays the IDENTICAL approximation end to end (buckets → probes →
    cosine verify → dedup → top-k). "Approximate" means approximate
    w.r.t. exact KNN, not non-deterministic."""
    return S.ann_lsh_topk(_t(spark, sf_dir, "embeddings"), n_queries=10, k=5)


def _ann_lsh_oracle(n_tables: int = 2) -> str:
    """DuckDB replay of ann_lsh_topk (n_queries=10, k=5, n_planes=10,
    probe_bits=3, seed=7, round_dp=6); ``n_tables`` parameterizes the
    OR-construction width (2 = engine default, 3 = the high_recall
    preset)."""
    from itertools import combinations

    from pyspark_etl_twitter_spark.operators.similarity import (
        _hyperplanes,
        _table_seed,
    )

    n_planes, probe_bits, seed = 10, 3, 7
    n_queries, k, dim = 10, 5, 64
    bucket_exprs = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, _table_seed(seed, t))
        terms = " + ".join(
            f"(CASE WHEN list_dot_product(emb, "
            f"[{', '.join(repr(float(x)) for x in plane)}]) > 0 "
            f"THEN {1 << p} ELSE 0 END)"
            for p, plane in enumerate(planes)
        )
        bucket_exprs.append(terms)
    masks = [0]
    for r in range(1, probe_bits + 1):
        masks += [sum(1 << i for i in c) for c in combinations(range(n_planes), r)]
    mask_rows = ", ".join(f"({m})" for m in masks)
    corpus_rows = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, emb, nrm, {t} AS t, {bucket_exprs[t]} AS bucket FROM base"
        for t in range(n_tables)
    )
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
corpus AS (
{corpus_rows}
),
masks(m) AS (VALUES {mask_rows}),
probes AS (
  SELECT c.vec_id AS q_id, c.emb AS q_emb, c.nrm AS q_nrm, c.t AS q_t,
         xor(c.bucket, m.m) AS q_bucket
  FROM corpus c CROSS JOIN masks m
  WHERE c.vec_id < {n_queries}
),
cand AS (
  SELECT q.q_id, c.vec_id AS neighbor_id,
         round(list_dot_product(c.emb, q.q_emb) / (c.nrm * q.q_nrm), 6) AS cos_sim
  FROM corpus c JOIN probes q
    ON c.t = q.q_t AND c.bucket = q.q_bucket AND c.vec_id <> q.q_id
  WHERE c.nrm > 0 AND q.q_nrm > 0
),
dedup AS (
  SELECT q_id, neighbor_id, max(cos_sim) AS cos_sim FROM cand GROUP BY 1, 2
)
SELECT q_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT q_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM dedup
) WHERE rank <= {k}
"""


ORACLE_KNN_ANN_LSH = _ann_lsh_oracle()


def knn_ann_lsh_high_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The named high_recall preset (L=3/10/3 — DESIGN §20 frontier,
    recall@5 0.826) as a first-class registry query, oracle-backed the
    same way as the default: DuckDB replays the third hyperplane table."""
    return S.ann_lsh_topk(
        _t(spark, sf_dir, "embeddings"), n_queries=10, k=5, profile="high_recall"
    )


ORACLE_KNN_ANN_LSH_HIGH_RECALL = _ann_lsh_oracle(n_tables=3)


def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed ANN top-k. Fully ORACLE-BACKED since r7: default IVF
    seeding is the first n_lists vectors and every stage (centroid-argmax
    assignment, n_probe list ranking, cosine verify, rank) is a
    deterministic join/window — DuckDB replays the identical
    approximation."""
    return S.ivf_topk(_t(spark, sf_dir, "embeddings"), n_queries=10, k=5)


_IVFT_LISTS = 16
_IVFT_ITERS = 2


def knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with TRAINED centroids, fully verified (r7): the portable
    fixed-iteration k-means (6dp-rounded trajectory) trains the coarse
    quantizer, then the standard IVF probe runs against it — so the
    entire trained-index pipeline (Lloyd training → cosine assignment →
    probe ranking → verify → top-k) replays in DuckDB. The tol-based
    ``build_ivf_index(train_iters=N)`` stays the production trainer; this
    is its verification twin."""
    from pyspark_etl_twitter_spark.operators.clustering import kmeans_fit_portable
    from pyspark_etl_twitter_spark.operators.similarity import (
        _ivf_probe,
        ivf_assignments,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans_fit_portable(emb, _IVFT_LISTS, iters=_IVFT_ITERS)
    assignments, centroids = ivf_assignments(
        emb, n_lists=_IVFT_LISTS, centroid_vectors=cents
    )
    queries = assignments.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    return _ivf_probe(
        assignments, centroids, queries, k=5, n_probe=4, round_dp=6
    )


def _ivf_trained_oracle() -> str:
    from pyspark_etl_twitter_spark.plans.advanced_queries import _kmeans_ctes

    tf = _IVFT_ITERS
    return f"""
WITH {_kmeans_ctes(k=_IVFT_LISTS, iters=_IVFT_ITERS)},
cents AS (SELECT cluster AS list_id, pos, val FROM c{tf}),
cnrm AS (SELECT list_id, sqrt(sum(val * val)) AS c_nrm FROM cents GROUP BY list_id),
vnrm AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM edim GROUP BY vec_id),
csim AS (
  SELECT s.vec_id, s.list_id, s.dp / (v.nrm * n.c_nrm) AS s
  FROM (
    SELECT e.vec_id, c.list_id, sum(e.x * c.val) AS dp
    FROM edim e JOIN cents c ON c.pos = e.pos
    GROUP BY e.vec_id, c.list_id
  ) s
  JOIN vnrm v USING (vec_id) JOIN cnrm n USING (list_id)
),
assign AS (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, list_id) AS rn
    FROM csim
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS q_id, list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, list_id) AS rn
    FROM csim WHERE vec_id < 10
  ) WHERE rn <= 4
),
vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
scored AS (
  SELECT p.q_id, a.vec_id AS neighbor_id,
         round(list_dot_product(ca.emb, qb.emb) / (ca.nrm * qb.nrm), 6) AS cos_sim
  FROM probes p
  JOIN assign a USING (list_id)
  JOIN vecs ca ON ca.vec_id = a.vec_id
  JOIN vecs qb ON qb.vec_id = p.q_id
  WHERE a.vec_id <> p.q_id
)
SELECT q_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT q_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


ORACLE_KNN_IVF_TRAINED = _ivf_trained_oracle()


def knn_ivf_rebalanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF maintenance lifecycle, the drift-then-retrain story
    ``ivf_index_append`` defers to: build the index UNTRAINED on the
    'old corpus' (the lower 80% of vec_ids), append the 'new arrivals'
    (upper 20%) under the frozen stale centroids, then
    ``rebalance_ivf_index(portable=True)`` — portable Lloyd's re-trained
    over the STORE's own vectors (never the corpus table), every stored
    vector re-assigned, all three tables rewritten in place — and probe.
    The oracle is ``ORACLE_KNN_IVF_TRAINED`` VERBATIM: the store holds
    exactly the union, so rebalance-after-append must be
    hash-indistinguishable from the one-shot trained pipeline over the
    full table — the equality that makes the rebalance load-bearing
    (an untrained or skipped rebalance probes differently and goes
    red)."""
    import tempfile
    from pathlib import Path

    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()
    cut = max(_IVFT_LISTS, (n * 4) // 5)
    corpus = emb.filter(F.col("vec_id") < cut)
    batch = emb.filter(F.col("vec_id") >= cut)
    base = Path(tempfile.gettempdir()) / "spark_graft_idx"
    path = str(base / f"ivf_rebal_{Path(sf_dir).name}")
    S.build_ivf_index(corpus, path, n_lists=_IVFT_LISTS)
    S.ivf_index_append(spark, path, batch)
    S.rebalance_ivf_index(
        spark, path, train_iters=_IVFT_ITERS, portable=True
    )
    return S.ivf_probe_indexed(spark, path)


ORACLE_KNN_IVF = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
cents AS (
  SELECT vec_id AS list_id, emb AS c_emb, nrm AS c_nrm FROM base WHERE vec_id < 16
),
assign AS (
  SELECT vec_id, emb, nrm, list_id FROM (
    SELECT b.vec_id, b.emb, b.nrm, c.list_id,
           row_number() OVER (
             PARTITION BY b.vec_id
             ORDER BY list_dot_product(b.emb, c.c_emb) / (b.nrm * c.c_nrm) DESC,
                      c.list_id) AS rn
    FROM base b CROSS JOIN cents c
  ) WHERE rn = 1
),
queries AS (
  SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM base WHERE vec_id < 10
),
probes AS (
  SELECT q_id, q_emb, q_nrm, list_id FROM (
    SELECT q.q_id, q.q_emb, q.q_nrm, c.list_id,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY list_dot_product(q.q_emb, c.c_emb) / (q.q_nrm * c.c_nrm) DESC,
                      c.list_id) AS rn
    FROM queries q CROSS JOIN cents c
  ) WHERE rn <= 4
),
scored AS (
  SELECT p.q_id, a.vec_id AS neighbor_id,
         round(list_dot_product(a.emb, p.q_emb) / (a.nrm * p.q_nrm), 6) AS cos_sim
  FROM probes p JOIN assign a USING (list_id)
  WHERE a.vec_id <> p.q_id
)
SELECT q_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT q_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (Jégou et al. 2011) — the fourth
    ANN rung (brute → LSH → IVF → PQ). Fully ORACLE-BACKED: codebooks
    are deterministic first-16 sub-slices (the ``knn_ivf`` seeding
    precedent), encode is an exact argmin, the ADC scan is Σ of LUT
    lookups — DuckDB replays every stage. Measured vs exact L2 ranking
    (what ADC approximates), m=8/ksub=16 on 64-dim RANDOM embeddings:
    recall@5 = 0.25 at sf0.001, 0.15 at sf0.01 — the honest floor for
    32× compression on unclusterable data; on real (clustered) corpora
    quantization error concentrates within clusters and recall climbs
    with ksub (the paper's setting is ksub=256). Quality pins live in
    tests/test_similarity_pq.py."""
    return S.pq_adc_topk(_t(spark, sf_dir, "embeddings"))


ORACLE_KNN_PQ_ADC = """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
edim AS (
  SELECT vec_id, (pos - 1) // 8 AS s, (pos - 1) % 8 AS t, x
  FROM (SELECT vec_id, UNNEST(emb) AS x,
               generate_subscripts(emb, 1) AS pos FROM base)
),
cb AS (SELECT s, vec_id AS j, t, x AS val FROM edim WHERE vec_id < 16),
subd AS (
  SELECT e.vec_id, e.s, c.j, sum((e.x - c.val) * (e.x - c.val)) AS d
  FROM edim e JOIN cb c ON c.s = e.s AND c.t = e.t
  GROUP BY e.vec_id, e.s, c.j
),
codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT vec_id, s, j,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
    FROM subd) WHERE rn = 1
),
lut AS (SELECT vec_id AS q_id, s, j, d FROM subd WHERE vec_id < 8),
scored AS (
  SELECT l.q_id, c.vec_id AS neighbor_id, round(sum(l.d), 6) AS adc_dist
  FROM codes c JOIN lut l ON l.s = c.s AND l.j = c.code
  WHERE c.vec_id <> l.q_id
  GROUP BY l.q_id, c.vec_id
)
SELECT q_id, neighbor_id, adc_dist, CAST(rank AS INTEGER) AS rank FROM (
  SELECT q_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY adc_dist, neighbor_id) AS rank
  FROM scored) WHERE rank <= 5
"""


_PQ_IDX_SPLIT = 400  # build/append split; build half holds the 16 seed rows


def knn_pq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k over the PERSISTED PQ code table — the full lifecycle
    driver-verified end to end (r11 verdict ask #2, the
    ``semdedup_ivf_summary`` precedent): ``build_pq_code_table``
    materializes codes + frozen codebook meta for the first
    ``_PQ_IDX_SPLIT`` vectors, ``pq_code_table_append`` encodes the rest
    of the corpus against the codebook read back from meta (the
    streaming-ingest shape), and ``pq_adc_topk_indexed`` probes reading
    CODES ONLY — no raw-vector IO at probe time. Codebooks are the
    deterministic first-16 sub-slices and parquet round-trips doubles
    bit-exactly, so build+append ≡ one-shot encode of the whole corpus
    and the ``knn_pq_adc`` oracle replays this row verbatim."""
    import tempfile
    from pathlib import Path

    from pyspark_etl_twitter_spark.operators.similarity import (
        build_pq_code_table,
        pq_adc_topk_indexed,
        pq_code_table_append,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # deterministic per-corpus path + overwrite mode: repeated driver
    # calls rebuild in place, nothing accumulates
    base = Path(tempfile.gettempdir()) / "spark_graft_idx"
    path = str(base / f"pq_codes_{Path(sf_dir).name}")
    build_pq_code_table(emb.filter(F.col("vec_id") < _PQ_IDX_SPLIT), path)
    pq_code_table_append(
        spark, path, emb.filter(F.col("vec_id") >= _PQ_IDX_SPLIT)
    )
    queries = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect()
    )
    return pq_adc_topk_indexed(spark, path, queries)


# build+append ≡ one-shot encode (frozen codebook, exact double
# round-trip), so the indexed row replays on the one-shot oracle
ORACLE_KNN_PQ_INDEXED = ORACLE_KNN_PQ_ADC


def knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite (residual encoding, L2 end-to-end): IVF prunes
    the candidate lists, PQ residual codes + per-(query, list) LUTs
    approximate the distances. Fully ORACLE-BACKED — deterministic
    first-k centroids and first-k residual codebooks let DuckDB replay
    assignment, residual encode, probe ranking, LUT, and ADC rank."""
    return S.ivfpq_topk(_t(spark, sf_dir, "embeddings"))


ORACLE_KNN_IVFPQ = """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
edim AS (
  SELECT vec_id, pos, (pos - 1) // 8 AS s, (pos - 1) % 8 AS t, x
  FROM (SELECT vec_id, UNNEST(emb) AS x,
               generate_subscripts(emb, 1) AS pos FROM base)
),
cdim AS (SELECT vec_id AS list_id, pos, x AS c FROM edim WHERE vec_id < 16),
cd AS (
  SELECT e.vec_id, c.list_id, sum((e.x - c.c) * (e.x - c.c)) AS d
  FROM edim e JOIN cdim c ON c.pos = e.pos
  GROUP BY e.vec_id, c.list_id
),
assign AS (
  SELECT vec_id, list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
    FROM cd) WHERE rn = 1
),
rdim AS (
  SELECT e.vec_id, e.s, e.t, e.x - c.c AS r
  FROM edim e
  JOIN assign a USING (vec_id)
  JOIN cdim c ON c.list_id = a.list_id AND c.pos = e.pos
),
cb AS (SELECT s, vec_id AS j, t, r AS val FROM rdim WHERE vec_id < 16),
subd AS (
  SELECT e.vec_id, e.s, c.j, sum((e.r - c.val) * (e.r - c.val)) AS d
  FROM rdim e JOIN cb c ON c.s = e.s AND c.t = e.t
  GROUP BY e.vec_id, e.s, c.j
),
codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT vec_id, s, j,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
    FROM subd) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS q_id, list_id FROM (
    SELECT vec_id, list_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, list_id) AS rn
    FROM cd WHERE vec_id < 8) WHERE rn <= 4
),
qrdim AS (
  SELECT p.q_id, p.list_id, e.s, e.t, e.x - c.c AS r
  FROM probes p
  JOIN edim e ON e.vec_id = p.q_id
  JOIN cdim c ON c.list_id = p.list_id AND c.pos = e.pos
),
lut AS (
  SELECT q.q_id, q.list_id, q.s, c.j, sum((q.r - c.val) * (q.r - c.val)) AS d
  FROM qrdim q JOIN cb c ON c.s = q.s AND c.t = q.t
  GROUP BY q.q_id, q.list_id, q.s, c.j
),
scored AS (
  SELECT p.q_id, a.vec_id AS neighbor_id, round(sum(l.d), 6) AS adc_dist
  FROM probes p
  JOIN assign a ON a.list_id = p.list_id
  JOIN codes k ON k.vec_id = a.vec_id
  JOIN lut l ON l.q_id = p.q_id AND l.list_id = p.list_id
            AND l.s = k.s AND l.j = k.code
  WHERE a.vec_id <> p.q_id
  GROUP BY p.q_id, a.vec_id
)
SELECT q_id, neighbor_id, adc_dist, CAST(rank AS INTEGER) AS rank FROM (
  SELECT q_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY adc_dist, neighbor_id) AS rank
  FROM scored) WHERE rank <= 5
"""


def knn_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ probe over the PERSISTED composite index — the two
    compounding scale cuts driver-verified end to end:
    ``build_ivfpq_index`` writes the residual code table (32× smaller
    than the raw vectors) hive-partitioned by ``list_id``, and
    ``ivfpq_probe_indexed`` reads ONLY the probed list partitions of it
    (no assignment, no encoding, no raw-vector IO in the probe plan).
    Deterministic first-k seeding + exact int/double parquet round-trips
    make the probe value-identical to one-shot ``ivfpq_topk``, so the
    ``knn_ivfpq`` oracle replays this row verbatim."""
    import tempfile
    from pathlib import Path

    from pyspark_etl_twitter_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_probe_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    base = Path(tempfile.gettempdir()) / "spark_graft_idx"
    path = str(base / f"ivfpq_{Path(sf_dir).name}")
    build_ivfpq_index(emb, path)
    return ivfpq_probe_indexed(spark, path)


# indexed probe ≡ one-shot (frozen model through meta, exact parquet
# round-trip), so the row replays on the one-shot oracle
ORACLE_KNN_IVFPQ_INDEXED = ORACLE_KNN_IVFPQ


_PQT_ITERS = 2


def knn_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-k over Lloyd's-TRAINED codebooks — the production
    trainer verified end to end (the ``knn_ivf_trained`` precedent
    applied to PQ): ``pq_train_codebooks`` runs all m sub-space k-means
    in one distributed job per iteration with per-round 6dp rounding,
    so DuckDB replays the full trajectory → encode → LUT → ADC rank.
    Trained books measurably beat the first-k seeds: reconstruction
    MSE 0.752 → 0.562 at sf0.001 (iters=3; this row trains iters=2)."""
    emb = _t(spark, sf_dir, "embeddings")
    books = S.pq_train_codebooks(emb, iters=_PQT_ITERS)
    return S.pq_adc_topk(emb, books=books)


def _pq_trained_oracle(
    m: int = 8, ksub: int = 16, iters: int = _PQT_ITERS, dp: int = 6, dim: int = 64
) -> str:
    """Unrolled per-sub-space Lloyd trajectory (the `_kmeans_ctes` shape
    keyed additionally by s) feeding the PQ encode/LUT/ADC tail."""
    dsub = dim // m
    parts = [
        f"""base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
sdim AS (
  SELECT vec_id, (pos - 1) // {dsub} AS s, (pos - 1) % {dsub} AS t, x
  FROM (SELECT vec_id, UNNEST(emb) AS x,
               generate_subscripts(emb, 1) AS pos FROM base)
),
seeds AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j
  FROM base ORDER BY vec_id LIMIT {ksub}
),
pc0 AS (
  SELECT d.s, s.j, d.t, round(d.x, {dp}) AS val
  FROM seeds s JOIN sdim d USING (vec_id)
)"""
    ]
    for i in range(iters):
        parts.append(
            f""",
pd{i} AS (
  SELECT v.vec_id, v.s, c.j, sum((v.x - c.val) * (v.x - c.val)) AS d2
  FROM sdim v JOIN pc{i} c ON c.s = v.s AND c.t = v.t
  GROUP BY v.vec_id, v.s, c.j
),
pa{i} AS (
  SELECT vec_id, s, j FROM (
    SELECT vec_id, s, j,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rn
    FROM pd{i}) WHERE rn = 1
),
pu{i} AS (
  SELECT a.s, a.j, v.t, round(avg(v.x), {dp}) AS val
  FROM pa{i} a JOIN sdim v ON v.vec_id = a.vec_id AND v.s = a.s
  GROUP BY a.s, a.j, v.t
),
pc{i + 1} AS (
  SELECT p.s, p.j, p.t, coalesce(u.val, p.val) AS val
  FROM pc{i} p LEFT JOIN pu{i} u
    ON u.s = p.s AND u.j = p.j AND u.t = p.t
)"""
        )
    return f"""
WITH {"".join(parts)},
subd AS (
  SELECT v.vec_id, v.s, c.j, sum((v.x - c.val) * (v.x - c.val)) AS d
  FROM sdim v JOIN pc{iters} c ON c.s = v.s AND c.t = v.t
  GROUP BY v.vec_id, v.s, c.j
),
codes AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT vec_id, s, j,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
    FROM subd) WHERE rn = 1
),
lut AS (SELECT vec_id AS q_id, s, j, d FROM subd WHERE vec_id < 8),
scored AS (
  SELECT l.q_id, c.vec_id AS neighbor_id, round(sum(l.d), {dp}) AS adc_dist
  FROM codes c JOIN lut l ON l.s = c.s AND l.j = c.code
  WHERE c.vec_id <> l.q_id
  GROUP BY l.q_id, c.vec_id
)
SELECT q_id, neighbor_id, adc_dist, CAST(rank AS INTEGER) AS rank FROM (
  SELECT q_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY adc_dist, neighbor_id) AS rank
  FROM scored) WHERE rank <= 5
"""


ORACLE_KNN_PQ_TRAINED = _pq_trained_oracle()


def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified retrieval (Carbonell & Goldstein 1998) — greedy
    λ·rel − (1−λ)·max-sim-to-selected rerank of each query's top-20
    pool, unrolled as pure-DataFrame stages. Fully ORACLE-BACKED: rel
    and pairwise sims round to 6dp before the greedy compare, so DuckDB
    replays the exact selection trajectory stage by stage."""
    return S.mmr_topk(_t(spark, sf_dir, "embeddings"))


def _mmr_oracle(
    nq: int = 8, pool: int = 20, k: int = 5, lam: float = 0.7, dp: int = 6
) -> str:
    """Greedy MMR unrolled as k SQL stages (sel1..sel{k})."""
    parts = [
        f"""base AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
queries AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm
            FROM base WHERE vec_id < {nq}),
rel_all AS (
  SELECT q.q_id, b.vec_id AS cand, b.emb, b.nrm,
         round(list_dot_product(b.emb, q.q_emb) / (b.nrm * q.q_nrm), {dp}) AS rel
  FROM base b CROSS JOIN queries q
  WHERE b.vec_id <> q.q_id AND b.nrm > 0 AND q.q_nrm > 0
),
pool AS (
  SELECT q_id, cand, emb, nrm, rel FROM (
    SELECT q_id, cand, emb, nrm, rel,
           row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, cand) AS rn
    FROM rel_all) WHERE rn <= {pool}
),
sims AS (
  SELECT p1.q_id, p1.cand AS a, p2.cand AS b,
         round(list_dot_product(p1.emb, p2.emb) / (p1.nrm * p2.nrm), {dp}) AS sim
  FROM pool p1 JOIN pool p2 ON p1.q_id = p2.q_id AND p1.cand <> p2.cand
),
sel1 AS (
  SELECT q_id, cand AS neighbor_id, round(rel, {dp}) AS mmr_score, 1 AS rank
  FROM (SELECT q_id, cand, rel,
               row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, cand) AS rn
        FROM pool) WHERE rn = 1
)"""
    ]
    for i in range(2, k + 1):
        parts.append(
            f""",
m{i} AS (
  SELECT s.q_id, s.a AS cand, max(s.sim) AS ms
  FROM sims s JOIN sel{i - 1} x ON x.q_id = s.q_id AND x.neighbor_id = s.b
  GROUP BY s.q_id, s.a
),
p{i} AS (
  SELECT p.q_id, p.cand, {lam} * p.rel - {1.0 - lam} * m.ms AS score
  FROM pool p
  JOIN m{i} m ON m.q_id = p.q_id AND m.cand = p.cand
  LEFT JOIN sel{i - 1} x ON x.q_id = p.q_id AND x.neighbor_id = p.cand
  WHERE x.neighbor_id IS NULL
),
sel{i} AS (
  SELECT * FROM sel{i - 1}
  UNION ALL
  SELECT q_id, cand AS neighbor_id, round(score, {dp}) AS mmr_score, {i} AS rank
  FROM (SELECT q_id, cand, score,
               row_number() OVER (PARTITION BY q_id ORDER BY score DESC, cand) AS rn
        FROM p{i}) WHERE rn = 1
)"""
        )
    return f"""
WITH {"".join(parts)}
SELECT q_id, neighbor_id, mmr_score, CAST(rank AS INTEGER) AS rank FROM sel{k}
"""


ORACLE_MMR_DIVERSIFIED_TOPK = _mmr_oracle()


def knn_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (8-bit) ANN: per-dim min/max ranges → uint8
    codes (4× smaller scan) → asymmetric cosine top-k over dequantized
    values. The cheap rung of the compression frontier (PQ is the 32×
    rung); near-lossless — measured recall@5 = 1.0 vs exact cosine at
    sf0.001/0.01. Fully ORACLE-BACKED: ranges round to 6dp, the code/
    dequant arithmetic is identical IEEE double math in both engines."""
    return S.sq8_topk(_t(spark, sf_dir, "embeddings"))


ORACLE_KNN_SQ8 = """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
edim AS (
  SELECT vec_id, pos, x
  FROM (SELECT vec_id, UNNEST(emb) AS x,
               generate_subscripts(emb, 1) AS pos FROM base)
),
rng AS (
  SELECT pos, round(min(x), 6) AS lo, round(max(x), 6) AS hi
  FROM edim GROUP BY pos
),
codes AS (
  SELECT e.vec_id, e.pos,
         CASE WHEN r.hi - r.lo <= 0 THEN 0
              ELSE greatest(0, least(255,
                CAST(round((e.x - r.lo) / (r.hi - r.lo) * 255.0, 0) AS INTEGER)))
         END AS c
  FROM edim e JOIN rng r USING (pos)
),
deq AS (
  SELECT c.vec_id, c.pos, c.c * ((r.hi - r.lo) / 255.0) + r.lo AS y
  FROM codes c JOIN rng r USING (pos)
),
vnrm AS (SELECT vec_id, sqrt(sum(y * y)) AS nrm FROM deq GROUP BY vec_id),
queries AS (
  SELECT vec_id AS q_id,
         sqrt(list_dot_product(emb, emb)) AS q_nrm
  FROM base WHERE vec_id < 10
),
qdim AS (SELECT vec_id AS q_id, pos, x FROM edim WHERE vec_id < 10),
dp AS (
  SELECT d.vec_id, q.q_id, sum(d.y * q.x) AS s
  FROM deq d JOIN qdim q ON q.pos = d.pos
  GROUP BY d.vec_id, q.q_id
),
scored AS (
  SELECT dp.q_id, dp.vec_id AS neighbor_id,
         round(dp.s / (v.nrm * qs.q_nrm), 6) AS cos_sim
  FROM dp
  JOIN vnrm v ON v.vec_id = dp.vec_id
  JOIN queries qs ON qs.q_id = dp.q_id
  WHERE dp.vec_id <> dp.q_id AND v.nrm > 0 AND qs.q_nrm > 0
)
SELECT q_id, neighbor_id, cos_sim, CAST(rank AS INTEGER) AS rank FROM (
  SELECT q_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 5
"""


def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine high-similarity pairs on a 25% subset — the
    oracle-able baseline for near-dup detection; `embedding_near_dup_pairs`
    (LSH-bucketed, threshold 0.95) is the scale path, tested on planted
    duplicates in pytest. The driver's random embeddings top out at
    cos≈0.44, so the query thresholds at 0.35 to produce verifiable rows."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 4 == 0)
    base = emb.select(
        F.col("vec_id"), F.col("embedding").alias("emb"),
        S.l2_norm(F.col("embedding")).alias("nrm"),
    )
    a, b = base.alias("a"), base.alias("b")
    cos = S.dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.35)
    )


ORACLE_EMBEDDING_NEAR_DUP = """
WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 4 = 0)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS cos_sim
FROM sub a JOIN sub b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]), 6) >= 0.35
"""


def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    nrm = S.l2_norm(F.col("embedding"))
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg(nrm), 6).alias("avg_norm"),
        F.round(F.min(nrm), 6).alias("min_norm"),
        F.round(F.max(nrm), 6).alias("max_norm"),
    )


ORACLE_EMBEDDING_NORM_STATS = """
SELECT label, count(*) AS n_vecs,
       round(avg(nrm), 6) AS avg_norm,
       round(min(nrm), 6) AS min_norm,
       round(max(nrm), 6) AS max_norm
FROM (SELECT label,
             sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
      FROM embeddings)
GROUP BY label
"""


# --------------------------------------------------------------------------
# Text analytics
# --------------------------------------------------------------------------

def text_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = TS.quality_columns(_t(spark, sf_dir, "documents"))
    return (
        docs.filter(F.col("n_tokens") > 0)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
            F.round(F.avg("avg_token_len"), 6).alias("avg_token_len"),
            F.round(F.avg("stop_ratio"), 6).alias("avg_stop_ratio"),
        )
    )


ORACLE_TEXT_QUALITY_BY_SOURCE = f"""
WITH tok AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS term FROM documents
),
tok_ne AS (SELECT * FROM tok WHERE term <> ''),
per_doc AS (
  SELECT doc_id, source,
         count(*) AS n_tokens,
         CAST(sum(length(term)) AS DOUBLE) / count(*) AS avg_token_len,
         CAST(sum(CASE WHEN lower(term) IN ({_STOPLIST_SQL}) THEN 1 ELSE 0 END)
              AS DOUBLE) / count(*) AS stop_ratio
  FROM tok_ne GROUP BY doc_id, source
)
SELECT source, count(*) AS n_docs,
       round(avg(CAST(n_tokens AS DOUBLE)), 6) AS avg_tokens,
       round(avg(avg_token_len), 6) AS avg_token_len,
       round(avg(stop_ratio), 6) AS avg_stop_ratio
FROM per_doc GROUP BY source
"""


def lang_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg(TS.token_count("text")), 6).alias("avg_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


ORACLE_LANG_TOKEN_STATS = """
SELECT lang, count(*) AS n_docs,
       round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars,
       round(avg(CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
                      AS DOUBLE)), 6) AS avg_tokens,
       count(DISTINCT source) AS n_sources
FROM documents GROUP BY lang
"""


def lang_detect_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(TS.detect_language("text").alias("predicted_lang"))
        .groupBy("predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _profile_sum(lang: str) -> str:
    profile = dict(TS.LANG_PROFILES)[lang]
    return (
        f"sum(CASE WHEN term IN ({_sql_strings(profile)}) THEN 1 ELSE 0 END)"
    )


ORACLE_LANG_DETECT_COUNTS = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tok_ne AS (SELECT * FROM tok WHERE term <> ''),
per_doc AS (
  SELECT doc_id,
         {_profile_sum('en')} AS s_en,
         {_profile_sum('es')} AS s_es,
         {_profile_sum('de')} AS s_de,
         {_profile_sum('fr')} AS s_fr
  FROM tok_ne GROUP BY doc_id
),
all_docs AS (
  -- zero-token documents (empty/whitespace-only text) produce no tok_ne
  -- rows; the engine scores them all-zero -> 'en', so default them here too
  SELECT d.doc_id,
         coalesce(p.s_en, 0) AS s_en, coalesce(p.s_es, 0) AS s_es,
         coalesce(p.s_de, 0) AS s_de, coalesce(p.s_fr, 0) AS s_fr
  FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
)
SELECT predicted_lang, count(*) AS n_docs
FROM (SELECT CASE
        WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        WHEN s_de >= s_fr THEN 'de'
        ELSE 'fr' END AS predicted_lang
      FROM all_docs)
GROUP BY predicted_lang
"""


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TS.token_count("text").alias("n_ws_tokens"),
        TS.regex_token_count("text").alias("n_regex_tokens"),
        F.length("text").alias("text_len"),
    )


ORACLE_TOKEN_COUNTS = """
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
            AS INTEGER) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
            AS INTEGER) AS n_regex_tokens,
       CAST(length(text) AS INTEGER) AS text_len
FROM documents
"""


def pack_documents_2048(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_etl_twitter_spark.operators.packing import pack_documents

    return pack_documents(_t(spark, sf_dir, "documents"), budget=2048)


def _oracle_pack() -> str:
    from pyspark_etl_twitter_spark.operators.packing import ORACLE_PACK_DOCUMENTS

    return ORACLE_PACK_DOCUMENTS.format(budget=2048)


ORACLE_PACK_DOCUMENTS_2048 = _oracle_pack()


def pack_documents_salted_2048(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path packing: partitioned per-range cumsums + offset stitching
    (no single-partition window; see operators/packing.py)."""
    from pyspark_etl_twitter_spark.operators.packing import pack_documents_salted

    return pack_documents_salted(
        _t(spark, sf_dir, "documents"), budget=2048, n_salts=8
    )


def _oracle_pack_salted() -> str:
    from pyspark_etl_twitter_spark.operators.packing import (
        ORACLE_PACK_DOCUMENTS_SALTED,
    )

    return ORACLE_PACK_DOCUMENTS_SALTED.format(budget=2048, n_salts=8)


ORACLE_PACK_DOCUMENTS_SALTED_2048 = _oracle_pack_salted()


def multi_resolution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascading rollup: minute-level aggregates
    re-aggregated to hours — the continuous-aggregate pattern where coarse
    resolutions are built from fine partials (sums of sums), never from raw
    events twice."""
    ev = _t(spark, sf_dir, "events")
    minute = ev.groupBy(
        F.date_trunc("minute", F.col("ts")).alias("minute_start")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    return (
        minute.groupBy(F.date_trunc("hour", F.col("minute_start")).alias("hour_start"))
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("v"), 6).alias("sum_value"),
            F.count(F.lit(1)).alias("n_minutes"),
        )
    )


ORACLE_MULTI_RESOLUTION_ROLLUP = """
WITH minute AS (
  SELECT date_trunc('minute', ts) AS minute_start,
         count(*) AS n, sum(value) AS v
  FROM events GROUP BY 1)
SELECT date_trunc('hour', minute_start) AS hour_start,
       CAST(sum(n) AS BIGINT) AS n_events,
       round(sum(v), 6) AS sum_value,
       count(*) AS n_minutes
FROM minute GROUP BY 1
"""


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TS.doc_fingerprints(_t(spark, sf_dir, "documents"))


ORACLE_DOC_FINGERPRINTS = """
WITH tok AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS term,
         generate_subscripts(string_split(text, ' '), 1) AS pos1
  FROM documents
),
numbered AS (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos1) AS pos
  FROM tok WHERE term <> ''
)
SELECT doc_id,
       CAST(sum(CAST(pos AS BIGINT)
                * (31 * length(term) + ascii(substr(term, 1, 1))))
            AS BIGINT) AS fingerprint
FROM numbered GROUP BY doc_id
"""


def chunk_documents_overlap_64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (64-token windows, stride 48): every token
    covered, 16-token overlap between adjacent windows — the RAG/long-
    context indexing shape (operators/encoding.chunk_documents_overlap)."""
    from pyspark_etl_twitter_spark.operators.encoding import (
        chunk_documents_overlap,
    )

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents_overlap(docs, chunk_tokens=64, stride=48)


ORACLE_CHUNK_DOCUMENTS_OVERLAP_64 = """
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
expanded AS (
  SELECT doc_id, toks,
         CAST(unnest(generate_series(0, CAST(floor((len(toks) - 1) / 48.0) AS INTEGER)))
              AS INTEGER) AS chunk_id
  FROM base WHERE len(toks) > 0
),
sliced AS (
  SELECT doc_id, chunk_id,
         list_slice(toks, chunk_id * 48 + 1,
                    least(chunk_id * 48 + 64, len(toks))) AS chunk
  FROM expanded
)
SELECT doc_id, chunk_id,
       CAST(len(chunk) AS INTEGER) AS n_chunk_tokens,
       array_to_string(chunk, ' ') AS chunk_text
FROM sliced
"""


BM25_QUERY_TERMS = ("join", "hash", "scan")


def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators/textstats.bm25_scores): top-20
    documents for a fixed 3-term query, Lucene idf. Only matching tokens
    are ever exploded/shuffled — work scales with hits, not corpus — and
    the final top-k is a TakeOrderedAndProject with doc_id tiebreak."""
    from pyspark_etl_twitter_spark.operators.textstats import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    return (
        bm25_scores(docs, BM25_QUERY_TERMS)
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
    )


ORACLE_BM25_SEARCH_TOPK = """
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
d AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, toks FROM base),
scal AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM d),
m AS (SELECT doc_id, dl, unnest(toks) AS term FROM d),
f AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl
  FROM m WHERE term IN ('join', 'hash', 'scan')
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM f GROUP BY term),
s AS (
  SELECT f.doc_id,
         ln(1.0 + ((n - df) + 0.5) / (df + 0.5))
           * (tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl)) AS sc
  FROM f JOIN dfreq USING (term), scal
)
SELECT doc_id, round(sum(sc), 6) AS score
FROM s GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT 20
"""


# --------------------------------------------------------------------------
# Round 4: char-entropy quality + cross-doc repeated spans
# --------------------------------------------------------------------------


def char_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-entropy profile (avg/min/max bits per char) —
    the compression-style quality signal. Exchange bounded by
    docs × alphabet, never corpus bytes (operators/textstats.char_entropy)."""
    from pyspark_etl_twitter_spark.operators.textstats import char_entropy

    docs = _t(spark, sf_dir, "documents")
    ent = char_entropy(docs)
    return (
        docs.select("doc_id", "source")
        .join(ent, "doc_id")
        .groupBy("source")
        .agg(
            F.round(F.avg("entropy_bits"), 6).alias("avg_entropy"),
            F.round(F.min("entropy_bits"), 6).alias("min_entropy"),
            F.round(F.max("entropy_bits"), 6).alias("max_entropy"),
        )
    )


ORACLE_CHAR_ENTROPY_BY_SOURCE = """
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
),
counts AS (
  SELECT doc_id, ch, count(*) AS c FROM chars WHERE ch <> '' GROUP BY 1, 2
),
ent AS (
  SELECT doc_id,
         round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy_bits
  FROM counts GROUP BY doc_id
)
SELECT source,
       round(avg(entropy_bits), 6) AS avg_entropy,
       round(min(entropy_bits), 6) AS min_entropy,
       round(max(entropy_bits), 6) AS max_entropy
FROM documents JOIN ent USING (doc_id)
GROUP BY source
"""


SPAN_N = 8
SPAN_MIN_DOCS = 3


def repeated_spans_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-repeated cross-document 8-grams (boilerplate detector): spans
    in ≥ SPAN_MIN_DOCS distinct docs, heaviest first. Counts, never
    pairs, so a corpus-wide boilerplate block is a one-reducer skew (AQE
    splits it), not a pair blowup."""
    from pyspark_etl_twitter_spark.operators.textstats import (
        repeated_ngram_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    spans = repeated_ngram_spans(docs, n=SPAN_N, min_docs=SPAN_MIN_DOCS)
    return spans.orderBy(
        F.desc("n_docs"), F.desc("n_occurrences"), F.asc("span")
    ).limit(50)


ORACLE_REPEATED_SPANS_TOP = f"""
WITH tokd AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
),
spans AS (
  SELECT doc_id,
         unnest(list_transform(
             range(1, greatest(len(t) - {SPAN_N} + 2, 1)),
             i -> array_to_string(t[i:i+{SPAN_N - 1}], ' '))) AS span
  FROM tokd
),
per_doc AS (
  SELECT doc_id, span, count(*) AS occ FROM spans GROUP BY 1, 2
)
SELECT span, count(*) AS n_docs, CAST(sum(occ) AS BIGINT) AS n_occurrences
FROM per_doc
GROUP BY span
HAVING count(*) >= {SPAN_MIN_DOCS}
ORDER BY n_docs DESC, n_occurrences DESC, span ASC
LIMIT 50
"""


def script_profile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source script/character-class profile (round 5): mean latin/
    digit/cyrillic/CJK character fractions — the charset sanity signal a
    multilingual mix keys on."""
    return TS.script_profile(_t(spark, sf_dir, "documents"))


ORACLE_SCRIPT_PROFILE_BY_SOURCE = """
WITH per_doc AS (
  SELECT source,
         CASE WHEN length(text) > 0
              THEN round((length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g'))) * 1.0 / length(text), 6)
              ELSE 0.0 END AS frac_latin,
         CASE WHEN length(text) > 0
              THEN round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0 / length(text), 6)
              ELSE 0.0 END AS frac_digit,
         CASE WHEN length(text) > 0
              THEN round((length(text) - length(regexp_replace(text, '[Ѐ-ӿ]', '', 'g'))) * 1.0 / length(text), 6)
              ELSE 0.0 END AS frac_cyrillic,
         CASE WHEN length(text) > 0
              THEN round((length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g'))) * 1.0 / length(text), 6)
              ELSE 0.0 END AS frac_cjk
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       round(avg(frac_latin), 6) AS avg_frac_latin,
       round(avg(frac_digit), 6) AS avg_frac_digit,
       round(avg(frac_cyrillic), 6) AS avg_frac_cyrillic,
       round(avg(frac_cjk), 6) AS avg_frac_cjk
FROM per_doc GROUP BY source
"""


def dedup_normalized_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-insensitive duplication profile (round 5): how many
    duplicates casefold/whitespace/punctuation normalization finds beyond
    raw exact dedup."""
    return D.normalized_dedup_summary(_t(spark, sf_dir, "documents"))


ORACLE_DEDUP_NORMALIZED_SUMMARY = """
WITH n AS (
  SELECT text,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents
)
SELECT count(*) AS n_docs,
       count(DISTINCT norm) AS n_distinct_norm,
       CAST(count(*) - count(DISTINCT norm) AS BIGINT) AS n_norm_dup_docs,
       CAST(count(DISTINCT text) - count(DISTINCT norm) AS BIGINT) AS n_extra_vs_exact
FROM n
"""


def hashed_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source profile of the md5 feature-hashed document embeddings
    (round 5): doc count, mean nonzero-bucket count, mean pre-normalization
    L2 norm — the bridge-path sanity stats, computed from the FLAT
    (doc, bucket, val) rows so the hashing-trick arithmetic itself is
    hash-verified against DuckDB (the dense-array assembly and the ANN
    integration are pytest-covered)."""
    from pyspark_etl_twitter_spark.operators.encoding import (
        hashed_term_features,
    )

    docs = _t(spark, sf_dir, "documents")
    sparse = hashed_term_features(docs, dim=64)
    per_doc = sparse.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_nnz"),
        F.sum(F.col("val") * F.col("val")).alias("_ss"),
    )
    joined = docs.select("doc_id", "source").join(per_doc, "doc_id", "left")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.coalesce("_nnz", F.lit(0))), 6).alias("avg_nnz"),
        F.round(
            F.avg(F.sqrt(F.coalesce("_ss", F.lit(0.0)))), 6
        ).alias("avg_norm"),
    )


ORACLE_HASHED_EMBEDDING_PROFILE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
feat AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 64 AS bucket,
         CAST(CAST(('0x' || substr(md5(term), 9, 1)) AS BIGINT) % 2 * 2 - 1
              AS DOUBLE) AS s
  FROM tok WHERE term <> ''
),
sparse AS (
  SELECT doc_id, bucket, sum(s) AS val
  FROM feat GROUP BY doc_id, bucket HAVING sum(s) <> 0
),
per_doc AS (
  SELECT doc_id, count(*) AS nnz, sum(val * val) AS ss
  FROM sparse GROUP BY doc_id
)
SELECT d.source,
       count(*) AS n_docs,
       round(avg(coalesce(p.nnz, 0)), 6) AS avg_nnz,
       round(avg(sqrt(coalesce(p.ss, 0.0))), 6) AS avg_norm
FROM documents d LEFT JOIN per_doc p USING (doc_id)
GROUP BY d.source
"""


_LR_DIM = 64
_LR_ITERS = 3
_LR_RATE = 0.1


def _lr_label(docs: DataFrame) -> DataFrame:
    """Quality-classifier labels: target domain = src0 (the DSIR target
    convention) vs everything else — the CCNet/fastText framing."""
    return docs.withColumn(
        "_y", (F.col("source") == "src0").cast("double")
    )


def quality_lr_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED quality-classifier weights — distributed full-batch
    logistic GD over oracle-verified md5 hashed features, fixed 3
    iterations, weights engine-rounded to 6dp per round (the
    `kmeans_fit_portable` discipline). Fully ORACLE-BACKED: DuckDB
    unrolls the whole GD trajectory (margins → sigmoid errors →
    bucket gradients → rounded update, per iteration)."""
    from pyspark_etl_twitter_spark.operators.classifier import lr_train_portable

    docs = _lr_label(_t(spark, sf_dir, "documents"))
    w = lr_train_portable(docs, dim=_LR_DIM, iters=_LR_ITERS, lr=_LR_RATE)
    return local_table(
        spark, "bucket bigint, weight double", {"bucket": range(len(w)), "weight": w}
    )


def quality_lr_scores_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source profile of the trained classifier's σ(w·x) scores —
    n_docs, mean score, fraction flagged as target-like (rounded score
    ≥ 0.5). The end-to-end train→infer pipeline in one oracle-backed
    query. (The driver's synthetic docs carry little source signal, so
    scores cluster near the base rate here; separation on a
    planted-signature corpus is pinned in tests/test_classifier.py.)"""
    from pyspark_etl_twitter_spark.operators.classifier import (
        lr_score,
        lr_train_portable,
    )

    docs = _lr_label(_t(spark, sf_dir, "documents"))
    w = lr_train_portable(docs, dim=_LR_DIM, iters=_LR_ITERS, lr=_LR_RATE)
    scores = lr_score(docs, w, dim=_LR_DIM)
    return (
        docs.select("doc_id", "source")
        .join(scores, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("score"), 6).alias("avg_score"),
            F.round(
                F.avg(
                    (F.round(F.col("score"), 6) >= 0.5).cast("double")
                ),
                6,
            ).alias("frac_target_like"),
        )
    )


def _lr_gd_ctes(
    dim: int = _LR_DIM,
    iters: int = _LR_ITERS,
    rate: float = _LR_RATE,
    dp: int = 6,
) -> str:
    """Unrolled logistic-GD trajectory up to ``w{iters}`` (bucket, w)."""
    parts = [
        f"""tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
hfeat AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % {dim} AS bucket,
         CAST(CAST(('0x' || substr(md5(term), 9, 1)) AS BIGINT) % 2 * 2 - 1
              AS DOUBLE) AS s
  FROM tok WHERE term <> ''
),
sparse AS (
  SELECT doc_id, bucket, sum(s) AS val
  FROM hfeat GROUP BY doc_id, bucket HAVING sum(s) <> 0
),
feats AS (
  SELECT doc_id, bucket, val FROM sparse
  UNION ALL
  SELECT doc_id, {dim} AS bucket, 1.0 AS val FROM documents
),
lab AS (
  SELECT doc_id, CASE WHEN source = 'src0' THEN 1.0 ELSE 0.0 END AS y
  FROM documents
),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
w0 AS (SELECT CAST(UNNEST(range(0, {dim + 1})) AS BIGINT) AS bucket, 0.0 AS w)"""
    ]
    for i in range(iters):
        parts.append(
            f""",
m{i} AS (
  SELECT f.doc_id, sum(f.val * w.w) AS marg
  FROM feats f JOIN w{i} w USING (bucket) GROUP BY f.doc_id
),
e{i} AS (
  SELECT l.doc_id,
         1.0 / (1.0 + exp(-coalesce(m.marg, 0.0))) - l.y AS e
  FROM lab l LEFT JOIN m{i} m USING (doc_id)
),
g{i} AS (
  SELECT f.bucket, sum(e.e * f.val) / (SELECT n FROM nn) AS g
  FROM feats f JOIN e{i} e USING (doc_id) GROUP BY f.bucket
),
w{i + 1} AS (
  SELECT w.bucket, round(w.w - {rate} * coalesce(g.g, 0.0), {dp}) AS w
  FROM w{i} w LEFT JOIN g{i} g USING (bucket)
)"""
        )
    return "".join(parts)


ORACLE_QUALITY_LR_WEIGHTS = f"""
WITH {_lr_gd_ctes()}
SELECT bucket, w AS weight FROM w{_LR_ITERS}
"""


ORACLE_QUALITY_LR_SCORES_BY_SOURCE = f"""
WITH {_lr_gd_ctes()},
fm AS (
  SELECT f.doc_id, sum(f.val * w.w) AS marg
  FROM feats f JOIN w{_LR_ITERS} w USING (bucket) GROUP BY f.doc_id
),
sc AS (
  SELECT doc_id, 1.0 / (1.0 + exp(-marg)) AS score FROM fm
)
SELECT d.source, count(*) AS n_docs,
       round(avg(s.score), 6) AS avg_score,
       round(avg(CASE WHEN round(s.score, 6) >= 0.5 THEN 1.0 ELSE 0.0 END), 6)
         AS frac_target_like
FROM documents d JOIN sc s USING (doc_id)
GROUP BY d.source
"""


TEXT_SEM_PLANES = 6
TEXT_SEM_SEED = 23
TEXT_SEM_TAU = 0.9
_TEXT_SEM_DIM = 64


def text_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end TEXT near-dup via the embedding path, fully
    hash-verified (round 5): md5 feature-hash each document to a DOUBLE
    vector (bit-reproducible in SQL — integer bucket sums make the norm
    exact regardless of summation order), LSH-bucket with seeded literal
    hyperplanes, exact-cosine-verify candidates ≥ τ. The DuckDB twin
    recomputes the WHOLE pipeline — tokenize → hash → dense assembly →
    buckets → verified pairs — so this is the engine's first completely
    verified text→vector→near-dup composition (the pytest integration
    additionally drives the same path through a persisted index)."""
    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.operators.encoding import hashed_embedding
    from pyspark_etl_twitter_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    emb = (
        hashed_embedding(docs, dim=_TEXT_SEM_DIM, dtype="double")
        .withColumnRenamed("doc_id", "vec_id")
        .filter(F.exists("embedding", lambda x: x != 0))
    )
    return embedding_near_dup_pairs(
        emb,
        threshold=TEXT_SEM_TAU,
        n_planes=TEXT_SEM_PLANES,
        seed=TEXT_SEM_SEED,
    )


def _text_sem_oracle() -> str:
    from pyspark_etl_twitter_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(_TEXT_SEM_DIM, TEXT_SEM_PLANES, TEXT_SEM_SEED)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(emb, "
        f"[{', '.join(repr(x) for x in plane)}]) > 0 THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(planes)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
feat AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % {_TEXT_SEM_DIM} AS bucket,
         CAST(CAST(('0x' || substr(md5(term), 9, 1)) AS BIGINT) % 2 * 2 - 1
              AS DOUBLE) AS s
  FROM tok WHERE term <> ''
),
sparse AS (
  SELECT doc_id, bucket, sum(s) AS val
  FROM feat GROUP BY doc_id, bucket HAVING sum(s) <> 0
),
per_doc AS (
  SELECT doc_id, sqrt(sum(val * val)) AS nrm FROM sparse GROUP BY doc_id
),
cells AS (
  SELECT p.doc_id, t.i AS bucket, coalesce(s.val, 0.0) / p.nrm AS v
  FROM per_doc p
  CROSS JOIN range(0, {_TEXT_SEM_DIM}) t(i)
  LEFT JOIN sparse s ON s.doc_id = p.doc_id AND s.bucket = t.i
),
dense AS (
  SELECT doc_id, list(v ORDER BY bucket) AS emb FROM cells GROUP BY doc_id
),
base AS (
  SELECT doc_id AS vec_id, emb, {bucket_terms} AS bucket FROM dense
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.emb, b.emb)
             / (sqrt(list_dot_product(a.emb, a.emb))
                * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos_sim
FROM base a JOIN base b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_dot_product(a.emb, b.emb)
            / (sqrt(list_dot_product(a.emb, a.emb))
               * sqrt(list_dot_product(b.emb, b.emb))), 6) >= {TEXT_SEM_TAU}
"""


ORACLE_TEXT_EMBEDDING_NEAR_DUP = _text_sem_oracle()


def text_semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full text semantic dedup, verified end to end (round 5): the
    hashed-embedding near-dup pairs (see ``text_embedding_near_dup``) →
    connected-components closure → keep each cluster's min-id doc →
    per-source corpus shrinkage. The DuckDB twin recomputes everything
    including the transitive closure (recursive CTE) — no stage of the
    text→vector→cluster→survivors pipeline is taken on faith."""
    from pyspark.sql import functions as F

    from pyspark_etl_twitter_spark.operators.dedup import duplicate_clusters
    from pyspark_etl_twitter_spark.operators.encoding import hashed_embedding
    from pyspark_etl_twitter_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    emb = (
        hashed_embedding(docs, dim=_TEXT_SEM_DIM, dtype="double")
        .withColumnRenamed("doc_id", "vec_id")
        .filter(F.exists("embedding", lambda x: x != 0))
    )
    pairs = embedding_near_dup_pairs(
        emb,
        threshold=TEXT_SEM_TAU,
        n_planes=TEXT_SEM_PLANES,
        seed=TEXT_SEM_SEED,
    )
    clusters = duplicate_clusters(pairs, a_col="vec_a", b_col="vec_b")
    drops = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    kept = docs.join(drops, "doc_id", "left_anti")
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    kept_counts = kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))
    return totals.join(kept_counts, "source").select(
        "source", "n_total", "n_kept"
    )


def _text_sem_survivors_oracle() -> str:
    from pyspark_etl_twitter_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(_TEXT_SEM_DIM, TEXT_SEM_PLANES, TEXT_SEM_SEED)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(emb, "
        f"[{', '.join(repr(x) for x in plane)}]) > 0 THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(planes)
    )
    return f"""
WITH RECURSIVE tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
feat AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % {_TEXT_SEM_DIM} AS bucket,
         CAST(CAST(('0x' || substr(md5(term), 9, 1)) AS BIGINT) % 2 * 2 - 1
              AS DOUBLE) AS s
  FROM tok WHERE term <> ''
),
sparse AS (
  SELECT doc_id, bucket, sum(s) AS val
  FROM feat GROUP BY doc_id, bucket HAVING sum(s) <> 0
),
per_doc AS (
  SELECT doc_id, sqrt(sum(val * val)) AS nrm FROM sparse GROUP BY doc_id
),
cells AS (
  SELECT p.doc_id, t.i AS bucket, coalesce(s.val, 0.0) / p.nrm AS v
  FROM per_doc p
  CROSS JOIN range(0, {_TEXT_SEM_DIM}) t(i)
  LEFT JOIN sparse s ON s.doc_id = p.doc_id AND s.bucket = t.i
),
dense AS (
  SELECT doc_id, list(v ORDER BY bucket) AS emb FROM cells GROUP BY doc_id
),
base AS (
  SELECT doc_id AS vec_id, emb, {bucket_terms} AS bucket FROM dense
),
npairs AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.emb, b.emb)
              / (sqrt(list_dot_product(a.emb, a.emb))
                 * sqrt(list_dot_product(b.emb, b.emb))), 6) >= {TEXT_SEM_TAU}
),
edges AS (
  SELECT va AS src, vb AS dst FROM npairs
  UNION
  SELECT vb, va FROM npairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
),
clusters AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
drops AS (SELECT node FROM clusters WHERE node <> cluster_id)
SELECT source,
       count(*) AS n_total,
       count(CASE WHEN doc_id NOT IN (SELECT node FROM drops) THEN 1 END) AS n_kept
FROM documents
GROUP BY source
"""


ORACLE_TEXT_SEMANTIC_DEDUP_SURVIVORS = _text_sem_survivors_oracle()


# --------------------------------------------------------------------------
# BPE training (round 10): rows-only by design — the merge loop is an
# iterative algorithm (argmax + fuse per round) that no recursive CTE
# reproduces tractably; correctness is pinned in pytest by equality vs an
# independent brute-force trainer over the fully expanded corpus
# (tests/test_encoding.py), plus prefix-stability / compression /
# partitioning-invariance properties.
# --------------------------------------------------------------------------

BPE_N_MERGES = 200


def bpe_tokens_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a BPE tokenizer on the corpus (distributed word-count pass +
    bounded driver merge loop, operators/encoding.bpe_train), apply it
    with the Arrow-batched encoder, and report per-source compression:
    (source, n_docs, total_tokens, chars_per_token). The chars/token
    ratio is THE tokenizer-quality metric a training pipeline tracks —
    higher is better compression at fixed vocab budget."""
    from pyspark_etl_twitter_spark.operators.encoding import (
        bpe_encode_documents,
        bpe_train,
    )

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=BPE_N_MERGES)
    enc = bpe_encode_documents(docs, merges)
    per_doc = enc.select(
        "doc_id",
        F.size("tokens").alias("n_tok"),
        F.aggregate(
            F.transform("tokens", F.length), F.lit(0), lambda a, t: a + t
        ).alias("n_chr"),
    )
    return (
        docs.select("doc_id", "source")
        .join(per_doc, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.sum("n_chr") / F.sum("n_tok"), 4).alias("chars_per_token"),
        )
    )


#: FROZEN merge list for the oracle-backed BPE-encode row — produced
#: once by ``bpe_train(n_merges=24)`` on the sf0.001 corpus and pinned
#: here as a shipped tokenizer artifact (the realistic deployment shape:
#: merges are trained offline, application is the hot path). Chain-valid
#: by construction (``validate_bpe_merge_chain``).
BPE_FIXED_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
    ("l", "u"), ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"),
    ("a", "n"), ("c", "an"), ("s", "can"), ("c", "o"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("d", "ow"), ("in", "dow"),
    ("w", "indow"), ("d", "er"), ("or", "der"), ("or", "t"), ("s", "ort"),
]


def bpe_encoded_fixed_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE with a frozen merge list, fully hash-verified (r11
    verdict ask #6): ``bpe_apply_fixed_expr`` unrolls the 24 fixed
    merges into one codegen replace chain (the MMR bounded-unroll
    precedent), so the entire encode — char framing, rank-ordered
    merge passes, token split — replays verbatim in DuckDB. Per-source
    tokenizer profile: doc count, token count, distinct tokens,
    chars/token (the compression metric). This closes the encode side
    of the BPE pair with a full oracle; only the iterative TRAIN loop
    (`bpe_tokens_by_source`) stays rows-only + pytest-pinned."""
    from pyspark_etl_twitter_spark.operators.encoding import (
        bpe_apply_fixed_expr,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(bpe_apply_fixed_expr("text", BPE_FIXED_MERGES)).alias("tok"),
    )
    agg = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("tok").alias("n_distinct_tokens"),
        F.round(F.sum(F.length("tok")) / F.count(F.lit(1)), 4).alias(
            "chars_per_token"
        ),
    )
    nd = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return nd.join(agg, "source", "left").select(
        "source",
        "n_docs",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        F.coalesce("n_distinct_tokens", F.lit(0)).alias("n_distinct_tokens"),
        "chars_per_token",
    )


def _bpe_fixed_oracle() -> str:
    """The replace-chain unroll rendered as DuckDB SQL: chr(31) is the
    frame delimiter, '\\1' the RE2 backref; merge k's pass is one nested
    replace() in rank order — identical leftmost non-overlapping
    semantics to Spark's F.replace."""
    d = "chr(31)"
    s = f"regexp_replace(replace(w, {d}, ''), '(.)', {d} || '\\1' || {d}, 'g')"
    for x, y in BPE_FIXED_MERGES:
        s = f"replace({s}, {d}||'{x}'||{d}||{d}||'{y}'||{d}, {d}||'{x}{y}'||{d})"
    return f"""
WITH words AS (
  SELECT source,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
  FROM documents
),
enc AS (SELECT source, trim({s}, {d}) AS s2 FROM words),
toks AS (
  SELECT source, unnest(string_split(s2, {d} || {d})) AS tok
  FROM enc WHERE s2 <> ''
),
agg AS (
  SELECT source, count(*) AS n_tokens,
         count(DISTINCT tok) AS n_distinct_tokens,
         round(sum(length(tok))::DOUBLE / count(*), 4) AS chars_per_token
  FROM toks WHERE tok <> '' GROUP BY source
)
SELECT d.source, count(*) AS n_docs,
       coalesce(any_value(a.n_tokens), 0) AS n_tokens,
       coalesce(any_value(a.n_distinct_tokens), 0) AS n_distinct_tokens,
       any_value(a.chars_per_token) AS chars_per_token
FROM documents d LEFT JOIN agg a USING (source)
GROUP BY d.source
"""


ORACLE_BPE_ENCODED_FIXED_MERGES = _bpe_fixed_oracle()


BPE_TRAIN_N = 12


def bpe_train_portable_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TRAINING fully distributed and fully hash-verified: the
    12-round merge trajectory of ``bpe_train_portable`` — word-count
    aggregate, per-round weighted adjacent-pair counts, argmax with the
    exact (count desc, pair lexicographic) tie rule, 1-row broadcast
    fuse — emitted AS the merge list (rank, left, right). DuckDB replays
    all 12 rounds as chained CTEs with scalar-subquery argmaxes, so the
    training loop itself (previously the engine's one driver-side
    iterative op, rows-only as `bpe_tokens_by_source`) is now
    oracle-verified end to end. Pinned equal to the driver trainer
    ``bpe_train`` in pytest."""
    from pyspark_etl_twitter_spark.operators.encoding import (
        bpe_train_portable,
    )

    return bpe_train_portable(
        _t(spark, sf_dir, "documents"), n_merges=BPE_TRAIN_N
    )


def _bpe_train_oracle(n_merges: int = BPE_TRAIN_N) -> str:
    """The merge loop unrolled as n_merges chained CTE rounds: w{r} is
    the framed word table after round r, b{r} the round's argmax pair
    (LEFT JOIN ON TRUE so an exhausted pair table makes later rounds
    no-ops, mirroring the trainer's break)."""
    d = "chr(31)"
    parts = [
        f"""w0 AS (
  SELECT regexp_replace(replace(w, {d}, ''), '(.)', {d} || '\\1' || {d}, 'g') AS s, c
  FROM (
    SELECT w, count(*) AS c FROM (
      SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
      FROM documents) GROUP BY w)
)"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f""",
p{r} AS (
  SELECT pr.x AS x, pr.y AS y, c FROM (
    SELECT unnest(list_transform(range(1, len(l)),
                                 i -> {{'x': l[i], 'y': l[i + 1]}})) AS pr, c
    FROM (SELECT string_split(trim(s, {d}), {d} || {d}) AS l, c FROM w{r - 1}))
),
b{r} AS (
  SELECT x, y FROM (
    SELECT x, y, sum(c) AS cnt FROM p{r} GROUP BY x, y)
  ORDER BY cnt DESC, x, y LIMIT 1
),
w{r} AS (
  SELECT CASE WHEN b.x IS NULL THEN w.s
              ELSE replace(w.s, {d} || b.x || {d} || {d} || b.y || {d},
                                {d} || b.x || b.y || {d}) END AS s, w.c
  FROM w{r - 1} w LEFT JOIN b{r} b ON TRUE
)"""
        )
    unions = "\nUNION ALL\n".join(
        f'SELECT {r} AS rank, x AS "left", y AS "right" FROM b{r}'
        for r in range(1, n_merges + 1)
    )
    return f"WITH {''.join(parts)}\n{unions}"


ORACLE_BPE_TRAIN_PORTABLE_MERGES = _bpe_train_oracle()


def gopher_rules_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, A1.1) rolled up per source:
    doc counts, composite keeps, and per-rule failure counts — the
    auditable view a curation pipeline reviews before applying the gate.
    Every rule is exact integer arithmetic (operators/textstats
    ``gopher_quality_flags``), so the whole gate is hash-verified.

    The stopword threshold is pinned to 1 here (operator default is the
    paper's 2): the synthetic corpus's vocabulary contains only two of
    the eight Gopher function words, so the published threshold rejects
    100% of documents and the composite stops discriminating — the
    deviation is this fixture's, not the operator's."""
    docs = _t(spark, sf_dir, "documents")
    flags = TS.gopher_quality_flags(docs, min_stop_hits=1, keep_cols=("source",))
    fail = lambda c: F.sum((~F.col(c)).cast("long"))  # noqa: E731
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            fail("ok_word_count").alias("n_fail_word_count"),
            fail("ok_mean_word_len").alias("n_fail_mean_word_len"),
            fail("ok_symbol_ratio").alias("n_fail_symbol_ratio"),
            fail("ok_alpha_words").alias("n_fail_alpha_words"),
            fail("ok_stopwords").alias("n_fail_stopwords"),
        )
    )


ORACLE_GOPHER_RULES_BY_SOURCE = """
WITH tokd AS (
  SELECT doc_id, source, text,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
m AS (
  SELECT doc_id, source,
         len(t) AS n_words,
         coalesce(list_sum(list_transform(t, x -> length(x))), 0) AS sum_wl,
         length(text) - length(replace(text, '#', '')) AS hash_count,
         length(text) - length(replace(text, '...', '')) AS ell_chars,
         len(list_filter(t, x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha_words,
         len(list_intersect(list_distinct(t),
             ['the','be','to','of','and','that','have','with'])) AS stop_hits
  FROM tokd
),
f AS (
  SELECT source,
         (n_words >= 50 AND n_words <= 100000) AS ok_wc,
         (n_words > 0 AND sum_wl >= 3 * n_words AND sum_wl <= 10 * n_words) AS ok_mwl,
         (30 * hash_count + 10 * ell_chars <= 3 * n_words) AS ok_sym,
         (5 * alpha_words >= 4 * n_words) AS ok_alpha,
         (stop_hits >= 1) AS ok_stop
  FROM m
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN ok_wc AND ok_mwl AND ok_sym AND ok_alpha AND ok_stop
                       THEN 1 END) AS BIGINT) AS n_kept,
       CAST(count(CASE WHEN NOT ok_wc THEN 1 END) AS BIGINT) AS n_fail_word_count,
       CAST(count(CASE WHEN NOT ok_mwl THEN 1 END) AS BIGINT) AS n_fail_mean_word_len,
       CAST(count(CASE WHEN NOT ok_sym THEN 1 END) AS BIGINT) AS n_fail_symbol_ratio,
       CAST(count(CASE WHEN NOT ok_alpha THEN 1 END) AS BIGINT) AS n_fail_alpha_words,
       CAST(count(CASE WHEN NOT ok_stop THEN 1 END) AS BIGINT) AS n_fail_stopwords
FROM f GROUP BY source
"""


_GLINE_W = 7  # tokens per synthesized line


def gopher_line_rules_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two line-shape Gopher rules (Rae et al. 2021, A1.1 — >90%
    bullet-prefixed lines / >30% ellipsis-suffixed lines) exercised END
    TO END on a PLANTED multi-line fixture (r11 verdict ask #7): the
    single-line corpus is reshaped into 7-token lines, each line
    deterministically decorated — bullet prefix when
    md5_u32(doc:i:'b') % 10 < 8, ellipsis suffix when
    md5_u32(doc:i:'e') % 10 < 3 — so BOTH rules genuinely discriminate
    (short all-bullet docs fail the 90% rule; 2-of-5 ellipsis docs fail
    the 30% rule). The decorated text is reassembled with newlines and
    fed through ``gopher_line_flags`` (the real operator: newline split,
    empty-line filter, cross-multiplied integer thresholds); every stage
    is the engine's portable md5 idiom + string ops, so DuckDB replays
    the construction AND the rules exactly."""
    from pyspark_etl_twitter_spark.operators.textstats import (
        gopher_line_flags,
        ws_tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    n = F.size(toks)
    w = F.lit(_GLINE_W)
    starts = F.when(
        n > 0, F.sequence(F.lit(0), F.floor((n - 1) / w).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    lines0 = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i * w + 1, _GLINE_W)))

    def _mark(tag: str, i):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("doc_id").cast("string"),
                            i.cast("string"),
                            F.lit(tag),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 10
        )

    deco = F.transform(
        lines0,
        lambda x, i: F.concat(
            F.when(_mark("b", i) < 8, F.lit("- ")).otherwise(F.lit("")),
            x,
            F.when(_mark("e", i) < 3, F.lit(" ...")).otherwise(F.lit("")),
        ),
    )
    reshaped = docs.select(
        "doc_id", "source", F.array_join(deco, "\n").alias("text")
    )
    flags = gopher_line_flags(reshaped, keep_cols=("source",))
    fail = lambda c: F.sum((~F.col(c)).cast("long"))  # noqa: E731
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_lines"), 4).alias("avg_lines"),
        fail("ok_bullet_lines").alias("n_fail_bullet_lines"),
        fail("ok_ellipsis_lines").alias("n_fail_ellipsis_lines"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
    )


ORACLE_GOPHER_LINE_RULES_BY_SOURCE = f"""
WITH tokd AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
ln AS (
  SELECT doc_id, source,
         CASE WHEN len(t) > 0 THEN
           list_transform(range(0, CAST(floor((len(t) - 1) / {_GLINE_W}) AS BIGINT) + 1),
             i -> array_to_string(t[i * {_GLINE_W} + 1 : i * {_GLINE_W} + {_GLINE_W}], ' '))
         ELSE [] END AS lines0
  FROM tokd
),
deco AS (
  SELECT doc_id, source,
         list_transform(range(0, len(lines0)), i ->
           (CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':' || i::VARCHAR || ':b'), 1, 8))::BIGINT % 10 < 8
                 THEN '- ' ELSE '' END)
           || lines0[i + 1]
           || (CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':' || i::VARCHAR || ':e'), 1, 8))::BIGINT % 10 < 3
                 THEN ' ...' ELSE '' END)
         ) AS lines
  FROM ln
),
f AS (
  SELECT source, len(lines) AS n_lines,
         len(list_filter(lines, l -> substr(l, 1, 1) IN ('-', '*', '•'))) AS nb,
         len(list_filter(lines, l -> right(l, 3) = '...' OR right(l, 1) = '…')) AS ne
  FROM deco
),
g AS (
  SELECT source, n_lines,
         (10 * nb <= 9 * n_lines) AS okb,
         (10 * ne <= 3 * n_lines) AS oke
  FROM f
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(n_lines), 4) AS avg_lines,
       CAST(count(CASE WHEN NOT okb THEN 1 END) AS BIGINT) AS n_fail_bullet_lines,
       CAST(count(CASE WHEN NOT oke THEN 1 END) AS BIGINT) AS n_fail_ellipsis_lines,
       CAST(count(CASE WHEN okb AND oke THEN 1 END) AS BIGINT) AS n_kept
FROM g GROUP BY source
"""


def c4_rules_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020, §2.2) exercised END TO END
    on a PLANTED multi-line fixture — the C4 sibling of
    ``gopher_line_rules_by_source``: the single-line corpus is reshaped
    into 7-token lines and deterministically decorated so every rule
    genuinely discriminates —

    - terminal ``.`` appended when ``md5_u32(doc:i:'p') % 10 < 6``
      (~60% of lines pass the punctuation rule),
    - the token ``javascript`` injected when ``md5_u32(doc:i:'j') % 13
      == 0`` (those lines fail the javascript rule),
    - a ``lorem ipsum dolor`` line appended when ``md5_u32(doc:'lor') %
      23 == 0`` (the document fails the lorem rule),
    - a ``{ code }`` line appended when ``md5_u32(doc:'brc') % 29 == 0``
      (the document fails the brace rule),
    - each document's 7-token framing leaves a short tail line
      (< 5 words whenever ``n % 7`` is 1-4), exercising the word-count
      rule without extra decoration.

    The decorated text is fed through ``c4_quality_flags`` (the real
    operator) and aggregated per source. Every stage is the portable
    md5 idiom + string ops, so DuckDB replays construction AND rules
    exactly."""
    from pyspark_etl_twitter_spark.operators.textstats import (
        c4_quality_flags,
        ws_tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    n = F.size(toks)
    w = F.lit(_GLINE_W)
    starts = F.when(
        n > 0, F.sequence(F.lit(0), F.floor((n - 1) / w).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    lines0 = F.transform(
        starts, lambda i: F.concat_ws(" ", F.slice(toks, i * w + 1, _GLINE_W))
    )

    def _mark(tag: str, i=None):
        parts = [F.col("doc_id").cast("string")]
        if i is not None:
            parts.append(i.cast("string"))
        parts.append(F.lit(tag))
        return (
            F.conv(F.substring(F.md5(F.concat_ws(":", *parts)), 1, 8), 16, 10)
            .cast("bigint")
        )

    deco = F.transform(
        lines0,
        lambda x, i: F.concat(
            x,
            F.when(_mark("j", i) % 13 == 0, F.lit(" javascript")).otherwise(
                F.lit("")
            ),
            F.when(_mark("p", i) % 10 < 6, F.lit(".")).otherwise(F.lit("")),
        ),
    )
    with_doc_lines = F.concat(
        deco,
        F.when(
            _mark("lor") % 23 == 0, F.array(F.lit("lorem ipsum dolor"))
        ).otherwise(F.array().cast("array<string>")),
        F.when(_mark("brc") % 29 == 0, F.array(F.lit("{ code }"))).otherwise(
            F.array().cast("array<string>")
        ),
    )
    reshaped = docs.select(
        "doc_id", "source", F.array_join(with_doc_lines, "\n").alias("text")
    )
    flags = c4_quality_flags(reshaped, keep_cols=("source",))
    nfail = lambda c: F.sum((~F.col(c)).cast("long"))  # noqa: E731
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_lines").cast("long").alias("lines_total"),
        F.sum("n_kept_lines").cast("long").alias("lines_kept"),
        F.sum("n_fail_punct").cast("long").alias("fail_punct"),
        F.sum("n_fail_short").cast("long").alias("fail_short"),
        F.sum("n_fail_js").cast("long").alias("fail_js"),
        nfail("ok_sentences").alias("fail_sentences"),
        nfail("ok_lorem").alias("fail_lorem"),
        nfail("ok_brace").alias("fail_brace"),
        F.sum(F.col("kept").cast("long")).alias("docs_kept"),
        F.sum(F.length("kept_text")).cast("long").alias("kept_chars"),
    )


_C4_MD5 = (
    "('0x' || substr(md5(doc_id::VARCHAR || {parts}), 1, 8))::BIGINT"
)


ORACLE_C4_RULES_BY_SOURCE = f"""
WITH tokd AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
ln AS (
  SELECT doc_id, source,
         CASE WHEN len(t) > 0 THEN
           list_transform(range(0, CAST(floor((len(t) - 1) / {_GLINE_W}) AS BIGINT) + 1),
             i -> array_to_string(t[i * {_GLINE_W} + 1 : i * {_GLINE_W} + {_GLINE_W}], ' '))
         ELSE [] END AS lines0
  FROM tokd
),
deco AS (
  SELECT doc_id, source,
         list_transform(range(0, len(lines0)), i ->
           lines0[i + 1]
           || (CASE WHEN {_C4_MD5.format(parts="':' || i::VARCHAR || ':j'")} % 13 = 0
                 THEN ' javascript' ELSE '' END)
           || (CASE WHEN {_C4_MD5.format(parts="':' || i::VARCHAR || ':p'")} % 10 < 6
                 THEN '.' ELSE '' END)
         )
         || (CASE WHEN {_C4_MD5.format(parts="':lor'")} % 23 = 0
               THEN ['lorem ipsum dolor'] ELSE [] END)
         || (CASE WHEN {_C4_MD5.format(parts="':brc'")} % 29 = 0
               THEN ['{{ code }}'] ELSE [] END)
         AS lines
  FROM ln
),
txt AS (
  SELECT source,
         list_filter(lines, l -> len(l) > 0) AS nlines,
         array_to_string(lines, chr(10)) AS text
  FROM deco
),
r AS (
  SELECT source, len(nlines) AS n_lines,
         list_filter(nlines, l ->
             right(l, 1) IN ('.', '!', '?', '"')
             AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 5
             AND position('javascript' IN lower(l)) = 0) AS kept_lines,
         len(list_filter(nlines, l ->
             NOT (right(l, 1) IN ('.', '!', '?', '"')))) AS fp,
         len(list_filter(nlines, l ->
             NOT (len(list_filter(string_split(l, ' '), w -> w <> '')) >= 5))) AS fs,
         len(list_filter(nlines, l ->
             NOT (position('javascript' IN lower(l)) = 0))) AS fj,
         (position('lorem ipsum' IN lower(text)) = 0) AS okl,
         (position('{{' IN text) = 0) AS okb
  FROM txt
),
h AS (
  SELECT source, n_lines, len(kept_lines) AS n_kept_lines, fp, fs, fj,
         okl, okb,
         length(coalesce(array_to_string(kept_lines, chr(10)), ''))
           - length(regexp_replace(coalesce(array_to_string(kept_lines, chr(10)), ''), '[.!?]', '', 'g')) AS n_sent,
         length(coalesce(array_to_string(kept_lines, chr(10)), '')) AS kept_chars
  FROM r
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_lines) AS BIGINT) AS lines_total,
       CAST(sum(n_kept_lines) AS BIGINT) AS lines_kept,
       CAST(sum(fp) AS BIGINT) AS fail_punct,
       CAST(sum(fs) AS BIGINT) AS fail_short,
       CAST(sum(fj) AS BIGINT) AS fail_js,
       CAST(count(CASE WHEN NOT (n_sent >= 3) THEN 1 END) AS BIGINT) AS fail_sentences,
       CAST(count(CASE WHEN NOT okl THEN 1 END) AS BIGINT) AS fail_lorem,
       CAST(count(CASE WHEN NOT okb THEN 1 END) AS BIGINT) AS fail_brace,
       CAST(count(CASE WHEN (n_sent >= 3) AND okl AND okb THEN 1 END) AS BIGINT) AS docs_kept,
       CAST(sum(kept_chars) AS BIGINT) AS kept_chars
FROM h GROUP BY source
"""


#: planted boilerplate blocks for the span-removal fixture — both at least
#: ``_SPAN_N`` tokens so their interior n-grams are cross-doc duplicates
_SPAN_N = 8
_SPAN_HDR = "copyright notice all rights reserved this text is provided as is"
_SPAN_FTR = "generated by the synthetic corpus pipeline for benchmark use"


def dedup_span_removal_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup REMOVAL (Lee et al. 2022) end to end on a
    planted-boilerplate fixture: a 12-token licence header is prepended
    when ``md5_u32(doc:'hdr') % 4 == 0`` and a 10-token footer appended
    when ``md5_u32(doc:'ftr') % 5 == 0``, then
    ``remove_duplicated_spans(n=8, min_docs=2)`` cuts every token
    covered by an 8-gram shared across >= 2 documents — the planted
    blocks vanish (their interior grams repeat corpus-wide; the grams
    bridging into the unique body do not, so the cut is exactly the
    block), while natural cross-doc 8-grams, if any, are removed
    symmetrically in Spark and the oracle. Emits per-source totals plus
    an md5-u32 content fingerprint sum of the rebuilt texts, so the
    hash check pins the REBUILT BYTES, not just the counters."""
    from pyspark_etl_twitter_spark.operators.dedup import remove_duplicated_spans

    docs = _t(spark, sf_dir, "documents")

    def _mark(tag: str):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.col("doc_id").cast("string"), F.lit(tag)
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
        )

    planted = docs.select(
        "doc_id",
        "source",
        F.concat_ws(
            " ",
            F.when(_mark("hdr") % 4 == 0, F.lit(_SPAN_HDR)).otherwise(F.lit("")),
            F.col("text"),
            F.when(_mark("ftr") % 5 == 0, F.lit(_SPAN_FTR)).otherwise(F.lit("")),
        ).alias("text"),
    )
    cleaned = remove_duplicated_spans(
        planted, n=_SPAN_N, min_docs=2, keep_cols=("source",)
    )
    fp = F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("bigint")
    return cleaned.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("tokens_removed") > 0).cast("long")).alias("docs_modified"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
        F.sum("tokens_removed").cast("long").alias("tokens_removed"),
        F.sum(fp).alias("fp_sum"),
    )


ORACLE_DEDUP_SPAN_REMOVAL_BY_SOURCE = f"""
WITH planted AS (
  SELECT doc_id, source,
         concat_ws(' ',
           CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':hdr'), 1, 8))::BIGINT % 4 = 0
                THEN '{_SPAN_HDR}' ELSE '' END,
           text,
           CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':ftr'), 1, 8))::BIGINT % 5 = 0
                THEN '{_SPAN_FTR}' ELSE '' END) AS text
  FROM documents
),
tokd AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM planted
),
g AS (
  SELECT doc_id, i AS start,
         md5(array_to_string(t[i + 1 : i + {_SPAN_N}], ' ')) AS fp
  FROM tokd, UNNEST(range(0, greatest(len(t) - {_SPAN_N} + 1, 0))) AS u(i)
),
dup AS (SELECT fp FROM g GROUP BY fp HAVING count(DISTINCT doc_id) >= 2),
fstarts AS (
  SELECT doc_id, list(start ORDER BY start) AS ss
  FROM g WHERE fp IN (SELECT fp FROM dup) GROUP BY doc_id
),
r AS (
  SELECT t.doc_id, t.source, t.t,
         coalesce(f.ss, CAST([] AS BIGINT[])) AS ss
  FROM tokd t LEFT JOIN fstarts f USING (doc_id)
),
reb AS (
  SELECT doc_id, source, len(t) AS n_tokens,
         list_filter(
           list_transform(range(0, len(t)), p ->
             CASE WHEN len(list_filter(ss, s -> s <= p AND p < s + {_SPAN_N})) = 0
                  THEN t[p + 1] END),
           x -> x IS NOT NULL) AS kept
  FROM r
),
fin AS (
  SELECT source, n_tokens,
         n_tokens - len(kept) AS tokens_removed,
         coalesce(array_to_string(kept, ' '), '') AS new_text
  FROM reb
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN tokens_removed > 0 THEN 1 END) AS BIGINT) AS docs_modified,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
       CAST(sum(tokens_removed) AS BIGINT) AS tokens_removed,
       CAST(sum(('0x' || substr(md5(new_text), 1, 8))::BIGINT) AS BIGINT) AS fp_sum
FROM fin GROUP BY source
"""


def knn_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k in a Johnson-Lindenstrauss-reduced
    16-dim space (seeded literal Gaussian directions, the LSH-oracle
    trick) — the DIMENSION rung of the compression frontier next to the
    PQ/SQ8 precision rungs: 4x less vector exchange per shuffle at
    dim 64 → 16. Fully oracle-backed: DuckDB replays the projection and
    the reduced-space search with the same literals; recall vs exact
    KNN is pinned empirically in tests/test_similarity_rp.py."""
    return S.rp_cosine_topk(_t(spark, sf_dir, "embeddings"), n_queries=10, k=5)


def _rp_topk_oracle() -> str:
    """DuckDB replay of rp_cosine_topk (dim=64, out_dim=16, seed=31,
    n_queries=10, k=5, round_dp=6)."""
    from pyspark_etl_twitter_spark.operators.similarity import rp_matrix

    planes = rp_matrix(64, 16, 31)
    comps = ",\n           ".join(
        f"list_dot_product(emb0, [{', '.join(repr(float(x)) for x in plane)}])"
        for plane in planes
    )
    return f"""
WITH raw AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb0 FROM embeddings
),
base AS (
  SELECT vec_id,
         [{comps}] AS emb
  FROM raw
),
normed AS (
  SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM base
),
q AS (SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm FROM normed
      WHERE vec_id < 10),
pairs AS (
  SELECT q.q_id, e.vec_id AS neighbor_id,
         round(list_dot_product(e.emb, q.q_emb) / (e.nrm * q.q_nrm), 6) AS cos_sim
  FROM normed e, q WHERE e.vec_id <> q.q_id
),
ranked AS (
  SELECT q_id, neighbor_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY q_id
                                 ORDER BY cos_sim DESC, neighbor_id)
              AS INTEGER) AS rank
  FROM pairs
)
SELECT q_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 5
"""


ORACLE_KNN_RP_TOPK = _rp_topk_oracle()


def recall_report_index_root(spark: SparkSession, sf_dir: str) -> str:
    """The scoreboard's per-application index-cache root. Build params are
    part of the path (a parameter change can never probe a stale cache; v2
    retired the pre-cache layout); the applicationId suffix scopes the
    cache to ONE Spark process, so repeated ``ann_recall_report`` calls in
    a session amortize the builds while a fresh bench/oracle invocation
    always recomputes from the parquet inputs."""
    import tempfile
    from pathlib import Path

    base = Path(tempfile.gettempdir()) / "spark_graft_idx"
    return str(
        base
        / (
            f"recall_v2_ivf16_lshdef_pq8x16_{Path(sf_dir).name}"
            f"_{spark.sparkContext.applicationId}"
        )
    )


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified ANN quality SCOREBOARD: recall@5 of every
    deterministic approximate rung (LSH, IVF, JL random projection, SQ8,
    PQ-ADC) against exact brute-force cosine, computed as one DataFrame
    — and the oracle composes the rungs' existing DuckDB replays as
    CTEs, so the recall NUMBERS themselves are driver hash-checked (not
    just pytest-pinned floors). ``total`` stays honest: a rung that
    returns fewer than 50 rows (sparse buckets) shows it here.

    The LSH / IVF / PQ rungs probe PERSISTED indexes (r12 verdict ask
    #5) — the production path a 100 TB deployment actually runs — built
    into the deterministic tmp layout the ``knn_pq_indexed`` row uses;
    indexed probes are value-identical to the one-shot forms
    (tests/test_similarity.py::test_indexed_probes_match_one_shot,
    test_similarity_pq.py), so the oracle is unchanged and the hashes
    must not move. SQ8 and RP stay inline (no persisted form: SQ8's
    range pass is one scan, RP is a projection)."""
    from pyspark_etl_twitter_spark.operators.similarity import (
        build_ivf_index,
        build_lsh_index,
        build_pq_code_table,
        ivf_probe_indexed,
        lsh_probe_indexed,
        pq_adc_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    root = recall_report_index_root(spark, sf_dir)

    def _ensure(sentinel: str, builder) -> None:
        # index-CACHE semantics — the production shape this scoreboard
        # measures: indexes build once per corpus and are probed
        # repeatedly. Contents are fully deterministic (seeded planes /
        # first-k centroids / first-16 codebooks + exact parquet
        # round-trips), so a cached index is bit-identical to a rebuild
        # (pinned by the indexed≡one-shot tests); reuse turns this row's
        # recurring cost into probe-only WITHIN one Spark application.
        # The cache is applicationId-scoped (r15): a fresh process always
        # rebuilds from the parquet inputs — nothing persists between
        # bench/oracle invocations (the optimization-round no-cross-run-
        # caching rule); the bench separately reports the cold build cost
        # in build_probe_split. The sentinel is each layout's
        # LAST-written table, so a crashed partial build always rebuilds.
        try:
            spark.read.parquet(f"{root}/{sentinel}").first()
        except Exception:  # noqa: BLE001 — absent/partial: (re)build
            builder()

    _ensure(
        "ivf/queries", lambda: build_ivf_index(emb, f"{root}/ivf", n_lists=16)
    )
    # engine-default LSH build ≡ ann_lsh_topk
    _ensure("lsh/meta", lambda: build_lsh_index(emb, f"{root}/lsh"))
    _ensure("pq/meta", lambda: build_pq_code_table(emb, f"{root}/pq"))
    q8 = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect()
    )
    ex = knn_brute_cosine(spark, sf_dir).select("q_id", "neighbor_id")
    methods = {
        "ivf": lambda: ivf_probe_indexed(
            spark, f"{root}/ivf", n_queries=10, k=5, n_probe=4
        ),
        "lsh": lambda: lsh_probe_indexed(
            spark, f"{root}/lsh", n_queries=10, k=5
        ),
        "pq_adc": lambda: pq_adc_topk_indexed(spark, f"{root}/pq", q8),
        "rp": lambda: knn_rp_topk(spark, sf_dir),
        "sq8": lambda: knn_sq8(spark, sf_dir),
    }
    stacked = None
    for name in sorted(methods):
        part = methods[name]().select(
            F.lit(name).alias("method"), "q_id", "neighbor_id"
        )
        stacked = part if stacked is None else stacked.unionByName(part)
    tot = stacked.groupBy("method").agg(F.count(F.lit(1)).alias("total"))
    hit = (
        stacked.join(ex, ["q_id", "neighbor_id"], "leftsemi")
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        tot.join(hit, "method", "left")
        .select(
            "method",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.col("total").cast("long").alias("total"),
            F.round(
                F.coalesce(F.col("hits"), F.lit(0)) / F.col("total"), 4
            ).alias("recall"),
        )
    )


def _ann_recall_oracle() -> str:
    subs = {
        "ivf": ORACLE_KNN_IVF,
        "lsh": ORACLE_KNN_ANN_LSH,
        "pq_adc": ORACLE_KNN_PQ_ADC,
        "rp": ORACLE_KNN_RP_TOPK,
        "sq8": ORACLE_KNN_SQ8,
    }
    stacked = "\n  UNION ALL\n".join(
        f"  SELECT '{name}' AS method, q_id, neighbor_id FROM ({sql}\n) s_{name}"
        for name, sql in sorted(subs.items())
    )
    return f"""
WITH exact AS (
  SELECT q_id, neighbor_id FROM ({ORACLE_KNN_BRUTE_COSINE}\n) e0
),
stacked AS (
{stacked}
),
tot AS (SELECT method, count(*) AS total FROM stacked GROUP BY method),
hit AS (
  SELECT method, count(*) AS hits
  FROM stacked s JOIN exact e USING (q_id, neighbor_id)
  GROUP BY method
)
SELECT t.method,
       CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       CAST(t.total AS BIGINT) AS total,
       round(coalesce(h.hits, 0)::DOUBLE / t.total, 4) AS recall
FROM tot t LEFT JOIN hit h USING (method)
"""


ORACLE_ANN_RECALL_REPORT = _ann_recall_oracle()


_PLANT_N = 240
_PLANT_CENTERS = 8
_PLANT_NOISE = 0.1
_PLANT_SCALE = float(1 << 60)


def _planted_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic planted-blob embedding table (r12 verdict ask #4):
    240 points = the sf table's first 8 vectors as cluster centers, each
    replicated 30× with md5-derived per-(point, dim) noise in
    ±``_PLANT_NOISE``/2 — fully portable (the ``portable_term_hash``
    construction), so DuckDB rebuilds the identical doubles: the 60-bit
    hash → double and /2^60 are exact, and the remaining ops are the
    same IEEE sequence on both engines."""
    emb = _t(spark, sf_dir, "embeddings")
    centers = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in emb.filter(F.col("vec_id") < _PLANT_CENTERS)
        .select("vec_id", "embedding")
        .collect()
    )
    carr = lit_doubles_2d([vec for _, vec in centers])
    cvec = F.element_at(
        carr, (F.col("vec_id") % _PLANT_CENTERS + 1).cast("int")
    )
    eps = lambda d: (  # noqa: E731
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("vec_id").cast("string"),
                        d.cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .cast("double")
        / F.lit(_PLANT_SCALE)
        - F.lit(0.5)
    ) * F.lit(_PLANT_NOISE)
    return spark.range(_PLANT_N).select(
        F.col("id").alias("vec_id"),
        F.transform(cvec, lambda x, d: x + eps(d)).alias("embedding"),
    )


def ann_recall_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall scoreboard on a CLUSTERED distribution (r12 verdict ask
    #4): ``ann_recall_report`` measures the rungs on uniform-random sf
    vectors — PQ/RP's adversarial worst case (near-tie neighbors), which
    says nothing about rung choice on real corpora, whose embeddings
    cluster. This row re-runs the same five rungs + exact brute force
    over the deterministic planted-blob table, where quantization error
    concentrates within clusters — measured at sf0.001: ivf 1.0 /
    lsh 1.0 / sq8 0.98 / pq_adc 0.425 / rp 0.24 vs the random-table
    0.94 / 0.56 / 1.0 / 0.25 / 0.14. The separation (LSH 0.56 → 1.0,
    PQ ×1.7, RP ×1.7, IVF → perfect) IS the result, now
    driver-hash-checked on both distributions."""
    # checkpoint the 240-row planted table (r15): six rungs + exact
    # ground truth each reference it several times, and every reference
    # re-evaluated (and re-codegen'd) the 8-center × 64-dim md5-noise
    # literal grid — ~18 compilations of the engine's largest expression
    # for 240 rows of data. One materialization, same values
    # (deterministic md5 construction).
    pl = _planted_embeddings(spark, sf_dir).localCheckpoint()
    ex = S.cosine_topk(pl, n_queries=10, k=5).select("q_id", "neighbor_id")
    methods = {
        "ivf": lambda: S.ivf_topk(pl, n_queries=10, k=5),
        "lsh": lambda: S.ann_lsh_topk(pl, n_queries=10, k=5),
        "pq_adc": lambda: S.pq_adc_topk(pl),
        "rp": lambda: S.rp_cosine_topk(pl, n_queries=10, k=5),
        "sq8": lambda: S.sq8_topk(pl),
    }
    stacked = None
    for name in sorted(methods):
        part = methods[name]().select(
            F.lit(name).alias("method"), "q_id", "neighbor_id"
        )
        stacked = part if stacked is None else stacked.unionByName(part)
    tot = stacked.groupBy("method").agg(F.count(F.lit(1)).alias("total"))
    hit = (
        stacked.join(ex, ["q_id", "neighbor_id"], "leftsemi")
        .groupBy("method")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        tot.join(hit, "method", "left")
        .select(
            "method",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.col("total").cast("long").alias("total"),
            F.round(
                F.coalesce(F.col("hits"), F.lit(0)) / F.col("total"), 4
            ).alias("recall"),
        )
    )


def _ann_recall_planted_oracle() -> str:
    """The planted-table CTE (MATERIALIZED — the k-core lesson: DuckDB
    inlines CTEs per reference and six rungs × internal re-reads would
    expand the scan tree exponentially) + every rung's existing replay
    with its ``embeddings`` references rebound to the planted relation."""
    import re as _re

    subs = {
        "ivf": ORACLE_KNN_IVF,
        "lsh": ORACLE_KNN_ANN_LSH,
        "pq_adc": ORACLE_KNN_PQ_ADC,
        "rp": ORACLE_KNN_RP_TOPK,
        "sq8": ORACLE_KNN_SQ8,
    }
    bind = lambda sql: _re.sub(r"\bembeddings\b", "planted_emb", sql)  # noqa: E731
    stacked = "\n  UNION ALL\n".join(
        f"  SELECT '{name}' AS method, q_id, neighbor_id FROM ({bind(sql)}\n) s_{name}"
        for name, sql in sorted(subs.items())
    )
    return f"""
WITH cent AS MATERIALIZED (
  SELECT vec_id AS cid, UNNEST(embedding::DOUBLE[]) AS x,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings WHERE vec_id < {_PLANT_CENTERS}
),
ids AS (SELECT UNNEST(range({_PLANT_N})) AS i),
ptdim AS (
  SELECT i, pos,
         x + ((('0x' || substr(md5(i || ':' || (pos - 1)), 1, 15))::BIGINT::DOUBLE
               / {_PLANT_SCALE!r}) - 0.5) * {_PLANT_NOISE!r} AS y
  FROM ids JOIN cent ON cent.cid = i % {_PLANT_CENTERS}
),
planted_emb AS MATERIALIZED (
  SELECT i AS vec_id, list(y ORDER BY pos) AS embedding
  FROM ptdim GROUP BY i
),
exact AS (
  SELECT q_id, neighbor_id FROM ({bind(ORACLE_KNN_BRUTE_COSINE)}\n) e0
),
stacked AS (
{stacked}
),
tot AS (SELECT method, count(*) AS total FROM stacked GROUP BY method),
hit AS (
  SELECT method, count(*) AS hits
  FROM stacked s JOIN exact e USING (q_id, neighbor_id)
  GROUP BY method
)
SELECT t.method,
       CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
       CAST(t.total AS BIGINT) AS total,
       round(coalesce(h.hits, 0)::DOUBLE / t.total, 4) AS recall
FROM tot t LEFT JOIN hit h USING (method)
"""


ORACLE_ANN_RECALL_PLANTED = _ann_recall_planted_oracle()


def dedup_span_keepfirst_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep_first retention mode of exact-substring removal on the
    same planted-boilerplate fixture as ``dedup_span_removal_by_source``:
    the canonical (min doc, min start) occurrence of every duplicated
    8-gram survives, so corpus-wide exactly ONE copy of each planted
    block remains — tokens_removed drops by exactly the surviving
    copies' length relative to the remove-all row, and the fp_sum pins
    the rebuilt bytes of this mode independently."""
    from pyspark_etl_twitter_spark.operators.dedup import remove_duplicated_spans

    docs = _t(spark, sf_dir, "documents")

    def _mark(tag: str):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.col("doc_id").cast("string"), F.lit(tag)
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
        )

    planted = docs.select(
        "doc_id",
        "source",
        F.concat_ws(
            " ",
            F.when(_mark("hdr") % 4 == 0, F.lit(_SPAN_HDR)).otherwise(F.lit("")),
            F.col("text"),
            F.when(_mark("ftr") % 5 == 0, F.lit(_SPAN_FTR)).otherwise(F.lit("")),
        ).alias("text"),
    )
    cleaned = remove_duplicated_spans(
        planted, n=_SPAN_N, min_docs=2, keep_first=True, keep_cols=("source",)
    )
    fp = F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("bigint")
    return cleaned.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("tokens_removed") > 0).cast("long")).alias("docs_modified"),
        F.sum("n_tokens").cast("long").alias("tokens_total"),
        F.sum("tokens_removed").cast("long").alias("tokens_removed"),
        F.sum(fp).alias("fp_sum"),
    )


ORACLE_DEDUP_SPAN_KEEPFIRST_BY_SOURCE = f"""
WITH planted AS (
  SELECT doc_id, source,
         concat_ws(' ',
           CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':hdr'), 1, 8))::BIGINT % 4 = 0
                THEN '{_SPAN_HDR}' ELSE '' END,
           text,
           CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':ftr'), 1, 8))::BIGINT % 5 = 0
                THEN '{_SPAN_FTR}' ELSE '' END) AS text
  FROM documents
),
tokd AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM planted
),
g AS (
  SELECT doc_id, i AS start,
         md5(array_to_string(t[i + 1 : i + {_SPAN_N}], ' ')) AS fp
  FROM tokd, UNNEST(range(0, greatest(len(t) - {_SPAN_N} + 1, 0))) AS u(i)
),
dup AS (
  SELECT fp, min(doc_id) AS cd FROM g
  GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
),
dup2 AS (
  SELECT d.fp, d.cd, min(g.start) AS cs
  FROM dup d JOIN g ON g.fp = d.fp AND g.doc_id = d.cd
  GROUP BY d.fp, d.cd
),
fstarts AS (
  SELECT g.doc_id, list(g.start ORDER BY g.start) AS ss
  FROM g JOIN dup2 ON g.fp = dup2.fp
  WHERE NOT (g.doc_id = dup2.cd AND g.start = dup2.cs)
  GROUP BY g.doc_id
),
r AS (
  SELECT t.doc_id, t.source, t.t,
         coalesce(f.ss, CAST([] AS BIGINT[])) AS ss
  FROM tokd t LEFT JOIN fstarts f USING (doc_id)
),
reb AS (
  SELECT doc_id, source, len(t) AS n_tokens,
         list_filter(
           list_transform(range(0, len(t)), p ->
             CASE WHEN len(list_filter(ss, s -> s <= p AND p < s + {_SPAN_N})) = 0
                  THEN t[p + 1] END),
           x -> x IS NOT NULL) AS kept
  FROM r
),
fin AS (
  SELECT source, n_tokens,
         n_tokens - len(kept) AS tokens_removed,
         coalesce(array_to_string(kept, ' '), '') AS new_text
  FROM reb
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN tokens_removed > 0 THEN 1 END) AS BIGINT) AS docs_modified,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
       CAST(sum(tokens_removed) AS BIGINT) AS tokens_removed,
       CAST(sum(('0x' || substr(md5(new_text), 1, 8))::BIGINT) AS BIGINT) AS fp_sum
FROM fin GROUP BY source
"""


def hard_negatives_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: per query, the top-5 most
    cosine-similar corpus vectors with a DIFFERENT label — the pairs
    that carry gradient in a contrastive loss (in-batch negatives are
    easy by construction). Exact scan form here; any ANN rung composes
    upstream unchanged."""
    return S.hard_negative_topk(
        _t(spark, sf_dir, "embeddings"), n_queries=10, k=5
    )


ORACLE_HARD_NEGATIVES_TOPK = """
WITH base AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
q AS (SELECT vec_id AS q_id, label AS q_lbl, emb AS q_emb, nrm AS q_nrm
      FROM base WHERE vec_id < 10),
pairs AS (
  SELECT q.q_id, e.vec_id AS neighbor_id, e.label AS neg_label,
         round(list_dot_product(e.emb, q.q_emb) / (e.nrm * q.q_nrm), 6) AS cos_sim
  FROM base e, q
  WHERE e.vec_id <> q.q_id AND e.label <> q.q_lbl
    AND e.nrm > 0 AND q.q_nrm > 0
)
SELECT q_id, neighbor_id, neg_label, cos_sim, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM pairs
) WHERE rank <= 5
"""


def seeded_negatives_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded uniform negative sampling (the contrastive baseline the
    hard negatives mix with): 4 deterministic md5-drawn negative ids
    per anchor, self-hits and duplicate draws dropped keeping draw
    order; emitted for the first 100 anchors (the draw machinery runs
    corpus-wide — the filter only bounds the hash-compared output)."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.seeded_negatives(emb, k=4, pad=4, seed=97).filter(
        F.col("anchor_id") < 100
    )


ORACLE_SEEDED_NEGATIVES_SAMPLE = """
WITH n AS (SELECT count(*) AS n FROM embeddings),
anchors AS (SELECT vec_id AS anchor_id FROM embeddings),
d AS (
  SELECT anchor_id, i AS draw,
         ('0x' || substr(md5('97:' || anchor_id::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT % n.n AS neg_id
  FROM anchors CROSS JOIN n, UNNEST(range(0, 8)) AS u(i)
),
dd AS (
  SELECT anchor_id, neg_id, min(draw) AS draw
  FROM d WHERE neg_id <> anchor_id GROUP BY 1, 2
)
SELECT anchor_id, neg_id, CAST(draw AS INTEGER) AS draw FROM (
  SELECT *, row_number() OVER (PARTITION BY anchor_id ORDER BY draw) AS rk
  FROM dd
) WHERE rk <= 4 AND anchor_id < 100
"""


def readability_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Flesch reading-ease profile
    (``textstats.flesch_reading_ease``): doc count, mean score, and the
    standard difficulty buckets — the readability rung of the quality
    ladder (surface ratios → Gopher/C4 rules → LM perplexity →
    human-difficulty score), used as a curation feature when mixing
    sources. Scores are rounded per doc BEFORE the mean on both engines,
    and the mean itself is computed over EXACT integers (each 6dp score
    scaled to micro-units, summed as longs, divided once by n·1e6) with a
    ``_q6`` output quantizer — never ``round(avg(double), 6)``, whose
    float-summation-order + engine tie rules split Spark and DuckDB at
    7th-decimal-5 boundaries (the r13 EWMA sf0.1 trap, DESIGN §5)."""
    from pyspark_etl_twitter_spark.operators.textstats import (
        flesch_reading_ease,
    )
    from pyspark_etl_twitter_spark.plans.relational import _q6

    docs = _t(spark, sf_dir, "documents")
    f = flesch_reading_ease(docs, keep_cols=("source",))
    units = F.round(F.col("flesch") * 1000000).cast("long")
    return f.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        _q6(
            F.sum(units).cast("double")
            / (F.count(F.lit(1)) * 1000000).cast("double")
        ).alias("avg_flesch"),
        F.sum((F.col("flesch_bucket") == "easy").cast("int"))
        .cast("long")
        .alias("n_easy"),
        F.sum((F.col("flesch_bucket") == "standard").cast("int"))
        .cast("long")
        .alias("n_standard"),
        F.sum((F.col("flesch_bucket") == "difficult").cast("int"))
        .cast("long")
        .alias("n_difficult"),
    )


ORACLE_READABILITY_BY_SOURCE = """
WITH toks AS (
  SELECT doc_id, source, text,
         list_filter(string_split(text, ' '), t -> t <> '') AS arr
  FROM documents
),
per AS (
  SELECT doc_id, source,
         len(arr) AS w,
         greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS s,
         CAST(coalesce(list_sum(list_transform(arr,
           t -> greatest(1, len(regexp_extract_all(lower(t), '[aeiouy]+'))))),
           0) AS BIGINT) AS syl
  FROM toks
),
scored AS (
  SELECT doc_id, source, w,
         CASE WHEN w = 0 THEN 0.0
              ELSE 206.835
                   - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                   - 84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE))
         END AS raw
  FROM per
),
bucketed AS (
  -- bucket on the UNROUNDED score (the engine buckets before its 6dp
  -- output round); the averaged column is the rounded per-doc output
  SELECT source,
         CASE WHEN w = 0 THEN 0.0 ELSE round(raw, 6) END AS flesch,
         CASE WHEN w = 0 THEN 'empty'
              WHEN raw >= 60.0 THEN 'easy'
              WHEN raw >= 30.0 THEN 'standard'
              ELSE 'difficult' END AS b
  FROM scored
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       -- exact-integer mean + q6 quantizer (one float division on
       -- identical operands; no engine-discretionary round-half rule)
       floor(CAST(sum(CAST(round(flesch * 1000000) AS BIGINT)) AS DOUBLE)
             / CAST(count(*) * 1000000 AS DOUBLE) * 1000000 + 0.5)
         / 1000000 AS avg_flesch,
       CAST(sum(CASE WHEN b = 'easy' THEN 1 ELSE 0 END) AS BIGINT) AS n_easy,
       CAST(sum(CASE WHEN b = 'standard' THEN 1 ELSE 0 END) AS BIGINT) AS n_standard,
       CAST(sum(CASE WHEN b = 'difficult' THEN 1 ELSE 0 END) AS BIGINT) AS n_difficult
FROM bucketed GROUP BY source
"""


def leakage_safe_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-keyed train/val/test split
    (``curation.leakage_safe_split`` over the portable-MinHash pairs):
    documents that near-duplicate each other land in the SAME split by
    construction, closing the eval-leakage hole an id-keyed split leaves
    open (Lee et al. 2022's motivation). Counts per (split, source) plus
    distinct cluster keys — the whole chain (signatures → banded LSH →
    verify → connected components → md5 split) replays in DuckDB."""
    from pyspark_etl_twitter_spark.operators.curation import (
        leakage_safe_split,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    pairs = D.near_dup_pairs_minhash_portable(
        docs,
        num_hashes=_PMH_HASHES,
        bands=_PMH_BANDS,
        shingle_n=1,
        threshold=0.5,
        star_bucket_threshold=_PMH_STAR,
    )
    out = leakage_safe_split(docs, pairs)
    return out.groupBy("split", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct(F.col("_cluster_key")).cast("long").alias(
            "n_clusters"
        ),
    )


ORACLE_LEAKAGE_SAFE_SPLIT_COUNTS = f"""
WITH RECURSIVE {_portable_minhash_ctes()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM vpairs
  UNION
  SELECT doc_b, doc_a FROM vpairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
),
clusters AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
assigned AS (
  SELECT d.doc_id, d.source, coalesce(c.cluster_id, d.doc_id) AS ckey
  FROM sub d LEFT JOIN clusters c USING (doc_id)
),
bucketed AS (
  SELECT source, ckey,
         ('0x' || substr(md5(CAST(ckey AS VARCHAR) || ':leak-v1'), 1, 8))::BIGINT % 100 AS bkt
  FROM assigned
),
labeled AS (
  SELECT source, ckey,
         CASE WHEN bkt < 80 THEN 'train'
              WHEN bkt < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM bucketed
)
SELECT split, source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT ckey) AS BIGINT) AS n_clusters
FROM labeled GROUP BY split, source
"""


def zipf_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit per source (``textstats.zipf_fit``,
    top-100 vocabulary): least-squares slope/intercept/r² of log-freq vs
    log-rank — the distribution-level corpus-health ruler next to
    entropy and the repetition ratios (natural text slopes near −1;
    templated or truncated-vocabulary corpora bend away). The regression
    sums run as sequential array folds over each group's bounded ranked
    list, so DuckDB replays them with list_reduce."""
    from pyspark_etl_twitter_spark.operators.textstats import zipf_fit

    return zipf_fit(_t(spark, sf_dir, "documents"))


ORACLE_ZIPF_BY_SOURCE = """
WITH counts AS (
  SELECT source AS g, t.term, count(*) AS cnt
  FROM (SELECT source,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        FROM documents) t
  GROUP BY 1, 2
),
ranked AS (
  SELECT g, term, cnt,
         row_number() OVER (PARTITION BY g ORDER BY cnt DESC, term) AS rank
  FROM counts
  QUALIFY rank <= 100
),
gl AS (
  SELECT g,
         list(ln(CAST(rank AS DOUBLE)) ORDER BY rank) AS lx,
         list(ln(CAST(cnt AS DOUBLE)) ORDER BY rank) AS ly
  FROM ranked GROUP BY g
),
sums AS (
  SELECT g, CAST(len(lx) AS DOUBLE) AS n, len(lx) AS n_terms,
         list_reduce(lx, (a, v) -> a + v) AS sx,
         list_reduce(ly, (a, v) -> a + v) AS sy,
         list_reduce(list_transform(range(1, len(lx) + 1),
                                    i -> lx[i] * ly[i]),
                     (a, v) -> a + v) AS sxy,
         list_reduce(list_transform(lx, v -> v * v), (a, v) -> a + v) AS sxx,
         list_reduce(list_transform(ly, v -> v * v), (a, v) -> a + v) AS syy
  FROM gl
)
SELECT g AS source,
       CAST(n_terms AS BIGINT) AS n_terms,
       -- degenerate-group guard: n_terms < 2 → NULL on both engines
       -- (matches zipf_fit; 0/0 is otherwise engine-dependent)
       CASE WHEN n_terms >= 2 THEN
         round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
       END AS zipf_slope,
       CASE WHEN n_terms >= 2 THEN
         round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
       END AS zipf_intercept,
       CASE WHEN n_terms >= 2 THEN
         round((n * sxy - sx * sy) * (n * sxy - sx * sy)
               / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
       END AS zipf_r2
FROM sums
"""
