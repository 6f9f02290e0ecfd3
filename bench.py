"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Queries execute fully via the noop writer (no driver-side materialization
cost polluting the numbers). The headline set spans the engine's surface:
scan-agg, multi-join, window/top-k, sessionization, the native sentiment
pipeline, dedup (exact + MinHash-LSH), similarity top-k, text analytics.

Timing methodology: each query gets $SPARK_GRAFT_BENCH_WARMUP (default 1)
untimed warmup execution, then the MEDIAN of $SPARK_GRAFT_BENCH_REPS
(default 3) timed executions is reported — a cold single-shot in a
40+-query session conflates JVM/codegen-cache pressure with plan cost
(the source of the uniform apparent drift between early rounds). The
ANN index builds use the same warm-median discipline into fresh subdirs
(r7 verdict ask #4: a single cold build sample sits inside the
container's contention band and can't distinguish regression from
scheduling luck).

Machine-speed canary (r9 verdict ask #1): the driver's r9 run came in
~11% slower than its r8 run across 13 untouched queries with
byte-identical plan fingerprints and ZERO queries improving — the
signature of a slower container, indistinguishable from a genuine
uniform regression without a reference. Each run now times two
deterministic, plan-free reference ops — a fixed-size JVM hash
aggregate over a generated range (codegen + shuffle machinery, no IO)
and a pinned-seed NumPy matmul chain (the BLAS/Arrow side pandas-UDF
paths ride on) — three samples at bench start and three at end, median
each. The output carries canary_sec plus value_canary_norm =
value × CANARY_REF_SEC / canary_sec: cross-round total comparisons
should use the normalized figure, per-query moves should still be
plan-diffed first.

Streaming floors: the stream-score and stateful rows/s rows carry pinned
minimums at sf0.1 (r7 verdict ask #5) — a breach is reported as
stream_floor_breach in the output JSON instead of drifting silently.

Plan fingerprints: each run writes BENCH_PLANS.json — a normalized
fingerprint (sha256 of the formatted physical plan with expression ids,
paths, and sizes stripped) per bench row, covering ALL rows including
the ANN build/probe, semantic-dedup stage, sentiment fit/score, and
media rows (r9 verdict ask #2: those 13 were a blind spot, and both of
r9's largest unexplained movers lived in it). Fingerprints are computed
in ONE pass after every timed run finishes (r9 ADVICE: the fingerprint
helper clears the SQL cache, and doing that mid-bench perturbed the
warm-cache state of later timed queries); temp index/weight dirs stay
alive until this pass is done. The run also writes BENCH_PLANTEXT.json
(the normalized plan TEXT per row) so a cross-process fingerprint flip
can be diffed token-by-token instead of guessed at (r9 What's-wrong #1:
dedup_normalized_summary flipped between the builder's and the driver's
run of the same commit and the texts were not captured).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark_etl_twitter_spark.plans.registry import QUERIES  # noqa: E402
from pyspark_etl_twitter_spark.session import get_session  # noqa: E402

HEADLINE = [
    "pricing_summary",
    "revenue_by_nation",
    "top_revenue_orders",
    "outer_join_order_counts",
    "topk_orders_per_customer",
    "running_revenue_by_supplier",
    "sessionize_events",
    "hourly_event_rollup",
    "sentiment_classes",
    "dedup_exact_summary",
    "dedup_minhash_pairs",
    "dedup_minhash_portable_pairs",  # md5 twin — tracks its cost vs xxhash64
    "dedup_simhash_fingerprints",
    "dedup_simhash_portable_pairs",  # md5 twin of the banded hamming search
    "kmeans_cluster_sizes",  # portable fixed-iteration fit (r7)
    "knn_brute_cosine",
    "text_quality_by_source",
    "doc_fingerprints",
    "repetition_stats",
    "top_terms_per_doc",
    "dedup_incremental",
    "training_mix_counts",
    "decontaminate_counts",
    "epoch_shuffle_head",
    "resample_ffill_hourly",
    "rolling_1h_event_stats",
    "hash_split_counts",
    "outlier_events_by_type",
    "unpivot_lineitem_measures",
    "semantic_near_dup_pairs",
    "semantic_dedup_survivors",
    # round-3 families
    "funnel_view_click_purchase",
    "cohort_retention_weekly",
    "binned_range_join_bands",
    "bigram_lm_quality_by_source",
    "weighted_sample_by_length",
    "stats_aggregates_lineitem",
    "bm25_search_topk",
    "semantic_prune_by_centroid",
    "asof_nearest_click",
    # full TPC-H suite (r7: the window carries the whole suite now, so the
    # bench tracks every query's wall time per round — the standard OLAP
    # yardstick; q2/q11/q20 run over the derived partsupp)
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q7_nation_volume",
    "tpch_q8_market_share",
    "tpch_q9_profit_by_nation",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_latency_priority",
    "tpch_q13_customer_distribution",
    "tpch_q14_promo_effect",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_variety",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_large_volume_customers",
    "tpch_q19_disjunctive_revenue",
    "tpch_q21_waiting_suppliers",
    "tpch_q22_dormant_customers",
    # round-4 families
    "tpch_q20_excess_stock",
    "fuzzy_decontaminate_counts",
    "containment_decontaminate_counts",  # asymmetric eval-containment twin
    "budget_selection_by_source",
    "temperature_mix_counts",
    "char_entropy_by_source",
    "repeated_spans_top",
    # round-5 families
    "script_profile_by_source",
    "dedup_normalized_summary",
    "hashed_embedding_profile",
    "text_embedding_near_dup",
    "sessionize_events_chunked",
    "running_revenue_chunked",
    # round-10 families
    "dedup_segments_rebuild",
    "semdedup_cluster_summary",  # oracle-parity fold on the half-corpus subset
    "semdedup_fast_summary",  # BLAS kernel, full corpus — the production path
    # round-11 families
    "semdedup_ivf_summary",  # dedup over the persisted IVF index (build+scan)
    "bpe_tokens_by_source",  # BPE train (driver merge loop) + Arrow encode
    "dsir_weights_by_source",  # hashed-ngram importance weights (DSIR)
    "dsir_selected_counts",  # greedy top-k DSIR selection
    "gopher_rules_by_source",  # published quality ruleset, integer-exact
    # round-11 late families: vector-compression frontier + retrieval/
    # analysis portables (all FULL oracles; added with the operators)
    "knn_sq8",  # 4× scalar quantization, recall 1.0
    "knn_pq_adc",  # 32× product quantization, codegen encode + ADC scan
    "knn_pq_trained",  # per-sub-space Lloyd's codebooks + same ADC tail
    "knn_ivfpq",  # IVF cut + residual PQ, broadcast-equi-join probes
    "mmr_diversified_topk",  # greedy MMR unrolled as DataFrame stages
    "quality_lr_scores_by_source",  # in-engine logistic GD train + score
    "pagerank_suppliers",  # portable power iteration, 3 rounds
    "approx_distinct_portable",  # md5 HyperLogLog vs exact count
    # round-12 families (all FULL oracles)
    "knn_pq_indexed",  # persisted PQ code table: build + append + probe
    "knn_ivfpq_indexed",  # persisted IVF-PQ: partitioned codes, pruned probe
    "dedup_incremental_minhash",  # persisted MinHash store: build + probe-append
    "bpe_encoded_fixed_merges",  # codegen replace-chain BPE encode
    "bpe_train_portable_merges",  # DISTRIBUTED BPE train, oracle-replayable
    "gopher_line_rules_by_source",  # line-shape rules on planted multi-line
    "c4_rules_by_source",  # C4 line+doc cleaning rules, planted fixture
    "dedup_span_removal_by_source",  # cross-doc exact-substring removal
    "dedup_span_keepfirst_by_source",  # paper-faithful keep-one retention
    "cms_heavy_hitters",  # portable Count-Min Sketch point estimates
    "ks_drift_order_prices",  # exact two-sample KS over quantized ECDFs
    "pmi_collocations_top",  # bigram PMI collocation mining
    "knn_rp_topk",  # JL random-projection reduced-space kNN
    "kmv_profile_prices",  # portable KMV bottom-k sketch estimators
    "psi_drift_order_prices",  # binned PSI drift ruler next to KS
    "ann_recall_report",  # hash-verified recall scoreboard of all ANN rungs
    "ann_recall_planted",  # same scoreboard on the clustered planted blobs
    "cusum_hourly_by_type",  # changepoint tier of the drift ladder (r13)
    "benford_order_prices",  # leading-digit conformity ruler (r13)
    "readability_by_source",  # Flesch readability rung (r13)
    "leakage_safe_split_counts",  # near-dup-cluster-keyed split (r13)
    "trigram_lm_quality_by_source",  # third rung of the LM-curation ladder
    "quantile_norm_price_map",  # cross-source quantile calibration map
    "hard_negatives_topk",  # contrastive hard-negative mining
    "seeded_negatives_sample",  # seeded uniform negatives baseline
    "kcore_suppliers",  # k-core peel finds the planted quasi-clique
    "ewma_hourly_by_type",  # portable array-fold EWMA twin
    "calibrated_ppl_filter_by_source",  # quantile-map APPLY: calibrated vs pooled cut
    # round-14 families (FULL oracles)
    "dedup_minhash_maintenance",  # store lifecycle + re-cluster rebuild
    "dedup_cdc_rebuild",  # content-defined chunk boundaries + keep-first
    "dedup_cluster_source_profile",  # cross-source near-dup matrix
    "knn_ivf_rebalanced",  # IVF drift-then-retrain maintenance lifecycle
]


_FP_NOISE = [
    (re.compile(r"#\d+L?"), "#x"),
    (re.compile(r"\[id=#\d+\]"), "[id=#x]"),
    # plan_id is a PER-SESSION global counter (Exchange/BroadcastExchange
    # print "[plan_id=N]") — its value depends on how many plans the
    # session built before this one, so two runs of identical code at
    # different positions in a bench session always differed (r8 verdict:
    # 72/84 fingerprints unstable across runs of the same commit; this
    # token was the cause — see tests/test_bench_fingerprint.py).
    (re.compile(r"plan_id=\d+"), "plan_id=x"),
    # HOF lambda variables (filter/transform/aggregate/zip_with) print as
    # "lambda x_N"/"lambda y_N" where N is another session-global counter.
    (re.compile(r"lambda [a-z]+_\d+"), "lambda v_n"),
    # RDD ids (e.g. "MapPartitionsRDD[117] at localCheckpoint") are a
    # session-global counter over every RDD ever created.
    (re.compile(r"RDD\[\d+\]"), "RDD[x]"),
    (re.compile(r"file:[^\s,\]\)]+"), "file:x"),
    (re.compile(r"/root/testdata[^\s,\]\)]*"), "sfdir"),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "tmpdir"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(x)"),
    (re.compile(r"size=\d+"), "size=x"),
    (re.compile(r"rowCount=\d+"), "rowCount=x"),
]


def normalized_plan_text(df) -> str:
    """Formatted physical plan with per-run noise (expression ids, file
    paths, stats) normalized out — equal text means Catalyst picked the
    same operator tree and strategies.

    The SQL cache is cleared before explaining: a plan that overlaps a
    registered cache entry prints an InMemoryRelation whose subtree text
    depends on whether the cache has been MATERIALIZED yet (an executed
    AQE subplan prints "== Final Plan ==" + QueryStage nodes + codegen
    stars) — pure run-order state, not a plan change. Canonical state for
    the fingerprint is cache-free. withCachedData is resolved lazily at
    first explain/execute, so clearing here is effective even though the
    DataFrame object was already built. (Since r10 fingerprints run in a
    dedicated pass AFTER all timed queries, so the clear can no longer
    disturb warm-cache state mid-bench — r9 ADVICE.)"""
    import contextlib
    import io

    df.sparkSession.catalog.clearCache()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    text = buf.getvalue()
    for pat, repl in _FP_NOISE:
        text = pat.sub(repl, text)
    return text


#: Rows whose plans legitimately contain an unpartitioned window: each
#: one's window input is bounded by a value DOMAIN (quantized distinct
#: values / vocabulary heads / sketch cells), never by the corpus — the
#: deliberate spec-twin shape. Anything else with a global window is a
#: scale bug and is reported as `unexpected` (r12 verdict ask #7).
GLOBAL_WINDOW_OK = {
    "calibrated_ppl_filter_by_source",  # pooled decile map: |quantized scores|
    "cms_heavy_hitters",  # CMS cells: depth × width, constant
    "pmi_collocations_top",  # global top-k over vocabulary-bounded pairs
    "quantile_norm_price_map",  # pooled quantile thresholds: |cents domain|
}


def count_unpartitioned_windows(plan_text: str) -> int:
    """Number of unpartitioned window specs in a formatted plan: a
    ``windowspecdefinition(...)`` whose FIRST argument is already an
    ordering column (``ASC``/``DESC``) has an empty partition list — the
    shape that executes on one task whatever the input size."""
    n = 0
    for m in re.finditer(r"windowspecdefinition\(", plan_text):
        head = plan_text[m.end() : m.end() + 400].split("specifiedwindowframe")[0]
        first = head.split(",")[0]
        if " ASC" in first or " DESC" in first:
            n += 1
    return n


def plan_fingerprint(df_or_dfs) -> tuple[str, str]:
    """(sha256-prefix, normalized text) for one DataFrame or — for bench
    rows that materialize several relations, like the ANN index builds —
    the concatenation of several plans in order."""
    import hashlib

    dfs = df_or_dfs if isinstance(df_or_dfs, (list, tuple)) else [df_or_dfs]
    text = "\n--- next plan ---\n".join(normalized_plan_text(d) for d in dfs)
    return hashlib.sha256(text.encode()).hexdigest()[:16], text


# Pinned on this container (round-10 builder close, local[32], sf0.1
# bench session on an IDLE machine): medians of the two canary ops
# (6 samples each, 3 at bench start + 3 at end). The first pin
# ({jvm: 1.75, py: 0.34}) was captured while the test suite ran
# concurrently — an idle-machine run read speed_ratio 0.76 against it,
# i.e. the reference itself embedded ~1.3× contention. Re-pinned once
# to the idle-state medians before any cross-round normalized history
# existed; the pin is FROZEN from r10 on. value_canary_norm rescales a
# run's headline total to this reference speed; a genuinely uniform
# code regression moves the normalized total, a slow container run
# moves only the raw one. (The r9→r8 +11% uniform drift on
# byte-identical plans is exactly the ambiguity this resolves — r9
# verdict ask #1.)
CANARY_REF_SEC = {"jvm": 1.42, "py": 0.17, "bytecode": 0.232}


def bytecode_canary_sample() -> float:
    """Pure-Python BYTECODE throughput sample (fixed integer-hash loop,
    no NumPy/BLAS): the wall the pure-Python codec rows (JPEG Huffman +
    IDCT under mapInPandas) actually ride on. Recorded alongside the
    frozen two-op canary because r13 observed media rows/s decaying
    across runs whose BLAS canary looked HEALTHIER — bytecode and BLAS
    throughput move independently under container contention. The
    reference (CANARY_REF_SEC['bytecode']) was pinned r14 from an
    idle-machine 9-sample median, FROZEN like the r10 jvm/py pins; the
    media floor's upward-only correction uses THIS ratio, not the BLAS
    one (r13 verdict ask #3)."""
    t0 = time.perf_counter()
    h = 0
    for i in range(2_000_000):
        h = (h * 31 + (i & 0xFF)) & 0xFFFFFFFF
    return time.perf_counter() - t0


#: Idle gate: two neighbouring aggregate canary samples (jvm + py seconds)
#: agree within IDLE_GATE_TOL, and the later one is at most
#: IDLE_GATE_MAX_RATIO × the reference. The JVM canary scales with cores
#: (1.42 s at 32, ~4.0 s at 8, ~9 s at 4), so the ratio admits an idle
#: 4-core machine (~5.7×) and fails a steadily slow one past that.
IDLE_GATE_TOL = 0.05
IDLE_GATE_MAX_RATIO = 8.0


def idle_gate_check(samples: list[float]) -> dict:
    """The idle-gate verdict over aggregate canary samples, in the order
    taken: ``ok`` once a sample agrees with the one before it and is
    within ``IDLE_GATE_MAX_RATIO`` of the reference. Samples that agree
    only because the machine is uniformly slow do not pass."""
    ref = CANARY_REF_SEC["jvm"] + CANARY_REF_SEC["py"]
    ok = any(
        abs(agg - prev) / min(agg, prev) <= IDLE_GATE_TOL
        and agg <= IDLE_GATE_MAX_RATIO * ref
        for prev, agg in zip(samples, samples[1:])
    )
    return {
        "ok": ok,
        "samples": [round(agg, 3) for agg in samples],
        "tol": IDLE_GATE_TOL,
        "max_ratio": IDLE_GATE_MAX_RATIO,
        "ref_sec": round(ref, 3),
    }


def warm_median(action, warmup: int, reps: int) -> float:
    """Seconds one call of ``action`` takes: ``warmup`` untimed calls, then
    the median of ``max(1, reps)`` timed ones, rounded to the millisecond.
    The one timing loop of the bench rows and of ``tools/measure.py``."""
    for _ in range(warmup):
        action()
    times = []
    for _ in range(max(1, reps)):
        start = time.perf_counter()
        action()
        times.append(time.perf_counter() - start)
    return round(sorted(times)[len(times) // 2], 3)


def canary_sample(spark) -> tuple[float, float]:
    """One (jvm_sec, py_sec) sample of the two deterministic reference
    ops. Plan-free and data-free by construction: the JVM op is a fixed
    hash aggregate over an in-memory range (whole-stage codegen + one
    shuffle, zero IO, no parquet, no Python), the Python op is a
    pinned-seed NumPy matmul chain (the BLAS path Arrow/pandas-UDF rows
    ride on). Neither touches the SF dir, so their time moves ONLY with
    machine speed."""
    import numpy as np

    t0 = time.perf_counter()
    (
        spark.range(0, 30_000_000, 1, 32)
        .selectExpr("id % 1000000 AS k")
        .groupBy("k")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    jvm = time.perf_counter() - t0

    rng = np.random.default_rng(0)
    a = rng.standard_normal((1024, 1024))
    t0 = time.perf_counter()
    b = a.copy()
    for _ in range(8):
        b = b @ a
        b /= np.abs(b).max()  # keep values bounded; cost is the matmuls
    py = time.perf_counter() - t0
    return jvm, py


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0
    warmup = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1"))
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    spark = get_session(app_name="bench")
    # warm the JVM / codegen paths off the clock
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    timings: dict[str, float | None] = {}
    errors: dict[str, str] = {}
    # name -> zero-arg thunk returning a FRESH DataFrame (or list of
    # them) for the post-run fingerprint pass
    fp_thunks: dict[str, object] = {}

    # ---- idle-container gate (r14 verdict ask #1) ----
    # The r14 bench ran on a contended container (in-run plan-stable drift
    # median 1.107, outliers to 5.8×) and the round's perf record was
    # unusable as a round-over-round ruler. Before ANY timing, re-sample
    # the two reference ops until two consecutive aggregate samples agree
    # within 5% at a plausible magnitude (idle_gate_check) — a contended
    # machine keeps scattering or stays slow and never passes.
    # On failure the bench still RUNS (the driver contract needs
    # its one JSON line) but idle_gate.ok=false is a loud flag in both
    # artifacts, and the plan-stable outlier auto-rerun below gives every
    # suspect row a second chance on whatever calm follows.
    IDLE_GATE_MAX = 8
    canary_samples: list[tuple[float, float]] = []
    bytecode_samples: list[float] = []
    canary_sample(spark)  # warmup, off the record
    for _try in range(IDLE_GATE_MAX):
        canary_samples.append(canary_sample(spark))
        idle_gate = idle_gate_check([jvm + py for jvm, py in canary_samples])
        if idle_gate["ok"]:
            break
    if not idle_gate["ok"]:
        print(
            f"bench: IDLE GATE FAILED — {IDLE_GATE_MAX} canary samples never "
            f"had two neighbours agree within {IDLE_GATE_TOL:.0%} at or below "
            f"{IDLE_GATE_MAX_RATIO:g}× the {idle_gate['ref_sec']} s reference "
            f"({idle_gate['samples']}); container is contended, numbers "
            "are low-confidence",
            file=sys.stderr,
        )
    while len(canary_samples) < 3:  # canary_sec median keeps >= 6 samples
        canary_samples.append(canary_sample(spark))
    bytecode_samples += [bytecode_canary_sample() for _ in range(3)]

    # r11: streaming/stateful sections moved BEFORE the query gauntlet.
    # Measured run-position dependence with byte-identical streaming code:
    # 26.2k rows/s when the section ran after 93 query plans, 20.1k after
    # 101 (and 31.3k on the r9 driver) — the floors were policing JVM wear
    # (code-cache/GC state accumulated by unrelated plans), not the
    # streaming code. Measuring right after the opening canary puts every
    # round's streaming number on the same JVM state; floors unchanged.
    # Streaming throughput (S1→M5 end-to-end): the one number directly
    # comparable to the reference's only quantitative figure — BASELINE.md's
    # derived ~32 rows/s Kafka-consumer scoring rate. File-replay Kafka
    # stand-in → foreachBatch broadcast scoring → noop sink; reported as
    # rows/s, not seconds, so it rides outside the headline total.
    # Streaming rows use the SAME warm-median discipline as queries (r9):
    # they were single-shot through r8, and a cold applyInPandasWithState
    # run (fresh Python worker pool + state-store init) measures ~9k
    # rows/s where the warm rate is ~16.6k — run-position noise that
    # breached the pinned floor without any code change. One untimed
    # warmup, then median rows/s across the query-rep count.
    def warm_median_stream(fn) -> dict:
        fn()  # warmup: worker pool + state store + codegen off the clock
        runs = [fn() for _ in range(max(1, reps))]
        runs.sort(key=lambda r: r["rows_per_sec"])
        return runs[len(runs) // 2]

    streaming: dict = {}
    try:
        from pyspark_etl_twitter_spark.streaming.pipeline import (
            streaming_score_throughput,
        )

        streaming = warm_median_stream(
            lambda: streaming_score_throughput(spark, sf_dir)
        )
        streaming["baseline_ref_rows_per_sec"] = 32.0
    except Exception as exc:  # noqa: BLE001
        errors["streaming_throughput"] = f"{type(exc).__name__}: {exc}"[:300]
        print(
            f"bench: streaming_throughput FAILED: {errors['streaming_throughput']}",
            file=sys.stderr,
        )

    # Stateful streaming throughput (r4 verdict ask #6): the watermarked
    # windowed aggregate and the applyInPandasWithState funnel over the
    # full events replay — so the streaming claims carry numbers for the
    # stateful surfaces, not just the stateless scoring topology.
    streaming_stateful: dict = {}
    try:
        from pyspark_etl_twitter_spark.streaming.pipeline import (
            streaming_events_throughput,
        )

        for kind in ("window", "funnel"):
            streaming_stateful[kind] = warm_median_stream(
                lambda kind=kind: streaming_events_throughput(
                    spark, sf_dir, kind=kind
                )
            )
    except Exception as exc:  # noqa: BLE001
        errors["streaming_stateful"] = f"{type(exc).__name__}: {exc}"[:300]
        print(
            f"bench: streaming_stateful FAILED: {errors['streaming_stateful']}",
            file=sys.stderr,
        )

    # rows re-runnable by the plan-stable outlier pass (r14 verdict ask
    # #1): every run_timed row qualifies — the thunk builds a fresh
    # DataFrame from live state that outlives the fingerprint pass
    rerun_thunks: dict[str, object] = {}

    def run_timed(name: str, thunk, *, n_warmup: int = None, n_reps: int = None) -> None:
        # Fault-isolated: one failing query records null and the run
        # continues — a single regression must never cost the whole bench.
        rerun_thunks[name] = thunk
        try:
            timings[name] = warm_median(
                lambda: thunk().write.format("noop").mode("overwrite").save(),
                warmup if n_warmup is None else n_warmup,
                reps if n_reps is None else n_reps,
            )
        except Exception as exc:  # noqa: BLE001
            timings[name] = None
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"bench: {name} FAILED: {errors[name]}", file=sys.stderr)

    for name in HEADLINE:
        run_timed(name, lambda name=name: QUERIES[name](spark, sf_dir))
        fp_thunks[name] = lambda name=name: QUERIES[name](spark, sf_dir)

    # Stage attribution for the most expensive headline query: time the
    # candidate-pair stage and the iterative connected-components stage
    # separately so a regression in either is visible across rounds.
    # (semantic_dedup_survivors above times the end-to-end pipeline.)
    try:
        from pyspark_etl_twitter_spark.operators.dedup import duplicate_clusters
        from pyspark_etl_twitter_spark.plans.advanced_queries import (
            SEMANTIC_PLANES,
            SEMANTIC_SEED,
            SEMANTIC_TAU,
        )
        from pyspark_etl_twitter_spark.operators.similarity import (
            embedding_near_dup_pairs,
        )
        from pyspark_etl_twitter_spark.sources.catalog import load_table as _lt

        emb_sd = _lt(spark, sf_dir, "embeddings")

        def mk_pairs():
            return embedding_near_dup_pairs(
                emb_sd,
                threshold=SEMANTIC_TAU,
                n_planes=SEMANTIC_PLANES,
                seed=SEMANTIC_SEED,
            )

        pairs_sd = mk_pairs()
        run_timed("semantic_dedup_stage_pairs", lambda: pairs_sd)
        fp_thunks["semantic_dedup_stage_pairs"] = mk_pairs
        pairs_mat = pairs_sd.localCheckpoint()
        run_timed(
            "semantic_dedup_stage_cc",
            lambda: duplicate_clusters(pairs_mat, a_col="vec_a", b_col="vec_b"),
        )
        # NOTE: building this plan EXECUTES the contraction loop (the CC
        # operator synchronizes on per-round isEmpty) — the fingerprint
        # pass pays ~1 extra vertex-sized round-trip per hash, which is
        # why fingerprints run after all timing is done.
        fp_thunks["semantic_dedup_stage_cc"] = lambda: duplicate_clusters(
            pairs_mat, a_col="vec_a", b_col="vec_b"
        )
    except Exception as exc:  # noqa: BLE001
        timings["semantic_dedup_stage_pairs"] = None
        timings["semantic_dedup_stage_cc"] = None
        errors["semantic_dedup_stages"] = f"{type(exc).__name__}: {exc}"[:300]
        print(f"bench: semantic_dedup_stages FAILED: {errors['semantic_dedup_stages']}", file=sys.stderr)

    # One temp root for every artifact the run materializes (sentiment
    # weight table, ANN indexes): cleaned up at the END of the run, after
    # the fingerprint pass — the probe/score fingerprints read these
    # paths (r9 ask #2; the path itself is normalized to "tmpdir").
    import shutil
    import tempfile

    bench_tmp = tempfile.mkdtemp(prefix="spark_graft_bench_")

    # Fit-vs-score split (r6 verdict ask #6): the sentiment_classes row
    # times the FUSED fit+score query, but at 100× scale the fit is a
    # once-per-corpus job and inference scores against a persisted weight
    # dimension (operators/sentiment.load_mllib_weights is the
    # reference-model flavor of the same path). sentiment_weight_fit times
    # building + persisting that dimension once; sentiment_score_only times
    # the recurring cost — corpus scoring against the parquet weights.
    try:
        from pyspark_etl_twitter_spark.operators.sentiment import (
            build_weight_table,
            score_documents,
            sentiment_class_counts,
        )
        from pyspark_etl_twitter_spark.sources.catalog import load_table as _lt2

        docs_s = _lt2(spark, sf_dir, "documents")
        wdir = f"{bench_tmp}/sentiment"
        start = time.perf_counter()
        build_weight_table(docs_s).write.mode("overwrite").parquet(f"{wdir}/weights")
        timings["sentiment_weight_fit"] = round(time.perf_counter() - start, 3)
        fp_thunks["sentiment_weight_fit"] = lambda: build_weight_table(docs_s)
        wtab = spark.read.parquet(f"{wdir}/weights")
        run_timed(
            "sentiment_score_only",
            lambda: sentiment_class_counts(score_documents(docs_s, wtab)),
        )
        fp_thunks["sentiment_score_only"] = lambda: sentiment_class_counts(
            score_documents(docs_s, wtab)
        )
    except Exception as exc:  # noqa: BLE001
        timings["sentiment_weight_fit"] = None
        timings["sentiment_score_only"] = None
        errors["sentiment_split"] = f"{type(exc).__name__}: {exc}"[:300]
        print(f"bench: sentiment_split FAILED: {errors['sentiment_split']}", file=sys.stderr)

    # Amortized ANN: the index is built ONCE (its cost reported as its own
    # row) and probes are timed index-resident — the shape a 100 TB
    # deployment actually runs, vs the one-shot knn_brute_cosine row above
    # which is O(corpus × queries) per call. The comparison runs at 100
    # queries (equal count across all three rows): at sf-scale corpora the
    # 10-query workload is overhead-dominated and brute trivially wins;
    # the query-throughput regime is where an index earns its build cost.
    from pyspark_etl_twitter_spark.operators.similarity import (
        build_ivf_index,
        build_lsh_index,
        cosine_topk,
        cosine_topk_pandas,
        ivf_build_plan,
        ivf_probe_indexed,
        lsh_build_plan,
        lsh_probe_indexed,
    )
    from pyspark_etl_twitter_spark.sources.catalog import load_table

    idx_root = f"{bench_tmp}/ann_idx"
    os.makedirs(idx_root, exist_ok=True)
    recall: dict[str, float] = {}
    try:
        emb = load_table(spark, sf_dir, "embeddings")

        # Build costs use the SAME warm-median discipline as run_timed
        # (r7 verdict ask #4: a 3.94→5.32 s move with a byte-identical
        # plan hash turned out to be run-noise — a single cold sample sits
        # inside the container's 1.3-1.6× contention band and can't
        # distinguish a real regression from scheduling luck). Each rep
        # rebuilds into a fresh subdir; the final rep's index is the one
        # the probe rows below read.
        def timed_build(name: str, builder) -> None:
            try:
                builder(f"{idx_root}/{name}_warmup")  # off the clock
                times = []
                n_builds = max(1, reps)  # reps=0 must still land the final
                # rep at {idx_root}/{name} (probe rows read that path)
                for i in range(n_builds):
                    start = time.perf_counter()
                    builder(f"{idx_root}/{name}" if i == n_builds - 1 else f"{idx_root}/{name}_r{i}")
                    times.append(time.perf_counter() - start)
                timings[name] = round(sorted(times)[len(times) // 2], 3)
            except Exception as exc:  # noqa: BLE001
                timings[name] = None
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"bench: {name} FAILED: {errors[name]}", file=sys.stderr)

        def build_default(path: str) -> None:
            build_ivf_index(emb, f"{path}/ivf", n_lists=16)
            build_lsh_index(emb, f"{path}/lsh")

        timed_build("ann_index_build", build_default)
        # build-row fingerprints hash the builds' COMPUTE plans (the
        # plan-only twins of what the writes materialize)
        fp_thunks["ann_index_build"] = lambda: [
            ivf_build_plan(emb, n_lists=16),
            lsh_build_plan(emb),
        ]
        # the named L=3 preset (r6 verdict ask #4): 3× storage for
        # recall@5 ~0.83 on the frontier — timed in its own warm-median
        # block so the default build's cost row stays comparable across
        # rounds and the two builds can't contend with each other mid-rep
        timed_build(
            "ann_index_build_high_recall",
            lambda path: build_lsh_index(emb, f"{path}/lsh_hr", profile="high_recall"),
        )
        fp_thunks["ann_index_build_high_recall"] = lambda: lsh_build_plan(
            emb, profile="high_recall"
        )
        # probe rows read the final rep's artifacts
        idx_root_default = f"{idx_root}/ann_index_build"
        idx_root_hr = f"{idx_root}/ann_index_build_high_recall"
        probe_mk = {
            "knn_brute_cosine_100q": lambda: cosine_topk(emb, n_queries=100, k=5),
            # the Arrow/BLAS twin: one matmul per corpus batch vs
            # |corpus|x|queries| codegen folds — the measured side of the
            # "UDFs are the slow path, except vectorized linear algebra"
            # tradeoff documented on cosine_topk_pandas
            "knn_brute_pandas_100q": lambda: cosine_topk_pandas(emb, n_queries=100, k=5),
            "knn_ivf_probe_only_100q": lambda: ivf_probe_indexed(spark, f"{idx_root_default}/ivf", n_queries=100, k=5, n_probe=4),
            "knn_ivf_probe6_100q": lambda: ivf_probe_indexed(spark, f"{idx_root_default}/ivf", n_queries=100, k=5, n_probe=6),
            "knn_ann_lsh_probe_only_100q": lambda: lsh_probe_indexed(spark, f"{idx_root_default}/lsh", n_queries=100, k=5),
            "knn_ann_lsh_high_recall_100q": lambda: lsh_probe_indexed(spark, f"{idx_root_hr}/lsh_hr", n_queries=100, k=5),
        }
        for name, fn in probe_mk.items():
            run_timed(name, fn)
            fp_thunks[name] = fn
        # Recall@5 vs exact for the SAME 100-query probe workloads — every
        # ANN speed row above ships with its accuracy number.
        try:
            from pyspark_etl_twitter_spark.operators.similarity import (
                ann_mrr,
                ann_ndcg_at_k,
                ann_recall_at_k,
            )

            exact = cosine_topk(emb, n_queries=100, k=5).localCheckpoint()
            recall = {}
            for rname in (
                "knn_ivf_probe_only_100q",
                "knn_ivf_probe6_100q",
                "knn_ann_lsh_probe_only_100q",
                "knn_ann_lsh_high_recall_100q",
            ):
                adf = probe_mk[rname]().localCheckpoint()
                recall[rname] = ann_recall_at_k(adf, exact, k=5).first()["recall_at_k"]
                recall[rname + "_mrr"] = ann_mrr(adf, exact, k=5).first()["mrr"]
                recall[rname + "_ndcg"] = ann_ndcg_at_k(adf, exact, k=5).first()["ndcg_at_k"]
        except Exception as exc:  # noqa: BLE001
            recall = {}
            errors["ann_recall"] = f"{type(exc).__name__}: {exc}"[:300]
    except Exception as exc:  # noqa: BLE001
        errors["ann_block"] = f"{type(exc).__name__}: {exc}"[:300]
        print(f"bench: ann_block FAILED: {errors['ann_block']}", file=sys.stderr)

    # ---- build vs probe wall split (r12 verdict ask #3) ----
    # The persisted-index HEADLINE rows (knn_pq_indexed, knn_ivfpq_indexed,
    # dedup_incremental_minhash) time build + append + probe in ONE row —
    # correct for driver hashing, misleading for scale reading: at 100 TB
    # the build amortizes across every query/batch while ONLY the probe
    # (or the per-batch append) is the recurring cost. This block re-runs
    # each row's stages with the registry row's exact parameters and
    # reports {build_sec, probe_sec} so BENCH_DETAIL shows which wall is
    # which. Probe uses the same warm-median discipline as run_timed.
    build_probe_split: dict[str, dict] = {}

    def _timed_stage(fn) -> float:
        return warm_median(fn, 1, reps)  # warm: codegen + file listing off the clock

    try:
        from pyspark_etl_twitter_spark.operators.dedup import (
            build_minhash_index,
            minhash_index_append,
        )
        from pyspark_etl_twitter_spark.operators.similarity import (
            build_ivfpq_index,
            build_pq_code_table,
            ivfpq_probe_indexed,
            pq_adc_topk_indexed,
            pq_code_table_append,
        )
        from pyspark_etl_twitter_spark.plans.text_queries import (
            _PMH_BANDS,
            _PMH_HASHES,
            _PMH_STAR,
            _PQ_IDX_SPLIT,
        )
        from pyspark_etl_twitter_spark.sources.catalog import load_table as _lt4
        from pyspark.sql import functions as F

        emb_sp = _lt4(spark, sf_dir, "embeddings")
        # knn_pq_indexed: build = code table + frozen-codebook append
        pq_p = f"{bench_tmp}/split_pq"

        def _pq_build():
            build_pq_code_table(
                emb_sp.filter(F.col("vec_id") < _PQ_IDX_SPLIT), pq_p
            )
            pq_code_table_append(
                spark, pq_p, emb_sp.filter(F.col("vec_id") >= _PQ_IDX_SPLIT)
            )

        b = _timed_stage(_pq_build)
        q8 = sorted(
            (int(r[0]), [float(x) for x in r[1]])
            for r in emb_sp.filter(F.col("vec_id") < 8)
            .select("vec_id", "embedding")
            .collect()
        )
        p = _timed_stage(
            lambda: pq_adc_topk_indexed(spark, pq_p, q8)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        build_probe_split["knn_pq_indexed"] = {"build_sec": b, "probe_sec": p}

        # knn_ivfpq_indexed: registry-row defaults
        ivfpq_p = f"{bench_tmp}/split_ivfpq"
        b = _timed_stage(lambda: build_ivfpq_index(emb_sp, ivfpq_p))
        p = _timed_stage(
            lambda: ivfpq_probe_indexed(spark, ivfpq_p)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        build_probe_split["knn_ivfpq_indexed"] = {"build_sec": b, "probe_sec": p}

        # dedup_incremental_minhash: probe_sec is the full per-batch cost
        # (band-probe + verify + survivor append) — the recurring unit
        docs_mh = _lt4(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 == 0
        )
        mh_corpus = docs_mh.filter(F.col("doc_id") % 20 != 0)
        mh_batch = docs_mh.filter(F.col("doc_id") % 20 == 0)
        mh_p = f"{bench_tmp}/split_minhash"
        mh_kw = dict(
            num_hashes=_PMH_HASHES,
            bands=_PMH_BANDS,
            shingle_n=1,
            threshold=0.5,
            star_bucket_threshold=_PMH_STAR,
        )
        b = _timed_stage(lambda: build_minhash_index(mh_corpus, mh_p, **mh_kw))

        def _mh_probe():
            # rebuild between reps: the append mutates the store, and the
            # recurring cost being measured is one batch against the
            # corpus-sized index, not against its own prior appends
            build_minhash_index(mh_corpus, mh_p, **mh_kw)
            t0 = time.perf_counter()
            minhash_index_append(spark, mh_p, mh_batch).write.format(
                "noop"
            ).mode("overwrite").save()
            return time.perf_counter() - t0

        _mh_probe()  # warm
        mh_ts = sorted(_mh_probe() for _ in range(max(1, reps)))
        build_probe_split["dedup_incremental_minhash"] = {
            "build_sec": b,
            "probe_sec": round(mh_ts[len(mh_ts) // 2], 3),
        }

        # streaming near-dup ingest latency (r13 verdict ask #6): the
        # SAME per-batch probe through the real streaming entry point
        # (availableNow foreachBatch + checkpoint), so the floor pins
        # that the streaming path inherits the cheap probe. rows/s over
        # the batch; store + checkpoint reset per rep (the recurring
        # unit is one batch against the corpus-sized index).
        from pyspark_etl_twitter_spark.streaming.incremental import (
            streaming_minhash_dedup_ingest,
        )

        mh_src = f"{bench_tmp}/mh_ingest_src"
        mh_ckpt = f"{bench_tmp}/mh_ingest_ckpt"
        mh_batch.select(
            "doc_id", "text", "lang", "source", "n_chars"
        ).coalesce(1).write.mode("overwrite").json(mh_src)
        n_mh_batch = mh_batch.count()

        def _mh_ingest():
            build_minhash_index(mh_corpus, mh_p, **mh_kw)
            shutil.rmtree(mh_ckpt, ignore_errors=True)
            t0 = time.perf_counter()
            streaming_minhash_dedup_ingest(spark, mh_src, mh_p, mh_ckpt)
            sec = time.perf_counter() - t0
            return {
                "rows": n_mh_batch,
                "sec": round(sec, 3),
                "rows_per_sec": round(n_mh_batch / sec, 1),
            }

        streaming_stateful["minhash_ingest"] = warm_median_stream(_mh_ingest)

        # dedup_minhash_maintenance: build+append amortize; the REBUILD
        # is the recurring maintenance unit (store reset per rep)
        from pyspark_etl_twitter_spark.operators.dedup import (
            rebuild_minhash_index,
        )

        mh_p2 = f"{bench_tmp}/split_minhash_maint"

        def _mh_prepare():
            build_minhash_index(mh_corpus, mh_p2, **mh_kw)
            minhash_index_append(spark, mh_p2, mh_batch).write.format(
                "noop"
            ).mode("overwrite").save()

        b = _timed_stage(_mh_prepare)

        def _mh_rebuild():
            _mh_prepare()
            t0 = time.perf_counter()
            rebuild_minhash_index(spark, mh_p2).write.format("noop").mode(
                "overwrite"
            ).save()
            return time.perf_counter() - t0

        _mh_rebuild()  # warm
        rb_ts = sorted(_mh_rebuild() for _ in range(max(1, reps)))
        build_probe_split["dedup_minhash_maintenance"] = {
            "build_sec": b,
            "rebuild_sec": round(rb_ts[len(rb_ts) // 2], 3),
        }

        # knn_pq_trained: Lloyd's codebooks + frozen code table = build;
        # the ADC probe over the persisted 32×-smaller codes = probe
        from pyspark_etl_twitter_spark.operators.similarity import (
            build_ivf_index,
            build_lsh_index,
            pq_train_codebooks,
        )
        from pyspark_etl_twitter_spark.plans.text_queries import _PQT_ITERS

        pqt_p = f"{bench_tmp}/split_pq_trained"
        b = _timed_stage(
            lambda: build_pq_code_table(
                emb_sp,
                pqt_p,
                books=pq_train_codebooks(emb_sp, iters=_PQT_ITERS),
            )
        )
        p = _timed_stage(
            lambda: pq_adc_topk_indexed(spark, pqt_p, q8)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        build_probe_split["knn_pq_trained"] = {"build_sec": b, "probe_sec": p}

        # LSH / IVF persisted lifecycles: the ann_index_build* HEADLINE
        # rows fuse (ivf+lsh) or lack a paired probe in the split table —
        # measure each index's own build here and pair it with the
        # already-measured probe-only 100-query row
        b_ivf = _timed_stage(
            lambda: build_ivf_index(emb_sp, f"{bench_tmp}/split_ivf", n_lists=16)
        )
        build_probe_split["ann_ivf_index"] = {
            "build_sec": b_ivf,
            "probe_sec": timings.get("knn_ivf_probe_only_100q"),
        }
        b_lsh = _timed_stage(
            lambda: build_lsh_index(emb_sp, f"{bench_tmp}/split_lsh")
        )
        build_probe_split["ann_lsh_index"] = {
            "build_sec": b_lsh,
            "probe_sec": timings.get("knn_ann_lsh_probe_only_100q"),
        }
        build_probe_split["ann_lsh_index_high_recall"] = {
            "build_sec": timings.get("ann_index_build_high_recall"),
            "probe_sec": timings.get("knn_ann_lsh_high_recall_100q"),
        }

        # recall scoreboard: its HEADLINE wall is probe-only (the
        # per-corpus index cache is warm after the warmup rep) — derive
        # the amortized one-time build as cold-cache run minus the warm
        # median. ann_recall_planted has NO persisted side by design
        # (inline rungs over an in-plan fixture), documented in PLANS.md.
        from pyspark_etl_twitter_spark.plans.text_queries import (
            recall_report_index_root,
        )

        rep_root = recall_report_index_root(spark, sf_dir)
        shutil.rmtree(rep_root, ignore_errors=True)
        t0 = time.perf_counter()
        QUERIES["ann_recall_report"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        cold = time.perf_counter() - t0
        warm = timings.get("ann_recall_report")
        build_probe_split["ann_recall_report"] = {
            "build_sec": round(max(0.0, cold - warm), 3) if warm else None,
            "probe_sec": warm,
        }
    except Exception as exc:  # noqa: BLE001
        errors["build_probe_split"] = f"{type(exc).__name__}: {exc}"[:300]
        print(
            f"bench: build_probe_split FAILED: {errors['build_probe_split']}",
            file=sys.stderr,
        )

    # Media decode throughput (r8 verdict ask #5): the pure-Python codec
    # path had a quadratic bit-accumulator for two rounds and no bench row
    # noticed. Real BMP/PNG/JPEG/WAV payloads (deterministic synth),
    # decode_media(real_codec=True) over mapInPandas, reported rows/s with
    # a pinned floor. Payload GENERATION runs off the clock (checkpointed)
    # — the row times decode only. 2048 rows bounds the JPEG share (~512
    # pure-Python Huffman+IDCT decodes) to a few seconds on local[32].
    media_decode: dict = {}
    try:
        from pyspark_etl_twitter_spark.operators.multimodal import (
            decode_media,
            synth_real_media_table,
        )
        from pyspark_etl_twitter_spark.sources.catalog import load_table as _lt3

        n_media = 2048
        media_tbl = synth_real_media_table(
            _lt3(spark, sf_dir, "documents").select("doc_id").limit(n_media)
        ).localCheckpoint()
        n_media = media_tbl.count()  # materialize generation off the clock
        run_timed(
            "media_decode_real_codec",
            lambda: decode_media(media_tbl, real_codec=True),
        )
        fp_thunks["media_decode_real_codec"] = lambda: decode_media(
            media_tbl, real_codec=True
        )
        if timings.get("media_decode_real_codec"):
            media_decode = {
                "rows": n_media,
                "rows_per_sec": round(n_media / timings["media_decode_real_codec"], 1),
            }
    except Exception as exc:  # noqa: BLE001
        errors["media_decode"] = f"{type(exc).__name__}: {exc}"[:300]
        print(f"bench: media_decode FAILED: {errors['media_decode']}", file=sys.stderr)

    # closing canary samples: contention can differ between the start and
    # the end of a 70+-query run; the reported figure is the median over
    # both ends
    canary_samples += [canary_sample(spark) for _ in range(3)]
    bytecode_samples += [bytecode_canary_sample() for _ in range(3)]
    jvm_med = sorted(s[0] for s in canary_samples)[len(canary_samples) // 2]
    py_med = sorted(s[1] for s in canary_samples)[len(canary_samples) // 2]
    canary = {
        "jvm_sec": round(jvm_med, 3),
        "py_sec": round(py_med, 3),
        "ref_jvm_sec": CANARY_REF_SEC["jvm"],
        "ref_py_sec": CANARY_REF_SEC["py"],
        "speed_ratio": round(
            (jvm_med + py_med) / (CANARY_REF_SEC["jvm"] + CANARY_REF_SEC["py"]), 3
        ),  # >1 == this machine state is slower than the pinned reference
        # pure-bytecode ruler (pinned r14) for pure-Python rows the BLAS
        # canary under-corrects (r13: media rows/s decayed while the
        # BLAS canary improved)
        "bytecode_sec": round(
            sorted(bytecode_samples)[len(bytecode_samples) // 2], 3
        ),
        "ref_bytecode_sec": CANARY_REF_SEC["bytecode"],
        "bytecode_ratio": round(
            sorted(bytecode_samples)[len(bytecode_samples) // 2]
            / CANARY_REF_SEC["bytecode"],
            3,
        ),
    }

    # ---- fingerprint pass: one canonical position, after ALL timing ----
    # (r9 ADVICE: plan_fingerprint clears the SQL cache; running it
    # between timed queries changed warm-cache state. r9 What's-wrong #1:
    # cross-process flips could only be guessed at — the normalized TEXT
    # is now persisted per row so the next flip is a one-line diff.)
    fingerprints: dict[str, str] = {}
    plan_texts: dict[str, str] = {}
    fp_self_mismatch: list[str] = []
    for name, thunk in fp_thunks.items():
        try:
            fp1, text1 = plan_fingerprint(thunk())
            # Self-check: two FRESH plan objects (the session's plan_id
            # counter advances between them) must hash identically, else
            # the fingerprint is still absorbing run-variant tokens and
            # "plan changed" means nothing (r8 verdict #1).
            fp2, text2 = plan_fingerprint(thunk())
            fingerprints[name] = fp1
            plan_texts[name] = text1
            if fp1 != fp2:
                fp_self_mismatch.append(name)
                print(f"bench: fingerprint SELF-MISMATCH for {name}", file=sys.stderr)
                # the offending token must be CAPTURED, not guessed at:
                # emit the line-level diff of the two normalized texts
                for a, b in zip(text1.splitlines(), text2.splitlines()):
                    if a != b:
                        print(f"bench:   -{a}\nbench:   +{b}", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            errors[f"fp:{name}"] = f"{type(exc).__name__}: {exc}"[:200]

    repo = Path(__file__).resolve().parent

    # ---- two-sided drift normalizer (r10 verdict ask #3) ----
    # The canary (pure hash-agg + matmul) over-responds to container
    # state relative to the IO/shuffle-mixed bench rows (r10: canary
    # ratio 2.017 vs median per-query drift 1.261) — so the canary stays
    # a machine-HEALTH flag and the flat/regressed verdict uses the
    # EMPIRICAL drift: median of (this_time / prev_time) over rows whose
    # plan fingerprint is byte-identical to the previous committed run
    # (same code ⇒ any movement is machine state, not plan change).
    # Reads the PREVIOUS round's committed BENCH_DETAIL/BENCH_PLANS
    # before overwriting them; skipped when sf differs (a local smoke
    # run must not compare against a committed sf0.1 detail).
    drift: dict = {}
    try:
        prev_detail = json.loads(repo.joinpath("BENCH_DETAIL.json").read_text())
        prev_plans = json.loads(repo.joinpath("BENCH_PLANS.json").read_text())
    except (OSError, ValueError):
        prev_detail, prev_plans = {}, {}
    def _plan_stable_ratios() -> dict[str, float]:
        if prev_detail.get("sf") != sf:
            return {}
        prev_q = prev_detail.get("queries", {})
        out: dict[str, float] = {}
        for name, t in timings.items():
            pt = prev_q.get(name)
            if (
                t is not None
                and pt
                and pt > 0
                and name in fingerprints
                and prev_plans.get(name) == fingerprints[name]
            ):
                out[name] = t / pt
        return out

    def _drift_summary(ratios: dict[str, float]) -> dict:
        if not ratios:
            return {}
        ordered = sorted(ratios.values())
        n = len(ordered)
        med = ordered[n // 2]
        return {
            "median_plan_stable_ratio": round(med, 3),
            "n_plan_stable_rows": n,
            "plan_stable_p25_p75": [
                round(ordered[n // 4], 3),
                round(ordered[(3 * n) // 4], 3),
            ],
            # rows moving >1.5× away from the cohort median in either
            # direction — the per-run-scatter candidates the r10
            # verdict asked to classify with two-sided data
            "plan_stable_outliers": {
                k: round(v, 3)
                for k, v in sorted(ratios.items(), key=lambda kv: -kv[1])
                if v > 1.5 * med or v < med / 1.5
            },
        }

    ratios = _plan_stable_ratios()
    drift = _drift_summary(ratios)

    # ---- plan-stable outlier auto-rerun (r14 verdict ask #1) ----
    # A row whose plan fingerprint is byte-identical to the previous
    # committed run but whose time moved outside [0.8, 1.25]× was either
    # hit by transient contention or is a genuine machine-state shift —
    # re-time it (one re-warm rep first: the fingerprint pass cleared the
    # SQL cache) and report the RE-measured median as the row's time, in
    # BOTH directions. First-pass values are preserved in
    # BENCH_DETAIL.queries_first_pass so nothing is hidden; reruns happen
    # after the fingerprint pass so plan artifacts describe the same code.
    RERUN_BAND = (0.8, 1.25)
    queries_first_pass: dict[str, float] = {}
    for name, ratio in sorted(ratios.items()):
        if RERUN_BAND[0] <= ratio <= RERUN_BAND[1]:
            continue
        thunk = rerun_thunks.get(name)
        if thunk is None:
            continue
        try:
            rerun = warm_median(  # one re-warm rep first
                lambda: thunk().write.format("noop").mode("overwrite").save(), 1, reps
            )
            queries_first_pass[name] = timings[name]
            timings[name] = rerun
            print(
                f"bench: rerun {name}: ratio {ratio:.2f} -> "
                f"{timings[name]}s (first pass {queries_first_pass[name]}s)",
                file=sys.stderr,
            )
        except Exception as exc:  # noqa: BLE001
            errors[f"rerun:{name}"] = f"{type(exc).__name__}: {exc}"[:200]
    if queries_first_pass:
        # recompute drift over the stabilized times
        ratios = _plan_stable_ratios()
        drift = _drift_summary(ratios)
        if "media_decode_real_codec" in queries_first_pass and media_decode:
            media_decode["rows_per_sec"] = round(
                media_decode["rows"] / timings["media_decode_real_codec"], 1
            )

    shutil.rmtree(bench_tmp, ignore_errors=True)

    # committed artifacts describe the REAL bench (sf0.1) — a local
    # smoke run at a smaller sf must not clobber them (it silently
    # replaced the r10 sf0.1 baseline once; the drift normalizer above
    # depends on the committed files being the previous real run)
    write_artifacts = sf >= 0.1
    if write_artifacts:
        try:
            repo.joinpath("BENCH_PLANS.json").write_text(
                json.dumps(fingerprints, indent=1, sort_keys=True) + "\n"
            )
            repo.joinpath("BENCH_PLANTEXT.json").write_text(
                json.dumps(plan_texts, indent=1, sort_keys=True) + "\n"
            )
        except OSError:
            pass

    total = round(sum(t for t in timings.values() if t is not None), 3)
    detail = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "canary": canary,
        "value_canary_norm": round(total / canary["speed_ratio"], 3),
    }
    detail["idle_gate"] = idle_gate
    if queries_first_pass:
        detail["queries_first_pass"] = queries_first_pass
    if drift:
        detail["drift"] = drift
    if recall:
        detail["recall_at_5"] = recall
    if build_probe_split:
        detail["build_probe_split"] = build_probe_split
    # ---- global-window audit (r12 verdict ask #7) ----
    # Some rows RUN an unpartitioned window on purpose: their window input
    # is a value-DOMAIN-bounded frontier (quantized distinct values,
    # vocabulary heads, CMS cells), so the single partition holds |domain|
    # rows regardless of corpus size — the engine's bounded-frontier rule.
    # Labeling them here keeps the expected `WindowExec: No Partition
    # Defined` warnings from masking a future ACCIDENTAL global window in
    # a production row: any row outside the whitelist lands in
    # `unexpected` and is printed to stderr.
    gw = {
        name: n
        for name, text in plan_texts.items()
        if (n := count_unpartitioned_windows(text))
    }
    detail["global_windows"] = {
        "spec_twin": {k: v for k, v in gw.items() if k in GLOBAL_WINDOW_OK},
        "unexpected": sorted(set(gw) - GLOBAL_WINDOW_OK),
    }
    for name in detail["global_windows"]["unexpected"]:
        print(
            f"bench: UNEXPECTED unpartitioned window in {name} — a "
            "production row must never plan a global window",
            file=sys.stderr,
        )
    if streaming:
        detail["streaming_score_throughput"] = streaming
    if streaming_stateful:
        detail["streaming_stateful_throughput"] = streaming_stateful
    if media_decode:
        detail["media_decode"] = media_decode
    if errors:
        detail["errors"] = errors
    detail["fp_self_mismatch"] = fp_self_mismatch  # [] == fingerprints stable

    # Full per-query detail goes to a committed file; the final stdout line
    # must stay compact. The driver captures only the LAST 2000 chars of
    # stdout and parses the final JSON line — round 5's one-line dump (57
    # query rows + recall trio + streaming blocks) outgrew that window and
    # the round's perf record was lost (`BENCH_r05.json` parsed:null).
    if write_artifacts:
        try:
            repo.joinpath("BENCH_DETAIL.json").write_text(
                json.dumps(detail, indent=1, sort_keys=True) + "\n"
            )
        except OSError:
            pass

    slowest = dict(
        sorted(
            ((k, v) for k, v in timings.items() if v is not None),
            key=lambda kv: -kv[1],
        )[:10]
    )
    out = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": sum(1 for v in timings.values() if v is not None),
        "canary_sec": round(jvm_med + py_med, 3),
        "canary_speed_ratio": canary["speed_ratio"],
        "value_canary_norm": detail["value_canary_norm"],
        "queries": slowest,  # 10 slowest; full table in BENCH_DETAIL.json
        "detail": "BENCH_DETAIL.json",
        "idle_gate_ok": idle_gate["ok"],
        "n_reruns": len(queries_first_pass),
    }
    if drift:
        out["median_plan_stable_ratio"] = drift["median_plan_stable_ratio"]
        out["n_plan_stable_rows"] = drift["n_plan_stable_rows"]
        # the empirically-normalized total: total time rescaled by the
        # measured same-plan drift vs the previous committed run — the
        # figure to use for flat/regressed verdicts (canary stays a
        # machine-health flag)
        out["value_drift_norm"] = round(total / drift["median_plan_stable_ratio"], 3)
    if recall:
        out["recall_at_5"] = {
            "lsh": round(recall.get("knn_ann_lsh_probe_only_100q", -1), 3),
            "lsh_hr": round(recall.get("knn_ann_lsh_high_recall_100q", -1), 3),
            "ivf4": round(recall.get("knn_ivf_probe_only_100q", -1), 3),
            "ivf6": round(recall.get("knn_ivf_probe6_100q", -1), 3),
        }
    # Pinned throughput floors (r7 verdict ask #5): stateful window rate
    # drifted 17.4k→15.7k rows/s across two rounds as a footnote. Floors
    # hold at sf0.1 on this container (local[32]); smaller SFs are
    # overhead-dominated and exempt. A breach is a loud red field in the
    # tracked artifact, not a bench failure.
    # r9: ratcheted 16k/14k → 18k/15k. r10 (r9 verdict ask #5): stream
    # 18k → 23k, NOT the verdict's suggested ~26k — the r10 builder
    # container measured 25.6k where the r9 driver measured 31.3k (the
    # same machine-state spread the canary now quantifies), so 26k would
    # breach on a slow-but-healthy container; 23k catches a ≥10%
    # regression from the slower of the two observed states. Stateful
    # stays 15k (measured 16.6-18.2k). Floor breaches should be read
    # TOGETHER with canary_speed_ratio: breach + ratio≈1 is a real
    # regression, breach + high ratio is the container.
    # r12 (r11 verdict ask #8): per-row floors, ONE rule — each floor is
    # 0.75 × its newest IDLE normalized baseline (r11: raw × 1.083 →
    # stream 27.7k, window 21.7k, funnel 19.2k), i.e. exactly the
    # ≥25%-normalized-regression line the ask names. This replaces two
    # eras of ad-hoc levels: the raw-rate-era stream floor (23k, r10
    # two-container derivation) and the shared stateful floor (15k) sat
    # TIGHTER than the 25% line and r12's back-to-back idle runs grazed
    # them on healthy scatter (stream 22.1k/23.1k, funnel 14.6k
    # normalized, canary 1.42/1.07) — a floor that breaches on ordinary
    # container states is noise, not a regression detector. Net: stream
    # 23.0k → 20.8k, window 15.0k → 16.3k, funnel 15.0k → 14.4k.
    # Unknown future stateful rows default to the funnel floor until
    # they earn their own baseline.
    STREAM_FLOORS = {
        "stream_score": 20800.0,
        "window": 16300.0,
        "funnel": 14400.0,
        # per-batch near-dup ingest (r14): availableNow foreachBatch
        # probe against the corpus-sized store — docs/s over the 250-doc
        # sf0.1 batch. 0.75 × idle warm-median 43 docs/s (the one rule);
        # the pre-r14 probe ran ~18 docs/s, i.e. the old wall sits WELL
        # below this floor — a probe-path regression re-breaches it.
        "minhash_ingest": 32.0,
    }
    STATEFUL_DEFAULT_FLOOR = 14400.0
    # media decode floor: r9 measured 689 rows/s, r10 builder 753 at 2048
    # mixed BMP/PNG/JPEG/WAV rows; raised 500 → 600 (r9 verdict ask #5).
    # The quadratic bit-accumulator bug this row exists to catch ran at
    # ~1/10 of the floor.
    # r11 (r10 verdict ask #6): floor the NORMALIZED media rate when the
    # two-sided normalizer is available — raw × median_plan_stable_ratio
    # (slower machine ⇒ ratio > 1 ⇒ rate scaled back up), so machine
    # state alone can neither breach nor mask. Level: the verdict's
    # "~900-1,300 normalized" estimate used the CANARY ruler its own
    # ask #3 deprecated (canary over-responds ~2× vs plan-stable ~1.26);
    # on the empirical ruler the healthy normalized band is 750-830
    # (r10 driver 654 raw × 1.26 = 824; r10 builder 753; r9 689), so the
    # ≥25%-regression floor is 620. Raw 600 stays the fallback when no
    # normalizer exists (first run at an sf / fingerprint churn).
    # r12 ratchet (r11 verdict ask #8): r11 idle measured 776.6 raw ×
    # 1.083 = 841 normalized; the ≥25%-regression line is 630.
    MEDIA_FLOOR = 600.0
    MEDIA_FLOOR_NORM = 630.0
    breaches: list[str] = []
    if sf >= 0.1:
        # Floors police an UPWARD-ONLY machine-state-corrected rate:
        # raw × max(1, median_plan_stable_ratio, canary_speed_ratio).
        # Three same-day idle r12 runs showed BOTH failure modes of the
        # old symmetric plan-stable-only normalization: (a) a canary-1.42
        # slow-container state that the plan-stable cohort missed
        # (ratio 0.986) breached stream+media on raw-equivalent rates;
        # (b) a run whose query cohort happened 12.5% FASTER than the
        # just-committed detail (ratio 0.875 — within-container scatter,
        # not machine state) DEFLATED healthy raw rates (window 17.8k →
        # 15.6k) into false breaches. Rate rows and query rows are
        # different workload classes; the correction exists solely so a
        # slow machine cannot breach — so it applies only upward, from
        # whichever ruler detects the slowness (the canary is the
        # better-matched probe for the CPU-bound rate class). The cost
        # is one round of latency on a regression that lands on a
        # slow-container round — the next normal-container round catches
        # it; the old behavior bought that earlier catch with false
        # breaches on ordinary healthy runs, which is a worse trade for
        # a tracked red field.
        _mr = drift.get("median_plan_stable_ratio")
        _cr = canary.get("speed_ratio")
        has_norm = bool(_mr) and _mr > 0
        correction = max(
            1.0,
            _mr if has_norm else 1.0,
            _cr if _cr and _cr > 0 else 1.0,
        )

        def _rate_breach(label: str, raw_rate: float, floor: float) -> None:
            norm = raw_rate * correction
            if norm < floor:
                breaches.append(f"{label}={norm:.0f}<{floor:.0f}")

        if streaming:
            _rate_breach(
                "stream_score",
                streaming.get("rows_per_sec", 0),
                STREAM_FLOORS["stream_score"],
            )
        for k, v in (streaming_stateful or {}).items():
            _rate_breach(
                k,
                v.get("rows_per_sec", 0),
                STREAM_FLOORS.get(k, STATEFUL_DEFAULT_FLOOR),
            )
        if media_decode:
            # the media row is pure-Python bytecode across 32 mapInPandas
            # workers, so it degrades under EITHER interpreter slowdown
            # (r13: bytecode ratio detected it, BLAS looked healthy) or
            # all-core contention (r14 loaded-container test: BLAS 1.36
            # detected it, single-thread bytecode sat at 1.05) — the
            # upward-only correction therefore takes the MAX of all
            # three rulers, whichever detects the slowness (the stated
            # normalizer philosophy; validated: raw 591 × 1.36 = 804
            # normalized under deliberate load, no false breach, where
            # any single ruler would have breached)
            _bc = canary.get("bytecode_ratio")
            media_corr = max(
                correction, _bc if _bc and _bc > 0 else 1.0
            )
            norm_media = media_decode["rows_per_sec"] * media_corr
            media_floor = MEDIA_FLOOR_NORM if has_norm else MEDIA_FLOOR
            if norm_media < media_floor:
                breaches.append(f"media_decode={norm_media:.0f}<{media_floor:.0f}")
        out["stream_floor_breach"] = breaches  # [] == all floors held
    if streaming:
        out["stream_rows_per_sec"] = round(streaming.get("rows_per_sec", 0), 1)
    if streaming_stateful:
        out["stateful_rows_per_sec"] = {
            k: round(v.get("rows_per_sec", 0), 1)
            for k, v in streaming_stateful.items()
        }
    if media_decode:
        out["media_decode_rows_per_sec"] = media_decode["rows_per_sec"]
    if fp_self_mismatch:
        out["fp_self_mismatch"] = fp_self_mismatch[:8]
    if errors:
        out["n_errors"] = len(errors)
        out["error_names"] = sorted(errors)[:8]
    line = json.dumps(out)
    if len(line) > 1800:  # belt-and-braces: never outgrow the capture window
        out.pop("queries", None)
        line = json.dumps(out)
    print(line)


if __name__ == "__main__":
    main()
