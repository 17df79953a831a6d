"""Bench harness — one JSON line on stdout, everything else on stderr.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``, plus the two
reference-defined store workloads (BASELINE.md §A):

  W1  bulk append of 1,000,000 SampleData records to an OrdinalStore
      (reproducing /root/reference/tests/tests/sample_data_test.rs:79-98)
  W2  contiguous ordinal range read of the same 1,000,000 records
      (sample_data_test.rs:99-107)
  W4  1,000 random point reads over the hottest 10% of the keyspace,
      uncached vs LRU-cached (cache_performance_test.rs:151-198,
      258-303) — expressed Spark-first as ONE batched lookup join
      (broadcast of the 1,000 probe keys), against cold parquet and
      against a hot_table-pinned frame; a driver loop of 1,000
      single-row jobs would measure scheduler overhead, not the engine
  W7  1,000 one-by-one pushes through the write-behind buffer, then
      the flush and a full ordinal-range readback
      (cache_engine_performance_test.rs:115-159) — the workload the
      IngestBuffer exists for: accepts are O(1) driver-side appends,
      the flush is one distributed job

Headline queries exclude the all-pairs O(n²) correctness baselines
(`dedup_ngram_jaccard_pairs`, `sim_embedding_near_pairs`) — at bench
scale you run their scale-path variants (`dedup_minhash_lsh_pairs`,
`sim_ann_lsh_topk`), exactly as you would at 100 TB.

Every query is timed by ``tools/measure.time_query``: from the call
of its registered callable to the end of a `noop`-format write of its
result. Work a callable does while it is built (eager collects,
iterative loops, streaming replays, scratch builds) is therefore
counted, and the sink executes the full plan on the executors with
nothing funneled through the driver.

Query rows are best-of-2 (both samples recorded under "samples"):
one warm-up query cannot JIT every codegen shape in the suite, so a
first run occasionally absorbs a one-time whole-stage compilation that
a steady-state cluster session never re-pays (the q3 0.93 s -> 1.58 s
run-order artifact in BENCH_r04, documented BASELINE.md §C, which
already adopted best-of-2 for the scale-slope batches). The min of two
runs is the steady-state engine number; the second sample re-plans
from scratch (fresh DataFrame) after ``time_query`` cleared the cache,
so only JVM JIT state is shared, not Spark cached data.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools.measure import time_query, warm_up  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "ref_pullx_range",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "join_broadcast_brand_volume",
    "join_outer_order_counts",
    "group_topk_orders_per_customer",
    "window_running_total",
    "agg_stats_lineitem",
    "dedup_exact_documents",
    "dedup_minhash_lsh_pairs",
    "text_stats_documents",
    "sim_cosine_topk",
    "sim_ann_lsh_topk",
    "funnel_view_click_purchase",
    "cohort_daily_retention",
    "assoc_part_pairs_in_orders",
    "text_inverted_index",
    # round-3 additions: continuous-ingest dedup + compliance scrub
    "dedup_incremental_minhash",
    "pipeline_pii_scrub",
    # round-4 additions: 6-table join, agg-then-join top-k, BPE fanout
    "q7_nation_volume_shipping",
    "q18_large_order_customers",
    "pipeline_bpe_merge_pairs",
    # late round-4: TPC-H round-out representatives (8-table ratio,
    # single-shuffle Q21 rewrite, returned-item top-k) + CDC intervals
    "q8_national_market_share",
    "q21_waiting_supplier",
    "q10_returned_item_customers",
    "scd2_user_event_intervals",
    # round-6 additions (r5 verdict task 3): track the round-5/6
    # curation operators round-over-round like everything else
    "pipeline_url_normalize_dedup",
    "text_gopher_quality_flags",
    "pipeline_mixture_token_budget",
    "multimodal_resize_thumbnail",
    "sim_knn_label_vote",
    "text_top_bigram_char_fraction",
    # round-6 additions: the rewritten span pipeline (window count
    # gate) + its linear-output novelty twin — the two plans the
    # perturbed-fixture ladder exposed; track their cost every round
    "dedup_span_pairs",
    "text_span_novelty",
    # round-7 additions: LM scoring from the persisted tf table,
    # corpus-wide keep-first paragraph dedup, the binned interval
    # join, and gaps-and-islands. (pipeline_nb_language_filter was a
    # headline row r7-r9; retired in r10 — see the NOTE below.)
    "text_perplexity_buckets",
    "dedup_paragraph_keep_first",
    "join_interval_overlap",
    "window_streak_islands",
    # round-8 additions: sequence-pattern sessions, the gated MinHash
    # estimator, integer Lloyd k-means, CUSUM changepoint, train/val
    # drift KL — one representative per new family
    "pattern_session_sequences",
    "dedup_minhash_md5_estimate",
    "sim_kmeans_lloyd_exact",
    "timeseries_cusum_changepoint",
    "pipeline_unigram_drift_kl",
    # round-9: promote the wave-6 r8 ops into the headline as the
    # registry note promises (calendar-lag ACF, corpus-derived
    # stopwords, daily bounce rate) so drift tracking covers them
    "timeseries_autocorrelation",
    "text_stopword_discovery",
    "funnel_bounce_rate_daily",
    # round-9 additions, one per new family. Excluded on purpose:
    # graph_triangle_estimate (edge-build-bound — tracked in the
    # iterative section beside the exact op)
    "text_gopher_line_rules",
    "agg_gini_customer_spend",
    "timeseries_theil_sen_trend",
    "agg_benford_first_digit",
    "graph_degree_distribution",
    # late round-9: the classical trend companion, the Lorenz table,
    # the exact two-sample KS drift test, and the embedding-drift
    # member of the drift trio
    "timeseries_ols_trend",
    "agg_lorenz_deciles",
    "agg_ks_two_sample",
    "sim_embedding_drift_halves",
    # round-10: promote the one round-9 op with no tracked-section row
    # (r9 verdict task 6) — estimator-bound by design (~5 s at sf0.1:
    # the MinHash estimate over the banded candidate pairs dominates;
    # the 25-point threshold sweep on top is one cached re-aggregation)
    "dedup_threshold_operating_curve",
    # round-10 additions, one row each (graph_kcore_peeling rides the
    # iterative section beside the other eager graph loops)
    "agg_ks_binned",
    "agg_chi2_independence",
    "agg_mutual_information",
    "timeseries_mann_kendall",
    "rfm_customer_segments",
    "pipeline_sequence_packing",
    "cohort_kaplan_meier",
    # late round-10: the remaining additions of the round, one row
    # each (registered after the mid-round promotion commit)
    "profile_functional_dependencies",
    "multimodal_byte_packing",
    "timeseries_cumulative_reach",
    "text_flesch_readability",
    "agg_anova_oneway",
    "agg_hhi_concentration",
    "pipeline_dedup_token_savings",
    "multimodal_phash_neardup",
    # edge-scratch consumer like graph_degree_distribution: times the
    # bounded seeded wedge join over the session-shared edge parquet
    "graph_link_prediction_seeded",
    # wave 2 closers: classical decomposition, U-shaped multi-touch,
    # the fixed-budget eval carve, the two-sample test
    "timeseries_seasonal_decompose",
    "attribution_position_based",
    "pipeline_reservoir_sample",
    "agg_welch_ttest",
    "text_source_vocab_overlap",
    "agg_spearman_rank_corr",
    # round-11 additions, one row each. graph_connected_components
    # rides the iterative section beside the other eager graph loops;
    # dedup_threshold_operating_curve above now reads the shared
    # estimator scratch (its true build is the minhash_est_build row).
    "multimodal_phash_neardup_wide",
    "pipeline_review_queue",
    "graph_assortativity",
    "agg_kendall_tau_binned",
    "agg_brown_forsythe_variance",
    "timeseries_ljung_box",
    "pipeline_mixture_temperature",
    "text_js_divergence_sources",
    "multimodal_aspect_bucketing",
    "sim_mmr_diversified_topk",
    # round-11 wave 2
    "agg_theil_index",
    "sketch_kmv_distinct_intersection",
    "cohort_km_median_lifetime",
    # round-11 wave 3
    "text_bm25_ranking",
    "timeseries_drawdown",
    "profile_column_entropy",
    # round-11 wave 4
    "agg_mann_whitney_binned",
    "timeseries_seasonal_strength",
    # round-12 wave 1
    "sim_pq_codes_exact",
    "text_rrf_hybrid_topk",
    # round-12 wave 2
    "profile_column_entropy_bucketed",
    "sim_pq_adc_topk",
    "cohort_ltv_cumulative",
    "agg_odds_risk_ratio",
    # round-12 wave 3
    "text_distinct_ngrams",
    "timeseries_interarrival_stats",
    # round-12 wave 4
    "quality_freshness_sla",
    "sim_ivfpq_topk",
    # round-12 wave 5
    "timeseries_holt_winters",
    "timeseries_residual_anomalies",
    # round-13: serving-path PQ variants + the stitched interarrival
    "sim_ivfpq_partitioned_topk",
    "timeseries_interarrival_stitched",
    "text_distinct_ngrams_approx",
    # round-13 wave 2: profiling / engagement
    "agg_cramers_v",
    "cohort_stickiness_dau_mau",
    "window_session_gaps",
    "agg_quantile_bands_exact",
    "quality_uniqueness_report",
    # round-13 wave 3: corpus analysis + pipeline
    "text_hapax_ratio",
    "agg_log_odds_monroe",
    "text_keyword_cooccurrence",
    "pipeline_token_budget_packing",
    "timeseries_theta_forecast",
    "sim_random_projection_energy",
    "graph_bridge_edges",
    # round-13 wave 4: eval hygiene + adaptive retrieval
    "pipeline_contamination_ngram_overlap",
    "sim_matryoshka_prefix_recall",
    "agg_cohens_kappa",
    "quality_uniqueness_approx",
]

# Structured Streaming replays, timed OUTSIDE the headline so the
# headline band stays comparable across rounds (a replay pays
# landing-dir parquet writes + stream start/stop on top of the query
# itself — a different workload class). A single-shot replay sample
# swings 2.6-17 s on a busy host (stream start/stop + state-store init
# dominate and are cache-sensitive), hence best-of-2 here too.
STREAMING = (
    "streaming_tumbling_counts_replay",
    "streaming_session_counts_replay",
    "streaming_dedup_watermark_replay",
    "streaming_interval_join_replay",
    # round-6: the flagship dedup against a live ingest feed, in both
    # emission forms (post-sink distinct vs in-stream
    # dropDuplicatesWithinWatermark)
    "streaming_minhash_dedup_replay",
    "streaming_minhash_dedup_instream",
    "streaming_ewma_daily_replay",
    "streaming_cdc_upsert_replay",
    # round-11: the standing KMV distinct sketch
    "streaming_kmv_distinct_replay",
    # round-12: incrementally-maintained BM25 postings
    "streaming_bm25_stats_replay",
)

# Iterative/spectral section (r7 verdict task 4): the catalog's most
# expensive queries, tracked round-over-round OUTSIDE the headline
# band. Each materializes eagerly during construction (checkpointed
# loops, persisted loop state).
ITERATIVE = (
    "graph_pagerank_exact",
    "sim_pca_power_iteration_exact",
    # round-8: the wedge join is the catalog's next-heaviest plan (1.9M
    # triangles at sf0.1) — tracked like the others
    "graph_triangle_clustering",
    # round-9: the DOULION scale twin, beside its exact op
    "graph_triangle_estimate",
    # round-10: the k-core peel loop (eager persist+count rounds over
    # the shared edge scratch)
    "graph_kcore_peeling",
    # round-11: min-label propagation to the fixpoint (eager per-round
    # label-sum collects over the shared scratch)
    "graph_connected_components",
    # NOT tracked: graph_jaccard_link_prediction — the all-pairs
    # baseline (67.8 s at sf0.1, Σ C(d,2) wedge generation) is
    # quarantined at correctness scale exactly like
    # dedup_ngram_jaccard_pairs, which is also unbenched; the headline
    # carries its seeded serving twin
)

# NOTE (round 10, r9 verdict task 7): `pipeline_nb_language_filter`
# was a headline row r7-r9 but its meaning changed when the trio moved
# to one shared NB fit per session (operators/pipeline.py `_nb_scored`)
# — the headline sample became a post-fit scratch scan (~0.04 s),
# incomparable with the r7/r8 fit-inclusive samples. RETIRED from the
# headline; the canonical numbers are the `nb_trio_*` rows from
# bench_nb_trio(), which resets the scratch and times fit + both
# reduction-only consumers explicitly (substitution recorded in
# BASELINE.md).

STORE_ROWS = 1_000_000


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def best_of_2(spark, queries, names, times, samples, errors) -> None:
    """Two ``time_query`` samples per name; the min goes to ``times``,
    both to ``samples``, a failure to ``errors``."""
    for name in names:
        if name not in queries:
            errors[name] = "unknown query"
            log(f"bench: skipping unknown query {name}")
            continue
        try:
            pair = [time_query(spark, queries[name], SF_DIR, name)[0] for _ in range(2)]
        except Exception as exc:  # noqa: BLE001 - record and continue
            errors[name] = _short_err(exc)
            log(f"bench: {name} FAILED: {exc}")
            continue
        times[name] = round(min(pair), 3)
        samples[name] = [round(s, 3) for s in pair]
        log(f"bench: {name} {min(pair):.3f}s (samples {pair[0]:.3f}/{pair[1]:.3f})")


def _short_err(exc: BaseException) -> str:
    """One-line error for the JSON payload (full trace goes to stderr)."""
    first = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {first[0][:300] if first else ''}"


def sample_data_df(spark):
    """1M SampleData rows (FIXTURES.md §1) built JVM-side from range()."""
    from pyspark.sql import functions as F

    return spark.range(0, STORE_ROWS, 1, 32).select(
        F.col("id").cast("int").alias("my_number1"),
        F.concat(F.lit("Hello, World! 你好世界 "), F.col("id")).alias("my_string1"),
        (F.col("id") * 10).cast("int").alias("my_number2"),
        (F.col("id") % 2 == 0).alias("my_boolean1"),
        F.concat(F.lit("This is another longer string. "), F.col("id")).alias("my_string2"),
    )


def bench_store(spark) -> dict[str, float]:
    from vector_db_core_spark.store import OrdinalStore

    tmp = tempfile.mkdtemp(prefix="bench_store_")
    try:
        store = OrdinalStore(spark, os.path.join(tmp, "s"))
        batch = sample_data_df(spark)
        t0 = time.perf_counter()
        # range() is deterministic: skip the safety persist (same
        # choice a production bulk-load from files would make)
        store.pushx(batch, deterministic_source=True)
        w1 = time.perf_counter() - t0

        t0 = time.perf_counter()
        store.pullx(0, STORE_ROWS).write.mode("overwrite").format("noop").save()
        w2 = time.perf_counter() - t0
        assert store.count() == STORE_ROWS

        w4 = bench_point_reads(spark, store)
        w7 = bench_buffer(spark, os.path.join(tmp, "s7"))
        return {
            "w1_append_1m_sec": round(w1, 3),
            "w2_range_read_1m_sec": round(w2, 3),
            **w4,
            **w7,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def bench_point_reads(spark, store) -> dict[str, float]:
    """W4: 10 turns x 1,000 point reads over the hottest 10% of
    ordinals (the reference's COUNT/TURNS shape), each turn batched
    into one broadcast lookup join with the probe bounds pushed down —
    uncached parquet (row-group pruning) vs hot_table (in-memory
    columnar with batch-stats pruning). Reported per turn. On a warm
    local NVMe the two are close — the cache's real margin appears
    when the backing scan is remote object storage."""
    import random

    from pyspark.sql import functions as F

    from vector_db_core_spark.cache import hot_table
    from vector_db_core_spark.store import ROWID

    rng = random.Random(42)
    base = store.getall(ordered=False)

    def probe(df) -> float:
        t0 = time.perf_counter()
        for _ in range(10):
            keys = [
                (rng.randrange(int(STORE_ROWS * 0.9), STORE_ROWS),) for _ in range(1_000)
            ]
            lo, hi = min(k for (k,) in keys), max(k for (k,) in keys)
            kdf = spark.createDataFrame(keys, f"{ROWID} BIGINT")
            df.where(F.col(ROWID).between(lo, hi)).join(
                F.broadcast(kdf), ROWID
            ).write.mode("overwrite").format("noop").save()
        return (time.perf_counter() - t0) / 10

    uncached = probe(base)
    with hot_table(base, warm=True) as hot:
        cached = probe(hot)
    return {
        "w4_point_reads_1k_uncached_sec": round(uncached, 3),
        "w4_point_reads_1k_cached_sec": round(cached, 3),
    }


def bench_buffer(spark, path: str) -> dict[str, float]:
    """W7: 1,000 one-by-one pushes absorbed by the write-behind buffer,
    one flush, then the full readback."""
    from vector_db_core_spark.store import OrdinalStore
    from vector_db_core_spark.streaming.ingest import IngestBuffer

    schema = (
        "my_number1 INT, my_string1 STRING, my_number2 INT, "
        "my_boolean1 BOOLEAN, my_string2 STRING"
    )
    store = OrdinalStore(spark, path, schema=schema)
    buf = IngestBuffer(store, threshold=500_000)

    t0 = time.perf_counter()
    for i in range(1_000):
        buf.push(
            {
                "my_number1": i,
                "my_string1": f"Hello, World! 你好世界 {i}",
                "my_number2": i * 10,
                "my_boolean1": i % 2 == 0,
                "my_string2": f"This is another longer string. {i}",
            }
        )
    accept = time.perf_counter() - t0

    t0 = time.perf_counter()
    buf.close()
    flush = time.perf_counter() - t0

    t0 = time.perf_counter()
    store.pullx(0, 1_000).write.mode("overwrite").format("noop").save()
    read = time.perf_counter() - t0
    assert store.count() == 1_000
    return {
        "w7_push_1k_accept_sec": round(accept, 3),
        "w7_flush_sec": round(flush, 3),
        "w7_readback_1k_sec": round(read, 3),
    }


def bench_nb_trio(spark, queries) -> tuple[dict[str, float], dict[str, list[float]]]:
    """The filter-evaluation trio under its shared-fit contract: reset
    the scored-frame scratch, then run filter -> calibration ->
    confusion. The filter row pays the ONE fit + scratch write; the
    other two must be reduction-only reads (the round-8 verdict's
    sharing win, kept visible round-over-round). Best-of-2 per step;
    the scratch resets before each round so sample 2 re-fits."""
    from vector_db_core_spark import scratch
    from vector_db_core_spark.operators import pipeline

    names = (
        "pipeline_nb_language_filter",
        "pipeline_quality_calibration",
        "pipeline_lang_confusion",
    )
    pairs: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(2):
        scratch.reset(pipeline._NB_SCRATCH_KEY)
        for n in names:
            pairs[n].append(time_query(spark, queries[n], SF_DIR, n)[0])
    times = {f"nb_trio_{n}": round(min(p), 3) for n, p in pairs.items()}
    samples = {f"nb_trio_{n}": [round(s, 3) for s in p] for n, p in pairs.items()}
    return times, samples


def main() -> None:
    from vector_db_core_spark.session import get_spark

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = None

    # The JSON line must ALWAYS be emitted — a single failing query or
    # workload records an error entry instead of killing the run
    # (round-2 lesson: one plan-time error zeroed the entire bench).
    per_query: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    store_times: dict[str, float] = {}
    streaming_times: dict[str, float] = {}
    iterative_times: dict[str, float] = {}
    nb_trio_times: dict[str, float] = {}

    # Host-band attribution (r11 verdict task 7): the driver-run
    # capture showed 2.4x phantom drift on untouched plans that took a
    # quiet-host re-run to attribute. Record (a) 1/5/15-min loadavg at
    # start and end — a loaded host is visible mechanically — and (b) a
    # page-cache probe: raw-read throughput of the largest fixture
    # parquet BEFORE Spark starts. Page-cache-warm reads run at memory
    # bandwidth (GB/s); a cold cache reads at disk speed and the whole
    # suite pays +4-6s spread thin (BASELINE.md §C).
    try:
        load_start = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load_start = None
    cache_probe: dict | None = None
    try:
        # Sampled probe: read only the FIRST 64 MB (r12 advice — a
        # full-file probe warms the very cache it is attributing, so
        # 'COLD' described a state that no longer held for the
        # measured run and back-to-back invocations always reported
        # warm). 64 MB is enough for a stable MB/s estimate while
        # leaving the bulk of the file in whatever state the probe
        # found it; the flag means cold AT PROCESS START only.
        probe_path = os.path.join(SF_DIR, "lineitem.parquet")
        nbytes = min(os.path.getsize(probe_path), 1 << 26)
        t0 = time.perf_counter()
        remaining = nbytes
        with open(probe_path, "rb") as f:
            while remaining > 0 and f.read(min(1 << 22, remaining)):
                remaining -= 1 << 22
        dt = time.perf_counter() - t0
        mb = nbytes / 1e6
        mb_s = mb / dt if dt > 0 else float("inf")
        cache_probe = {
            "file": "lineitem.parquet",
            "mb": round(mb, 1),
            "mb_s": round(mb_s, 0),
            "warm": mb_s > 800.0,
            "sampled_first_64mb": True,
        }
        log(
            f"bench: cache probe (first {mb:.0f} MB) at {mb_s:.0f} MB/s "
            f"({'warm' if cache_probe['warm'] else 'COLD at process start'}); "
            f"loadavg {load_start}"
        )
    except OSError as exc:
        log(f"bench: cache probe failed (continuing): {exc}")
    try:
        spark = get_spark(app_name="vector_db_core_bench")
        spark.sparkContext.setLogLevel("ERROR")

        import __spark_entry__ as entrymod

        queries = entrymod.queries()

        try:
            warm_up(spark, SF_DIR)
        except Exception as exc:  # noqa: BLE001 - warm-up is best-effort
            log(f"bench: warm-up failed (continuing): {exc}")

        # Session-shared scratch tables (scratch.cached_table): the
        # graph family reads one co-purchase edge parquet and the
        # MinHash estimator row + threshold curve read one candidate-
        # pair parquet, each built at most once per session. Reset and
        # time the TRUE build here, before any consumer, so every
        # downstream row times its own work over a scan, never a
        # hidden rebuild.
        from vector_db_core_spark import scratch
        from vector_db_core_spark.operators import analytics, llm

        for name, key, build in (
            ("graph_edge_build", analytics._CO_EDGE_SCRATCH_KEY, analytics._co_purchase_edges_table),
            ("minhash_est_build", llm._MINHASH_EST_SCRATCH_KEY, llm._minhash_est_table),
        ):
            try:
                scratch.reset(key)
                secs = time_query(spark, build, SF_DIR, name)[0]
            except Exception as exc:  # noqa: BLE001 - record and continue
                errors[name] = _short_err(exc)
                log(f"bench: {name} FAILED: {exc}")
                continue
            iterative_times[name] = round(secs, 3)
            log(f"bench: {name} {secs:.3f}s (one per session)")

        best_of_2(spark, queries, HEADLINE, per_query, samples, errors)

        try:
            store_times = bench_store(spark)
            for k, v in store_times.items():
                log(f"bench: {k} {v:.3f}s")
        except Exception as exc:  # noqa: BLE001
            errors["store_workloads"] = _short_err(exc)
            log(f"bench: store workloads FAILED: {exc}")

        best_of_2(spark, queries, STREAMING, streaming_times, samples, errors)
        best_of_2(spark, queries, ITERATIVE, iterative_times, samples, errors)

        try:
            trio_times, trio_samples = bench_nb_trio(spark, queries)
            nb_trio_times.update(trio_times)
            samples.update(trio_samples)
            for k, v in trio_times.items():
                log(f"bench: {k} {v:.3f}s")
        except Exception as exc:  # noqa: BLE001
            errors["nb_trio"] = _short_err(exc)
            log(f"bench: nb trio FAILED: {exc}")
    except Exception as exc:  # noqa: BLE001 - even setup failures emit JSON
        errors["setup"] = _short_err(exc)
        log(f"bench: setup FAILED: {exc}")

    total = round(sum(per_query.values()), 3)
    try:
        load_end = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load_end = None
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "samples": samples,
        "store": store_times,
        "streaming": streaming_times,
        "iterative": iterative_times,
        "nb_trio": nb_trio_times,
        "sf": sf_val,
        "n_queries": len(per_query),
        "loadavg": {"start": load_start, "end": load_end},
        "cache_probe": cache_probe,
    }
    if errors:
        out["errors"] = errors
    # Self-contained artifact (r8 verdict nit: the driver captures only
    # an output tail, which truncated the per-query table mid-JSON) —
    # the FULL record, samples included, written beside the repo root.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"),
            "w",
        ) as f:
            f.write(json.dumps(out) + "\n")
    except OSError as exc:
        log(f"bench: could not write BENCH_local.json: {exc}")
    # The stdout line is what the driver's tail-capture parses. The
    # capture keeps only the LAST ~2000 characters, so a full 79-row
    # per-query table truncates FROM THE FRONT and `parsed` comes back
    # null (r8..r10, six rounds running — r10 verdict task 6). Print a
    # SUMMARY object guaranteed to fit: totals, per-section sums, and
    # the slowest per-query rows, shrinking the row count until the
    # serialized line is safely under the capture window. The full
    # table + samples live in BENCH_local.json above.
    sections = {
        "store": round(sum(store_times.values()), 3),
        "streaming": round(sum(streaming_times.values()), 3),
        "iterative": round(sum(iterative_times.values()), 3),
        "nb_trio": round(sum(nb_trio_times.values()), 3),
    }
    ranked = sorted(per_query.items(), key=lambda kv: (-kv[1], kv[0]))
    for keep in (15, 8, 4, 0):
        compact = {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "sf": sf_val,
            "n_queries": len(per_query),
            "n_errors": len(errors),
            "sections": sections,
            "loadavg": {"start": load_start, "end": load_end},
            "cache_warm": cache_probe["warm"] if cache_probe else None,
            "queries": dict(ranked[:keep]),
            "note": f"slowest {min(keep, len(ranked))} of {len(ranked)}"
            " headline rows; full table in BENCH_local.json",
        }
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) <= 1800:
            break
    print(line, flush=True)
    try:
        spark.stop()
    except Exception:  # noqa: BLE001, S110
        pass


if __name__ == "__main__":
    main()
