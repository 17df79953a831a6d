"""Relational surface round-out [EXT]: hashing, array/map scalar ops,
exact-formulated dispersion aggregates, approximate distinct counts,
right/full outer + range/theta + as-of joins, and batch event-time
windows (the batch twin of streaming/ingest.windowed_event_counts).

Fills SURVEY.md §2.2 rows flagged missing in round 1: hash digests
(mirroring the reference's stored SHA-256/Blake2s test columns,
/root/reference/tests/tests/mix_data_test.rs:72-95), map functions,
stddev/variance, approx_count_distinct, the remaining join types.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from vector_db_core_spark.functions.exact import dsum
from vector_db_core_spark.functions.text import tokens
from vector_db_core_spark.operators.registry import register
from vector_db_core_spark.sources import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------- hashing
@register(
    "scalar_hash_functions",
    oracle="""
    SELECT p_partkey,
           sha256(p_name) AS name_sha256,
           md5(p_name) AS name_md5,
           substring(sha256(p_type), 1, 16) AS type_sha_prefix
    FROM part
    """,
)
def scalar_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content digests as columns — the reference stores SHA-256/Blake2s
    digests in its records (mix_data_test.rs:47-50,72-95); here they're
    computed in the engine (per-row, codegen'd, no shuffle). sha2/md5
    emit lowercase hex identically on both engines. (xxhash64, the
    engine's cheap internal hash, has no DuckDB twin — it's exercised
    all over the LSH operators instead.)"""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.sha2("p_name", 256).alias("name_sha256"),
        F.md5("p_name").alias("name_md5"),
        F.substring(F.sha2("p_type", 256), 1, 16).alias("type_sha_prefix"),
    )


# ---------------------------------------------------------------- array scalar
@register(
    "scalar_array_functions",
    oracle=r"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
               FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           array_to_string(toks[1:3], ',') AS first3,
           array_to_string(list_sort(list_distinct(toks)), ',') AS vocab_sorted,
           list_contains(toks, 'the') AS has_the,
           array_to_string(list_transform(toks[1:5], x -> CAST(length(x) AS INT)), ',')
             AS first5_lens,
           array_to_string(toks[1:3], '-') AS first3_joined
    FROM t
    """,
)
def scalar_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function surface: size/slice/sort/distinct/contains/
    transform/join over the token arrays. Sorted-distinct output keeps
    the comparison order-insensitive where engines differ on distinct
    ordering."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", tokens("text").alias("toks"))
    # gate outputs render arrays as canonical CSV strings: python-list
    # vs numpy-array cells hash asymmetrically in pandas (registry.py
    # normalization policy); the array computation itself stays typed
    return docs.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.array_join(F.slice("toks", 1, 3), ",").alias("first3"),
        F.array_join(F.array_sort(F.array_distinct("toks")), ",").alias("vocab_sorted"),
        F.array_contains("toks", "the").alias("has_the"),
        F.array_join(
            F.transform(F.slice("toks", 1, 5), lambda x: F.length(x).cast("string")), ","
        ).alias("first5_lens"),
        F.array_join(F.slice("toks", 1, 3), "-").alias("first3_joined"),
    )


# ------------------------------------------------------------------ map scalar
@register(
    "scalar_map_functions",
    oracle="""
    WITH m AS (SELECT doc_id, MAP {'lang': lang, 'source': source} AS meta FROM documents)
    SELECT doc_id,
           array_to_string(list_sort(map_keys(meta)), ',') AS meta_keys,
           element_at(meta, 'lang')[1] AS meta_lang,
           CAST(cardinality(meta) AS INT) AS n_entries
    FROM m
    """,
)
def scalar_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + introspection (map_from_arrays / map_keys /
    element_at / size). DuckDB's element_at returns a 1-element list,
    hence the [1] on the oracle side."""
    docs = _t(spark, sf_dir, "documents")
    meta = F.map_from_arrays(
        F.array(F.lit("lang"), F.lit("source")), F.array(F.col("lang"), F.col("source"))
    )
    return docs.select(
        "doc_id",
        # CSV-joined for gate comparability (registry.py policy)
        F.array_join(F.array_sort(F.map_keys(meta)), ",").alias("meta_keys"),
        F.element_at(meta, F.lit("lang")).alias("meta_lang"),
        F.size(meta).alias("n_entries"),
    )


# ------------------------------------------------------- dispersion aggregates
@register(
    "agg_stddev_variance",
    oracle="""
    WITH s AS (SELECT l_returnflag,
                      COUNT(*) AS n,
                      SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s1,
                      SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS s2
               FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             / CAST(n - 1 AS DOUBLE) AS var_qty,
           sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             / CAST(n - 1 AS DOUBLE)) AS stddev_qty
    FROM s
    """,
)
def agg_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance/stddev via exact decimal moments.

    Built-in ``stddev_samp`` streams a Welford-style accumulator whose
    result depends on merge order — fine statistically, but not
    reproducible across partitionings or engines. Computing
    (Σx², Σx, n) exactly in DECIMAL and finishing in double gives a
    bit-stable answer at any parallelism; the 2dp fixture values make
    the decimal sums exact. Same single-pass partial/final aggregation
    shape as any sum."""
    li = _t(spark, sf_dir, "lineitem")
    d = F.col("l_quantity").cast("decimal(18,2)")
    g = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), F.sum(d).alias("s1"), F.sum(d * d).alias("s2")
    )
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n").cast("double")
    ) / (F.col("n") - 1).cast("double")
    return g.select("l_returnflag", var.alias("var_qty"), F.sqrt(var).alias("stddev_qty"))


@register("agg_approx_count_distinct")  # HLL sketches differ per engine → rows-only
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count estimates — THE aggregation for
    cardinality at 100 TB (fixed sketch size, map-side mergeable, one
    narrow shuffle vs. countDistinct's full key shuffle). Estimates are
    engine-specific so there's no value oracle; tests/test_extra.py
    asserts <=5% relative error against the exact counts."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.agg(
            F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
            F.approx_count_distinct("l_suppkey", 0.01).alias("approx_suppliers"),
        )
        .crossJoin(o.agg(F.approx_count_distinct("o_custkey", 0.01).alias("approx_customers")))
    )


# ----------------------------------------------------------------- outer joins
@register(
    "join_right_outer_big_spenders",
    oracle="""
    SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_big_orders
    FROM (SELECT * FROM orders WHERE o_totalprice > 400000) o
    RIGHT JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join: every customer survives even with zero
    qualifying (>400k) orders; COUNT skips the null-extended side."""
    orders = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "right")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_big_orders"))
    )


@register(
    "join_full_outer_wealth_by_nation",
    oracle="""
    WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_rich_cust
               FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_rich_supp
               FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey)
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(n_rich_cust, 0) AS n_rich_cust,
           COALESCE(n_rich_supp, 0) AS n_rich_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two sparse aggregates — nations appearing on
    either side survive with zero-filled gaps. Aggregating BEFORE the
    join shrinks both inputs to key-cardinality rows, so the full join
    (which can't broadcast) shuffles almost nothing."""
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_rich_cust"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("snk"))
        .agg(F.count("*").alias("n_rich_supp"))
    )
    return (
        cust.join(supp, cust.nk == supp.snk, "full")
        .select(
            F.coalesce("nk", "snk").alias("nationkey"),
            F.coalesce("n_rich_cust", F.lit(0)).alias("n_rich_cust"),
            F.coalesce("n_rich_supp", F.lit(0)).alias("n_rich_supp"),
        )
    )


# ----------------------------------------------------------- range/theta joins
_BANDS = [
    ("budget", 0, 100_000),
    ("mid", 100_000, 250_000),
    ("premium", 250_000, 400_000),
    ("luxury", 400_000, 10_000_000),
]

@register(
    "join_range_price_bands",
    oracle=f"""
    SELECT band, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS band_total
    FROM orders
    JOIN (VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)})
         AS bands(band, lo, hi)
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join against an inline band table. Non-equi joins
    can't hash-partition, so Spark plans BroadcastNestedLoopJoin — fine
    exactly because the build side is bounded (4 rows); a theta join
    between two SF-scaled tables would be the real scale-killer and is
    deliberately not what this demonstrates."""
    orders = _t(spark, sf_dir, "orders")
    bands = spark.createDataFrame(_BANDS, "band STRING, lo LONG, hi LONG")
    return (
        orders.join(
            F.broadcast(bands),
            (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice", "band_total"))
    )


# ---------------------------------------------------------------- as-of join
@register(
    "join_asof_error_after_click",
    oracle="""
    WITH a AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'),
         b AS (SELECT user_id, ts, MAX(event_id) AS b_id
               FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT a.user_id, a.event_id AS error_id, a.ts AS error_ts,
           b.ts AS click_ts, b.b_id AS click_id
    FROM a ASOF LEFT JOIN b ON a.user_id = b.user_id AND a.ts >= b.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each error event paired with the user's most recent
    click at-or-before it (ties included), errors without any prior
    click preserved with nulls.

    Spark has no ASOF operator; the scalable formulation is
    union + ordered window: tag both streams, sort per user by
    (ts, side) so clicks at the same ts sort before errors, and carry
    the last non-null click forward. ONE shuffle on user_id for
    everything — versus a per-row correlated subquery (non-starter) or
    an inequality join (BroadcastNestedLoop over two fact tables, the
    classic 100 TB trap). Clicks are pre-collapsed to one row per
    (user, ts) [max event_id] so tie-breaking is deterministic and
    identical to DuckDB's ASOF semantics.
    """
    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("ts"),
        F.col("event_id").alias("error_id"),
        F.lit(None).cast("long").alias("b_id"),
        F.lit(1).alias("side"),
    )
    b = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("b_id"))
        .select("user_id", "ts", F.lit(None).cast("long").alias("error_id"), "b_id",
                F.lit(0).alias("side"))
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    u = a.unionByName(b).select(
        "user_id",
        "ts",
        "error_id",
        "side",
        F.last(F.when(F.col("side") == 0, F.col("ts")), ignorenulls=True).over(w).alias("click_ts"),
        F.last(F.when(F.col("side") == 0, F.col("b_id")), ignorenulls=True).over(w).alias("click_id"),
    )
    return u.where(F.col("side") == 1).select(
        "user_id",
        "error_id",
        F.col("ts").alias("error_ts"),
        "click_ts",
        "click_id",
    )


# ------------------------------------------------------- batch event windows
@register(
    "window_session_user_activity",
    oracle="""
    WITH t AS (SELECT user_id, ts, value,
                 CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                           > INTERVAL '30 minutes'
                      OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      THEN 1 ELSE 0 END AS brk
               FROM events),
         s AS (SELECT user_id, ts, value,
                      SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
               FROM t)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS session_value
    FROM s GROUP BY user_id, sid
    """,
)
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap) per user — Spark's
    ``session_window`` merges events into variable-length sessions in
    ONE aggregation (state machine inside the agg, one shuffle on the
    key); the oracle derives the same sessions with the classic
    gaps-and-islands window SQL. The same expression powers the
    streaming path (watermarked state cleanup) — batch is the replay
    semantics.

    Documented boundary exclusion (round-8 advice, resolved the other
    way here): ``session_window``'s window is [start, last+gap), so a
    gap EXACTLY equal to 30 minutes starts a new session while the
    oracle's ``>`` keeps it. This op deliberately KEEPS
    ``session_window`` — it exists to exercise the native operator,
    and its streaming twin (``streaming_session_counts_replay``, same
    oracle) has no islands form — so the exact-boundary event is
    excluded from this operator's definition; the fixture's continuous
    timestamps never land on it. The catalog's islands-based
    sessionizers (``_sessionize``: pattern sequences, bounce rate)
    share the oracle's ``>`` exactly."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", "session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


@register(
    "window_sliding_event_counts",
    oracle="""
    WITH b AS (SELECT event_type, ts,
                      UNNEST([time_bucket(INTERVAL '3 hours', ts),
                              time_bucket(INTERVAL '3 hours', ts) - INTERVAL '3 hours'])
                        AS window_start
               FROM events)
    SELECT window_start, event_type, COUNT(*) AS n_events
    FROM b GROUP BY window_start, event_type
    """,
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (6h length / 3h slide): every event lands in
    exactly length/slide = 2 windows. Spark's ``window()`` replicates
    rows internally; the oracle does the same expansion explicitly
    (each event belongs to the two 3h-aligned starts covering it)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6)) * CAST(l_discount AS DECIMAL(27,6)))
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure scan-filter-agg
    query — every predicate pushes into the parquet scan (date +
    discount + quantity row-group pruning), one partial/final agg, no
    shuffle of data rows at any scale. The canonical 'is pushdown
    working' probe. Sum runs in exact DECIMAL then casts (oracle
    bit-match policy, functions/exact.py)."""
    li = _t(spark, sf_dir, "lineitem")
    filtered = li.where(
        (F.col("l_shipdate") >= "1994-01-01")
        & (F.col("l_shipdate") < "1995-01-01")
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = F.sum(
        F.col("l_extendedprice").cast("decimal(27,6)") * F.col("l_discount").cast("decimal(27,6)")
    )
    return filtered.agg(rev.cast("double").alias("revenue"))


@register(
    "subquery_exists_priority_counts",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    GROUP BY o_orderpriority
    """,
)
def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape — correlated EXISTS. Expressed as a left-semi
    join (what any engine decorrelates EXISTS into): the filtered
    lineitem side is reduced BEFORE the join, the semi join emits each
    order at most once (no post-join distinct), and only (orderkey)
    shuffles. Same answer as the subquery form, explicit about the
    physical plan."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "subquery_scalar_above_avg_parts",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE p_retailprice > 1.05 * (SELECT CAST(AVG(CAST(p_retailprice AS DECIMAL(27,6)))
                                              AS DOUBLE) FROM part)
    """,
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: parts priced >5% above the
    corpus average. Expressed as what engines decorrelate it into — a
    broadcast of the one-row aggregate against the scan (BroadcastNL
    with a single row is free; no shuffle of part rows, no eager
    driver-side action, the whole thing stays one lazy plan). The
    average is computed in exact DECIMAL so both engines derive the
    identical threshold."""
    p = _t(spark, sf_dir, "part")
    thr = p.agg(
        (F.avg(F.col("p_retailprice").cast("decimal(27,6)")).cast("double") * 1.05).alias("_thr")
    )
    return (
        p.crossJoin(F.broadcast(thr))
        .where(F.col("p_retailprice") > F.col("_thr"))
        .select("p_partkey", "p_name", "p_retailprice")
    )


@register(
    "grouping_sets_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form under ROLLUP/CUBE)
    with ``grouping_id`` to disambiguate which set produced each row
    (real NULL vs subtotal NULL — the standard trap). Spark expands
    sets BEFORE the shuffle and partially aggregates each, so the
    exchange still carries only aggregated rows."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupingSets([["o_orderstatus"], ["o_orderpriority"], []],
                       "o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count("*").alias("n"),
        )
    )


@register(
    "agg_percentile_price_quartiles",
    oracle="""
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.25) AS p25,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.95) AS p95
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles / median per group. Spark's ``percentile`` and
    DuckDB's ``quantile_cont`` use the same linear interpolation over
    the sorted group, so values are bit-identical (verified — no
    rounding needed). Exact percentile is a sort-based aggregate: at
    100 TB prefer ``approx_percentile`` (t-digest sketch, one pass,
    mergeable map-side) unless exactness is required — mirroring the
    approx_count_distinct / countDistinct pairing."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.25).alias("p25"),
        F.median("o_totalprice").alias("median_price"),
        F.percentile("o_totalprice", 0.95).alias("p95"),
    )


@register("agg_approx_percentile")  # t-digest sketches differ per engine → rows-only
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_percentile`` — the sketch twin of the exact percentile
    query (agg_percentile_price_quartiles): one streaming pass,
    mergeable map-side state of bounded size, no sort — the form that
    scales to 100 TB. accuracy=10000 ⇒ rank error <= 1/10000.
    Sketch internals are engine-specific (no value oracle);
    tests/test_extra.py bounds the error against the exact values."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.approx_percentile("o_totalprice", 0.25, 10000).alias("p25"),
        F.approx_percentile("o_totalprice", 0.5, 10000).alias("median_price"),
        F.approx_percentile("o_totalprice", 0.95, 10000).alias("p95"),
    )


@register(
    "agg_corr_covar_lineitem",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 6) AS qty_price_covar,
           round(covar_pop(l_quantity, l_extendedprice), 6) AS qty_price_covar_pop
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance aggregates per group — single-pass
    co-moment accumulation, mergeable map-side (no extra shuffle vs
    a plain count). Both engines accumulate in float in partition
    order, so the last ~3 ulps differ run-to-run and engine-to-engine;
    outputs are rounded to 6 decimals on BOTH sides (same policy as
    the ln() rounding in text_tfidf_top_terms)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias("qty_price_covar"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 6).alias("qty_price_covar_pop"),
    )


@register(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
           COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
           COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: one column per order status. The pivot value list is
    given explicitly — Spark otherwise runs an extra distinct job to
    discover it (a full scan at 100 TB), and an explicit list keeps
    the output schema static for downstream plans. Plans as Spark's
    two-phase pivot aggregate (count by (group, pivot) → pivotfirst
    by group); both shuffles move already-aggregated rows only (the
    DuckDB mirror is the single-aggregate desugared form)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


@register(
    "unpivot_nation_measures",
    oracle="""
    SELECT n_name, measure, value FROM (
      SELECT n.n_name, 'n_customers' AS measure, CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS value
      FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey GROUP BY n.n_name
      UNION ALL
      SELECT n.n_name, 'n_suppliers', CAST(COUNT(DISTINCT s.s_suppkey) AS BIGINT)
      FROM nation n JOIN supplier s ON s.s_nationkey = n.n_nationkey GROUP BY n.n_name
    )
    """,
)
def unpivot_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide per-nation measures to long (measure, value)
    rows — ``DataFrame.unpivot`` is a zero-shuffle generate (each row
    fans out to one row per measure), so the only shuffles are the
    upstream aggregates. Each fact table is aggregated to nation grain
    BEFORE joining (never join two facts through a shared dim — that's
    a per-nation cross product); the tiny per-nation results then
    broadcast-join to ``nation``. The long form is the shape feature
    stores and metric sinks ingest."""
    n = _t(spark, sf_dir, "nation")
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.countDistinct("c_custkey").alias("n_customers"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.countDistinct("s_suppkey").alias("n_suppliers"))
    )
    wide = (
        n.join(cust, cust.c_nationkey == n.n_nationkey, "left")
        .join(supp, supp.s_nationkey == n.n_nationkey, "left")
        .select(
            "n_name",
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )
    return wide.unpivot(["n_name"], ["n_customers", "n_suppliers"], "measure", "value").where(
        F.col("value") > 0
    )


@register(
    "text_vocabulary_topn",
    oracle=r"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS token
      FROM documents
    ),
    counts AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token)
    SELECT token, n FROM counts ORDER BY n DESC, token LIMIT 100
    """,
)
def text_vocabulary_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary building — the token-frequency table every
    tokenizer-training / vocab-pruning step starts from. Explode is
    map-side; the count is a partial-aggregated groupBy on the token
    (high cardinality → even shuffle); top-100 is
    TakeOrderedAndProject (per-partition heaps, never a global sort).
    Ties at the cutoff break deterministically by token."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(100)
    )


@register(
    "timeseries_gap_filled_daily_revenue",
    oracle="""
    WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day,
                          COUNT(*) AS n_orders,
                          CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue
                   FROM orders GROUP BY 1),
    b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
    spine AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM b)
    SELECT CAST(s.day AS TIMESTAMP) AS day,
           COALESCE(d.n_orders, 0) AS n_orders, COALESCE(d.revenue, 0.0) AS revenue
    FROM spine s LEFT JOIN daily d USING (day)
    """,
)
def timeseries_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a complete daily revenue series with
    zero rows for days that had no orders (downstream resampling /
    charting / forecasting all assume a dense spine).

    The date spine is generated from the data's own min/max with
    ``sequence`` — a one-row aggregate exploded to ~n_days rows, so
    the spine side is broadcast-trivially-small at ANY fact scale and
    the left join adds no fact shuffle beyond the daily aggregate
    (which moves only aggregated rows)."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice", "revenue")
    )
    spine = (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day"))
    )
    return (
        F.broadcast(spine)
        .join(daily, "day", "left")
        .select(
            # TIMESTAMP on both engines so pandas dtypes agree
            # (DATE materializes asymmetrically; see registry.py policy)
            F.col("day").cast("timestamp_ntz").alias("day"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
    )


@register(
    "window_ntile_percentile_ranks",
    oracle="""
    SELECT o_orderkey,
           CAST(ntile(4) OVER w AS INT) AS price_quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cum_dist,
           first_value(o_orderkey)
             OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cheapest_so_far
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows: ntile quartiles, percent_rank, cume_dist,
    and first_value with an explicit ROWS frame — the quantile-bucketing
    pass a curation pipeline uses to, e.g., keep the top quality
    quartile per source. o_orderkey tiebreak makes every rank
    deterministic. Same caveat as any ranking window: partition count
    is the priority cardinality here for demo symmetry with the oracle;
    the scalable form keys on a high-card column (see
    window_rank_dense_rank)."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("price_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
        F.first_value("o_orderkey")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cheapest_so_far"),
    )


@register(
    "scalar_edit_distance",
    oracle="""
    SELECT p_partkey, p_name,
           CAST(levenshtein(lower(p_name), 'steel') AS INT) AS dist_steel
    FROM part
    WHERE levenshtein(lower(p_name), 'steel') <= 7
    """,
)
def scalar_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance — fuzzy string matching (typo-tolerant
    entity matching, OCR cleanup in document pipelines). Per-row
    codegen'd dynamic program; cost is O(len_a x len_b) per row, so at
    scale bound operand lengths (or pre-filter with cheap length/prefix
    bands) before distancing — here the filter keeps the nearest
    ~quartile only."""
    p = _t(spark, sf_dir, "part")
    d = F.levenshtein(F.lower("p_name"), F.lit("steel"))
    return p.select(
        "p_partkey", "p_name", d.cast("int").alias("dist_steel")
    ).where(d <= 7)


@register(
    "window_tumbling_event_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows in batch — the exact computation the
    streaming path runs incrementally (streaming/ingest.
    windowed_event_counts; replay equality is tested there). Spark's
    ``window()`` and DuckDB's ``time_bucket`` both align 6-hour buckets
    to the epoch, so window_start values agree."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", "total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


@register(
    "join_cross_dense_spine",
    oracle="""
    SELECT r.r_name, s.o_orderstatus, COALESCE(o.n, 0) AS n_orders
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    LEFT JOIN (
      SELECT n_regionkey, o_orderstatus, COUNT(*) AS n
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_regionkey, o_orderstatus
    ) o ON o.n_regionkey = r.r_regionkey AND o.o_orderstatus = s.o_orderstatus
    """,
)
def join_cross_dense_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS JOIN building a dense (region x status) spine, zero-filled
    from a sparse aggregate — the missing-combination report every
    dashboard needs (and the categorical twin of time-series gap fill).

    The cartesian product is ONLY between two bounded-cardinality sides
    (5 regions x |statuses|) — the legitimate cross-join use; the
    SF-scaled orders table is aggregated FIRST (map-side combine, one
    shuffle of aggregated rows) and left-joined to the spine, so no
    fact row ever enters a cartesian."""
    region = _t(spark, sf_dir, "region")
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    statuses = orders.select("o_orderstatus").distinct()
    spine = region.select("r_regionkey", "r_name").crossJoin(statuses)
    sparse = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_regionkey", "o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    return (
        spine.join(
            sparse,
            (spine.r_regionkey == sparse.n_regionkey)
            & (spine.o_orderstatus == sparse.o_orderstatus),
            "left",
        )
        .select(
            "r_name",
            spine.o_orderstatus.alias("o_orderstatus"),
            F.coalesce("n", F.lit(0)).alias("n_orders"),
        )
    )


@register(
    "scalar_conditional_functions",
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_masked,
           LEAST(c_acctbal, 5000.0) AS bal_capped,
           GREATEST(c_acctbal, 0.0) AS bal_floored,
           CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END AS bal_missing,
           IFNULL(NULLIF(c_name, ''), 'unknown') AS name_or_unknown
    FROM customer
    """,
)
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/null-handling scalar panel — coalesce, nullif,
    least/greatest (the branch-free min/max of a row's values), and
    ifnull — the null-hygiene surface every ETL projection uses.
    Pure per-row codegen, no shuffle."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "segment_masked"
        ),
        F.least("c_acctbal", F.lit(5000.0)).alias("bal_capped"),
        F.greatest("c_acctbal", F.lit(0.0)).alias("bal_floored"),
        F.when(F.col("c_acctbal").isNull(), 1).otherwise(0).alias("bal_missing"),
        F.ifnull(F.nullif("c_name", F.lit("")), F.lit("unknown")).alias("name_or_unknown"),
    )


@register(
    "agg_collect_sorted_sets",
    oracle="""
    SELECT c_custkey,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def agg_collect_sorted_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-building aggregation: the distinct order statuses per
    customer as a SORTED array — ``collect_set`` alone returns
    arbitrary order (partitioning-dependent), so ``sort_array`` on top
    is what makes the result deterministic and engine-comparable; the
    pattern behind per-entity tag lists and feature-set assembly.
    Set sizes are bounded by the value domain (3 statuses), so state
    per group is small at any scale."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey")
        .agg(
            # CSV-joined for gate comparability (registry.py policy)
            F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias("statuses"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "scalar_bitwise_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderkey & 255 AS BIGINT) AS key_and,
           CAST(o_orderkey | 1024 AS BIGINT) AS key_or,
           CAST(xor(o_orderkey, 255) AS BIGINT) AS key_xor,
           CAST(o_orderkey << 3 AS BIGINT) AS key_shl,
           CAST(o_orderkey >> 2 AS BIGINT) AS key_shr,
           CAST(bit_count(o_orderkey) AS INT) AS key_bits
    FROM orders
    """,
)
def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar panel (AND/OR/XOR/shifts/popcount) — the bit
    surface behind bucket assignment, bloom probes, and flag packing
    (the engine's own SimHash fingerprints are built from exactly
    these primitives). Per-row codegen, no shuffle; the reference's
    byte-level encoders (tools/dynamic-vector/src/traits.rs:13-83)
    are serialization, not query functions — this is the [EXT] query
    form."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr("o_orderkey & 255").cast("bigint").alias("key_and"),
        F.expr("o_orderkey | 1024").cast("bigint").alias("key_or"),
        F.expr("o_orderkey ^ 255").cast("bigint").alias("key_xor"),
        F.shiftleft("o_orderkey", 3).cast("bigint").alias("key_shl"),
        F.shiftright("o_orderkey", 2).cast("bigint").alias("key_shr"),
        F.bit_count("o_orderkey").cast("int").alias("key_bits"),
    )


@register(
    "agg_argminmax_orders",
    oracle="""
    SELECT o_custkey,
           min_by(o_orderstatus, o_orderkey) AS first_status,
           max_by(o_orderpriority, o_orderkey) AS last_priority,
           CAST(min(o_orderkey) AS BIGINT) AS first_key,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
)
def agg_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin/argmax aggregates: the status of each customer's FIRST
    order and the priority of the LAST one via ``min_by``/``max_by``
    — one pass, no self-join, no window. The ordering key
    (o_orderkey) is unique per group, which is what makes the result
    deterministic (ties under min_by are engine-defined). Map-side
    combinable: partial state is one (key, value) pair per group, so
    the shuffle carries one row per group per partition at any
    scale."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.min_by("o_orderstatus", "o_orderkey").alias("first_status"),
        F.max_by("o_orderpriority", "o_orderkey").alias("last_priority"),
        F.min("o_orderkey").cast("bigint").alias("first_key"),
        F.count("*").alias("n_orders"),
    )


@register(
    "agg_histogram_price_bins",
    oracle="""
    SELECT CAST(floor(CAST(o_totalprice AS DOUBLE) / 50000.0) AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price
    FROM orders GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (50k-wide bins) — the
    distribution profile every data-quality dashboard starts with.
    Binning is a per-row floor in codegen (decimal→double widening is
    the same IEEE value in both engines, so bin edges agree exactly);
    the aggregate keyspace is the ~12 bins, so the shuffle moves one
    partial row per bin per partition regardless of input size —
    histograms are free at 100 TB."""
    o = _t(spark, sf_dir, "orders")
    bin_ = F.floor(F.col("o_totalprice").cast("double") / 50000.0).cast("int")
    return o.groupBy(bin_.alias("bin")).agg(
        F.count("*").alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "window_zscore_outliers",
    oracle="""
    WITH x AS (
      SELECT l_suppkey, CAST(round(l_extendedprice * 100) AS BIGINT) AS c
      FROM lineitem),
    w AS (
      SELECT l_suppkey, c,
             COUNT(*) OVER (PARTITION BY l_suppkey) AS n,
             SUM(c)  OVER (PARTITION BY l_suppkey) AS s,
             SUM(c*c) OVER (PARTITION BY l_suppkey) AS s2
      FROM x)
    SELECT l_suppkey,
           CAST(MAX(n) AS BIGINT) AS n_items,
           CAST(SUM(CASE WHEN CAST(n*c - s AS HUGEINT) * CAST(n*c - s AS HUGEINT)
                          > 4 * (CAST(n AS HUGEINT) * CAST(s2 AS HUGEINT)
                                 - CAST(s AS HUGEINT) * CAST(s AS HUGEINT))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM w GROUP BY l_suppkey
    """,
)
def window_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group outlier counting beyond 2 population std-devs —
    WITHOUT ever computing a float std-dev: the predicate
    ``(x-mean)² > 4·variance`` is cleared of divisions and square
    roots into ``(n·x − Σx)² > 4·(n·Σx² − (Σx)²)``, evaluated in
    exact integer cents (DECIMAL(38,0) on the Spark side, HUGEINT in
    the oracle). Exactness is the point: float moments differ by
    summation order across partitions, so the SAME query could flag
    different rows run-to-run; integer moments make the answer
    partition-independent. One shuffle on the high-card supplier key
    (window + re-aggregate share it); moments are map-side
    combinable."""
    li = _t(spark, sf_dir, "lineitem").select(
        # round-then-cast: Spark's bare double->long cast TRUNCATES
        # while DuckDB's CAST rounds — 33k rows differ at sf0.1, and
        # the old bare casts only stayed green because a 1-cent
        # per-engine skew never flipped the 2-sigma predicate (the
        # session_window advice class: latent, fixture-dependent).
        # round() agrees in both engines for positive values, making
        # the per-row cents identical rather than coincidentally
        # compatible.
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("c"),
    )
    w = W.partitionBy("l_suppkey")
    d = (
        li.withColumn("n", F.count("*").over(w))
        .withColumn("s", F.sum("c").over(w))
        .withColumn("s2", F.sum(F.col("c") * F.col("c")).over(w))
    )
    diff = (F.col("n") * F.col("c") - F.col("s")).cast("decimal(38,0)")
    lhs = diff * diff
    rhs = 4 * (
        F.col("n").cast("decimal(38,0)") * F.col("s2")
        - F.col("s").cast("decimal(38,0)") * F.col("s")
    )
    return (
        d.withColumn("is_out", F.when(lhs > rhs, 1).otherwise(0))
        .groupBy("l_suppkey")
        .agg(
            F.max("n").cast("bigint").alias("n_items"),
            F.sum("is_out").cast("bigint").alias("n_outliers"),
        )
    )


# ------------------------------------------------------------- event funnel
@register(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t_view
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, v.t_view, MIN(e.ts) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view
          GROUP BY e.user_id, v.t_view),
    p AS (SELECT e.user_id, c.t_view, c.t_click, MIN(e.ts) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          GROUP BY e.user_id, c.t_view, c.t_click)
    SELECT user_id, t_view, t_click, t_purchase FROM p
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence (funnel) detection: for each user the earliest
    view -> first click after it -> first purchase after that — the
    MATCH_RECOGNIZE-style sequence query every product-analytics
    engine ships, built from stage-wise min-aggregates instead of a
    per-user sort. Every stage joins and aggregates on the SAME
    user_id key, so at 100 TB the three shuffles hash-partition
    identically (exchange reuse) and each stage's output shrinks to
    <= one row per user before the next join — no per-user event
    arrays, no window over the raw 100 TB event log, and AQE turns
    the later stage joins into broadcasts as the funnel narrows."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_click"))
    )
    return (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id", "t_view", "t_click")
        .agg(F.min("ts").alias("t_purchase"))
        .select("user_id", "t_view", "t_click", "t_purchase")
    )


# ------------------------------------------------- boolean/filtered aggregates
@register(
    "agg_boolean_filtered",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           bool_or(o_totalprice > 400000) AS any_jumbo,
           bool_and(o_totalprice > 1000) AS all_above_floor,
           bool_and(o_orderstatus IN ('F','O','P')) AS statuses_valid
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_boolean_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered and boolean aggregates — count_if / bool_or (ANY) /
    bool_and (EVERY), the predicate-summary family data-quality
    checks are written in (\"does every row satisfy the invariant?\",
    \"how many violate it?\"). All are plain hash aggregates with
    map-side partial combine: booleans fold to one byte per group per
    partition, so at 100 TB the shuffle carries a few bytes per
    (group x partition) regardless of row count."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 150000).alias("n_big"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_jumbo"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_above_floor"),
        F.bool_and(F.col("o_orderstatus").isin("F", "O", "P")).alias("statuses_valid"),
    )


# --------------------------------------------------------------- cohort grid
@register(
    "cohort_daily_retention",
    oracle="""
    WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
               FROM events GROUP BY user_id),
    a AS (SELECT DISTINCT e.user_id, f.cohort_day,
                 CAST(ts AS DATE) - f.cohort_day AS days_since
          FROM events e JOIN f ON e.user_id = f.user_id)
    SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
           CAST(days_since AS INT) AS days_since,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM a GROUP BY cohort_day, days_since
    """,
)
def cohort_daily_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention grid: users bucketed by first-activity day,
    counted as active N days later — the retention matrix behind every
    growth dashboard (and, in a training-data setting, the freshness
    profile of a crawl: how much of day-X's source set still emits
    documents at day X+N). Stage 1 reduces the event log to one
    (user, cohort_day) row per user; the join back keys on user_id —
    the same partitioning the aggregate just produced, so the two
    stages share one shuffle at any scale. The distinct collapses a
    user's many same-day events BEFORE the cohort count, keyed on
    (user, cohort, day) — high-cardinality, evenly spread; the final
    count is a plain two-phase aggregate over the tiny cohort grid."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first = e.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    active = (
        e.join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff("d", F.col("cohort_day")).alias("days_since"),
        )
        .distinct()
    )
    return (
        active.groupBy("cohort_day", "days_since")
        .agg(F.count("*").cast("bigint").alias("n_active"))
        # TIMESTAMP on both engines so pandas dtypes agree (registry.py)
        .select(
            F.col("cohort_day").cast("timestamp_ntz").alias("cohort_day"),
            "days_since",
            "n_active",
        )
    )


@register(
    "cohort_ltv_cumulative",
    oracle="""
    WITH f AS (SELECT user_id,
                      date_trunc('week', MIN(CAST(ts AS DATE))) AS cohort_week
               FROM events GROUP BY user_id),
    cs AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_users
           FROM f GROUP BY cohort_week),
    p AS (SELECT f.cohort_week,
                 CAST((CAST(date_trunc('week', CAST(e.ts AS DATE)) AS DATE)
                       - CAST(f.cohort_week AS DATE)) // 7 AS INT) AS week_age,
                 CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
                   AS rev_cents
          FROM events e JOIN f ON f.user_id = e.user_id
          WHERE e.event_type = 'purchase'
          GROUP BY 1, 2),
    c AS (SELECT cohort_week, week_age,
                 CAST(SUM(rev_cents) OVER (PARTITION BY cohort_week
                                           ORDER BY week_age) AS BIGINT)
                   AS cum_revenue_cents
          FROM p)
    SELECT CAST(c.cohort_week AS TIMESTAMP) AS cohort_week,
           c.week_age, cs.n_users, c.cum_revenue_cents,
           round(CAST(c.cum_revenue_cents AS DOUBLE) / 100.0 / cs.n_users, 6)
             AS ltv_per_user
    FROM c JOIN cs ON cs.cohort_week = c.cohort_week
    """,
)
def cohort_ltv_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATIVE LTV CURVE per signup cohort — the revenue companion
    of the retention grid (``cohort_daily_retention`` counts who comes
    back; this integrates what they SPEND): users bucket by
    first-activity ISO week, purchase revenue rolls up per (cohort,
    weeks-since-cohort) and accumulates along the age axis, and each
    cell divides by the cohort's size — the LTV-by-age table every
    payback-period decision reads. Weeks with no purchases emit no
    row; the running sum at the next present age is still correct
    (the curve is read as a step function).

    Exactness: revenue is exact cents (round(value*100), the shared
    cents pin); per-cell sums and the cumulative window are BIGINT
    (the frame orders on the unique-within-cohort week_age, so the
    running sum is deterministic at any parallelism); cohort sizes
    are exact counts; LTV is one fixed double division + round(6);
    week arithmetic truncates both sides to the same ISO Monday and
    differences are exact multiples of 7.

    Plan/scale: one user reduction (first day), one join back on
    user_id (the shuffle the reduction just produced — co-located),
    one (cohort, age) rollup whose grid is calendar-sized, then a
    window over the tiny grid. The event scan dominates at any
    corpus; nothing else is data-sized."""
    e = _t(spark, sf_dir, "events")
    f = (
        e.select("user_id", F.to_date("ts").alias("d"))
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("d")).alias("cohort_week"))
    )
    cs = f.groupBy("cohort_week").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.date_trunc("week", F.to_date("ts")).alias("w"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .join(f, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.col("w").cast("date"), F.col("cohort_week").cast("date"))
                / 7
            )
            .cast("int")
            .alias("week_age"),
        )
        .agg(F.sum("cents").cast("bigint").alias("rev_cents"))
    )
    cum = W.partitionBy("cohort_week").orderBy("week_age").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = p.select(
        "cohort_week",
        "week_age",
        F.sum("rev_cents").over(cum).cast("bigint").alias("cum_revenue_cents"),
    )
    return c.join(F.broadcast(cs), "cohort_week").select(
        F.col("cohort_week").cast("timestamp_ntz").alias("cohort_week"),
        "week_age",
        "n_users",
        "cum_revenue_cents",
        F.round(
            F.col("cum_revenue_cents").cast("double") / 100.0 / F.col("n_users"), 6
        ).alias("ltv_per_user"),
    )


# ------------------------------------------------------------ trend regression
@register(
    "agg_linear_regression",
    oracle="""
    SELECT event_type,
           round(regr_slope(value, (epoch(ts) - 1704067200.0) / 86400.0), 6)
             AS slope_per_day,
           round(regr_intercept(value, (epoch(ts) - 1704067200.0) / 86400.0), 6)
             AS intercept,
           round(regr_r2(value, (epoch(ts) - 1704067200.0) / 86400.0), 6) AS r2,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend: slope / intercept / R² of event
    value over time via the SQL-standard ``regr_*`` aggregates — the
    drift detector behind metric monitoring (is 'error' value creeping
    up?). Single-pass co-moment accumulation, map-side mergeable — the
    same shuffle profile as a plain count at any scale. The x axis is
    re-based to days since 2024-01-01 BEFORE accumulation: raw epoch
    seconds (~1.7e9) would put the variance 11 orders of magnitude
    below the mean² and the engines' different accumulation orders
    would surface as catastrophic-cancellation noise; re-basing makes
    round(6) stable (same policy as corr/covar)."""
    ev = _t(spark, sf_dir, "events")
    x = (F.col("ts").cast("double") - F.lit(1704067200.0)) / 86400.0
    return ev.groupBy("event_type").agg(
        F.round(F.regr_slope(F.col("value"), x), 6).alias("slope_per_day"),
        F.round(F.regr_intercept(F.col("value"), x), 6).alias("intercept"),
        F.round(F.regr_r2(F.col("value"), x), 6).alias("r2"),
        F.count("*").alias("n"),
    )


# ------------------------------------------------------------- EWMA smoothing
@register(
    "timeseries_ewma_daily_value",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS v
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    r AS (
      SELECT event_type, day, v,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS DOUBLE) AS i
      FROM d)
    SELECT event_type, CAST(day AS TIMESTAMP) AS day, round(v, 6) AS daily_value,
           round(pow(0.7, i) * SUM(v * 0.3 * pow(0.7, -i))
                   OVER (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS ewma
    FROM r
    """,
)
def timeseries_ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α=0.3) of daily event
    value per type — the smoothing pass behind anomaly thresholds and
    trend dashboards. The recursive definition ewma_i = α·v_i +
    (1−α)·ewma_{i−1} (seeded at 0) is not a SQL aggregate; it
    factorizes into window-expressible form as (1−α)^i · Σ_{j≤i}
    v_j·α·(1−α)^{−j} — one running sum, one pow per row. The rescaling
    term (1−α)^{−j} grows exponentially, so this form is for series
    re-based to bounded length: here the heavy 100 TB work is the
    daily pre-aggregation (map-side combined, one shuffle); the EWMA
    window then runs over the tiny (type × day) series — at 0.7^{-365}
    ≈ 1e56 a year still fits a double's range (max ~1.8e308), and
    longer horizons chunk the series and re-base the exponent per
    chunk. Both engines evaluate the identical IEEE expression over
    the identically-ordered frame, so round(6) agrees."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        dsum("value", "v")
    )
    wo = W.partitionBy("event_type").orderBy("day")
    i = F.row_number().over(wo).cast("double")
    run = F.sum(F.col("v") * 0.3 * F.pow(0.7, -i)).over(
        wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return d.select(
        "event_type",
        # DATE would pandas-materialize as object-dates on the Spark
        # side but datetime64 on DuckDB's — normalize both to
        # TIMESTAMP per the registry's CAST policy (registry.py)
        F.col("day").cast("timestamp_ntz").alias("day"),
        F.round("v", 6).alias("daily_value"),
        F.round(F.pow(0.7, i) * run, 6).alias("ewma"),
    )


# ---------------------------------------------------------- salted aggregation
@register(
    "agg_salted_returnflag_totals",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_salted_returnflag_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-salted two-phase aggregate AS a checked query: count +
    exact-decimal quantity sum over l_returnflag — a 3-key group that
    is skewed-by-construction (every reducer key is hot). Phase 1
    groups by (key, salt) so each hot key spreads over 16 reducers;
    phase 2 re-aggregates the 16 tiny partials per key. The oracle is
    the PLAIN GROUP BY — proving the salted plan computes the
    identical answer (decomposable aggregates commute with salting),
    which is the whole point of the rewrite. See functions/skew.py
    for when this matters vs Spark's own partial aggregation."""
    from vector_db_core_spark.functions.exact import dec
    from vector_db_core_spark.functions.skew import salted_counts_sums

    li = _t(spark, sf_dir, "lineitem")
    out = salted_counts_sums(
        li, ["l_returnflag"], {"l_quantity": dec("l_quantity")}, n_salts=16
    )
    return out.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        F.col("sum_l_quantity").cast("double").alias("sum_qty"),
    )


# ------------------------------------------------------------- column profile
@register(
    "profile_orders_columns",
    oracle="""
    SELECT 'o_orderstatus' AS col,
           CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority) FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey) FROM orders
    UNION ALL
    SELECT 'o_orderdate', COUNT(*) - COUNT(o_orderdate),
           COUNT(DISTINCT o_orderdate) FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice) FROM orders
    """,
)
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — null count + distinct cardinality per column
    in ONE scan, then unpivoted to the long (col, n_nulls, n_distinct)
    report every data-quality / schema-drift monitor starts from.
    Multiple exact countDistincts in one agg make Spark plan an Expand
    (rows × #columns before the shuffle) — acceptable here and
    oracle-comparable; the 100 TB profile swaps them for
    approx_count_distinct (HLL sketches: one pass, no Expand, fixed
    state — same plan as agg_approx_count_distinct) since profiling
    tolerates ~2% cardinality error."""
    cols = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_orderdate", "o_totalprice"]
    o = _t(spark, sf_dir, "orders")
    wide = o.agg(
        *[
            a
            for c in cols
            for a in (
                (F.count("*") - F.count(c)).alias(f"nulls_{c}"),
                F.countDistinct(c).alias(f"dist_{c}"),
            )
        ]
    )
    long = wide.unpivot(
        [],
        [f"nulls_{c}" for c in cols] + [f"dist_{c}" for c in cols],
        "key",
        "val",
    )
    kind = F.when(F.col("key").startswith("nulls_"), "n_nulls").otherwise("n_distinct")
    col = F.regexp_replace("key", "^(nulls_|dist_)", "")
    return (
        long.select(col.alias("col"), kind.alias("kind"), "val")
        .groupBy("col")
        .pivot("kind", ["n_nulls", "n_distinct"])
        .agg(F.first("val"))
        .select("col", F.col("n_nulls").cast("bigint"), F.col("n_distinct").cast("bigint"))
    )


@register("profile_orders_columns_approx")  # HLL estimates → rows-only check
def profile_orders_columns_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of ``profile_orders_columns``: same long-format
    (col, n_nulls, n_distinct) data-quality report, but cardinalities
    come from ``approx_count_distinct`` (HyperLogLog++, rsd=0.02).

    Why this is the scale plan: the exact profile's multi-countDistinct
    forces an Expand of rows × #columns before its shuffle — 5 profiled
    columns turn a 100 TB scan into 500 TB of pre-shuffle rows. HLL
    sketches are fixed-size map-side-mergeable state, so this is ONE
    pass, no Expand, and the shuffle carries #partitions × #columns
    sketches regardless of data volume. Estimates are engine-specific
    (no value oracle); tests/test_extra.py pins <=5% relative error
    against the exact profile. Null counts are exact in both variants.
    """
    cols = ["o_orderstatus", "o_orderpriority", "o_custkey", "o_orderdate", "o_totalprice"]
    o = _t(spark, sf_dir, "orders")
    wide = o.agg(
        *[
            a
            for c in cols
            for a in (
                (F.count("*") - F.count(c)).alias(f"nulls_{c}"),
                F.approx_count_distinct(c, 0.02).alias(f"dist_{c}"),
            )
        ]
    )
    long = wide.unpivot(
        [],
        [f"nulls_{c}" for c in cols] + [f"dist_{c}" for c in cols],
        "key",
        "val",
    )
    kind = F.when(F.col("key").startswith("nulls_"), "n_nulls").otherwise("n_distinct")
    col = F.regexp_replace("key", "^(nulls_|dist_)", "")
    return (
        long.select(col.alias("col"), kind.alias("kind"), "val")
        .groupBy("col")
        .pivot("kind", ["n_nulls", "n_distinct"])
        .agg(F.first("val"))
        .select("col", F.col("n_nulls").cast("bigint"), F.col("n_distinct").cast("bigint"))
    )


# ----------------------------------------------------------- co-occurrence
@register(
    "assoc_part_pairs_in_orders",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    sized AS (SELECT l_orderkey FROM b GROUP BY l_orderkey
              HAVING COUNT(*) BETWEEN 2 AND 20),
    p AS (
      SELECT a.l_partkey AS part_a, c.l_partkey AS part_b
      FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
                       AND a.l_partkey < c.l_partkey
      JOIN sized s ON a.l_orderkey = s.l_orderkey)
    SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM p GROUP BY part_a, part_b
    ORDER BY n_orders DESC, part_a, part_b LIMIT 25
    """,
)
def assoc_part_pairs_in_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence mining: the top part pairs appearing in the same
    order — the association/recommendation primitive ("bought
    together"). Not the textbook self-join: the basket is assembled
    ONCE per order (collect_set — distinct parts, bounded state), the
    size cap (2..20) is applied to the array, and the k·(k−1)/2 pairs
    are generated inside codegen by an indexed transform over the
    sorted array — so the whole query is TWO shuffles (orderkey
    basket-build, pair count) and zero joins, vs the self-join's four
    exchanges over the raw line items. The cap is not an optimization
    garnish: it bounds the quadratic per-basket fanout at 100 TB (one
    pathological 10⁵-item basket would emit 5·10⁹ pairs); sorting the
    array makes part_a < part_b by construction. Top-25 is
    TakeOrderedAndProject with a deterministic tiebreak."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
        .where(F.size("parts").between(2, 20))
    )
    pair_arrays = F.flatten(
        F.transform(
            "parts",
            lambda x, i: F.transform(
                F.slice("parts", i + 2, F.size("parts")),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pair_arrays).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(25)
    )


# ----------------------------------------------------------- inverted index
@register(
    "text_inverted_index",
    oracle=r"""
    WITH t AS (SELECT doc_id,
                      list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
               FROM documents),
    e AS (SELECT DISTINCT doc_id, UNNEST(w) AS token FROM t)
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings_head
    FROM e GROUP BY token HAVING COUNT(*) >= 5
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token → document frequency + the head of
    the sorted posting list — the structure behind keyword search and
    the df side of TF-IDF. Per-document distinct BEFORE the explode
    (array_distinct, map-side) so a token repeated in one document
    contributes one posting; the groupBy keys on the high-cardinality
    token (even shuffle); postings are sorted for determinism and
    CAPPED at 20 here purely to keep the oracle row bounded — a real
    index writes the full list per token, and at 100 TB you shard the
    index by token-hash range (the groupBy partitioning IS that
    sharding) and spill long postings to their own segment files. The
    df >= 5 floor drops the hapax tail (half the vocabulary, useless
    for retrieval)."""
    from vector_db_core_spark.functions.text import tokens

    t = _t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("token")
    )
    return (
        t.groupBy("token")
        .agg(
            F.count("*").cast("bigint").alias("df"),
            # the posting head is emitted as a canonical CSV string:
            # array columns pandas-materialize asymmetrically (python
            # lists vs numpy arrays), which a value-hasher may not
            # treat as equal — strings compare representation-free
            # (registry.py normalization policy)
            F.array_join(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 20), ","
            ).alias("postings_head"),
        )
        .where(F.col("df") >= 5)
    )


# --------------------------------------------------------------- fuzzy join
@register(
    "join_fuzzy_part_names",
    oracle="""
    WITH n AS (SELECT DISTINCT p_name FROM part),
    b AS (SELECT p_name, split_part(p_name, ' ', -1) AS noun FROM n)
    SELECT a.p_name AS name_a, c.p_name AS name_b,
           CAST(levenshtein(a.p_name, c.p_name) AS INT) AS dist
    FROM b a JOIN b c ON a.noun = c.noun AND a.p_name < c.p_name
    WHERE levenshtein(a.p_name, c.p_name) <= 3
    """,
)
def join_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) self-join — the entity-resolution /
    record-linkage primitive: distinct part names paired when within
    Levenshtein 3, BANDED on a blocking key (the trailing noun) so the
    O(len²)-per-pair distance only runs inside bands. Blocking is the
    entire scale story: an unblocked fuzzy join is all-pairs n² at any
    engine; with a key that bounds band size (vocabulary-sized here;
    phonetic codes / q-gram prefixes in general) the join is an
    ordinary equi-shuffle whose quadratic work is per-band and
    bounded. The name dedup (distinct) runs BEFORE the join — band
    membership is per unique string, not per row. The a < b predicate
    halves the symmetric pairs and removes self-matches."""
    n = _t(spark, sf_dir, "part").select("p_name").distinct()
    b = n.select(
        "p_name", F.element_at(F.split("p_name", " "), -1).alias("noun")
    )
    a = b.select(F.col("p_name").alias("name_a"), "noun")
    c = b.select(F.col("p_name").alias("name_b"), "noun")
    return (
        a.join(c, "noun")
        .where(F.col("name_a") < F.col("name_b"))
        .where(F.levenshtein("name_a", "name_b") <= 3)
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("int").alias("dist"),
        )
    )


@register(
    "timeseries_locf_daily_value",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2),
    b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
    spine AS (
      SELECT t.event_type, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      FROM b, (SELECT DISTINCT event_type FROM daily) t)
    SELECT CAST(s.day AS TIMESTAMP) AS day,
           s.event_type,
           d.v IS NOT NULL AS observed,
           last_value(d.v IGNORE NULLS)
             OVER (PARTITION BY s.event_type ORDER BY s.day ROWS UNBOUNDED PRECEDING)
             AS filled_value
    FROM spine s LEFT JOIN daily d ON s.day = d.day AND s.event_type = d.event_type
    """,
)
def timeseries_locf_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (LOCF — last observation carried forward) of the
    daily value series per event type over a dense day spine: the
    gap-fill sibling every metrics/feature pipeline needs when a
    missing day means "unchanged", not "zero" (prices, balances,
    config states). Days before a type's first observation stay NULL —
    LOCF never invents history.

    Scale shape: the heavy work is the daily pre-aggregation
    (map-side combined, one shuffle of aggregated rows); the spine is
    types x days — broadcast-trivial at any fact scale — and the fill
    itself is ONE window (`last` with ignorenulls) over the tiny
    aggregated series, partitioned by event_type. No fact row enters
    the window. The `observed` flag keeps real and carried values
    distinguishable downstream.
    """
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        dsum("value", "v")
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    days = bounds.select(F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day"))
    spine = daily.select("event_type").distinct().crossJoin(F.broadcast(days))
    w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        spine.join(daily, ["event_type", "day"], "left")
        .select(
            F.col("day").cast("timestamp_ntz").alias("day"),
            "event_type",
            F.col("v").isNotNull().alias("observed"),
            F.last("v", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


@register(
    "agg_equidepth_histogram",
    oracle="""
    WITH q AS (SELECT quantile_cont(o_totalprice,
                 [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
               FROM orders)
    SELECT CAST(len(list_filter(qs, b -> o_totalprice > b)) AS INT) AS bucket,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders, q GROUP BY 1
    """,
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram (10 deciles) of order totals — the
    complement of ``agg_histogram_price_bins``'s equi-width bins and
    the statistic optimizers actually keep (equal row counts per
    bucket resolve skewed distributions where fixed-width bins put 90%
    of rows in one bin). Boundaries are the exact global deciles,
    computed once and broadcast; each row's bucket = how many
    boundaries it exceeds — pure comparisons against bit-identical
    thresholds (Spark ``percentile`` == DuckDB ``quantile_cont``, the
    pinned contract), so bucket edges agree exactly in both engines.

    100 TB: swap the boundary subquery to ``approx_percentile`` (the
    same exact/approx twin policy as ``pipeline_curriculum_phases``);
    the per-row bucketing and the 10-group aggregate are unchanged.
    """
    o = _t(spark, sf_dir, "orders").select("o_totalprice")
    q = o.agg(
        F.expr(
            "percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
        ).alias("qs")
    )
    bucket = F.size(F.filter("qs", lambda b: F.col("o_totalprice") > b)).cast("int")
    return (
        o.crossJoin(F.broadcast(q))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@register("agg_equidepth_histogram_approx")  # rows-only: t-digest sketch
def agg_equidepth_histogram_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of ``agg_equidepth_histogram``: decile
    boundaries from ``approx_percentile`` (t-digest sketch — one pass,
    bounded memory, mergeable map-side partials) instead of the exact
    sort-based percentile. Same broadcast-boundaries + comparison-count
    bucketing; only the boundary source changes — the swap the exact
    op's docstring prescribes, made runnable. Rows-only (sketch
    boundaries are estimates); the behavioral pytest bounds each
    bucket's row count against the ideal equal depth.
    """
    o = _t(spark, sf_dir, "orders").select("o_totalprice")
    q = o.agg(
        F.expr(
            "approx_percentile(o_totalprice, "
            "array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9), 10000)"
        ).alias("qs")
    )
    bucket = F.size(F.filter("qs", lambda b: F.col("o_totalprice") > b)).cast("int")
    return (
        o.crossJoin(F.broadcast(q))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


@register(
    "agg_winsorized_stats",
    oracle="""
    WITH b AS (SELECT l_returnflag,
                      round(quantile_cont(l_extendedprice, 0.01), 6) AS p01,
                      round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
               FROM lineitem GROUP BY l_returnflag),
    c AS (SELECT l.l_returnflag, p01, p99,
                 least(greatest(l_extendedprice, p01), p99) AS cx,
                 CASE WHEN l_extendedprice < p01 THEN 1 ELSE 0 END AS lo,
                 CASE WHEN l_extendedprice > p99 THEN 1 ELSE 0 END AS hi
          FROM lineitem l JOIN b USING (l_returnflag))
    SELECT l_returnflag, p01, p99,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(lo) AS BIGINT) AS n_clip_low,
           CAST(SUM(hi) AS BIGINT) AS n_clip_high,
           CAST(SUM(CAST(cx AS DECIMAL(27,6))) AS DOUBLE) AS win_sum,
           CAST(SUM(CAST(cx AS DECIMAL(27,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS win_mean
    FROM c GROUP BY l_returnflag, p01, p99
    """,
)
def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZED aggregates per group: clip ``l_extendedprice`` at the
    group's exact p01/p99 before summing — the robust-statistics twin
    of ``agg_mad_robust_outliers`` (that one FLAGS outliers, this one
    BOUNDS their influence), and the standard guard for training-data
    feature stats where a handful of corrupt rows would otherwise own
    the mean. Outputs the clip bounds, how many rows hit each cap, and
    the winsorized sum/mean.

    Exactness: bounds are quantized to 6 dp the moment they leave the
    percentile (the only interpolated float), so every clipped value
    is either an original <= 2 dp double or a 6 dp bound — the
    DECIMAL(27,6) sum is then exact and order-independent
    (``functions/exact.py`` discipline), and the mean is one division
    of identical inputs. Clip counts are integers.

    Plan/scale: two passes over the group — pass 1 is the exact
    percentile (sort-based; at 100 TB swap ``approx_percentile``, the
    ``agg_approx_percentile`` pairing, with NO change to pass 2); the
    bounds table is group-cardinality-sized so pass 2 re-acquires it
    with a BROADCAST join and aggregates map-side-combined. No
    row-level state beyond the group key anywhere."""
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    b = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", 0.01), 6).alias("p01"),
        F.round(F.percentile("l_extendedprice", 0.99), 6).alias("p99"),
    )
    x = F.col("l_extendedprice")
    c = li.join(F.broadcast(b), "l_returnflag").select(
        "l_returnflag",
        "p01",
        "p99",
        F.least(F.greatest(x, F.col("p01")), F.col("p99")).alias("cx"),
        (x < F.col("p01")).cast("long").alias("lo"),
        (x > F.col("p99")).cast("long").alias("hi"),
    )
    win_sum = F.sum(F.col("cx").cast("decimal(27,6)")).cast("double")
    return c.groupBy("l_returnflag", "p01", "p99").agg(
        F.count("*").alias("n_rows"),
        F.sum("lo").alias("n_clip_low"),
        F.sum("hi").alias("n_clip_high"),
        win_sum.alias("win_sum"),
        (win_sum / F.count("*").cast("double")).alias("win_mean"),
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH g AS (SELECT l_returnflag, l_extendedprice AS p,
                      SUM(CAST(l_quantity AS DECIMAL(27,6))) AS w
               FROM lineitem GROUP BY 1, 2),
    c AS (SELECT *,
                 SUM(w) OVER (PARTITION BY l_returnflag ORDER BY p) AS cw,
                 SUM(w) OVER (PARTITION BY l_returnflag) AS tw
          FROM g)
    SELECT l_returnflag,
           MIN(p) AS weighted_median,
           CAST(MIN(tw) AS DOUBLE) AS total_weight
    FROM c WHERE cw * 2 >= tw GROUP BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT WEIGHTED MEDIAN per group: the smallest price at which
    the cumulative quantity weight reaches half the group's total —
    the robust center a revenue analysis wants when rows carry
    unequal mass (``percentile`` and ``median`` weigh every row
    equally; there is no built-in weighted quantile in either
    engine, so this is the canonical window-algebra construction).

    Determinism discipline: weights pre-aggregate per DISTINCT price
    (so the cumulative sum is over a keyed, totally-ordered series —
    no tie-break ambiguity between equal prices), every weight sum is
    exact DECIMAL (``functions/exact.py``), and the half-total test
    is the integer-safe ``2*cw >= tw`` (no division). The value
    selection is a MIN over the qualifying prices — order-independent.

    Plan/scale: one map-side-combined groupBy to (group, price) —
    the only corpus-sized shuffle — then two windows over the SAME
    (group, price-ordered) partitioning (one exchange, one sort,
    shared by both frames) and a final tiny groupBy. At 100 TB with
    high-cardinality groups this is the textbook two-pass weighted
    quantile; for a fixed error budget swap an approx sketch exactly
    as the percentile family pairs."""
    li = _t(spark, sf_dir, "lineitem")
    from vector_db_core_spark.functions.exact import dec

    g = li.groupBy("l_returnflag", F.col("l_extendedprice").alias("p")).agg(
        F.sum(dec("l_quantity")).alias("w")
    )
    wo = W.partitionBy("l_returnflag").orderBy("p")
    c = g.select(
        "l_returnflag",
        "p",
        F.sum("w").over(wo.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cw"),
        F.sum("w").over(W.partitionBy("l_returnflag")).alias("tw"),
    )
    return (
        c.where(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.min("p").alias("weighted_median"),
            F.min("tw").cast("double").alias("total_weight"),
        )
    )


@register(
    "agg_mode_frequency",
    oracle="""
    WITH c AS (SELECT o_orderstatus, o_orderpriority,
                      COUNT(*) AS n FROM orders
               GROUP BY o_orderstatus, o_orderpriority),
    r AS (SELECT *,
                 row_number() OVER (PARTITION BY o_orderstatus
                                    ORDER BY n DESC, o_orderpriority) AS rn,
                 SUM(n) OVER (PARTITION BY o_orderstatus) AS total
          FROM c)
    SELECT o_orderstatus, o_orderpriority AS mode_priority,
           CAST(n AS BIGINT) AS mode_count,
           CAST(total AS BIGINT) AS group_count,
           round(CAST(n AS DOUBLE) / total, 6) AS mode_share
    FROM r WHERE rn = 1
    """,
)
def agg_mode_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE (most frequent value) per group with a DETERMINISTIC
    tie-break — the statistical mode SQL engines disagree on by
    default (Spark's ``mode()`` and DuckDB's ``mode()`` both break
    ties arbitrarily), made hash-exact by ranking candidates on
    ``(count DESC, value ASC)``: modal order priority per order
    status, with its count and share.

    Plan/scale: the heavy reduction is the map-side-combined
    ``groupBy`` to candidate counts (|groups| x |distinct values|
    rows — tiny); the ``row_number`` window runs on that reduced
    table, never the fact table, so the single-key-partition window
    cost is bounded by value cardinality, not data size. This
    two-level shape (reduce, then rank the reduction) is the only
    mode plan that survives 100 TB — ``mode()`` as a direct aggregate
    would buffer per-group value maps in the aggregation hash table."""
    o = _t(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n")
    )
    grp = W.partitionBy("o_orderstatus")
    r = c.withColumn(
        "rn", F.row_number().over(grp.orderBy(F.desc("n"), F.asc("o_orderpriority")))
    ).withColumn("total", F.sum("n").over(grp))
    return r.where(F.col("rn") == 1).select(
        "o_orderstatus",
        F.col("o_orderpriority").alias("mode_priority"),
        F.col("n").alias("mode_count"),
        F.col("total").alias("group_count"),
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("mode_share"),
    )


@register(
    "window_streak_islands",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    g AS (SELECT user_id, day,
                 day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                            AS INT) AS grp
          FROM d),
    s AS (SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS streak_len,
                 MIN(day) AS streak_start
          FROM g GROUP BY user_id, grp),
    r AS (SELECT *,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY streak_len DESC, streak_start) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_streaks,
                 CAST(SUM(streak_len) OVER (PARTITION BY user_id) AS BIGINT)
                   AS active_days
          FROM s)
    SELECT user_id, streak_len AS longest_streak,
           CAST(streak_start AS TIMESTAMP) AS streak_start,
           n_streaks, active_days
    FROM r WHERE rn = 1
    """,
)
def window_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAPS-AND-ISLANDS: longest consecutive-day activity streak per
    user (plus streak count and total active days) — the canonical
    islands construction (day minus dense ordinal is constant within
    a run of consecutive days) behind engagement/retention streak
    metrics. Deterministic tie-break: earliest of the equally-long
    streaks wins.

    Plan/scale: the fact table reduces to distinct (user, day) FIRST
    (map-side combined — the only corpus-sized shuffle), so both
    windows run on at most |users| x |days| rows; all three per-user
    windows share ONE partitioning (single sort per user, no extra
    exchange). The island key is pure arithmetic — no self-join, no
    lag-chain materialization."""
    ev = _t(spark, sf_dir, "events")
    d = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    g = d.withColumn(
        "grp",
        F.date_sub(
            "day",
            F.row_number().over(W.partitionBy("user_id").orderBy("day")),
        ),
    )
    s = g.groupBy("user_id", "grp").agg(
        F.count("*").alias("streak_len"), F.min("day").alias("streak_start")
    )
    per_user = W.partitionBy("user_id")
    r = (
        s.withColumn(
            "rn",
            F.row_number().over(
                per_user.orderBy(F.desc("streak_len"), F.asc("streak_start"))
            ),
        )
        .withColumn("n_streaks", F.count("*").over(per_user))
        .withColumn("active_days", F.sum("streak_len").over(per_user))
    )
    return r.where(F.col("rn") == 1).select(
        "user_id",
        F.col("streak_len").alias("longest_streak"),
        F.col("streak_start").cast("timestamp").alias("streak_start"),
        "n_streaks",
        "active_days",
    )


_INTERVAL_OVERLAP_SQL = """
WITH t AS (SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS brk
           FROM events),
s0 AS (SELECT user_id, ts,
              SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
       FROM t),
sess AS (SELECT user_id, MIN(ts) AS s_start,
                MAX(ts) + INTERVAL '30 minutes' AS s_end
         FROM s0 GROUP BY user_id, sid),
e AS (SELECT ts,
             CASE WHEN ts - LAG(ts) OVER (ORDER BY ts) > INTERVAL '10 minutes'
                  OR LAG(ts) OVER (ORDER BY ts) IS NULL THEN 1 ELSE 0 END AS brk
      FROM events WHERE event_type = 'error'),
e0 AS (SELECT ts, SUM(brk) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING) AS iid
       FROM e),
inc AS (SELECT MIN(ts) AS i_start, MAX(ts) + INTERVAL '10 minutes' AS i_end,
               CAST(COUNT(*) AS BIGINT) AS n_errors
        FROM e0 GROUP BY iid)
SELECT user_id, s_start AS session_start, i_start AS incident_start,
       n_errors,
       CAST(epoch_us(least(s_end, i_end)) - epoch_us(greatest(s_start, i_start))
            AS BIGINT) AS overlap_us
FROM sess JOIN inc ON s_start < i_end AND i_start < s_end
"""


@register("join_interval_overlap", oracle=_INTERVAL_OVERLAP_SQL)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL OVERLAP JOIN between two derived interval sets — user
    activity sessions (30-min gap) x global error incidents (10-min
    gap sessions of error events): which user sessions were exposed
    to which incidents, and for how long. The reliability-attribution
    query ("whose sessions did outage X touch?") that is a theta join
    in naive SQL.

    Spark-first plan — the BINNED interval join: both interval sets
    explode to the 1-hour epoch buckets they touch (codegen
    ``sequence`` over integer bucket ids, small fan-out because both
    interval kinds are short-lived), the join is an EQUI-join on the
    bucket id (hash-partitioned, AQE-skew-splittable — an incident
    storm bucket splits instead of stalling a task), a ``distinct``
    collapses pairs that met in several buckets, and the exact
    overlap predicate + duration run post-join. No range/theta join,
    no cartesian — the oracle states the predicate directly, the
    plan never does. Bucket width tunes fan-out vs selectivity; at
    100 TB pick ~= median interval length (here 1 h vs ~3-minute
    incidents and hour-scale sessions).

    The overlap duration is integer microseconds (``unix_micros`` ==
    ``epoch_us``) — hash-exact, no float time arithmetic.

    The INCIDENT derivation avoids a data-sized single-partition
    window: the error slice is first reduced to per-MINUTE buckets
    (``min(ts)``/``max(ts)``/``count`` per bucket — a map-side
    combined hash aggregate, so the shuffle and the subsequent
    keyless gaps-and-islands window are bounded by the TIME SPAN of
    the data, not its row count; a year of errors is <= 525,600
    window rows regardless of corpus size). This is exact, not an
    approximation: the island break is "gap > 10 min between
    consecutive error timestamps", and within a 1-minute bucket no
    gap can exceed 59.999s, so breaks can only occur BETWEEN buckets
    — tested by comparing ``min(ts)`` of a bucket against ``max(ts)``
    of its predecessor, the same microsecond arithmetic as the
    row-level form. Same reduce-before-window discipline as
    ``timeseries_rolling_median`` / ``window_streak_islands``."""
    ev = _t(spark, sf_dir, "events")
    sess = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.lit(1).alias("_one"))
        .select(
            "user_id",
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
        )
    )
    # microsecond-precision gap test (cast-to-long would truncate to
    # seconds and disagree with the oracle's INTERVAL comparison on
    # gaps within 1s of the threshold — caught by the sf0.1 sweep).
    # Reduce-before-window: per-minute buckets first, so the keyless
    # island window runs over time-span-bounded rows, never the
    # corpus-sized error slice (see docstring for the exactness
    # argument: 1-min bucket width < 10-min break threshold).
    minute_us = 60 * 1_000_000
    eb = (
        ev.where(F.col("event_type") == "error")
        .groupBy(F.expr(f"unix_micros(ts) div {minute_us}").alias("mb"))
        .agg(
            F.min("ts").alias("b_min"),
            F.max("ts").alias("b_max"),
            F.count("*").alias("b_n"),
        )
    )
    brk = (
        F.unix_micros("b_min")
        - F.lag(F.unix_micros("b_max")).over(W.orderBy("mb"))
        > 600 * 1_000_000
    )
    e0 = eb.withColumn(
        "brk",
        F.when(brk | F.lag("b_max").over(W.orderBy("mb")).isNull(), 1).otherwise(0),
    ).withColumn(
        "iid",
        F.sum("brk").over(W.orderBy("mb").rowsBetween(W.unboundedPreceding, 0)),
    )
    inc = e0.groupBy("iid").agg(
        F.min("b_min").alias("i_start"),
        (F.max("b_max") + F.expr("INTERVAL 10 MINUTES")).alias("i_end"),
        F.sum("b_n").alias("n_errors"),
    )
    hour_us = 3600 * 1_000_000

    def buckets(start, end):
        # `div` = integer floor division (JVM long arithmetic);
        # end-exclusive intervals: the last bucket holds end-1us
        return F.explode(
            F.sequence(
                F.expr(f"unix_micros({start}) div {hour_us}"),
                F.expr(f"(unix_micros({end}) - 1) div {hour_us}"),
            )
        )
    sb = sess.select("user_id", "s_start", "s_end", buckets("s_start", "s_end").alias("b"))
    ib = inc.select("i_start", "i_end", "n_errors", buckets("i_start", "i_end").alias("b"))
    pairs = (
        sb.join(ib, "b")
        .where((F.col("s_start") < F.col("i_end")) & (F.col("i_start") < F.col("s_end")))
        .select("user_id", "s_start", "s_end", "i_start", "i_end", "n_errors")
        .distinct()
    )
    return pairs.select(
        "user_id",
        F.col("s_start").alias("session_start"),
        F.col("i_start").alias("incident_start"),
        "n_errors",
        (
            F.unix_micros(F.least("s_end", "i_end"))
            - F.unix_micros(F.greatest("s_start", "i_start"))
        ).alias("overlap_us"),
    )


_ASOF_NEAREST_SQL = """
WITH a AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error'),
     b AS (SELECT user_id, ts, MAX(event_id) AS b_id
           FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
     back AS (SELECT a.user_id, a.event_id, a.ts,
                     b.ts AS back_ts, b.b_id AS back_id
              FROM a ASOF LEFT JOIN b ON a.user_id = b.user_id AND a.ts >= b.ts),
     bf AS (SELECT back.*, b.ts AS fwd_ts, b.b_id AS fwd_id
            FROM back ASOF LEFT JOIN b
            ON back.user_id = b.user_id AND back.ts < b.ts),
     d AS (SELECT *,
                  epoch_us(ts) - epoch_us(back_ts) AS d_back,
                  epoch_us(fwd_ts) - epoch_us(ts) AS d_fwd
           FROM bf),
     v AS (SELECT *,
                  (d_back IS NOT NULL AND d_back <= 3600000000) AS ok_back,
                  (d_fwd IS NOT NULL AND d_fwd <= 3600000000) AS ok_fwd
           FROM d)
SELECT user_id, event_id AS error_id, ts AS error_ts,
       CASE WHEN ok_back AND (NOT ok_fwd OR d_back <= d_fwd) THEN back_ts
            WHEN ok_fwd THEN fwd_ts END AS click_ts,
       CASE WHEN ok_back AND (NOT ok_fwd OR d_back <= d_fwd) THEN back_id
            WHEN ok_fwd THEN fwd_id END AS click_id,
       CAST(CASE WHEN ok_back AND (NOT ok_fwd OR d_back <= d_fwd) THEN -d_back
                 WHEN ok_fwd THEN d_fwd END AS BIGINT) AS delta_us,
       CASE WHEN ok_back AND (NOT ok_fwd OR d_back <= d_fwd) THEN 'backward'
            WHEN ok_fwd THEN 'forward' END AS direction
FROM v
"""


@register("join_asof_nearest", oracle=_ASOF_NEAREST_SQL)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join with tolerance: each error event pairs with
    the user's temporally CLOSEST click within +/-1 hour, either
    direction, ties to the earlier (backward) side; errors with no
    click inside the tolerance keep nulls. The sensor-alignment /
    feature-join semantics (pandas ``merge_asof(direction='nearest',
    tolerance=...)``) that plain backward as-of
    (``join_asof_error_after_click``) can't express.

    Spark-first plan: the SAME union + ordered-window shape as the
    backward as-of — tag both streams, ONE shuffle on user_id, sort
    per user by (ts, side) — but carrying BOTH directions in one
    window pass: last-non-null click at-or-before (clicks at equal ts
    sort before errors, so same-ts matches backward, mirroring ASOF
    `>=`) and first-non-null click strictly after (same-ts clicks
    precede the error row, so the following frame is strictly later,
    mirroring ASOF `<`). Direction choice and the tolerance gate are
    integer-microsecond scalar CASEs after the window — no second
    shuffle, no inequality join, no per-row subquery. The oracle
    states the same contract as two DuckDB ASOF joins."""
    ev = _t(spark, sf_dir, "events")
    a = ev.where(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("a_id"), F.lit(1).alias("side")
    ).withColumn("b_id", F.lit(None).cast("long"))
    b = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("b_id"))
        .select("user_id", "ts", F.lit(None).cast("long").alias("a_id"),
                F.lit(0).alias("side"), "b_id")
    )
    back_w = (
        W.partitionBy("user_id").orderBy("ts", "side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fwd_w = (
        W.partitionBy("user_id").orderBy("ts", "side")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    click_ts = F.when(F.col("side") == 0, F.col("ts"))
    click_id = F.when(F.col("side") == 0, F.col("b_id"))
    u = a.unionByName(b).select(
        "user_id", "ts", "a_id", "side",
        F.last(click_ts, ignorenulls=True).over(back_w).alias("back_ts"),
        F.last(click_id, ignorenulls=True).over(back_w).alias("back_id"),
        F.first(click_ts, ignorenulls=True).over(fwd_w).alias("fwd_ts"),
        F.first(click_id, ignorenulls=True).over(fwd_w).alias("fwd_id"),
    )
    e = u.where(F.col("side") == 1)
    d_back = F.unix_micros("ts") - F.unix_micros("back_ts")
    d_fwd = F.unix_micros("fwd_ts") - F.unix_micros("ts")
    tol = 3600 * 1_000_000
    ok_back = F.col("back_ts").isNotNull() & (d_back <= tol)
    ok_fwd = F.col("fwd_ts").isNotNull() & (d_fwd <= tol)
    pick_back = ok_back & (~ok_fwd | (d_back <= d_fwd))
    return e.select(
        "user_id",
        F.col("a_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
        F.when(pick_back, F.col("back_ts")).when(ok_fwd, F.col("fwd_ts")).alias("click_ts"),
        F.when(pick_back, F.col("back_id")).when(ok_fwd, F.col("fwd_id")).alias("click_id"),
        F.when(pick_back, -d_back).when(ok_fwd, d_fwd).alias("delta_us"),
        F.when(pick_back, F.lit("backward")).when(ok_fwd, F.lit("forward")).alias("direction"),
    )


_COV_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _cov_matrix_sql() -> str:
    """Pairwise-covariance oracle, generated for the column list: one
    aggregate CTE of exact-DECIMAL sums, then one UNION ALL row per
    (i <= j) pair computing the identical double expression Spark
    runs."""
    def micro(c):
        return f"CAST(round({c} * 1000000.0) AS DECIMAL(19,0))"

    sums = ", ".join(
        [f"SUM({micro(c)}) AS s_{c}" for c in _COV_COLS]
        + [
            f"SUM({micro(a)} * {micro(b)}) AS p_{a}_{b}"
            for i, a in enumerate(_COV_COLS)
            for b in _COV_COLS[i:]
        ]
        + ["CAST(COUNT(*) AS DOUBLE) AS n"]
    )

    def cov(a, b):
        return (
            f"(CAST(p_{a}_{b} AS DOUBLE) / 1e12 / n"
            f" - (CAST(s_{a} AS DOUBLE) / 1e6 / n)"
            f" * (CAST(s_{b} AS DOUBLE) / 1e6 / n))"
        )

    rows = " UNION ALL ".join(
        f"SELECT '{a}' AS x_col, '{b}' AS y_col, "
        f"round({cov(a, b)}, 6) AS covar_pop, "
        f"round({cov(a, b)} / sqrt({cov(a, a)} * {cov(b, b)}), 6) AS corr "
        f"FROM agg"
        for i, a in enumerate(_COV_COLS)
        for b in _COV_COLS[i:]
    )
    return f"WITH agg AS (SELECT {sums} FROM lineitem) {rows}"


@register("agg_covariance_matrix", oracle=_cov_matrix_sql())
def agg_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL pairwise covariance/correlation matrix of the lineitem
    measures in ONE scan — the multivariate profile that feeds PCA /
    whitening / feature selection (and the hash-exact half of the
    ``sim_group_pca_top_component`` story: covariance ACCUMULATION is
    exact decimal arithmetic under the gate; only the eigensolve is
    float and stays rows-only). Population covariance via the
    textbook E[xy] − E[x]E[y] on exact-DECIMAL sums: every raw sum is
    exact at any partitioning (the repo's exact-arithmetic policy),
    the finishing arithmetic is the IDENTICAL double expression in
    both engines, round(6) seals the last ulp.

    Plan/scale: one map-side-combined aggregate computes all 4 value
    sums + 10 product sums + count in a single pass (the naive
    per-pair ``covar_pop`` calls would scan 10×); the 10-row matrix
    explodes from literal structs of the broadcast one-row result —
    the ``pipeline_filter_funnel`` shape. Values quantize to integer
    micro-units in DECIMAL(19,0) so products land exactly in
    DECIMAL(38,0) on BOTH engines (DuckDB's DECIMAL(18) stays
    INT64-backed and overflows; Spark silently truncates scale past
    precision 38 — both failure modes caught by this round's gates)."""
    li = _t(spark, sf_dir, "lineitem")

    def micro(c):
        # integer micro-units as DECIMAL(19,0): the product is
        # DECIMAL(38,0) in BOTH engines (Spark caps 19+19+1 at 38 with
        # scale 0 intact; DuckDB promotes to INT128 backing) — exact,
        # where DECIMAL(18,6) factors overflow DuckDB's INT64 backing
        return F.round(F.col(c) * 1_000_000.0, 0).cast("decimal(19,0)")

    aggs = (
        [F.sum(micro(c)).alias(f"s_{c}") for c in _COV_COLS]
        + [
            F.sum(micro(a) * micro(b)).alias(f"p_{a}_{b}")
            for i, a in enumerate(_COV_COLS)
            for b in _COV_COLS[i:]
        ]
        + [F.count("*").cast("double").alias("n")]
    )
    a = li.agg(*aggs)
    n = F.col("n")

    def cov(x, y):
        return (
            F.col(f"p_{x}_{y}").cast("double") / 1e12 / n
            - (F.col(f"s_{x}").cast("double") / 1e6 / n)
            * (F.col(f"s_{y}").cast("double") / 1e6 / n)
        )

    structs = F.array(
        *[
            F.struct(
                F.lit(x).alias("x_col"),
                F.lit(y).alias("y_col"),
                F.round(cov(x, y), 6).alias("covar_pop"),
                F.round(cov(x, y) / F.sqrt(cov(x, x) * cov(y, y)), 6).alias("corr"),
            )
            for i, x in enumerate(_COV_COLS)
            for y in _COV_COLS[i:]
        ]
    )
    return a.select(F.explode(structs).alias("s")).select("s.*")


_HOLT_SQL = """
WITH RECURSIVE
d AS (SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
o AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY day) AS INT) AS rn
      FROM d),
r AS (
  SELECT event_type, day, cents, rn,
         cents AS l, CAST(0 AS BIGINT) AS b
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.event_type, o.day, o.cents, o.rn,
         (3 * o.cents + 7 * (r.l + r.b) + 5) // 10 AS l,
         (2 * (((3 * o.cents + 7 * (r.l + r.b) + 5) // 10) - r.l)
          + 8 * r.b + 5) // 10 AS b
  FROM o JOIN r ON o.event_type = r.event_type AND o.rn = r.rn + 1)
SELECT event_type, CAST(day AS TIMESTAMP) AS day,
       cents / 100.0 AS daily_value,
       l / 100.0 AS level,
       b / 100.0 AS trend,
       (l + b) / 100.0 AS forecast_next
FROM r
"""


def _tdiv10(c):
    """Truncate-toward-zero division by 10 on integer cents, built
    from exact integer ops (``%`` then an exact double division of a
    multiple of 10) — Column-level, so it composes inside
    ``F.aggregate`` lambdas where SQL ``div`` can't reach. Matches
    DuckDB's integer ``//`` (truncation, verified) for either sign."""
    aa = F.abs(c)
    t = ((aa - aa % 10).cast("double") / 10).cast("long")
    return F.when(c < 0, -t).otherwise(t)


@register("timeseries_holt_linear", oracle=_HOLT_SQL)
def timeseries_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT'S LINEAR TREND (double exponential smoothing, alpha=0.3 /
    beta=0.2): per event type, the level + trend state fold over the
    daily series and the one-step-ahead forecast — the first actual
    FORECASTING operator in the catalog (EWMA smooths, regression fits
    a global line; Holt tracks a moving local trend). The recursion is
    QUANTIZED to integer cents exactly like the streaming EWMA
    (``l' = (3v + 7(l+b) + 5) // 10``, ``b' = (2(l'-l) + 8b + 5) //
    10`` — the alphas as rationals, half-round folded into truncating
    division), so the fold is bit-identical at any parallelism and the
    oracle runs the IDENTICAL recurrence as a DuckDB recursive CTE.

    Spark-first plan for a 2-state coupled recursion (which, unlike
    EWMA, does NOT factorize into window algebra): the heavy work is
    the daily pre-aggregation (map-side combined, one shuffle); each
    type's bounded daily series then folds INSIDE codegen via
    ``array_sort(collect_list(...))`` + ``F.aggregate`` with a struct
    accumulator — series length is calendar days, not event count, so
    the per-group array is bounded (30 here, ~thousands at decade
    scale) and nothing sequential ever leaves the executor. Truncating
    division is built from exact integer ops (``_tdiv10``) because
    SQL ``div`` can't be referenced inside lambda expressions."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    series = d.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct(F.unix_date("day").alias("di"), "cents"))
        ).alias("s")
    )
    out_t = (
        "struct<l:bigint,b:bigint,n:int,"
        "out:array<struct<di:int,cents:bigint,l:bigint,b:bigint>>>"
    )
    init = F.named_struct(
        F.lit("l"), F.lit(0).cast("long"),
        F.lit("b"), F.lit(0).cast("long"),
        F.lit("n"), F.lit(0).cast("int"),
        F.lit("out"),
        F.expr("CAST(array() AS array<struct<di:int,cents:bigint,l:bigint,b:bigint>>)"),
    ).cast(out_t)

    def step(acc, x):
        first = acc["n"] == 0
        l_new = F.when(first, x["cents"]).otherwise(
            _tdiv10(3 * x["cents"] + 7 * (acc["l"] + acc["b"]) + 5)
        )
        b_new = F.when(first, F.lit(0).cast("long")).otherwise(
            _tdiv10(2 * (l_new - acc["l"]) + 8 * acc["b"] + 5)
        )
        row = F.struct(
            x["di"].alias("di"),
            x["cents"].alias("cents"),
            l_new.alias("l"),
            b_new.alias("b"),
        )
        return F.named_struct(
            F.lit("l"), l_new,
            F.lit("b"), b_new,
            F.lit("n"), acc["n"] + 1,
            F.lit("out"), F.concat(acc["out"], F.array(row)),
        ).cast(out_t)

    folded = series.select(
        "event_type",
        F.aggregate("s", init, step)["out"].alias("out"),
    )
    r = folded.select("event_type", F.explode("out").alias("r"))
    return r.select(
        "event_type",
        F.date_from_unix_date(F.col("r.di")).cast("timestamp").alias("day"),
        (F.col("r.cents") / F.lit(100.0)).alias("daily_value"),
        (F.col("r.l") / F.lit(100.0)).alias("level"),
        (F.col("r.b") / F.lit(100.0)).alias("trend"),
        ((F.col("r.l") + F.col("r.b")) / F.lit(100.0)).alias("forecast_next"),
    )


def _hw_sql() -> str:
    """Unrolled Holt-Winters recurrence as a DuckDB recursive CTE —
    expressions repeated textually (the _HOLT_SQL device) rather than
    relying on lateral alias reuse."""
    sidx = "r.seas[((o.rn - 1) % 7) + 1]"
    lnew = f"((3 * (o.cents - {sidx}) + 7 * (r.l + r.b) + 5) // 10)"
    bnew = f"((2 * ({lnew} - r.l) + 8 * r.b + 5) // 10)"
    snew = f"((3 * (o.cents - {lnew}) + 7 * {sidx} + 5) // 10)"
    return f"""
WITH RECURSIVE
d AS (SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
o AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY day) AS INT) AS rn
      FROM d),
r AS (
  SELECT event_type, day, cents, rn,
         cents AS l, CAST(0 AS BIGINT) AS b,
         [CAST(0 AS BIGINT), 0, 0, 0, 0, 0, 0] AS seas,
         CAST(0 AS BIGINT) AS s_here
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.event_type, o.day, o.cents, o.rn,
         {lnew} AS l,
         {bnew} AS b,
         list_transform(r.seas,
                        (v, i) -> CASE WHEN i = ((o.rn - 1) % 7) + 1
                                       THEN {snew} ELSE v END) AS seas,
         {snew} AS s_here
  FROM o JOIN r ON o.event_type = r.event_type AND o.rn = r.rn + 1)
SELECT event_type, CAST(day AS TIMESTAMP) AS day,
       cents / 100.0 AS daily_value,
       l / 100.0 AS level,
       b / 100.0 AS trend,
       s_here / 100.0 AS seasonal,
       (l + b + seas[(rn % 7) + 1]) / 100.0 AS forecast_next
FROM r
"""


@register("timeseries_holt_winters", oracle=_hw_sql())
def timeseries_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT-WINTERS ADDITIVE (triple exponential smoothing, alpha=0.3
    / beta=0.2 / gamma=0.3, weekly period m=7): per event type the
    level + trend + 7-slot seasonal state fold over the daily series
    and the one-step-ahead forecast l' + b' + s[next] — the seasonal
    completion of ``timeseries_holt_linear`` (Holt tracks a local
    trend; HW also tracks the day-of-week shape a revenue series
    actually has; ``timeseries_seasonal_decompose`` reads the same
    structure descriptively, this one forecasts with it). State is
    ZERO-INITIALIZED seasonal with l0 = first value, b0 = 0 — a
    deterministic burn-in variant, stated (a production fit seeds
    seasonals from the first cycle's means; the recurrence is
    identical after week one either way).

    Exactness: the recurrence is quantized to integer cents like Holt
    and the streaming EWMA — l' = (3(v-s)+7(l+b)+5)//10, b' =
    (2(l'-l)+8b+5)//10, s' = (3(v-l')+7s+5)//10, the smoothing
    constants as rationals with half-round folded into truncating
    division (``_tdiv10`` == DuckDB ``//``, either sign) — so the
    fold is bit-identical at any parallelism and the oracle replays
    the IDENTICAL recurrence in a recursive CTE carrying the seasonal
    array as list state. The forecast reads the NEXT slot, which this
    step never writes (next ≠ current mod 7), so pre-update state is
    correct in both engines.

    Plan/scale: identical to Holt — the daily pre-aggregation is the
    one data-sized shuffle; each type's bounded calendar-day series
    folds inside one ``F.aggregate`` with a struct accumulator whose
    seasonal array updates via an index-aware ``transform``; nothing
    sequential leaves the executor."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    series = d.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct(F.unix_date("day").alias("di"), "cents"))
        ).alias("s")
    )
    out_t = (
        "struct<l:bigint,b:bigint,n:int,seas:array<bigint>,"
        "out:array<struct<di:int,cents:bigint,l:bigint,b:bigint,"
        "sh:bigint,f:bigint>>>"
    )
    init = F.named_struct(
        F.lit("l"), F.lit(0).cast("long"),
        F.lit("b"), F.lit(0).cast("long"),
        F.lit("n"), F.lit(0).cast("int"),
        F.lit("seas"), F.expr("array_repeat(cast(0 as bigint), 7)"),
        F.lit("out"),
        F.expr(
            "CAST(array() AS array<struct<di:int,cents:bigint,l:bigint,"
            "b:bigint,sh:bigint,f:bigint>>)"
        ),
    ).cast(out_t)

    def step(acc, x):
        first = acc["n"] == 0
        idx = acc["n"] % 7  # 0-based slot of THIS observation
        s_at = F.element_at(acc["seas"], idx + 1)
        l_new = F.when(first, x["cents"]).otherwise(
            _tdiv10(3 * (x["cents"] - s_at) + 7 * (acc["l"] + acc["b"]) + 5)
        )
        b_new = F.when(first, F.lit(0).cast("long")).otherwise(
            _tdiv10(2 * (l_new - acc["l"]) + 8 * acc["b"] + 5)
        )
        s_new = F.when(first, F.lit(0).cast("long")).otherwise(
            _tdiv10(3 * (x["cents"] - l_new) + 7 * s_at + 5)
        )
        seas_new = F.transform(
            acc["seas"],
            lambda v, i: F.when(i == idx, s_new).otherwise(v),
        )
        nxt = F.element_at(acc["seas"], ((acc["n"] + 1) % 7) + 1)
        row = F.struct(
            x["di"].alias("di"),
            x["cents"].alias("cents"),
            l_new.alias("l"),
            b_new.alias("b"),
            s_new.alias("sh"),
            (l_new + b_new + nxt).alias("f"),
        )
        return F.named_struct(
            F.lit("l"), l_new,
            F.lit("b"), b_new,
            F.lit("n"), acc["n"] + 1,
            F.lit("seas"), seas_new,
            F.lit("out"), F.concat(acc["out"], F.array(row)),
        ).cast(out_t)

    folded = series.select(
        "event_type",
        F.aggregate("s", init, step)["out"].alias("out"),
    )
    r = folded.select("event_type", F.explode("out").alias("r"))
    return r.select(
        "event_type",
        F.date_from_unix_date(F.col("r.di")).cast("timestamp").alias("day"),
        (F.col("r.cents") / F.lit(100.0)).alias("daily_value"),
        (F.col("r.l") / F.lit(100.0)).alias("level"),
        (F.col("r.b") / F.lit(100.0)).alias("trend"),
        (F.col("r.sh") / F.lit(100.0)).alias("seasonal"),
        (F.col("r.f") / F.lit(100.0)).alias("forecast_next"),
    )


@register(
    "timeseries_rolling_median",
    oracle="""
    WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                      SUM(CAST(round(value * 100) AS BIGINT)) AS cents
               FROM events GROUP BY 1, 2),
    o AS (SELECT event_type, day, cents,
                 CAST(day - DATE '2024-01-01' AS INT) AS di
          FROM d)
    SELECT event_type, CAST(day AS TIMESTAMP) AS day,
           cents / 100.0 AS daily_value,
           round(quantile_cont(cents, 0.5) OVER (
                   PARTITION BY event_type ORDER BY di
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) / 100.0,
                 6) AS rolling_median_7d
    FROM o
    """,
)
def timeseries_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING EXACT MEDIAN (trailing 7 calendar days) of daily value
    per event type — the robust smoother dashboards use where EWMA
    would chase outliers (one spiked day moves a mean window, not a
    median window). A RANGE frame on the integer day index, not ROWS:
    gap days must shrink the window (the
    ``window_range_trailing_7d`` distinction), and exact ``percentile``
    as a WINDOW aggregate == DuckDB ``quantile_cont`` bit-for-bit on
    integer cents (the ``pipeline_curriculum_phases`` contract; the
    interpolated midpoint of two ints is exact in double, round(6)
    seals it).

    Plan/scale: the corpus reduces to |types| x |days| daily rows
    first (map-side combined — the only data-sized shuffle); the
    median window runs per type on that reduction. Exact windowed
    percentile buffers the frame per row — bounded here by the 7-day
    frame; at very long horizons swap ``approx_percentile`` in the
    same frame (the documented exact/approx twin policy)."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    o = d.withColumn("di", F.datediff("day", F.lit("2024-01-01")))
    w = (
        W.partitionBy("event_type")
        .orderBy("di")
        .rangeBetween(-6, W.currentRow)
    )
    return o.select(
        "event_type",
        F.col("day").cast("timestamp").alias("day"),
        (F.col("cents") / F.lit(100.0)).alias("daily_value"),
        F.round(
            F.percentile("cents", F.lit(0.5)).over(w) / F.lit(100.0), 6
        ).alias("rolling_median_7d"),
    )


def _sessionize(ev: DataFrame, gap: str) -> DataFrame:
    """Gaps-and-islands sessionization shared by every session-shaped
    op: lag + a running sum of breaks over (user_id | ts, event_id),
    with the STRICTLY-GREATER gap comparison the DuckDB oracles state
    (``ts - lag(ts) > INTERVAL ...``) — so an event exactly on the
    boundary sessionizes identically in both engines
    (``session_window``'s [start, last+gap) splits there; round-8
    advice). Adds a ``sid`` column; one (user_id) exchange, which the
    downstream (user_id, sid) aggregate reuses (subset key)."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    brk = F.when(
        prev.isNull() | (F.col("ts") > prev + F.expr(f"INTERVAL {gap}")), 1
    ).otherwise(0)
    return ev.withColumn("brk", brk).withColumn(
        "sid", F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, 0))
    )


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, cents) daily rollup — the ONE definition of
    the integer-cents quantization every time-series op reduces to
    (CUSUM, seasonal-naive, ACF, Theil-Sen, OLS). Map-side-combined,
    time-span-bounded; an edit to the quantization rule lands in one
    place (round-9 review finding: the block was inlined 5x)."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )


def _customer_spend_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_custkey, cents) per-customer spend rollup shared by the
    paired inequality ops (Gini scalar, Lorenz deciles) whose mutual
    consistency is pytest-pinned — one quantization definition."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )


def _ranked_customer_spend(spark: SparkSession, sf_dir: str):
    """(o_custkey, cents, i) with the 1-based GLOBAL rank ``i`` in
    (cents, o_custkey) order, plus the total row count — computed by
    the DISTRIBUTED two-phase rank (r9 verdict task 3), not a
    single-task ``W.orderBy`` window:

      1. range-partition + sort WITHIN partitions on the rank key —
         every partition sorts in parallel, partition p's keys all
         precede partition p+1's;
      2. per-partition row counts -> driver prefix sum -> one
         constant offsets array; each row's rank = its partition's
         offset + its local position (``store._dense_rowid_frame``,
         the exact protocol ``OrdinalStore.pushx`` uses for dense
         rowids).

    The sorted frame is PERSISTED before tagging because
    ``monotonically_increasing_id`` requires deterministic
    partitioning between the counts action and downstream use (the
    ``with_dense_rowid`` contract); release is the registry-wide
    clearCache-per-query contract. The rank key is a TOTAL order
    (custkey is unique), so ranks — and everything derived — are
    identical at any parallelism. At 100 TB this ranks 15M+ customer
    rows with no single-partition stage anywhere: the only
    single-point work is the K-row prefix sum on the driver."""
    from pyspark import StorageLevel

    from vector_db_core_spark.store import _dense_rowid_frame

    c = _customer_spend_cents(spark, sf_dir)
    srt = (
        c.repartitionByRange("cents", "o_custkey")
        .sortWithinPartitions("cents", "o_custkey")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    tagged = srt.withColumn("_mid", F.monotonically_increasing_id())
    ranked, n_total = _dense_rowid_frame(tagged, start=1)
    return ranked.withColumnRenamed("rowid", "i"), n_total


_PATTERN_SQL = """
WITH t AS (SELECT user_id, ts, event_id,
                  substr(event_type, 1, 1) AS ini
           FROM events),
b AS (SELECT *, CASE WHEN ts - LAG(ts) OVER w > INTERVAL '24 hours'
                       OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM b),
g AS (SELECT user_id, sid, MIN(ts) AS session_start,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             string_agg(ini, '' ORDER BY ts, event_id) AS seq
      FROM s GROUP BY user_id, sid)
SELECT user_id, session_start, n_events, seq,
       regexp_matches(seq, 'v.*c.*p') AS converted,
       regexp_matches(seq, 'c[^p]*e') AS abandoned
FROM g
"""


@register("pattern_session_sequences", oracle=_PATTERN_SQL)
def pattern_session_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-SEQUENCE PATTERN MATCHING (the MATCH_RECOGNIZE analog
    neither Spark nor DuckDB ships): sessionize each user's events
    into activity episodes (24-hour inactivity gap — the fixture's
    per-user event cadence is hours, so a web-session gap would yield
    singleton sequences), reduce every session to its ordered
    event-initial string (view→'v', click→'c', purchase→'p',
    error→'e', signup→'s'), and run ROW-PATTERN regexes over it —
    ``v.*c.*p`` (converted: view then click then purchase, any
    interleaving) and ``c[^p]*e`` (abandoned: an error after a click
    with no purchase between). The sequence-analytics operator the
    funnel query can't express: funnels test STEP EXISTENCE in order,
    patterns test the full sequence structure, adjacency and
    exclusion included.

    Spark-first plan: gaps-and-islands sessionization — lag + a
    running sum of session breaks over (user_id | ts, event_id), the
    SAME strictly-greater gap comparison the oracle states
    (``ts > prev + 24h`` == ``ts - lag(ts) > INTERVAL '24 hours'``),
    so an event landing exactly on the gap boundary sessionizes
    identically in both engines. ``session_window`` was the previous
    form, but its window is ``[start, last+gap)`` — a gap EQUAL to
    the threshold starts a new session there while the oracle's ``>``
    keeps it, a latent cross-engine divergence (round-8 advice).
    Both window exprs share one (user_id) exchange+sort, and the
    (user_id, sid) aggregate reuses that partitioning (subset key),
    so the shuffle count is unchanged. Per-session
    ``collect_list(struct(ts, event_id, ini))`` + ``array_sort`` +
    ``transform``/``array_join`` builds the sequence string INSIDE
    the aggregate — sessions are human-bounded (no skew beyond the
    salting playbook), so state per group is tiny; the regexes are
    codegen ``rlike`` on the reduced per-session rows. Determinism:
    ties at equal ts order by event_id in BOTH engines (struct sort
    == ORDER BY ts, event_id). One shuffle total; output linear in
    session count."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.substring("event_type", 1, 1).alias("ini"),
    )
    g = _sessionize(ev, "24 HOURS").groupBy("user_id", "sid").agg(
        F.min("ts").alias("session_start"),
        F.count("*").alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "ini"))),
                lambda x: x["ini"],
            ),
            "",
        ).alias("seq"),
    )
    return g.select(
        "user_id",
        "session_start",
        "n_events",
        "seq",
        F.col("seq").rlike("v.*c.*p").alias("converted"),
        F.col("seq").rlike("c[^p]*e").alias("abandoned"),
    )


_CUSUM_SQL = """
WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  SUM(CAST(round(value * 100) AS BIGINT)) AS cents
           FROM events GROUP BY 1, 2),
o AS (SELECT *, CAST(ROW_NUMBER() OVER w AS BIGINT) AS k,
             SUM(cents) OVER (PARTITION BY event_type ORDER BY day
                              ROWS UNBOUNDED PRECEDING) AS cum,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             SUM(cents) OVER (PARTITION BY event_type) AS total
      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
s AS (SELECT *, abs(n * cum - k * total) AS dev FROM o),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY dev DESC, day) AS rn
      FROM s)
SELECT event_type, CAST(day AS TIMESTAMP) AS change_day,
       CAST(dev AS BIGINT) AS cusum_scaled_abs,
       CAST(n AS BIGINT) AS n_days,
       CAST(cum // k AS BIGINT) AS mean_before_cents,
       CAST((total - cum) // nullif(n - k, 0) AS BIGINT) AS mean_after_cents
FROM r WHERE rn = 1
"""


@register("timeseries_cusum_changepoint", oracle=_CUSUM_SQL)
def timeseries_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM CHANGEPOINT DETECTION under the full hash gate: per
    event type, the day where the cumulative deviation of the daily
    value series from its global mean peaks — the classic
    single-changepoint estimator (Page 1954's CUSUM reduced to its
    offline argmax form). Everything INTEGER: daily cents (the Holt
    convention), and the deviation statistic scaled by n to avoid
    division entirely — ``S_k = n·cum_k − k·total`` is exactly
    ``n²·(mean_upto_k − mean)·k/…`` up to the positive factor that
    doesn't move the argmax, so both engines agree bit-for-bit (ties
    at equal deviation break to the earliest day). Before/after means
    in truncating integer division (Spark ``div`` == DuckDB ``//``
    toward zero on the sums involved; mean_after NULL when the
    changepoint is the last day).

    Plan/scale: corpus → (event_type, day) rollup in one map-side-
    combined shuffle (time-span-bounded like the interval join's
    incident reduction); every window after partitions by event_type
    over day-count-sized rows. Output: one row per event type."""
    d = _daily_cents(spark, sf_dir)
    wo = W.partitionBy("event_type").orderBy("day")
    wp = W.partitionBy("event_type")
    o = (
        d.withColumn("k", F.row_number().over(wo).cast("long"))
        .withColumn("cum", F.sum("cents").over(wo.rowsBetween(W.unboundedPreceding, 0)))
        .withColumn("n", F.count("*").over(wp).cast("long"))
        .withColumn("total", F.sum("cents").over(wp))
        .withColumn("dev", F.abs(F.col("n") * F.col("cum") - F.col("k") * F.col("total")))
    )
    r = o.withColumn(
        "rn", F.row_number().over(W.partitionBy("event_type").orderBy(F.desc("dev"), "day"))
    ).where(F.col("rn") == 1)
    return r.select(
        "event_type",
        F.col("day").cast("timestamp").alias("change_day"),
        F.col("dev").alias("cusum_scaled_abs"),
        F.col("n").alias("n_days"),
        F.expr("cum div k").alias("mean_before_cents"),
        F.expr("(total - cum) div nullif(n - k, CAST(0 AS BIGINT))").alias("mean_after_cents"),
    )


_SEASONAL_NAIVE_SQL = """
WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  SUM(CAST(round(value * 100) AS BIGINT)) AS cents
           FROM events GROUP BY 1, 2)
SELECT a.event_type, CAST(a.day AS TIMESTAMP) AS day,
       CAST(a.cents AS BIGINT) AS cents,
       CAST(b.cents AS BIGINT) AS cents_7d_ago,
       CAST(a.cents - b.cents AS BIGINT) AS residual_cents,
       (abs(a.cents - b.cents) * 2 > abs(b.cents)) AS anomaly
FROM d a JOIN d b
  ON a.event_type = b.event_type AND b.day = a.day - INTERVAL 7 DAY
"""


@register("timeseries_seasonal_naive_residuals", oracle=_SEASONAL_NAIVE_SQL)
def timeseries_seasonal_naive_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL-NAIVE anomaly residuals: each day's value minus the
    value exactly 7 CALENDAR days earlier (same weekday — the
    first-line seasonal baseline every ops dashboard runs before
    anything model-based), with a relative-magnitude anomaly flag
    (|residual| > 50% of the baseline, in exact integer cents — the
    comparison is ``2·|residual| > |baseline|``, no float ratio).
    Distinct from ``timeseries_locf_daily_value``'s gap-fill LOCF and
    the EWMA: the baseline here is the CALENDAR lag, so days whose
    seven-days-ago is absent drop out (an inner join states that
    honestly) rather than comparing against a different weekday —
    the bug a ROWS-frame ``lag(7)`` silently commits on gappy series.

    Plan/scale: one map-side-combined rollup to (event_type, day) —
    time-span-bounded — then a SELF-join on the same key the rollup
    already partitioned by (no second corpus shuffle; the reduced
    table's equi-join reuses its partitioning on event_type)."""
    d = _daily_cents(spark, sf_dir)
    a = d.alias("a")
    b = d.select(
        "event_type",
        (F.col("day") + F.expr("INTERVAL 7 DAYS")).alias("day"),
        F.col("cents").alias("cents_7d_ago"),
    ).alias("b")
    j = a.join(b, ["event_type", "day"])
    res = F.col("cents") - F.col("cents_7d_ago")
    return j.select(
        "event_type",
        F.col("day").cast("timestamp").alias("day"),
        "cents",
        "cents_7d_ago",
        res.alias("residual_cents"),
        (F.abs(res) * 2 > F.abs("cents_7d_ago")).alias("anomaly"),
    )


_TOPN_TIES_SQL = """
WITH c AS (SELECT c_custkey, c_nationkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
           FROM customer LEFT JOIN orders ON o_custkey = c_custkey
           GROUP BY c_custkey, c_nationkey),
r AS (SELECT n_name, c_custkey, n_orders,
             CAST(rank() OVER (PARTITION BY n_name
                               ORDER BY n_orders DESC) AS INT) AS rnk
      FROM c JOIN nation ON n_nationkey = c_nationkey)
SELECT n_name, c_custkey, n_orders, rnk
FROM r WHERE rnk <= 3
"""


@register("group_topn_with_ties", oracle=_TOPN_TIES_SQL)
def group_topn_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N per group WITH TIES (ANSI ``FETCH FIRST 3 ROWS WITH
    TIES`` / ``rank() <= 3``): per nation, every customer whose
    order COUNT ranks in the top 3 — ALL tied customers at the cut
    survive, so group sizes vary and no arbitrary tiebreak silently
    drops peers. The deliberate contrast to
    ``group_topk_orders_per_customer``'s ``row_number`` (exactly-k,
    deterministic tiebreak): integer measures tie constantly, and
    which semantic you want is a business decision — the engine
    offers both. Deterministic BY CONSTRUCTION (no tiebreak needed:
    the tied set itself is order-independent), which is why rank()
    needs no extra ORDER BY column to hash-match.

    Plan/scale: count rollup per customer first (map-side combined,
    one shuffle on custkey), bounded nation dim broadcast — and the
    rank window NEVER sees the customer-count-sized table: the
    rank-3 THRESHOLD value derives from the (nation, n_orders)
    value-distribution reduction (distinct count values + their
    multiplicities — bounded by value cardinality, not customers;
    running-sum window over those tiny per-nation groups), broadcasts
    back, and only customers at-or-above their nation's threshold
    (the output set itself) reach the final rank window. A 25-value
    partition key over millions of customers per nation would
    otherwise be exactly the low-parallelism window the zipf cap
    removed; here every window input is threshold- or output-sized."""
    c = (
        _t(spark, sf_dir, "customer")
        .join(
            _t(spark, sf_dir, "orders"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = c.join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
    # value distribution per nation: |distinct n_orders| rows/nation
    v = c.groupBy("n_name", "n_orders").agg(F.count("*").alias("m"))
    wv = W.partitionBy("n_name").orderBy(F.desc("n_orders"))
    thr = (
        v.withColumn(
            "cum", F.sum("m").over(wv.rowsBetween(W.unboundedPreceding, 0))
        )
        .withColumn("cum_before", F.col("cum") - F.col("m"))
        .where(F.col("cum_before") < 3)  # value spans rank positions <= 3
        .groupBy("n_name")
        .agg(F.min("n_orders").alias("thr"))
    )
    kept = c.join(F.broadcast(thr), "n_name").where(F.col("n_orders") >= F.col("thr"))
    r = kept.withColumn(
        "rnk",
        F.rank().over(W.partitionBy("n_name").orderBy(F.desc("n_orders"))).cast("int"),
    )
    return r.where(F.col("rnk") <= 3).select("n_name", "c_custkey", "n_orders", "rnk")


_MOM_SQL = """
WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
                  CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS revenue,
                  CAST(COUNT(*) AS BIGINT) AS n_orders
           FROM orders GROUP BY 1)
SELECT month, revenue, n_orders,
       LAG(revenue) OVER (ORDER BY month) AS prev_revenue,
       round(100.0 * (revenue - LAG(revenue) OVER (ORDER BY month))
             / LAG(revenue) OVER (ORDER BY month), 6) AS mom_pct
FROM m
"""


@register("timeseries_month_over_month", oracle=_MOM_SQL)
def timeseries_month_over_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MONTH-OVER-MONTH growth: monthly order revenue with the
    previous month's value and the percentage delta — the KPI query
    every revenue dashboard opens with, and the simplest member of
    the reporting family the multi-grain rollup feeds. Revenue sums
    in exact DECIMAL (order-independent) then one double division +
    round(6) per month-row.

    Plan/scale: corpus reduces to month rows in one map-side-combined
    aggregate; the LAG window is keyless but runs on MONTH-COUNT rows
    (time-span-bounded — the reduce-before-window rule), so the
    single partition holds dozens of rows at any corpus size."""
    m = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )
    prev = F.lag("revenue").over(W.orderBy("month"))
    return m.select(
        "month",
        "revenue",
        "n_orders",
        prev.alias("prev_revenue"),
        F.round(100.0 * (F.col("revenue") - prev) / prev, 6).alias("mom_pct"),
    )


_EMB_PROFILE_SQL = """
SELECT CAST(i - 1 AS INT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))
            AS BIGINT) AS min_micro,
       CAST(MAX(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))
            AS BIGINT) AS max_micro,
       CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT))
            // COUNT(*) AS BIGINT) AS mean_micro,
       CAST(SUM(CASE WHEN CAST(embedding[i] AS DOUBLE) = 0.0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_zero
FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
GROUP BY i
"""


@register("profile_embedding_dims", oracle=_EMB_PROFILE_SQL)
def profile_embedding_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DIMENSION PROFILE of the embedding column — min/max/mean
    (micro-quantized integers, exact at any partitioning) and
    zero-count per dimension. The vector-column data-quality check
    an ANN/similarity pipeline runs before trusting an index: a
    dimension stuck at zero (dead unit), a wildly off-scale range
    (unnormalized batch), or a drifted mean all surface here before
    they silently degrade recall. Completes the profiling family
    (``profile_orders_columns`` profiles scalars; this profiles the
    vector payload).

    Plan/scale: posexplode to (dim, value) — the linear d-fanout the
    mu-build uses — straight into ONE map-side-combined aggregate
    keyed on the 64-value dim; nothing else touches the corpus."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "v")
    )
    micro = F.round(F.col("v") * 1_000_000.0, 0).cast("long")
    return (
        emb.groupBy(F.col("i").cast("int").alias("dim"))
        .agg(
            F.count("*").alias("n"),
            F.min(micro).alias("min_micro"),
            F.max(micro).alias("max_micro"),
            F.expr(
                "sum(cast(round(v * 1000000.0, 0) as bigint)) div count(*)"
            ).alias("mean_micro"),
            F.sum((F.col("v") == 0.0).cast("long")).alias("n_zero"),
        )
    )


_TIME_TO_CONVERT_SQL = """
WITH f AS (SELECT user_id,
                  MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
                  MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                    AS first_purchase
           FROM events GROUP BY user_id),
c AS (SELECT user_id, first_view,
             (SELECT MIN(ts) FROM events e
              WHERE e.user_id = f.user_id AND e.event_type = 'purchase'
                AND e.ts >= f.first_view) AS conv_ts
      FROM f WHERE first_view IS NOT NULL)
SELECT user_id, first_view,
       conv_ts AS first_purchase_after,
       CAST(epoch_us(conv_ts) - epoch_us(first_view) AS BIGINT)
         AS time_to_convert_us,
       conv_ts IS NOT NULL AS converted
FROM c
"""


@register("funnel_time_to_convert", oracle=_TIME_TO_CONVERT_SQL)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERSION LATENCY: for every user who ever viewed, the time
    from their FIRST view to their first purchase AT OR AFTER it —
    the funnel family's missing time dimension
    (``funnel_view_click_purchase`` answers *whether* users convert;
    this answers *how long* it takes, the input to conversion-window
    and attribution decisions). Integer-microsecond latency;
    non-converting viewers keep NULLs and converted=false, so the
    cohort denominators stay visible.

    Spark-first plan: ONE conditional-MIN pass computes first_view
    and the purchase-timestamp set reduction per user; the "first
    purchase >= first view" is a second conditional MIN keyed the
    same way — both fold into a single map-side-combined groupBy on
    user_id (no self-join, no window: the oracle's correlated
    subquery decorrelates by hand into min(CASE WHEN purchase AND ts
    >= first_view), which needs first_view first, hence one re-join
    of the two tiny per-user reductions on the already-shuffled
    key)."""
    ev = _t(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view")
    ).where(F.col("first_view").isNotNull())
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("pts")
    )
    # the >= rides the JOIN condition (not a post-filter): a user whose
    # purchases all precede their first view must keep a NULL row, not
    # vanish
    conv = (
        f.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("pts") >= F.col("first_view")),
            "left",
        )
        .groupBy("user_id", "first_view")
        .agg(F.min("pts").alias("conv_ts"))
    )
    return conv.select(
        "user_id",
        "first_view",
        F.col("conv_ts").alias("first_purchase_after"),
        (F.unix_micros("conv_ts") - F.unix_micros("first_view")).alias(
            "time_to_convert_us"
        ),
        F.col("conv_ts").isNotNull().alias("converted"),
    )


_DECAY_SQL = """
WITH mx AS (SELECT MAX(ts) AS now FROM events),
t AS (SELECT user_id,
             CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE)
               * exp(-(CAST(epoch_us(mx.now) - epoch_us(ts) AS DOUBLE) / 86400000000.0) / 7.0)
               AS term
      FROM events, mx)
SELECT user_id,
       round(CAST(SUM(CAST(term AS DECIMAL(27,12))) AS DOUBLE) / 100.0, 6)
         AS decayed_engagement
FROM t GROUP BY user_id
"""


@register("timeseries_decay_engagement", oracle=_DECAY_SQL)
def timeseries_decay_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPONENTIAL TIME-DECAY engagement score per user: each event's
    value weighted by exp(-age_days/7) against the corpus's max
    timestamp (the deterministic 'now' — no wall clock, so reruns and
    both engines agree), summed per user — the recency-weighted
    activity score ranking/retention systems maintain, and the
    closed-form batch twin of the streaming EWMA (EWMA folds the
    recurrence; the decay sum is its order-free integral form).
    Exactness policy: each per-event term is ONE double expression
    (identical in both engines), then CAST TO DECIMAL(27,12) BEFORE
    the per-user sum — the NB-filter device that makes the
    accumulation order-independent — and round(6) seals the final
    division.

    Plan/scale: one-row max broadcast, map-only term computation,
    ONE map-side-combined groupBy on user_id. Nothing else."""
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("now"))
    t = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        (
            F.round(F.col("value") * 100).cast("long").cast("double")
            * F.exp(
                -(
                    (F.unix_micros("now") - F.unix_micros("ts")).cast("double")
                    / 86400000000.0
                )
                / 7.0
            )
        ).alias("term"),
    )
    return t.groupBy("user_id").agg(
        F.round(
            F.sum(F.col("term").cast("decimal(27,12)")).cast("double") / 100.0, 6
        ).alias("decayed_engagement")
    )


_ACF_SQL = """
WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  SUM(CAST(round(value * 100) AS BIGINT)) AS cents
           FROM events GROUP BY 1, 2),
p AS (SELECT a.event_type, lag.k AS k, a.cents, b.cents AS prev
      FROM d a, UNNEST(generate_series(1, 7)) AS lag(k)
      JOIN d b ON b.event_type = a.event_type
              AND b.day = a.day - CAST(lag.k AS INTEGER)),
m AS (SELECT event_type, CAST(k AS INT) AS k,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(cents) AS BIGINT) AS sx,
             CAST(SUM(prev) AS BIGINT) AS sy,
             CAST(SUM(cents * prev) AS BIGINT) AS sxy,
             CAST(SUM(cents * cents) AS BIGINT) AS sxx,
             CAST(SUM(prev * prev) AS BIGINT) AS syy
      FROM p GROUP BY event_type, k)
SELECT event_type, k, n_pairs,
       CASE WHEN (CAST(sxx AS DOUBLE) / n_pairs
                  - (CAST(sx AS DOUBLE) / n_pairs) * (CAST(sx AS DOUBLE) / n_pairs))
                 * (CAST(syy AS DOUBLE) / n_pairs
                    - (CAST(sy AS DOUBLE) / n_pairs) * (CAST(sy AS DOUBLE) / n_pairs)) <= 0
            THEN NULL
            ELSE round((CAST(sxy AS DOUBLE) / n_pairs
                        - (CAST(sx AS DOUBLE) / n_pairs) * (CAST(sy AS DOUBLE) / n_pairs))
                       / sqrt((CAST(sxx AS DOUBLE) / n_pairs
                               - (CAST(sx AS DOUBLE) / n_pairs) * (CAST(sx AS DOUBLE) / n_pairs))
                              * (CAST(syy AS DOUBLE) / n_pairs
                                 - (CAST(sy AS DOUBLE) / n_pairs) * (CAST(sy AS DOUBLE) / n_pairs))),
                       6)
       END AS acf
FROM m
"""


@register("timeseries_autocorrelation", oracle=_ACF_SQL)
def timeseries_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION FUNCTION (Pearson r at lags 1-7 days) of each
    event type's daily value series — the seasonality detector that
    justifies the seasonal-naive baseline quantitatively (a weekly
    cycle shows as an ACF peak at lag 7). Exactness: the five
    co-moment sums are EXACT BIGINT (integer cents, bounded:
    cents² ~ 1e12 × ~1e3 days ≪ 2^63) at any partitioning; the
    Pearson finish is the identical double expression both engines
    run + round(6) — the ``agg_covariance_matrix`` recipe applied to
    a lagged self-pairing. Degenerate series (zero variance on either
    side — a constant series or a single-pair lag) emit NULL via the
    SAME ``vx·vy <= 0`` guard stated in both engines (<=, not ==: large
    constant cents can round the moment difference to -eps, and
    sqrt(negative) is a hard DuckDB error): unguarded, Spark's
    Divide returns NULL on a zero divisor while DuckDB follows IEEE
    (inf/NaN), a latent hash divergence (round-8 advice).

    Plan/scale: corpus → (type, day) rollup once (map-side combined,
    time-span-bounded); the lag spine explodes the REDUCTION ×7 (not
    the corpus), windows partition by (type, k) over day-count rows,
    and the co-moment aggregate reduces 7·|types| rows out."""
    d = _daily_cents(spark, sf_dir)
    # CALENDAR lags (day - k), not row lags: on gappy series a row
    # LAG pairs different weekdays — the same honesty rule as
    # timeseries_seasonal_naive_residuals; both engines pair via a
    # self-join of the day-rolled reduction on the shifted date
    k_spine = d.select(
        "event_type", "day", "cents",
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("k"),
    )
    shifted = d.select(
        F.col("event_type").alias("et2"),
        F.col("day").alias("pday"),
        F.col("cents").alias("prev"),
    )
    p = k_spine.join(
        shifted,
        (F.col("event_type") == F.col("et2"))
        & (F.col("pday") == F.expr("date_sub(day, k)")),
    ).drop("et2", "pday")
    m = p.groupBy("event_type", F.col("k").cast("int").alias("k")).agg(
        F.count("*").alias("n_pairs"),
        F.sum("cents").alias("sx"),
        F.sum("prev").alias("sy"),
        F.sum(F.col("cents") * F.col("prev")).alias("sxy"),
        F.sum(F.col("cents") * F.col("cents")).alias("sxx"),
        F.sum(F.col("prev") * F.col("prev")).alias("syy"),
    )
    n = F.col("n_pairs").cast("double")
    ex = F.col("sx").cast("double") / n
    ey = F.col("sy").cast("double") / n
    cov = F.col("sxy").cast("double") / n - ex * ey
    vx = F.col("sxx").cast("double") / n - ex * ex
    vy = F.col("syy").cast("double") / n - ey * ey
    return m.select(
        "event_type", "k", "n_pairs",
        # <= 0, not == 0: a constant LARGE-cents series can round the
        # moment difference to -eps past 2^53, and sqrt(negative) is a
        # hard error in DuckDB while Spark returns NaN (review finding)
        F.when(vx * vy <= 0, F.lit(None).cast("double"))
        .otherwise(F.round(cov / F.sqrt(vx * vy), 6))
        .alias("acf"),
    )


_BOUNCE_SQL = """
WITH t AS (SELECT user_id, ts, event_id FROM events),
b AS (SELECT *, CASE WHEN ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                       OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
      FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM b),
g AS (SELECT user_id, sid, MIN(CAST(ts AS DATE)) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM s GROUP BY user_id, sid)
SELECT CAST(day AS TIMESTAMP) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS bounce_rate
FROM g GROUP BY day
"""


@register("funnel_bounce_rate_daily", oracle=_BOUNCE_SQL)
def funnel_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAILY BOUNCE RATE: sessions (30-min gap) grouped by their
    start day, with the single-event-session fraction — the
    engagement-quality KPI beside DAU
    (``timeseries_active_users``): high DAU with a rising bounce
    rate is a different product story than high DAU with sticky
    sessions. Bounce = EXACTLY one event in the session, days keyed
    by session START (a session spanning midnight counts once,
    where it began).

    Plan/scale: gaps-and-islands sessionization (lag + running sum of
    breaks over one (user_id) exchange — the same strictly-greater
    gap comparison the oracle states, see
    ``pattern_session_sequences`` for why session_window's
    equal-gap-boundary semantics diverge), then a day-count-sized
    rollup — reduce-before-everything; the rate is one division +
    round(6) per day row."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    g = (
        _sessionize(ev, "30 MINUTES")
        .groupBy("user_id", "sid")
        .agg(F.min(F.col("ts").cast("date")).alias("day"), F.count("*").alias("n_events"))
        .select("day", "n_events")
    )
    bounce = F.sum((F.col("n_events") == 1).cast("long"))
    return (
        g.groupBy(F.col("day").cast("timestamp").alias("day"))
        .agg(
            F.count("*").alias("n_sessions"),
            bounce.alias("n_bounces"),
            F.round(bounce.cast("double") / F.count("*"), 6).alias("bounce_rate"),
        )
    )


_GINI_SQL = """
WITH c AS (SELECT o_custkey,
                  SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders GROUP BY o_custkey),
r AS (SELECT cents,
             CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS i
      FROM c),
a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS total,
             SUM(CAST(i AS DECIMAL(38,0)) * cents) AS iw
      FROM r)
SELECT n AS n_customers, total AS total_cents,
       round((2.0 * CAST(iw AS DOUBLE) - (n + 1.0) * CAST(total AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE)), 6) AS gini
FROM a
"""


@register("agg_gini_customer_spend", oracle=_GINI_SQL)
def agg_gini_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of customer spend — the inequality/
    concentration statistic (how much of the revenue sits with how few
    customers; the same machinery profiles corpus-source token
    concentration before a training mix is weighted). Exact form on
    the SORTED reduction: G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) with
    1-based ranks — per-customer cents are exact integers, the
    rank-weighted sum accumulates in DECIMAL(38,0) (i·x reaches ~1e20
    past BIGINT by ~sf10), and ties take a (cents, custkey) total
    order whose rank assignment is tie-invariant for the sum (equal x
    across consecutive ranks contributes the same Σi·x under any
    permutation). One double finish + round(6).

    Plan/scale: corpus → per-customer rollup (map-side combined, one
    shuffle); the global ranking is the DISTRIBUTED two-phase rank
    over the CUSTOMER REDUCTION (``_ranked_customer_spend``: parallel
    range-partitioned sort + driver prefix-sum of per-partition
    counts — the store's dense-rowid protocol), so no single-partition
    sort exists anywhere in the plan (plan-pinned; the r9 verdict's
    named perf-weak point); the rank-weighted sum is one map-side-
    combined aggregate over the ranked rows."""
    r, _ = _ranked_customer_spend(spark, sf_dir)
    a = r.agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("total"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents")).alias("iw"),
    )
    n = F.col("n").cast("double")
    total = F.col("total").cast("double")
    return a.select(
        F.col("n").alias("n_customers"),
        F.col("total").alias("total_cents"),
        F.round(
            (2.0 * F.col("iw").cast("double") - (n + 1.0) * total) / (n * total), 6
        ).alias("gini"),
    )


_THEIL_SEN_SQL = """
WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  SUM(CAST(round(value * 100) AS BIGINT)) AS cents
           FROM events GROUP BY 1, 2),
p AS (SELECT a.event_type,
             CAST(b.cents - a.cents AS DOUBLE)
               / date_diff('day', a.day, b.day) AS slope
      FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(median(slope), 6) AS theil_sen_slope_cents_per_day
FROM p GROUP BY event_type
"""


@register("timeseries_theil_sen_trend", oracle=_THEIL_SEN_SQL)
def timeseries_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL–SEN ROBUST TREND per event type: the median of all
    pairwise slopes of the daily value series — the trend estimator
    that shrugs off the outlier days OLS chases (29% breakdown point;
    Sen 1968), i.e. the number to read when CUSUM
    (``timeseries_cusum_changepoint``) says the level moved and you
    want the drift rate without the spike days voting. Slopes are one
    double division each from exact integer cents and exact day
    differences — identical IEEE values both engines — and the median
    interpolates the two middle doubles identically (Spark
    ``percentile(0.5)`` == DuckDB ``median`` on DOUBLE); round(6)
    absorbs the finish.

    Plan/scale: the pairwise self-join runs on the DAY-ROLLUP
    REDUCTION, never the corpus — pairs are time-span-bounded
    (365 days → ~66k slopes per type regardless of corpus size, the
    ``join_interval_overlap`` reduction discipline), then one
    map-side-combined aggregate per type. The corpus is touched once
    for the rollup."""
    d = _daily_cents(spark, sf_dir)
    a = d.select("event_type", F.col("day").alias("d1"), F.col("cents").alias("c1"))
    b = d.select(
        F.col("event_type").alias("et2"),
        F.col("day").alias("d2"),
        F.col("cents").alias("c2"),
    )
    p = (
        a.join(b, (F.col("event_type") == F.col("et2")) & (F.col("d1") < F.col("d2")))
        .select(
            "event_type",
            (
                (F.col("c2") - F.col("c1")).cast("double")
                / F.datediff(F.col("d2"), F.col("d1"))
            ).alias("slope"),
        )
    )
    return p.groupBy("event_type").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.percentile(F.col("slope"), F.lit(0.5)), 6).alias(
            "theil_sen_slope_cents_per_day"
        ),
    )


_BENFORD_SQL = """
WITH c AS (SELECT cents FROM
             (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents
              FROM orders)
           WHERE cents >= 1),
d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit FROM c),
a AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM a)
SELECT digit, n,
       round(CAST(n AS DOUBLE) / total, 6) AS observed_freq,
       round(log10(1.0 + 1.0 / digit), 6) AS benford_freq,
       round(pow(CAST(n AS DOUBLE) / total - log10(1.0 + 1.0 / digit), 2)
             / log10(1.0 + 1.0 / digit) * total, 6) AS chi2_term
FROM a, t
"""


@register("agg_benford_first_digit", oracle=_BENFORD_SQL)
def agg_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW first-digit profile of order totals: observed
    vs expected leading-digit frequencies and the per-digit chi-square
    contribution — the anomaly screen auditors run on financial
    columns and data teams run on any organically-generated magnitude
    column (synthetic or truncated data shows up as a flat digit
    histogram; TPC-H's uniform price generator deliberately FAILS
    Benford, which the chi2 terms quantify). Exactness: the leading
    digit comes from the INTEGER cents rendered as a string (both
    engines print a BIGINT identically — no float log10 in the digit
    path); frequencies and the chi-square finish are one double
    expression per 9-row output + round(6).

    Plan/scale: one map-side-combined 9-group aggregate over the scan
    (the digit projection fuses into it); the total is a one-row
    broadcast cross-join. Output: 9 rows at any scale."""
    # guard on the INTEGER cents, not the raw price: 0 < price < 0.005
    # rounds to cents = 0 whose "first digit" is 0 and divides the
    # Benford expectation by zero (review finding)
    c = (
        _t(spark, sf_dir, "orders")
        .select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .where(F.col("cents") >= 1)
    )
    a = c.select(
        F.substring(F.col("cents").cast("string"), 1, 1).cast("int").alias("digit")
    ).groupBy("digit").agg(F.count("*").alias("n"))
    t = a.agg(F.sum("n").alias("total"))
    obs = F.col("n").cast("double") / F.col("total")
    ben = F.log10(1.0 + 1.0 / F.col("digit"))
    return a.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(obs, 6).alias("observed_freq"),
        F.round(ben, 6).alias("benford_freq"),
        F.round(F.pow(obs - ben, 2) / ben * F.col("total"), 6).alias("chi2_term"),
    )


_OLS_TREND_SQL = """
WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  SUM(CAST(round(value * 100) AS BIGINT)) AS cents
           FROM events GROUP BY 1, 2),
x AS (SELECT event_type, cents,
             CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS xd
      FROM d),
s AS (SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xd) AS BIGINT) AS sx,
             CAST(SUM(cents) AS BIGINT) AS sy,
             SUM(CAST(xd AS DECIMAL(38,0)) * cents) AS sxy,
             CAST(SUM(xd * xd) AS BIGINT) AS sxx
      FROM x GROUP BY event_type)
SELECT event_type, n AS n_days,
       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
            THEN NULL
            ELSE round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
       END AS ols_slope_cents_per_day
FROM s
"""


@register("timeseries_ols_trend", oracle=_OLS_TREND_SQL)
def timeseries_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSICAL least-squares trend per event type — the companion
    to ``timeseries_theil_sen_trend``: OLS chases outlier days while
    Theil-Sen shrugs them off, and the GAP between the two slopes is
    the standard outlier-influence diagnostic (agree → trust the
    cheap OLS; diverge → the robust estimate is the honest one).
    Exactness: x is the epoch day NUMBER (exact integer both
    engines), so all five regression sums are exact — x·y accumulates
    in DECIMAL(38,0) (day-number × cents reaches ~2e13 per row);
    the finish is one double expression + round(6) behind the shared
    zero-denominator guard (single-day series → NULL, the ACF-guard
    class).

    Plan/scale: one corpus scan to the (type, day) rollup (map-side
    combined), one 5-term aggregate per type — NO pairwise join at
    all, the O(n) counterpart to Theil-Sen's O(n²)-on-the-reduction.
    Output: one row per event type."""
    d = _daily_cents(spark, sf_dir)
    x = d.select(
        "event_type",
        "cents",
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("xd"),
    )
    s = x.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("xd").alias("sx"),
        F.sum("cents").alias("sy"),
        F.sum(F.col("xd").cast("decimal(38,0)") * F.col("cents")).alias("sxy"),
        F.sum(F.col("xd") * F.col("xd")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    den = n * F.col("sxx").cast("double") - sx * sx
    slope = (n * F.col("sxy").cast("double") - sx * sy) / den
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.round(slope, 6))
        .alias("ols_slope_cents_per_day"),
    )


_LORENZ_SQL = """
WITH c AS (SELECT o_custkey,
                  SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
           FROM orders GROUP BY o_custkey),
r AS (SELECT o_custkey, cents,
             NTILE(10) OVER (ORDER BY cents, o_custkey) AS decile
      FROM c),
a AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(cents) AS BIGINT) AS cents
      FROM r GROUP BY decile),
t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM a)
SELECT CAST(decile AS INT) AS decile, n_customers, cents,
       round(CAST(cents AS DOUBLE) / total, 6) AS share,
       round(CAST(SUM(cents) OVER (ORDER BY decile
                                   ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / total, 6) AS cum_share
FROM a, t
"""


@register("agg_lorenz_deciles", oracle=_LORENZ_SQL)
def agg_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LORENZ CURVE by customer-spend decile — the table behind the
    ``agg_gini_customer_spend`` scalar: cumulative revenue share of
    the poorest k/10 of customers (Gini is twice the area between
    this curve and the diagonal; the decile table is what a revenue
    team actually reads — 'the top decile is X% of revenue').
    Exactness: deciles come from NTILE(10) over the identical
    (cents, custkey) total order, integer sums per decile, one
    division + round(6) per output row; the cumulative share is a
    10-row window.

    Plan/scale: the same reduce-then-rank shape as Gini — per-customer
    rollup (one map-side-combined shuffle), then the DISTRIBUTED
    two-phase rank (``_ranked_customer_spend``) instead of a
    single-partition NTILE: the decile is NTILE(10)'s closed form on
    the global rank (with n = q·10 + rem, the first ``rem`` tiles
    take q+1 rows, the rest q — bit-identical to the window
    function), then a 10-row aggregate. Output: 10 rows at any
    scale, no single-partition sort anywhere (plan-pinned)."""
    r, n_total = _ranked_customer_spend(spark, sf_dir)
    q, rem = divmod(n_total, 10)
    i0 = F.col("i") - 1  # 0-based rank
    head = rem * (q + 1)  # rows covered by the q+1-sized tiles
    decile = (
        F.when(i0 < head, F.expr(f"(i - 1) div {q + 1}"))
        # max(q,1): with n < 10 the head covers every row and this
        # branch is never selected; the guard only keeps the unused
        # expression from dividing by zero
        .otherwise(rem + F.expr(f"(i - 1 - {head}) div {max(q, 1)}"))
        + 1
    )
    a = r.select(decile.alias("decile"), "cents").groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").alias("cents"),
    )
    t = a.agg(F.sum("cents").alias("total"))
    cum = F.sum("cents").over(
        W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        a.crossJoin(F.broadcast(t))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_customers",
            "cents",
            F.round(F.col("cents").cast("double") / F.col("total"), 6).alias("share"),
            F.round(cum.cast("double") / F.col("total"), 6).alias("cum_share"),
        )
    )


def _ks_sides(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pair, side, cents) sample construction shared by the exact
    two-sample KS test and its binned scale twin: the organic
    BUILDING-vs-MACHINERY pair plus the deterministically inflated
    drifted twin (``cents * 110 div 100``) — one definition, so the
    twin ops disagree only in their value axis, never their samples."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    c = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("seg"))
    )
    base = o.join(c, "o_custkey").select("seg", "cents")
    organic = base.select(
        F.lit("building_vs_machinery").alias("pair"),
        F.when(F.col("seg") == "BUILDING", 0).otherwise(1).alias("side"),
        "cents",
    )
    b = base.where(F.col("seg") == "BUILDING")
    twin = b.select(
        F.lit("building_vs_inflated_twin").alias("pair"),
        F.lit(0).alias("side"),
        "cents",
    ).unionAll(
        b.select(
            F.lit("building_vs_inflated_twin").alias("pair"),
            F.lit(1).alias("side"),
            F.expr("cents * 110 div 100").alias("cents"),
        )
    )
    return organic.unionAll(twin)


_KS_SQL = """
WITH base AS (SELECT c.c_mktsegment AS seg,
                     CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
s AS (SELECT 'building_vs_machinery' AS pair,
             CASE WHEN seg = 'BUILDING' THEN 0 ELSE 1 END AS side, cents
      FROM base
      UNION ALL
      SELECT 'building_vs_inflated_twin', 0, cents FROM base WHERE seg = 'BUILDING'
      UNION ALL
      SELECT 'building_vs_inflated_twin', 1, cents * 110 // 100
      FROM base WHERE seg = 'BUILDING'),
e AS (SELECT pair, cents,
             SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS c2
      FROM s GROUP BY pair, cents),
f AS (SELECT pair,
             SUM(c1) OVER (PARTITION BY pair ORDER BY cents
                           ROWS UNBOUNDED PRECEDING) AS f1,
             SUM(c2) OVER (PARTITION BY pair ORDER BY cents
                           ROWS UNBOUNDED PRECEDING) AS f2,
             SUM(c1) OVER (PARTITION BY pair) AS n1,
             SUM(c2) OVER (PARTITION BY pair) AS n2
      FROM e),
d AS (SELECT pair,
             CAST(MAX(n1) AS BIGINT) AS n1,
             CAST(MAX(n2) AS BIGINT) AS n2,
             CAST(MAX(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS dmax
      FROM f GROUP BY pair)
SELECT pair, n1, n2,
       round(CAST(dmax AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 6) AS ks_stat,
       (CAST(dmax AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2))
         > 1.358 * sqrt((n1 + CAST(n2 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * n2))
         AS reject_same_dist_005
FROM d
"""


@register("agg_ks_two_sample", oracle=_KS_SQL)
def agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-SAMPLE KOLMOGOROV-SMIRNOV test — the numeric-column drift
    detector beside the token-level ``pipeline_unigram_drift_kl``
    (did this batch's value distribution shift vs the reference?).
    Two pairs so BOTH outcomes of the decision are exercised on this
    fixture (the line-rules registration bar): the ORGANIC pair
    (BUILDING vs MACHINERY order totals — TPC-H's uniform generator
    gives identical distributions, correctly NOT rejected at
    ks ~ 0.022) and a SYNTHESIZED drifted twin (BUILDING vs its own
    totals deterministically inflated 10%, integer ``cents*110 div
    100`` stated in both engines — rejected). EXACT argmax: the ECDF
    gap is maximized on the INTEGER cross-multiplied form
    |F1*n2 - F2*n1| (no float ECDF anywhere near the max; bounded by
    n1*n2 <~ 9e14 at sf100, inside BIGINT), then ONE double division +
    round(6); the alpha=0.05 decision compares against the asymptotic
    critical value 1.358*sqrt((n1+n2)/(n1*n2)) with both sides
    computing identical doubles.

    Plan/scale: join prunes to two segments, reduces to the DISTINCT
    (pair, value) grid (one map-side-combined shuffle), then a
    per-pair cumulative window over the GRID — the reduce-then-rank
    shape, with the honest caveat that the grid is value-cardinality-
    bounded, not time-bounded like the day rollups; at 100 TB you
    pre-bin the value axis (binned KS is a valid conservative test)
    the way ``agg_equidepth_histogram`` buckets, trading resolution
    for a bounded grid. Output: 2 rows."""
    s = _ks_sides(spark, sf_dir)
    e = s.groupBy("pair", "cents").agg(
        F.sum((F.col("side") == 0).cast("long")).alias("c1"),
        F.sum((F.col("side") == 1).cast("long")).alias("c2"),
    )
    # side totals ride the SAME per-pair exchange as the cumulative
    # window (full-partition frames) instead of a separate aggregate
    # subtree re-evaluating the corpus scan plus two joins back
    # (round-9 review finding): one pass over the grid carries the
    # ECDF numerators AND their denominators
    wf = W.partitionBy("pair").orderBy("cents").rowsBetween(W.unboundedPreceding, 0)
    wp = W.partitionBy("pair")
    f = e.select(
        "pair",
        F.sum("c1").over(wf).alias("f1"),
        F.sum("c2").over(wf).alias("f2"),
        F.sum("c1").over(wp).alias("n1"),
        F.sum("c2").over(wp).alias("n2"),
    )
    d = f.groupBy("pair").agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max(
            F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
        ).alias("dmax"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    ks = F.col("dmax").cast("double") / (n1 * n2)
    crit = 1.358 * F.sqrt((F.col("n1") + n2) / (n1 * n2))
    return d.select(
        "pair",
        "n1",
        "n2",
        F.round(ks, 6).alias("ks_stat"),
        (ks > crit).alias("reject_same_dist_005"),
    )


#: Fixed bin width of the binned KS twin, in cents: $1,000. TPC-H
#: order totals span ~$900-$560k, so the grid is <= ~560 populated
#: bins AT ANY SCALE FACTOR — the property the twin exists for.
KS_BIN_CENTS = 100_000

_KS_BINNED_SQL = f"""
WITH base AS (SELECT c.c_mktsegment AS seg,
                     CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
s AS (SELECT 'building_vs_machinery' AS pair,
             CASE WHEN seg = 'BUILDING' THEN 0 ELSE 1 END AS side, cents
      FROM base
      UNION ALL
      SELECT 'building_vs_inflated_twin', 0, cents FROM base WHERE seg = 'BUILDING'
      UNION ALL
      SELECT 'building_vs_inflated_twin', 1, cents * 110 // 100
      FROM base WHERE seg = 'BUILDING'),
e AS (SELECT pair, cents // {KS_BIN_CENTS} AS bin,
             SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS c2
      FROM s GROUP BY pair, bin),
f AS (SELECT pair,
             SUM(c1) OVER (PARTITION BY pair ORDER BY bin
                           ROWS UNBOUNDED PRECEDING) AS f1,
             SUM(c2) OVER (PARTITION BY pair ORDER BY bin
                           ROWS UNBOUNDED PRECEDING) AS f2,
             SUM(c1) OVER (PARTITION BY pair) AS n1,
             SUM(c2) OVER (PARTITION BY pair) AS n2
      FROM e),
d AS (SELECT pair,
             CAST(MAX(n1) AS BIGINT) AS n1,
             CAST(MAX(n2) AS BIGINT) AS n2,
             CAST(COUNT(*) AS BIGINT) AS n_bins,
             CAST(MAX(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS dmax
      FROM f GROUP BY pair)
SELECT pair, n1, n2, n_bins,
       round(CAST(dmax AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2), 6) AS ks_stat_binned,
       (CAST(dmax AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2))
         > 1.358 * sqrt((n1 + CAST(n2 AS DOUBLE)) / (CAST(n1 AS DOUBLE) * n2))
         AS reject_same_dist_005
FROM d
"""


@register("agg_ks_binned", oracle=_KS_BINNED_SQL)
def agg_ks_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINNED two-sample KS — the SCALE TWIN of ``agg_ks_two_sample``
    (r9 verdict task 4): the exact op's cumulative window runs over
    the distinct-VALUE grid, which is value-cardinality-bounded, not
    time-bounded — at 100 TB the cents grid approaches |orders| and
    the per-pair window inherits an unbounded sort. This twin
    pre-bins the value axis at a FIXED width (``KS_BIN_CENTS`` =
    $1,000 — the ``agg_equidepth_histogram`` bucketing pattern, but
    equi-WIDTH so the bin id is one integer division, no quantile
    pass), then computes the IDENTICAL integer cross-multiplied ECDF
    argmax on the bin grid (<= ~560 populated bins at any SF).

    CONSERVATIVE-test property: the binned ECDF evaluated at bin
    boundaries is the exact ECDF evaluated at a SUBSET of its jump
    points, so D_binned <= D_exact always — a rejection from the
    binned statistic is always confirmed by the exact test, and the
    resolution loss is bounded by the probability mass of one bin
    (pytest pins decision agreement with the exact op at gate scale
    and the statistic gap within bin resolution).

    Plan/scale: same reduce shape as the exact twin — one map-side-
    combined (pair, bin) aggregate (grid rows, bounded), totals and
    cumulative ECDF on ONE per-pair exchange, 2-row output. The
    window sort is over <= ~560 rows per pair regardless of corpus
    size — the flat-ladder property the exact op can't have."""
    s = _ks_sides(spark, sf_dir)
    e = s.groupBy("pair", F.expr(f"cents div {KS_BIN_CENTS}").alias("bin")).agg(
        F.sum((F.col("side") == 0).cast("long")).alias("c1"),
        F.sum((F.col("side") == 1).cast("long")).alias("c2"),
    )
    wf = W.partitionBy("pair").orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    wp = W.partitionBy("pair")
    f = e.select(
        "pair",
        F.sum("c1").over(wf).alias("f1"),
        F.sum("c2").over(wf).alias("f2"),
        F.sum("c1").over(wp).alias("n1"),
        F.sum("c2").over(wp).alias("n2"),
    )
    d = f.groupBy("pair").agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.count("*").alias("n_bins"),
        F.max(
            F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
        ).alias("dmax"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    ks = F.col("dmax").cast("double") / (n1 * n2)
    crit = 1.358 * F.sqrt((F.col("n1") + n2) / (n1 * n2))
    return d.select(
        "pair",
        "n1",
        "n2",
        "n_bins",
        F.round(ks, 6).alias("ks_stat_binned"),
        (ks > crit).alias("reject_same_dist_005"),
    )


# --------------------------------------------- categorical association
def _segment_priority_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency cells of (customer market segment x order priority)
    with row/column/grand totals attached — the shared build of the
    categorical-association pair (chi-square test, mutual
    information). Counts are exact integers. The marginals are
    WINDOWS over the <=25-cell grid (the oracle's own shape):
    aggregate-then-join-back looked cheaper but re-derived the corpus
    join once per marginal — 4 scans of orders+customer in the
    executed plan (round-10 plan-audit finding); window sums over a
    25-row frame read the ONE map-side-combined corpus aggregate."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("seg")
    )
    cells = (
        o.join(c, "o_custkey")
        .groupBy("seg", F.col("o_orderpriority").alias("pri"))
        .agg(F.count("*").alias("n_ij"))
    )
    wall = W.partitionBy()
    return cells.select(
        "seg",
        "pri",
        "n_ij",
        F.sum("n_ij").over(W.partitionBy("seg")).alias("rt"),
        F.sum("n_ij").over(W.partitionBy("pri")).alias("ct"),
        F.sum("n_ij").over(wall).alias("n"),
        F.size(F.collect_set("seg").over(wall)).cast("long").alias("r"),
        F.size(F.collect_set("pri").over(wall)).cast("long").alias("c"),
    )


_CHI2_SQL = """
WITH cells AS (SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
                      CAST(COUNT(*) AS BIGINT) AS n_ij
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
               GROUP BY 1, 2),
m AS (SELECT *,
             SUM(n_ij) OVER (PARTITION BY seg) AS rt,
             SUM(n_ij) OVER (PARTITION BY pri) AS ct,
             SUM(n_ij) OVER () AS n
      FROM cells),
s AS (SELECT CAST(MAX(n) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT seg) AS BIGINT) AS r,
             CAST(COUNT(DISTINCT pri) AS BIGINT) AS c,
             SUM(CAST(
                 (n_ij - CAST(rt AS DOUBLE) * ct / n)
                 * (n_ij - CAST(rt AS DOUBLE) * ct / n)
                 / (CAST(rt AS DOUBLE) * ct / n)
                 AS DECIMAL(27,15))) AS chi2_acc
      FROM m)
SELECT n, r, c, (r - 1) * (c - 1) AS dof,
       round(CAST(chi2_acc AS DOUBLE), 6) AS chi2,
       round(sqrt(CAST(chi2_acc AS DOUBLE)
                  / (n * CAST(LEAST(r - 1, c - 1) AS DOUBLE))), 6) AS cramers_v
FROM s
"""


@register("agg_chi2_independence", oracle=_CHI2_SQL)
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHI-SQUARE TEST OF INDEPENDENCE + Cramér's V between customer
    market segment and order priority — the CATEGORICAL drift/
    association detector beside the numeric ``agg_ks_two_sample`` and
    the token-level ``pipeline_unigram_drift_kl`` (did the label mix
    shift across a categorical axis?). chi2 = sum (O-E)^2/E over the
    contingency cells with E = row_total*col_total/n; Cramér's V
    normalizes it to [0,1] effect size (sqrt(chi2 / (n*min(r-1,c-1)))).
    Exactness: cell counts and marginals are exact integers; each
    cell's term is a fixed double expression (identical in both
    engines — E stated as CAST(rt AS DOUBLE)*ct/n in the same order),
    DECIMAL-cast before the ORDER-INDEPENDENT sum (the
    ``agg_covariance_matrix`` discipline), one double finish +
    round(6) for both statistics.

    Plan/scale: one equi-join + one map-side-combined aggregate to
    the <=25-cell grid; marginals are grid-sized aggregates that
    broadcast back; the reduction to one row is trivially parallel.
    At 100 TB the only data-sized work is the first aggregate —
    everything after runs on cells. TPC-H's independent generators
    give chi2 near dof (no association), which is itself the correct
    read; pytest re-derives the statistic in numpy from the raw
    contingency and pins the near-dof no-association reading."""
    m = _segment_priority_cells(spark, sf_dir)
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    term = (F.col("n_ij") - e) * (F.col("n_ij") - e) / e
    s = m.agg(
        F.max("n").alias("n"),
        F.max("r").alias("r"),
        F.max("c").alias("c"),
        F.sum(term.cast("decimal(27,15)")).alias("chi2_acc"),
    )
    chi2 = F.col("chi2_acc").cast("double")
    mind = F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
    return s.select(
        "n",
        "r",
        "c",
        ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(F.sqrt(chi2 / (F.col("n") * mind)), 6).alias("cramers_v"),
    )


_MI_SQL = """
WITH cells AS (SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
                      CAST(COUNT(*) AS BIGINT) AS n_ij
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
               GROUP BY 1, 2),
m AS (SELECT *,
             SUM(n_ij) OVER (PARTITION BY seg) AS rt,
             SUM(n_ij) OVER (PARTITION BY pri) AS ct,
             SUM(n_ij) OVER () AS n
      FROM cells),
s AS (SELECT CAST(MAX(n) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_cells,
             SUM(CAST(
                 (CAST(n_ij AS DOUBLE) / n)
                 * ln(CAST(n_ij AS DOUBLE) * n
                      / (CAST(rt AS DOUBLE) * ct))
                 AS DECIMAL(27,15))) AS mi_acc
      FROM m)
SELECT n, n_cells, round(CAST(mi_acc AS DOUBLE), 6) AS mi_nats
FROM s
"""


@register("agg_mutual_information", oracle=_MI_SQL)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL INFORMATION (nats) between customer market segment and
    order priority — the information-theoretic companion of
    ``agg_chi2_independence`` on the SAME contingency build (chi2
    answers 'is there any association'; MI measures HOW MANY bits the
    label mix leaks — the feature-selection / leakage-audit number a
    training pipeline reads before using a column as a conditioning
    signal). MI = sum p_ij * ln(p_ij / (p_i p_j)) over populated
    cells (empty cells contribute 0 by the 0*ln0 limit, and only
    populated cells exist in the grid — both engines agree
    structurally). Exactness: each populated cell's term is one
    double expression stated identically in both engines
    (``(n_ij/n) * ln(n_ij*n / (rt*ct))`` — the algebra avoids
    dividing twice), DECIMAL-cast before the order-independent sum,
    round(6) finish.

    Plan/scale: identical to the chi-square twin — one data-sized
    aggregate, then cell-count work. Output: one row."""
    m = _segment_priority_cells(spark, sf_dir)
    term = (F.col("n_ij").cast("double") / F.col("n")) * F.log(
        F.col("n_ij").cast("double")
        * F.col("n")
        / (F.col("rt").cast("double") * F.col("ct"))
    )
    s = m.agg(
        F.max("n").alias("n"),
        F.count("*").alias("n_cells"),
        F.sum(term.cast("decimal(27,15)")).alias("mi_acc"),
    )
    return s.select(
        "n", "n_cells", F.round(F.col("mi_acc").cast("double"), 6).alias("mi_nats")
    )


_MANN_KENDALL_SQL = """
WITH d0 AS (SELECT event_type, CAST(ts AS DATE) AS day,
                   SUM(CAST(round(value * 100) AS BIGINT)) AS cents
            FROM events GROUP BY 1, 2),
d AS (SELECT * FROM d0
      UNION ALL
      SELECT 'purchase_trend_twin', day,
             cents + 100000 * date_diff('day', DATE '2020-01-01', day)
      FROM d0 WHERE event_type = 'purchase'),
p AS (SELECT a.event_type,
             CAST(CASE WHEN b.cents > a.cents THEN 1
                       WHEN b.cents < a.cents THEN -1 ELSE 0 END AS BIGINT) AS sgn
      FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day),
s AS (SELECT event_type, CAST(SUM(sgn) AS BIGINT) AS s_stat
      FROM p GROUP BY event_type),
n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM d GROUP BY 1),
ties AS (SELECT event_type,
                CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                  AS tie_term
         FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
               FROM d GROUP BY event_type, cents)
         GROUP BY event_type),
z AS (SELECT n.event_type, n.n_days, s.s_stat,
             (n.n_days * (n.n_days - 1.0) * (2.0 * n.n_days + 5)
              - ties.tie_term) / 18.0 AS var_s
      FROM n JOIN s USING (event_type) JOIN ties USING (event_type))
SELECT event_type, n_days, s_stat,
       round(var_s, 6) AS var_s,
       round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                  WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                  ELSE 0.0 END, 6) AS mk_z,
       abs(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                ELSE 0.0 END) > 1.96 AS trend_significant_005
FROM z
"""


@register("timeseries_mann_kendall", oracle=_MANN_KENDALL_SQL)
def timeseries_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL TREND TEST per event type — the nonparametric
    IS-there-a-trend decision that pairs with the Theil-Sen HOW-MUCH
    estimator (the classical monotonic-trend toolkit: MK decides,
    Theil-Sen sizes): S = sum of pairwise signs of the daily series,
    variance with the standard tie correction
    (n(n-1)(2n+5) - sum t(t-1)(2t+5))/18, continuity-corrected
    z = (S -/+ 1)/sqrt(Var), |z| > 1.96 at alpha=0.05. S and the tie
    term are EXACT INTEGERS (pairwise signs on exact cents — no float
    anywhere until the final z), the variance is one fixed double
    expression, z one division + round(6) — bit-identical engines.
    Both decision outcomes exercise on this fixture (the KS
    registration bar): the organic series are trendless (correctly
    NOT significant) and a SYNTHESIZED trending twin (purchase cents
    + a deterministic 100k-cents/day ramp, stated identically in both
    engines) is detected.

    Plan/scale: the pairwise self-join runs on the DAY-ROLLUP
    REDUCTION exactly like ``timeseries_theil_sen_trend`` (time-span-
    bounded: ~66k pairs per type regardless of corpus size); the tie
    table is a second grid-sized aggregate of the same rollup; the
    corpus is touched once."""
    d0 = _daily_cents(spark, sf_dir)
    d = d0.unionAll(
        d0.where(F.col("event_type") == "purchase").select(
            F.lit("purchase_trend_twin").alias("event_type"),
            "day",
            (
                F.col("cents")
                + 100000 * F.datediff(F.col("day"), F.lit("2020-01-01").cast("date"))
            ).alias("cents"),
        )
    )
    a = d.select("event_type", F.col("day").alias("d1"), F.col("cents").alias("c1"))
    b = d.select(
        F.col("event_type").alias("et2"),
        F.col("day").alias("d2"),
        F.col("cents").alias("c2"),
    )
    s = (
        a.join(b, (F.col("event_type") == F.col("et2")) & (F.col("d1") < F.col("d2")))
        .select(
            "event_type",
            F.when(F.col("c2") > F.col("c1"), 1)
            .when(F.col("c2") < F.col("c1"), -1)
            .otherwise(0)
            .cast("long")
            .alias("sgn"),
        )
        .groupBy("event_type")
        .agg(F.sum("sgn").alias("s_stat"))
    )
    n = d.groupBy("event_type").agg(F.count("*").alias("n_days"))
    ties = (
        d.groupBy("event_type", "cents")
        .agg(F.count("*").alias("t"))
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    nd = F.col("n_days")
    var_s = (
        nd * (nd - F.lit(1.0)) * (F.lit(2.0) * nd + 5) - F.col("tie_term")
    ) / 18.0
    z = (
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / F.sqrt(F.col("var_s")))
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / F.sqrt(F.col("var_s")))
        .otherwise(F.lit(0.0))
    )
    out = n.join(s, "event_type").join(ties, "event_type").select(
        "event_type", "n_days", "s_stat", var_s.alias("var_s")
    )
    return out.select(
        "event_type",
        "n_days",
        "s_stat",
        F.round("var_s", 6).alias("var_s"),
        F.round(z, 6).alias("mk_z"),
        (F.abs(z) > 1.96).alias("trend_significant_005"),
    )


#: Candidate functional dependencies the FD profiler checks: a small
#: curated set with KNOWN answers on TPC-H-shaped data (two true key
#: dependencies, three genuine violations), so both outcomes of the
#: holds/fails verdict are exercised at every scale.
_FD_CANDIDATES = (
    ("orders", "o_orderkey", "o_custkey"),        # PK -> holds
    ("orders", "o_custkey", "o_orderpriority"),   # repeat buyers -> fails
    ("orders", "o_custkey", "o_orderstatus"),     # fails
    ("lineitem", "l_orderkey", "l_returnflag"),   # multi-line orders -> fails
    ("lineitem", "l_partkey", "l_suppkey"),       # 4 suppliers/part -> fails
)

_FD_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{t}' AS table_name, '{lhs}' AS lhs, '{rhs}' AS rhs,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_groups,
       CAST(MAX(n_rhs) AS BIGINT) AS max_rhs_per_group,
       SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (SELECT {lhs}, COUNT(DISTINCT {rhs}) AS n_rhs FROM {t} GROUP BY {lhs})"""
    for t, lhs, rhs in _FD_CANDIDATES
)


@register("profile_functional_dependencies", oracle=_FD_SQL)
def profile_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUNCTIONAL-DEPENDENCY PROFILING — the schema-discovery check a
    warehouse runs before trusting a column as a join key, dedup key,
    or partition column: for each candidate lhs -> rhs dependency,
    does every lhs group carry exactly one rhs value? Output per
    candidate: group count, violating-group count, the worst group's
    rhs cardinality, and the holds verdict. The curated candidate set
    (``_FD_CANDIDATES``) has two true dependencies (primary-key
    shaped) and three genuine violations, so both verdicts exercise
    at every fixture scale. Exactness: everything is an exact
    integer count; the verdict is an integer comparison.

    Plan/scale: each candidate is ONE map-side-combined
    countDistinct-per-group aggregate (two-phase under the hood:
    partial distinct then merge — no row explosion), reduced to one
    summary row; candidates run as a UNION of independent branches,
    so Spark schedules them concurrently and each branch column-prunes
    its scan to exactly (lhs, rhs). At 100 TB swap countDistinct for
    approx_count_distinct per the documented exact/approx twin policy
    when the verdict tolerance allows (a violation COUNT needs exact;
    a violation FLAG usually doesn't)."""
    outs = []
    for t, lhs, rhs in _FD_CANDIDATES:
        g = (
            _t(spark, sf_dir, t)
            .groupBy(lhs)
            .agg(F.countDistinct(rhs).alias("n_rhs"))
        )
        viol = F.sum((F.col("n_rhs") > 1).cast("long"))
        outs.append(
            g.agg(
                F.count("*").alias("n_groups"),
                viol.alias("n_violating_groups"),
                F.max("n_rhs").cast("long").alias("max_rhs_per_group"),
                (viol == 0).alias("holds"),
            ).select(
                F.lit(t).alias("table_name"),
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                "n_groups",
                "n_violating_groups",
                "max_rhs_per_group",
                "holds",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


_REACH_SQL = """
WITH fs AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS first_day
            FROM events GROUP BY user_id),
d AS (SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM fs GROUP BY first_day),
a AS (SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1)
SELECT CAST(a.day AS TIMESTAMP) AS day, a.dau,
       COALESCE(d.new_users, 0) AS new_users,
       CAST(SUM(COALESCE(d.new_users, 0))
            OVER (ORDER BY a.day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cumulative_reach
FROM a LEFT JOIN d ON d.day = a.day
"""


@register("timeseries_cumulative_reach", oracle=_REACH_SQL)
def timeseries_cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATIVE AUDIENCE REACH per day (distinct users ever seen up
    to and including each day) beside daily actives and new-user
    counts — the growth-accounting panel. The load-bearing rewrite:
    a windowed COUNT(DISTINCT) over an expanding frame is either
    unsupported or quadratic-state in every engine; the scalable form
    REDUCES FIRST — each user collapses to their FIRST day (one
    map-side-combined aggregate), daily new-user counts collapse that
    to |days| rows, and the expanding distinct count becomes a plain
    CUMULATIVE SUM on the day grid (new users on day t are exactly
    the users whose reach starts at t — disjoint by construction, so
    the sum IS the distinct count). Exactness: all integers.

    Plan/scale: two corpus-scan aggregates (per-user first day; daily
    DAU — both map-side combined, keyed shuffles), then windows over
    the bounded day grid (the reduce-then-rank discipline). At 100 TB
    both reductions shuffle on high-card keys, and nothing touches a
    single partition except the |days|-row finish."""
    ev = _t(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("first_day"))
    d = fs.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    a = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    wf = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return (
        a.join(d, "day", "left")
        .select(
            "day",
            "dau",
            F.coalesce("new_users", F.lit(0)).alias("new_users"),
        )
        .select(
            # timestamp cast = the family's pandas-dtype normalization
            # (DuckDB DATE materializes as datetime64; Spark DATE as
            # object — the driver hashes pandas frames)
            F.col("day").cast("timestamp").alias("day"),
            "dau",
            "new_users",
            F.sum("new_users").over(wf).alias("cumulative_reach"),
        )
    )


_ANOVA_SQL = """
WITH x AS (SELECT o_orderpriority AS pri,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS c
           FROM orders),
g AS (SELECT pri,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             SUM(CAST(c AS DECIMAL(38,0))) AS s_g,
             SUM(CAST(c AS DECIMAL(38,0)) * c) AS q_g
      FROM x GROUP BY pri),
t AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(s_g) AS s,
             SUM(CAST(
                 n_g * (CAST(s_g AS DOUBLE) / n_g
                        - CAST((SELECT SUM(s_g) FROM g) AS DOUBLE)
                          / (SELECT SUM(n_g) FROM g))
                     * (CAST(s_g AS DOUBLE) / n_g
                        - CAST((SELECT SUM(s_g) FROM g) AS DOUBLE)
                          / (SELECT SUM(n_g) FROM g))
                     / 10000.0
                 AS DECIMAL(38,15))) AS ssb_acc,
             SUM(CAST(
                 (CAST(q_g AS DOUBLE)
                  - CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g)
                     / 10000.0
                 AS DECIMAL(38,15))) AS ssw_acc
      FROM g)
SELECT g.pri, g.n_g,
       round(CAST(g.s_g AS DOUBLE) / 100.0 / g.n_g, 6) AS mean_price,
       t.k - 1 AS df_between,
       t.n - t.k AS df_within,
       round((CAST(t.ssb_acc AS DOUBLE) / (t.k - 1))
             / (CAST(t.ssw_acc AS DOUBLE) / (t.n - t.k)), 6) AS f_stat,
       round(CAST(t.ssb_acc AS DOUBLE)
             / (CAST(t.ssb_acc AS DOUBLE) + CAST(t.ssw_acc AS DOUBLE)),
             6) AS eta_squared
FROM g, t
"""


@register("agg_anova_oneway", oracle=_ANOVA_SQL)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA F-test of order value across the five order
    priorities — the numeric-response companion of the categorical
    pair (``agg_chi2_independence`` / ``agg_mutual_information``):
    chi-square asks whether two LABEL columns associate; ANOVA asks
    whether a NUMERIC column's mean differs across label groups (does
    priority shift spend?). F = (SSB/(k-1)) / (SSW/(N-k)) with SSB/SSW
    from the textbook decomposition; eta² = SSB/(SSB+SSW) is the
    effect size. Every per-group row carries the global statistic so
    the table is self-describing (the ``graph_degree_distribution``
    convention).

    Exactness: prices collapse to integer cents (round(x*100) — the
    half-up/half-away agreement holds for positive values), so the
    per-group moments n, Σc, Σc² are EXACT integers (DECIMAL(38,0)
    sums — Σc² reaches ~1e21 at ~sf10, past BIGINT); each group's SSB
    and SSW contribution is then ONE fixed double expression stated
    identically in both engines, DECIMAL(38,15)-cast before the
    order-independent k-row sum, one double finish + round(6). Float
    group means never enter the accumulation.

    Plan/scale: ONE corpus scan into a map-side-combined per-priority
    aggregate (k=5 rows); grand totals and the SSB/SSW accumulations
    are WINDOWS over that k-row grid (the contingency-marginals
    discipline — a crossJoin against a re-aggregated branch would
    re-derive the corpus aggregate once per branch), so everything
    after the first exchange runs on 5 rows. TPC-H's independent
    generators give F ~ 1 / eta² ~ 0 (no effect), which is the
    correct read and is pinned by a numpy re-derivation in pytest."""
    x = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    )
    g = x.groupBy("pri").agg(
        F.count("*").alias("n_g"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("s_g"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("q_g"),
    )
    wall = W.partitionBy()
    m = g.select(
        "pri",
        "n_g",
        "s_g",
        "q_g",
        F.sum("n_g").over(wall).alias("n"),
        F.sum("s_g").over(wall).alias("s_tot"),
        F.count("*").over(wall).alias("k"),
    )
    ng = F.col("n_g").cast("double")
    mean_dev = F.col("s_g").cast("double") / F.col("n_g") - F.col(
        "s_tot"
    ).cast("double") / F.col("n")
    ssb_term = ng * mean_dev * mean_dev / 10000.0
    ssw_term = (
        F.col("q_g").cast("double")
        - F.col("s_g").cast("double") * F.col("s_g").cast("double") / F.col("n_g")
    ) / 10000.0
    acc = m.select(
        "pri",
        "n_g",
        "s_g",
        "n",
        "k",
        F.sum(ssb_term.cast("decimal(38,15)")).over(wall).alias("ssb_acc"),
        F.sum(ssw_term.cast("decimal(38,15)")).over(wall).alias("ssw_acc"),
    )
    ssb = F.col("ssb_acc").cast("double")
    ssw = F.col("ssw_acc").cast("double")
    f_stat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k")))
    return acc.select(
        "pri",
        "n_g",
        F.round(F.col("s_g").cast("double") / 100.0 / F.col("n_g"), 6).alias(
            "mean_price"
        ),
        (F.col("k") - 1).alias("df_between"),
        (F.col("n") - F.col("k")).alias("df_within"),
        F.round(f_stat, 6).alias("f_stat"),
        F.round(ssb / (ssb + ssw), 6).alias("eta_squared"),
    )


_HHI_SQL = """
WITH sp AS (SELECT c.c_mktsegment AS seg, o.o_custkey,
                   SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2),
w AS (SELECT seg, cents,
             SUM(cents) OVER (PARTITION BY seg) AS t
      FROM sp)
SELECT seg,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       round(CAST(MAX(t) AS DOUBLE) / 100.0, 2) AS total_spend,
       round(CAST(SUM(CAST(
             (CAST(cents AS DOUBLE) / t) * (CAST(cents AS DOUBLE) / t)
             AS DECIMAL(27,15))) AS DOUBLE), 6) AS hhi,
       round(1.0 / CAST(SUM(CAST(
             (CAST(cents AS DOUBLE) / t) * (CAST(cents AS DOUBLE) / t)
             AS DECIMAL(27,15))) AS DOUBLE), 6) AS effective_n,
       round(CAST(MAX(cents) AS DOUBLE) / MAX(t), 6) AS top_share
FROM w GROUP BY seg
"""


@register("agg_hhi_concentration", oracle=_HHI_SQL)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HERFINDAHL-HIRSCHMAN INDEX of customer-spend concentration per
    market segment — the squared-shares member of the inequality
    family (``agg_gini_customer_spend`` ranks the whole population;
    HHI answers the narrower revenue-at-risk question: how much of a
    segment's spend sits with its biggest accounts). HHI = Σ share²
    over customers; 1/HHI is the 'effective number of customers'
    (HHI = 1/n exactly when spend is uniform); top_share is the
    single-largest dependency. Unlike Gini, HHI needs NO global rank
    — it is a plain second moment of shares, which is why it is the
    concentration number that scales trivially.

    Exactness: spends collapse to exact integer cents (DECIMAL-summed
    per customer); each customer's share² is one fixed double
    expression ((c/t)·(c/t), stated identically in both engines),
    DECIMAL(27,15)-cast before the order-independent per-segment sum
    (terms are ≤1, so the narrow decimal fits); one double finish +
    round(6) per output cell.

    Plan/scale: one equi-join + map-side-combined (segment, customer)
    aggregate reduces the corpus; the segment total is a WINDOW over
    the reduction (the contingency-marginals discipline — join-back
    would re-derive the corpus join per branch), sharing its shuffle
    with the final per-segment aggregate. No global sort, no rank —
    at 100 TB the only data-sized work is the first aggregate. The
    5-segment partitioning of the window is the reduction's own key
    grid, not a skew hazard: rows per partition = customers per
    segment, already reduced."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("seg")
    )
    sp = (
        o.join(cust, "o_custkey")
        .groupBy("seg", "o_custkey")
        .agg(F.sum("c").alias("cents"))
    )
    w = sp.select(
        "seg", "cents", F.sum("cents").over(W.partitionBy("seg")).alias("t")
    )
    share = F.col("cents").cast("double") / F.col("t")
    return w.groupBy("seg").agg(
        F.count("*").alias("n_customers"),
        F.round(F.max("t").cast("double") / 100.0, 2).alias("total_spend"),
        F.round(
            F.sum((share * share).cast("decimal(27,15)")).cast("double"), 6
        ).alias("hhi"),
        F.round(
            1.0 / F.sum((share * share).cast("decimal(27,15)")).cast("double"), 6
        ).alias("effective_n"),
        F.round(F.max("cents").cast("double") / F.max("t"), 6).alias("top_share"),
    )


_SEASONAL_DECOMP_SQL = """
WITH d AS (SELECT CAST(ts AS DATE) AS day,
                  SUM(CAST(round(value * 100) AS BIGINT)) AS cents
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
w AS (SELECT day, cents,
             CAST(SUM(cents) OVER (ORDER BY day
                                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS win_sum,
             CAST(COUNT(*) OVER (ORDER BY day
                                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS win_n,
             CAST(date_diff('day', DATE '1970-01-01', day) % 7 AS BIGINT)
               AS weekday
      FROM d),
t AS (SELECT day, weekday, cents,
             CASE WHEN win_n = 7
                  THEN CAST(win_sum AS DOUBLE) / 700.0 END AS trend,
             CASE WHEN win_n = 7
                  THEN CAST(cents AS DOUBLE) / 100.0
                       - CAST(win_sum AS DOUBLE) / 700.0 END AS detrended
      FROM w),
s AS (SELECT *,
             CAST(SUM(CAST(detrended AS DECIMAL(27,15)))
                    OVER (PARTITION BY weekday) AS DOUBLE)
             / SUM(CASE WHEN detrended IS NOT NULL THEN 1 END)
                 OVER (PARTITION BY weekday) AS seasonal
      FROM t)
SELECT CAST(day AS TIMESTAMP) AS day, weekday,
       round(CAST(cents AS DOUBLE) / 100.0, 2) AS value,
       round(trend, 6) AS trend,
       round(seasonal, 6) AS seasonal,
       round(detrended - seasonal, 6) AS residual
FROM s
"""


@register("timeseries_seasonal_decompose", oracle=_SEASONAL_DECOMP_SQL)
def timeseries_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSICAL SEASONAL DECOMPOSITION (the moving-average
    trend/seasonal/residual split STL refines) of the daily purchase
    series: trend = centered 7-day moving average (only where the
    full window exists — edges stay NULL rather than biased),
    seasonal = per-weekday mean of the detrended series, residual =
    what neither explains. The residual column is what anomaly
    detection actually watches (``timeseries_cusum_changepoint``
    upstream of seasonality confuses weekly rhythm with level
    shifts); the seasonal column is the weekly rhythm itself.

    Exactness: daily cents are exact integers, so the 7-day window
    SUM is exact and trend is ONE double division (win_sum/700);
    weekday is pure integer arithmetic (epoch-day mod 7 — NOT
    dayofweek(), whose origin differs across engines); the per-
    weekday seasonal mean DECIMAL-casts each detrended term before
    the order-independent sum (DECIMAL(27,15) — 12 integer digits
    hold daily-revenue scale at any SF); residual is one double subtraction +
    round(6).

    Plan/scale: ONE corpus-scan reduction to the day grid, then every
    window (7-day frame, weekday partition) runs on |days| rows — the
    reduce-then-rank discipline; output = the day grid itself. At
    100 TB the only data-sized work is the first aggregate."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents")
    )
    wf = W.orderBy("day").rowsBetween(-3, 3)
    w = d.select(
        "day",
        "cents",
        F.sum("cents").over(wf).cast("bigint").alias("win_sum"),
        F.count("*").over(wf).cast("bigint").alias("win_n"),
        (F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) % 7)
        .cast("bigint")
        .alias("weekday"),
    )
    full = F.col("win_n") == 7
    t = w.select(
        "day",
        "weekday",
        "cents",
        F.when(full, F.col("win_sum").cast("double") / 700.0).alias("trend"),
        F.when(
            full,
            F.col("cents").cast("double") / 100.0
            - F.col("win_sum").cast("double") / 700.0,
        ).alias("detrended"),
    )
    wp = W.partitionBy("weekday")
    seasonal = F.sum(F.col("detrended").cast("decimal(27,15)")).over(wp).cast(
        "double"
    ) / F.sum(F.when(F.col("detrended").isNotNull(), 1)).over(wp)
    s = t.select("day", "weekday", "cents", "trend", "detrended", seasonal.alias("seasonal"))
    return s.select(
        F.col("day").cast("timestamp").alias("day"),
        "weekday",
        F.round(F.col("cents").cast("double") / 100.0, 2).alias("value"),
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round(F.col("detrended") - F.col("seasonal"), 6).alias("residual"),
    )


_RESID_ANOM_SQL = """
WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  SUM(CAST(round(value * 100) AS BIGINT)) AS cents
           FROM events GROUP BY 1, 2),
w AS (SELECT event_type, day, cents,
             CAST(SUM(cents) OVER (PARTITION BY event_type ORDER BY day
                                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS win_sum,
             CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS win_n,
             CAST(date_diff('day', DATE '1970-01-01', day) % 7 AS BIGINT)
               AS weekday
      FROM d),
t AS (SELECT event_type, day, weekday, cents,
             CASE WHEN win_n = 7
                  THEN CAST(cents AS DOUBLE) / 100.0
                       - CAST(win_sum AS DOUBLE) / 700.0 END AS detrended
      FROM w),
s AS (SELECT *,
             CAST(SUM(CAST(detrended AS DECIMAL(27,15)))
                    OVER (PARTITION BY event_type, weekday) AS DOUBLE)
             / SUM(CASE WHEN detrended IS NOT NULL THEN 1 END)
                 OVER (PARTITION BY event_type, weekday) AS seasonal
      FROM t),
r AS (SELECT event_type, day, cents, detrended - seasonal AS resid
      FROM s WHERE detrended IS NOT NULL),
st AS (SELECT event_type,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(resid AS DECIMAL(27,15))) AS DOUBLE) AS sr,
              CAST(SUM(CAST(resid * resid AS DECIMAL(38,15))) AS DOUBLE)
                AS sq
       FROM r GROUP BY event_type),
z AS (SELECT r.event_type, r.day, r.cents, r.resid, st.n,
             CASE WHEN st.sq / st.n - (st.sr / st.n) * (st.sr / st.n) > 0
                  THEN (r.resid - st.sr / st.n)
                       / sqrt(st.sq / st.n - (st.sr / st.n) * (st.sr / st.n))
             END AS rz
      FROM r JOIN st ON st.event_type = r.event_type)
SELECT event_type, CAST(day AS TIMESTAMP) AS day,
       round(CAST(cents AS DOUBLE) / 100.0, 2) AS value,
       round(resid, 6) AS residual,
       round(rz, 6) AS resid_z,
       n AS n_scored
FROM z WHERE abs(rz) > 2.0
"""


@register("timeseries_residual_anomalies", oracle=_RESID_ANOM_SQL)
def timeseries_residual_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL-Z ANOMALY FLAGS — the alerting consumer of the
    decomposition family (``timeseries_seasonal_decompose`` publishes
    the split; this op WATCHES it, across all five event types): days
    whose decomposition residual sits beyond 2 population-sigma of the
    type's residual distribution, the standard seasonal-aware anomaly
    recipe (CUSUM reads level shifts; z-scoring raw values confuses
    weekly rhythm with anomaly — detrend + deseasonalize first, THEN
    threshold). Emits only the flagged days with their residual,
    z-score, and the scored-day count (edge days without a full
    centered window are excluded from scoring, stated — same edge
    policy as the decomposition).

    Exactness: the decomposition arithmetic is the decompose op's
    contract verbatim (integer daily cents, fixed double trend,
    DECIMAL-absorbed seasonal means, all per event type); the
    residual moments accumulate in DECIMAL(27,15)/DECIMAL(38,15)
    before one fixed double mean/variance/z expression; the flag
    compares the unrounded |z| to the 2.0 literal in both engines;
    round(6)/round(2) only at emission. The z expression is guarded
    on variance > 0 in BOTH engines (the ljung_box s0 discipline,
    r12 advice): a constant residual stream's variance can cancel to
    a tiny negative double, where DuckDB's sqrt raises Out of Range
    while Spark yields NaN and |NaN| > 2 EMITS rows — guarded, both
    engines flag nothing.

    Plan/scale: the daily rollup is the one data-sized shuffle;
    trend/seasonal windows and the residual-moment aggregate all run
    on the |types| x |days| grid; output is the anomaly list (a few
    rows per month of calendar on null data — by construction the
    2-sigma tail)."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"))
    ww = W.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    w = d.select(
        "event_type",
        "day",
        "cents",
        F.sum("cents").over(ww).cast("bigint").alias("win_sum"),
        F.count("*").over(ww).cast("bigint").alias("win_n"),
        (F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) % 7)
        .cast("bigint")
        .alias("weekday"),
    )
    full = F.col("win_n") == 7
    t = w.select(
        "event_type",
        "day",
        "weekday",
        "cents",
        F.when(
            full,
            F.col("cents").cast("double") / 100.0
            - F.col("win_sum").cast("double") / 700.0,
        ).alias("detrended"),
    )
    wp = W.partitionBy("event_type", "weekday")
    seasonal = F.sum(F.col("detrended").cast("decimal(27,15)")).over(wp).cast(
        "double"
    ) / F.sum(F.when(F.col("detrended").isNotNull(), 1)).over(wp)
    r = (
        t.select(
            "event_type",
            "day",
            "cents",
            (F.col("detrended") - seasonal).alias("resid"),
        )
        .where(F.col("resid").isNotNull())
    )
    st = r.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("resid").cast("decimal(27,15)")).cast("double").alias("sr"),
        F.sum((F.col("resid") * F.col("resid")).cast("decimal(38,15)"))
        .cast("double")
        .alias("sq"),
    )
    mean = F.col("sr") / F.col("n")
    var = F.col("sq") / F.col("n") - mean * mean
    z = r.join(F.broadcast(st), "event_type").select(
        "event_type",
        "day",
        "cents",
        "resid",
        F.when(var > 0, (F.col("resid") - mean) / F.sqrt(var)).alias("rz"),
        "n",
    )
    return z.where(F.abs(F.col("rz")) > 2.0).select(
        "event_type",
        F.col("day").cast("timestamp").alias("day"),
        F.round(F.col("cents").cast("double") / 100.0, 2).alias("value"),
        F.round("resid", 6).alias("residual"),
        F.round("rz", 6).alias("resid_z"),
        F.col("n").alias("n_scored"),
    )


_SEASONAL_STRENGTH_SQL = (
    "WITH dec AS (" + _SEASONAL_DECOMP_SQL + """),
f AS (SELECT trend, seasonal, residual FROM dec WHERE trend IS NOT NULL),
v AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(residual AS DECIMAL(38,15))) AS DOUBLE) AS sr,
             CAST(SUM(CAST(residual * residual AS DECIMAL(38,15)))
                  AS DOUBLE) AS qr,
             CAST(SUM(CAST(trend + residual AS DECIMAL(38,15)))
                  AS DOUBLE) AS st,
             CAST(SUM(CAST((trend + residual) * (trend + residual)
                           AS DECIMAL(38,15))) AS DOUBLE) AS qt,
             CAST(SUM(CAST(seasonal + residual AS DECIMAL(38,15)))
                  AS DOUBLE) AS ss,
             CAST(SUM(CAST((seasonal + residual) * (seasonal + residual)
                           AS DECIMAL(38,15))) AS DOUBLE) AS qs
      FROM f)
SELECT n AS n_days_full,
       round(qr / n - (sr / n) * (sr / n), 6) AS var_residual,
       CASE WHEN qt / n - (st / n) * (st / n) = 0 THEN NULL
            ELSE round(greatest(CAST(0 AS DOUBLE),
                 1 - (qr / n - (sr / n) * (sr / n))
                     / (qt / n - (st / n) * (st / n))), 6)
       END AS trend_strength,
       CASE WHEN qs / n - (ss / n) * (ss / n) = 0 THEN NULL
            ELSE round(greatest(CAST(0 AS DOUBLE),
                 1 - (qr / n - (sr / n) * (sr / n))
                     / (qs / n - (ss / n) * (ss / n))), 6)
       END AS seasonal_strength
FROM v
"""
)


@register("timeseries_seasonal_strength", oracle=_SEASONAL_STRENGTH_SQL)
def timeseries_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TREND AND SEASONAL STRENGTH (Wang, Smith & Hyndman 2006 — the
    feature pair tsfeatures/forecasting pipelines triage series
    with): F_T = max(0, 1 - Var(R)/Var(T+R)) and F_S = max(0, 1 -
    Var(R)/Var(S+R)) over the registered classical decomposition —
    the one-number summaries that turn
    ``timeseries_seasonal_decompose``'s full grid into a routing
    decision (strong seasonality -> seasonal model, strong trend ->
    trend model, neither -> the series is mostly noise and a mean
    forecast is honest). Composes the decomposition's DataFrame AND
    oracle text as a CTE, restricted to full-window rows (trend
    non-NULL), so the strengths are functions of the registered op's
    already-round(6) columns — identical by construction.

    Exactness: each sum of values / squares DECIMAL(38,15)-casts one
    fixed double term (the decomposition's emitted columns) before
    the order-independent reduction; population variances and the
    two strength ratios close as fixed double expressions with a
    NULLIF zero-variance guard and GREATEST clamp stated in both
    engines (greatest never sees a NULL — its NULL semantics differ
    across engines); round(6) on emission.

    Plan/scale: everything beyond the decomposition's own grid work
    is one reduction over the |days|-row grid to a single row."""
    dec = timeseries_seasonal_decompose(spark, sf_dir).where(
        F.col("trend").isNotNull()
    )
    tr = (F.col("trend") + F.col("residual")).alias("tr")
    sr_ = (F.col("seasonal") + F.col("residual")).alias("sr_")
    f = dec.select("trend", "seasonal", "residual", tr, sr_)

    def acc(col, out_s, out_q):
        c = F.col(col)
        return [
            F.sum(c.cast("decimal(38,15)")).cast("double").alias(out_s),
            F.sum((c * c).cast("decimal(38,15)")).cast("double").alias(out_q),
        ]

    v = f.agg(
        F.count("*").alias("n"),
        *acc("residual", "sr", "qr"),
        *acc("tr", "st", "qt"),
        *acc("sr_", "ss", "qs"),
    )
    n = F.col("n")

    def var(s, q):
        return F.col(q) / n - (F.col(s) / n) * (F.col(s) / n)

    vr = var("sr", "qr")

    def strength(s, q):
        # zero-variance branch stated as an explicit CASE in both
        # engines (greatest-with-NULL semantics differ across engines)
        return F.when(
            var(s, q) == 0, F.lit(None).cast("double")
        ).otherwise(
            F.round(F.greatest(F.lit(0.0), 1 - vr / var(s, q)), 6)
        )

    return v.select(
        n.alias("n_days_full"),
        F.round(vr, 6).alias("var_residual"),
        strength("st", "qt").alias("trend_strength"),
        strength("ss", "qs").alias("seasonal_strength"),
    )


_WELCH_SQL = """
WITH base AS (SELECT c.c_mktsegment AS seg,
                     CAST(round(o.o_totalprice * 100) AS BIGINT) AS c
              FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
rows_ AS (SELECT 'building_vs_machinery' AS pair, 'a' AS grp, c
          FROM base WHERE seg = 'BUILDING'
          UNION ALL
          SELECT 'building_vs_machinery', 'b', c
          FROM base WHERE seg = 'MACHINERY'
          UNION ALL
          SELECT 'building_vs_inflated_twin', 'a', c
          FROM base WHERE seg = 'BUILDING'
          UNION ALL
          SELECT 'building_vs_inflated_twin', 'b', c * 11 // 10
          FROM base WHERE seg = 'BUILDING'),
g AS (SELECT pair, grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(c AS DECIMAL(38,0))) AS s,
             SUM(CAST(c AS DECIMAL(38,0)) * c) AS q
      FROM rows_ GROUP BY pair, grp),
p AS (SELECT pair,
             MAX(CASE WHEN grp = 'a' THEN n END) AS n1,
             MAX(CASE WHEN grp = 'b' THEN n END) AS n2,
             MAX(CASE WHEN grp = 'a' THEN CAST(s AS DOUBLE) END) AS s1,
             MAX(CASE WHEN grp = 'b' THEN CAST(s AS DOUBLE) END) AS s2,
             MAX(CASE WHEN grp = 'a' THEN CAST(q AS DOUBLE) END) AS q1,
             MAX(CASE WHEN grp = 'b' THEN CAST(q AS DOUBLE) END) AS q2
      FROM g GROUP BY pair),
t AS (SELECT pair, n1, n2,
             (s1 / n1 - s2 / n2) / 100.0 AS mean_diff,
             ((q1 - s1 * s1 / n1) / (n1 - 1) / n1
              + (q2 - s2 * s2 / n2) / (n2 - 1) / n2) / 10000.0 AS se2,
             (q1 - s1 * s1 / n1) / (n1 - 1) / n1 / 10000.0 AS v1,
             (q2 - s2 * s2 / n2) / (n2 - 1) / n2 / 10000.0 AS v2
      FROM p)
SELECT pair, n1, n2,
       round(mean_diff, 6) AS mean_diff,
       round(mean_diff / sqrt(se2), 6) AS t_stat,
       round(se2 * se2 / (v1 * v1 / (n1 - 1) + v2 * v2 / (n2 - 1)), 6)
         AS welch_df,
       abs(mean_diff / sqrt(se2)) > 1.96 AS reject_equal_means_005
FROM t
"""


@register("agg_welch_ttest", oracle=_WELCH_SQL)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WELCH'S UNEQUAL-VARIANCE t-TEST — the two-sample member of the
    statistical family (ANOVA asks 'any group differ?' across k
    groups; Welch asks it for exactly two, without assuming equal
    variances — the default two-sample test). Two comparisons on one
    fixture so BOTH decision branches are exercised (the KS /
    Mann-Kendall bar): BUILDING vs MACHINERY order values (same
    generator → not rejected) and BUILDING vs its own +10%-inflated
    twin (cents*11 div 10, exact integers → rejected). t =
    (m1-m2)/sqrt(s1²/n1 + s2²/n2); df via Welch-Satterthwaite.

    Exactness: per-(pair, group) moments n, Σc, Σc² are exact
    integers (DECIMAL(38,0) sums); every statistic after is a fixed
    double expression on the 4-row grid, stated identically in both
    engines; round(6) finish; the decision compares against the
    two-sided z ≈ t-critical 1.96 (df is ~30k here, where t and z
    coincide far beyond the output precision).

    Plan/scale: ONE corpus scan into ONE map-side-combined aggregate
    of 9 conditional scalar moments (no row fan-out at all — the
    struct-explode membership encoding measured 25x/decade on the
    ladder because 3x the rows left whole-stage codegen; conditional
    sums keep the scan fused and the shuffle ONE row); the 2-row
    comparison grid then unpacks from that single row via a 2-element
    inline explode. The oracle states the same moments as UNION ALL
    branches — identical values, any shape. The inflated twin derives
    from the same scan, not a re-read."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("seg")
    )
    base = o.join(cust, "o_custkey").where(
        F.col("seg").isin("BUILDING", "MACHINERY")
    )
    bld = F.col("seg") == "BUILDING"
    mch = F.col("seg") == "MACHINERY"
    c = F.col("c")
    ct = F.expr("c * 11 div 10")
    dec = lambda x: x.cast("decimal(38,0)")  # noqa: E731
    mom = base.agg(
        F.count(F.when(bld, 1)).alias("n_b"),
        F.sum(F.when(bld, dec(c))).alias("s_b"),
        F.sum(F.when(bld, dec(c) * c)).alias("q_b"),
        F.count(F.when(mch, 1)).alias("n_m"),
        F.sum(F.when(mch, dec(c))).alias("s_m"),
        F.sum(F.when(mch, dec(c) * c)).alias("q_m"),
        F.count(F.when(bld, 1)).alias("n_t"),
        F.sum(F.when(bld, dec(ct))).alias("s_t"),
        F.sum(F.when(bld, dec(ct) * ct)).alias("q_t"),
    )
    row = lambda pair, b: F.struct(  # noqa: E731
        F.lit(pair).alias("pair"),
        F.col("n_b").alias("n1"),
        F.col(f"n_{b}").alias("n2"),
        F.col("s_b").cast("double").alias("s1"),
        F.col(f"s_{b}").cast("double").alias("s2"),
        F.col("q_b").cast("double").alias("q1"),
        F.col(f"q_{b}").cast("double").alias("q2"),
    )
    p = mom.select(
        F.explode(
            F.array(row("building_vs_machinery", "m"),
                    row("building_vs_inflated_twin", "t"))
        ).alias("e")
    ).select("e.*")
    n1, n2 = F.col("n1"), F.col("n2")
    s1, s2, q1, q2 = F.col("s1"), F.col("s2"), F.col("q1"), F.col("q2")
    mean_diff = (s1 / n1 - s2 / n2) / 100.0
    v1 = (q1 - s1 * s1 / n1) / (n1 - 1) / n1 / 10000.0
    v2 = (q2 - s2 * s2 / n2) / (n2 - 1) / n2 / 10000.0
    se2 = (
        (q1 - s1 * s1 / n1) / (n1 - 1) / n1
        + (q2 - s2 * s2 / n2) / (n2 - 1) / n2
    ) / 10000.0
    t_stat = mean_diff / F.sqrt(se2)
    welch_df = se2 * se2 / (v1 * v1 / (n1 - 1) + v2 * v2 / (n2 - 1))
    return p.select(
        "pair",
        "n1",
        "n2",
        F.round(mean_diff, 6).alias("mean_diff"),
        F.round(t_stat, 6).alias("t_stat"),
        F.round(welch_df, 6).alias("welch_df"),
        (F.abs(t_stat) > 1.96).alias("reject_equal_means_005"),
    )


_INTERARRIVAL_SQL = """
WITH x AS (SELECT event_type, epoch_us(ts) AS us FROM events),
g AS (SELECT event_type,
             us - lag(us) OVER (PARTITION BY event_type ORDER BY us)
               AS gap_us
      FROM x)
SELECT event_type,
       CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
       round(CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us) / 1000000.0, 6)
         AS mean_gap_s,
       round(quantile_cont(gap_us, 0.5) / 1000000.0, 6) AS p50_gap_s,
       round(quantile_cont(gap_us, 0.9) / 1000000.0, 6) AS p90_gap_s
FROM g WHERE gap_us IS NOT NULL
GROUP BY event_type
"""


@register("timeseries_interarrival_stats", oracle=_INTERARRIVAL_SQL)
def timeseries_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-ARRIVAL-TIME PROFILE per event type — the arrival-process
    read the daily rollup family can't give (a mean rate hides
    burstiness; the gap distribution IS the capacity-planning input:
    p50 vs p90 spread says bursty-vs-steady, max says worst stall).
    Gaps are consecutive differences of the time-sorted event stream
    per type, summarized as exact min/max/mean and the interpolated
    median and p90.

    Exactness: timestamps reduce to exact BIGINT microseconds
    (epoch_us == the loader's micros contract); the sorted sequence
    of a value multiset is unique, so consecutive diffs are
    deterministic even under timestamp ties at any parallelism;
    min/max/sum are exact integer aggregates; p50/p90 use the shared
    exact-percentile contract (Spark ``percentile`` == DuckDB
    ``quantile_cont`` linear interpolation); seconds conversions are
    single double divisions + round(6). Types with fewer than 2
    events emit no row (no gaps), identically in both engines.

    Plan/scale: ONE window (the lag) partitioned by event_type —
    at 5 types this is the honest skew caveat: each type's stream
    sorts within one task, so at 100 TB you'd sessionize per
    (type, day) first and stitch boundaries (the gaps-and-islands
    device) or accept the per-type sort; the closing aggregate is
    map-side-combined to |types| rows. The exact percentile swaps to
    approx_percentile at scale per the documented twin policy."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us")
    )
    g = e.select(
        "event_type",
        (
            F.col("us")
            - F.lag("us").over(W.partitionBy("event_type").orderBy("us"))
        ).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    return g.groupBy("event_type").agg(
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
        F.round(
            F.sum("gap_us").cast("double") / F.count("gap_us") / 1000000.0, 6
        ).alias("mean_gap_s"),
        F.round(F.percentile("gap_us", F.lit(0.5)) / 1000000.0, 6).alias(
            "p50_gap_s"
        ),
        F.round(F.percentile("gap_us", F.lit(0.9)) / 1000000.0, 6).alias(
            "p90_gap_s"
        ),
    )


@register("timeseries_interarrival_stitched", oracle=_INTERARRIVAL_SQL)
def timeseries_interarrival_stitched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSIONIZE-AND-STITCH twin of ``timeseries_interarrival_stats``
    — same gap multiset, same output, but the lag window is
    partitioned by (event_type, DAY) instead of event_type alone, so
    no single task ever sorts a full type's stream. The measured need:
    the per-type form's ~sf10 ladder row is 4.5x per 10x data (2M rows
    sorted per task at 5 types) — the stated skew caveat turning into
    the observed bottleneck.

    The stitch (the gaps-and-islands device the original's docstring
    names): day buckets segment each type's sorted stream contiguously
    (day = us div 86_400_000_000 is monotone in us), so the full
    consecutive-diff multiset decomposes exactly into (a) within-day
    consecutive diffs and (b) one boundary gap per adjacent pair of
    non-empty day buckets — min(us) of the later bucket minus max(us)
    of the earlier, computed by a lag window over the tiny
    |types x days| bounds frame.

    Exactness: identical to the original by the decomposition above —
    the union of (a) and (b) IS the per-type consecutive-diff multiset
    (timestamp ties yield zero gaps in the same multiset count either
    way), and the closing aggregate is the original's verbatim, so the
    shared oracle must hash-match. Pinned row-identical to the
    per-type form by pytest.

    Plan/scale: the heavy window now has |types| x |days| partitions
    (~1.8k at sf0.1's one-year span) of ~|stream|/days rows each —
    the sort parallelizes and its per-task memory is day-sized, not
    stream-sized; bucket bounds are a map-side-combined groupBy to the
    same tiny grid; the stitch window sorts |days| rows per type. The
    one remaining per-type concentration is the exact-percentile
    closing aggregate (Spark's percentile merges per-type value
    buffers on one reducer each) — at 100 TB that swaps to
    approx_percentile per the documented twin policy; everything
    upstream of it is day-parallel."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        (F.unix_micros("ts") - F.unix_micros("ts") % 86_400_000_000)
        .alias("day"),
    )
    intra = e.select(
        "event_type",
        (
            F.col("us")
            - F.lag("us").over(
                W.partitionBy("event_type", "day").orderBy("us")
            )
        ).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    bounds = e.groupBy("event_type", "day").agg(
        F.min("us").alias("lo"), F.max("us").alias("hi")
    )
    stitch = bounds.select(
        "event_type",
        (
            F.col("lo")
            - F.lag("hi").over(W.partitionBy("event_type").orderBy("day"))
        ).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    g = intra.unionByName(stitch)
    return g.groupBy("event_type").agg(
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        F.min("gap_us").cast("bigint").alias("min_gap_us"),
        F.max("gap_us").cast("bigint").alias("max_gap_us"),
        F.round(
            F.sum("gap_us").cast("double") / F.count("gap_us") / 1000000.0, 6
        ).alias("mean_gap_s"),
        F.round(F.percentile("gap_us", F.lit(0.5)) / 1000000.0, 6).alias(
            "p50_gap_s"
        ),
        F.round(F.percentile("gap_us", F.lit(0.9)) / 1000000.0, 6).alias(
            "p90_gap_s"
        ),
    )


@register(
    "agg_odds_risk_ratio",
    oracle="""
    WITH x AS (SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END AS exposed,
                      CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END
                        AS outcome
               FROM orders),
    t AS (SELECT CAST(SUM(exposed * outcome) AS BIGINT) AS a,
                 CAST(SUM(exposed * (1 - outcome)) AS BIGINT) AS b,
                 CAST(SUM((1 - exposed) * outcome) AS BIGINT) AS c,
                 CAST(SUM((1 - exposed) * (1 - outcome)) AS BIGINT) AS d
          FROM x),
    h AS (SELECT a, b, c, d,
                 CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
                      THEN CAST(0.5 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END AS ha
          FROM t),
    m AS (SELECT a, b, c, d,
                 CASE WHEN a + b > 0
                      THEN CAST(a AS DOUBLE) / (a + b) END AS risk_exposed,
                 CASE WHEN c + d > 0
                      THEN CAST(c AS DOUBLE) / (c + d) END AS risk_unexposed,
                 (a + ha) * (d + ha) / ((b + ha) * (c + ha)) AS oratio,
                 ln((a + ha) * (d + ha) / ((b + ha) * (c + ha))) AS lor,
                 sqrt(CAST(1.0 AS DOUBLE) / (a + ha)
                      + CAST(1.0 AS DOUBLE) / (b + ha)
                      + CAST(1.0 AS DOUBLE) / (c + ha)
                      + CAST(1.0 AS DOUBLE) / (d + ha)) AS se
          FROM h)
    SELECT a AS n_exposed_big, b AS n_exposed_small,
           c AS n_unexposed_big, d AS n_unexposed_small,
           round(risk_exposed, 6) AS risk_exposed,
           round(risk_unexposed, 6) AS risk_unexposed,
           CASE WHEN risk_unexposed > 0
                THEN round(risk_exposed / risk_unexposed, 6)
           END AS risk_ratio,
           round(oratio, 6) AS odds_ratio,
           round(exp(lor - CAST(1.96 AS DOUBLE) * se), 6) AS or_ci_low,
           round(exp(lor + CAST(1.96 AS DOUBLE) * se), 6) AS or_ci_high
    FROM m
    """,
)
def agg_odds_risk_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RISK RATIO / ODDS RATIO with a Wald 95% CI — the 2x2 effect-size
    read the test family doesn't give (chi2/Mann-Whitney say WHETHER
    association exists; this says HOW BIG): exposure = urgent-or-high
    priority, outcome = order value above 200k, the four cell counts,
    both ratios, and exp(ln(OR) ± 1.96·SE) with the standard
    SE = sqrt(1/a + 1/b + 1/c + 1/d) (Woolf 1955) — the A/B-test and
    epidemiology staple. On TPC-H's independent generators the honest
    reading is OR ≈ 1 with the CI straddling it.

    Exactness: the four cells are exact integer sums of 0/1 products
    (one map-side-combined pass, no conditional aggregates to
    diverge); every ratio is a fixed double expression over those
    integers; ln/exp/sqrt follow the catalog's same-libm-family
    discipline and 1.96 is DOUBLE-cast on the DuckDB side (the
    decimal-literal trap); round(6) only at emission. Boundary
    (r12-verdict task 2): a zero cell makes lor/SE infinite — DuckDB
    raises on ln(0)/div-0 where Spark NULLs, so BOTH engines now
    apply the conditional Haldane-Anscombe correction (+0.5 to all
    four cells iff any cell is zero; Haldane 1956, Anscombe 1956) to
    the odds-based quantities, and the risk columns are CASE-guarded
    on empty margins (risk_ratio NULL when the unexposed risk is 0).
    On this fixture every cell is in the thousands, so the correction
    term is exactly 0.0 and emitted values are unchanged; the
    zero-cell path is pytest-pinned on a synthetic 2x2 through both
    engines (tests/test_extra.py).

    Plan/scale: ONE aggregate row from one scan — the cells combine
    map-side, the shuffle carries four integers; everything after is
    driver-free scalar algebra inside the same projection."""
    o = _t(spark, sf_dir, "orders")
    exposed = (
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    )
    outcome = (F.col("o_totalprice") > 200000).cast("long")
    t = o.select(exposed.alias("e"), outcome.alias("y")).agg(
        F.sum(F.col("e") * F.col("y")).cast("bigint").alias("a"),
        F.sum(F.col("e") * (1 - F.col("y"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("e")) * F.col("y")).cast("bigint").alias("c"),
        F.sum((1 - F.col("e")) * (1 - F.col("y"))).cast("bigint").alias("d"),
    )
    ha = F.when(
        (F.col("a") == 0)
        | (F.col("b") == 0)
        | (F.col("c") == 0)
        | (F.col("d") == 0),
        F.lit(0.5),
    ).otherwise(F.lit(0.0))
    t = t.withColumn("ha", ha)
    aa, bb = F.col("a") + F.col("ha"), F.col("b") + F.col("ha")
    cc, dd = F.col("c") + F.col("ha"), F.col("d") + F.col("ha")
    risk_e = F.when(
        F.col("a") + F.col("b") > 0,
        F.col("a").cast("double") / (F.col("a") + F.col("b")),
    )
    risk_u = F.when(
        F.col("c") + F.col("d") > 0,
        F.col("c").cast("double") / (F.col("c") + F.col("d")),
    )
    orat = aa * dd / (bb * cc)
    lor = F.log(orat)
    se = F.sqrt(
        F.lit(1.0) / aa + F.lit(1.0) / bb + F.lit(1.0) / cc + F.lit(1.0) / dd
    )
    return t.select(
        F.col("a").alias("n_exposed_big"),
        F.col("b").alias("n_exposed_small"),
        F.col("c").alias("n_unexposed_big"),
        F.col("d").alias("n_unexposed_small"),
        F.round(risk_e, 6).alias("risk_exposed"),
        F.round(risk_u, 6).alias("risk_unexposed"),
        F.when(risk_u > 0, F.round(risk_e / risk_u, 6)).alias("risk_ratio"),
        F.round(orat, 6).alias("odds_ratio"),
        F.round(F.exp(lor - 1.96 * se), 6).alias("or_ci_low"),
        F.round(F.exp(lor + 1.96 * se), 6).alias("or_ci_high"),
    )


_BROWN_FORSYTHE_SQL = """
WITH x AS (SELECT o_orderpriority AS pri,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS c
           FROM orders),
m AS (SELECT pri, quantile_cont(c, 0.5) AS med FROM x GROUP BY pri),
z AS (SELECT x.pri,
             abs(CAST(x.c AS DOUBLE) - m.med) / 100.0 AS zd
      FROM x JOIN m ON m.pri = x.pri),
g AS (SELECT pri,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             SUM(CAST(zd AS DECIMAL(38,15))) AS sz,
             SUM(CAST(zd * zd AS DECIMAL(38,15))) AS qz
      FROM z GROUP BY pri),
w AS (SELECT g.*, m.med,
             CAST(SUM(sz) OVER () AS DOUBLE)
               / CAST(SUM(n_g) OVER () AS DOUBLE) AS zbar,
             CAST(COUNT(*) OVER () AS BIGINT) AS k,
             CAST(SUM(n_g) OVER () AS BIGINT) AS n
      FROM g JOIN m ON m.pri = g.pri),
w2 AS (SELECT *,
              SUM(CAST(n_g * (CAST(sz AS DOUBLE) / n_g - zbar)
                           * (CAST(sz AS DOUBLE) / n_g - zbar)
                       AS DECIMAL(38,15))) OVER () AS ssb,
              SUM(CAST(CAST(qz AS DOUBLE)
                       - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / n_g
                       AS DECIMAL(38,15))) OVER () AS ssw
       FROM w)
SELECT pri, n_g,
       round(med / 100.0, 6) AS median_price,
       round(CAST(sz AS DOUBLE) / n_g, 6) AS mean_absdev,
       k - 1 AS df_between,
       n - k AS df_within,
       round((CAST(n - k AS DOUBLE) * CAST(ssb AS DOUBLE))
             / (CAST(k - 1 AS DOUBLE) * CAST(ssw AS DOUBLE)), 6) AS bf_stat
FROM w2
"""


@register("agg_brown_forsythe_variance", oracle=_BROWN_FORSYTHE_SQL)
def agg_brown_forsythe_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BROWN-FORSYTHE TEST (median-centered Levene) for equality of
    VARIANCES across order priorities — the assumption check the
    family's mean-comparison members lean on (``agg_anova_oneway``'s
    F and ``agg_welch_ttest``'s motivation both hinge on whether
    group spreads differ; Brown & Forsythe 1974's median-centered
    variant is the robust standard): transform each value to its
    absolute deviation from the GROUP MEDIAN, then one-way ANOVA on
    those deviations. Per-group rows (n, median, mean absolute
    deviation) with the global W statistic and dfs alongside — the
    ANOVA op's output shape.

    Exactness: cents are exact integers; the group median is the
    shared exact-percentile contract (quantile_cont == F.percentile,
    the k-core k's discipline); each deviation and its square is one
    fixed double expression DECIMAL(38,15)-cast before the
    order-independent sum (dollar-scaled so squares stay inside the
    integer digits — the ANOVA accumulators' trick); the W statistic
    closes as one fixed double expression + round(6) over the 5-row
    grid.

    Plan/scale: two corpus scans by construction (medians first,
    deviations second — the MAD op's inherent two-pass), each one
    map-side-combined aggregate; the median table broadcasts; grand
    totals are windows over the 5-row priority grid, never
    crossJoins (the contingency-marginals discipline, pinned for
    ANOVA)."""
    x = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    )
    m = x.groupBy("pri").agg(F.percentile("c", F.lit(0.5)).alias("med"))
    zd = F.abs(F.col("c").cast("double") - F.col("med")) / 100.0
    z = x.join(F.broadcast(m), "pri").select("pri", zd.alias("zd"))
    g = z.groupBy("pri").agg(
        F.count("*").alias("n_g"),
        F.sum(F.col("zd").cast("decimal(38,15)")).alias("sz"),
        F.sum((F.col("zd") * F.col("zd")).cast("decimal(38,15)")).alias("qz"),
    )
    grid = W.partitionBy()
    w = g.join(F.broadcast(m), "pri").select(
        "pri",
        "n_g",
        "sz",
        "qz",
        "med",
        (
            F.sum("sz").over(grid).cast("double")
            / F.sum("n_g").over(grid).cast("double")
        ).alias("zbar"),
        F.count("*").over(grid).cast("bigint").alias("k"),
        F.sum("n_g").over(grid).cast("bigint").alias("n"),
    )
    zbar_g = F.col("sz").cast("double") / F.col("n_g")
    ssb = F.sum(
        (F.col("n_g") * (zbar_g - F.col("zbar")) * (zbar_g - F.col("zbar"))).cast(
            "decimal(38,15)"
        )
    ).over(grid)
    ssw = F.sum(
        (
            F.col("qz").cast("double")
            - F.col("sz").cast("double") * F.col("sz").cast("double") / F.col("n_g")
        ).cast("decimal(38,15)")
    ).over(grid)
    w2 = w.select("*", ssb.alias("ssb"), ssw.alias("ssw"))
    bf = (
        (F.col("n") - F.col("k")).cast("double") * F.col("ssb").cast("double")
    ) / ((F.col("k") - 1).cast("double") * F.col("ssw").cast("double"))
    return w2.select(
        "pri",
        "n_g",
        F.round(F.col("med") / 100.0, 6).alias("median_price"),
        F.round(F.col("sz").cast("double") / F.col("n_g"), 6).alias("mean_absdev"),
        (F.col("k") - 1).alias("df_between"),
        (F.col("n") - F.col("k")).alias("df_within"),
        F.round(bf, 6).alias("bf_stat"),
    )


LJUNG_BOX_LAGS = 7

_LJUNG_BOX_SQL = f"""
WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  SUM(CAST(round(value * 100) AS BIGINT)) AS cents
           FROM events GROUP BY 1, 2),
st AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(cents) AS BIGINT) AS sx
       FROM d GROUP BY event_type),
v AS (SELECT d.event_type, d.day,
             (CAST(d.cents AS DOUBLE) - CAST(st.sx AS DOUBLE) / st.n) / 100.0
               AS dev
      FROM d JOIN st ON st.event_type = d.event_type),
c0 AS (SELECT event_type, SUM(CAST(dev * dev AS DECIMAL(38,15))) AS s0
       FROM v GROUP BY event_type),
ck AS (SELECT a.event_type, CAST(lag.k AS INT) AS k,
              SUM(CAST(a.dev * b.dev AS DECIMAL(38,15))) AS sk
       FROM v a, UNNEST(generate_series(1, {LJUNG_BOX_LAGS})) AS lag(k)
       JOIN v b ON b.event_type = a.event_type
               AND b.day = a.day - CAST(lag.k AS INTEGER)
       GROUP BY 1, 2),
r AS (SELECT ck.event_type, ck.k, st.n,
             CASE WHEN c0.s0 <> 0
                  THEN CAST(ck.sk AS DOUBLE) / CAST(c0.s0 AS DOUBLE)
                  END AS rho
      FROM ck
      JOIN c0 ON c0.event_type = ck.event_type
      JOIN st ON st.event_type = ck.event_type
      WHERE st.n > {LJUNG_BOX_LAGS})
SELECT event_type, n AS n_days,
       CAST({LJUNG_BOX_LAGS} AS INT) AS m_lags,
       round(CAST(n AS DOUBLE) * (n + 2)
             * CAST(SUM(CAST(rho * rho / (n - k) AS DECIMAL(38,15)))
                    AS DOUBLE), 6) AS q_stat
FROM r GROUP BY event_type, n
"""


@register("timeseries_ljung_box", oracle=_LJUNG_BOX_SQL)
def timeseries_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX PORTMANTEAU TEST on each event type's daily-revenue
    series: Q = n(n+2) * sum over lags k<=m of rho_k^2/(n-k) (Ljung &
    Box 1978) — the whole-correlogram whiteness read the per-lag ACF
    table (``timeseries_autocorrelation``) can't give: seven
    individually-smallish autocorrelations can jointly be decisive,
    and Q is the one number forecasting pipelines gate residuals on
    (a model whose residual Q stays large is leaving structure on the
    table). Uses the textbook estimator — deviations from the ONE
    series mean, rho_k = c_k/c_0 with the full-series sum of squares
    as the shared denominator — where the ACF op reports per-lag
    Pearson over the lag-aligned pairs; the two read different
    questions and both belong.

    Exactness: daily cents are exact integer sums; the mean is one
    fixed double expression; deviations are dollar-scaled doubles
    whose products DECIMAL(38,15)-cast before every order-independent
    sum (the ANOVA accumulators' discipline), as does each lag's
    rho^2/(n-k) term before the 7-term fold; one n(n+2)*sum + round(6)
    finish. Series shorter than m lags are excluded in both engines
    (stated boundary; every fixture series is far longer), and a
    CONSTANT series (s0 = 0) NULLs rho — hence Q — identically in both
    engines via an explicit zero-denominator CASE/when (the
    assortativity denominator-guard convention; unguarded, Spark's
    double /0 NULLs while DuckDB's raises or infs, a silent
    cross-engine divergence).

    Plan/scale: the day grid is the only data-sized reduction (the
    family's shared daily rollup); deviations, c_0, and the 7 lag
    products all run on the |days|-row grid (lag join keyed on
    (event_type, day)); output is one row per event type."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    st = d.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("cents").cast("bigint").alias("sx")
    )
    dev = (
        F.col("cents").cast("double") - F.col("sx").cast("double") / F.col("n")
    ) / 100.0
    v = d.join(F.broadcast(st), "event_type").select(
        "event_type", "day", dev.alias("dev")
    )
    c0 = v.groupBy("event_type").agg(
        F.sum((F.col("dev") * F.col("dev")).cast("decimal(38,15)")).alias("s0")
    )
    a = v.select(
        "event_type",
        "day",
        F.col("dev").alias("dev_a"),
        F.explode(F.sequence(F.lit(1), F.lit(LJUNG_BOX_LAGS))).alias("k"),
    )
    b = v.select(
        "event_type", F.col("day").alias("day_b"), F.col("dev").alias("dev_b")
    )
    ck = (
        a.join(
            b,
            (F.col("day_b") == F.date_sub(F.col("day"), F.col("k")))
            & (a.event_type == b.event_type),
        )
        .groupBy(a.event_type, "k")
        .agg(
            F.sum((F.col("dev_a") * F.col("dev_b")).cast("decimal(38,15)")).alias(
                "sk"
            )
        )
    )
    r = (
        ck.join(F.broadcast(c0), "event_type")
        .join(F.broadcast(st), "event_type")
        .where(F.col("n") > LJUNG_BOX_LAGS)
        .select(
            "event_type",
            "k",
            "n",
            F.when(
                F.col("s0") != 0,
                F.col("sk").cast("double") / F.col("s0").cast("double"),
            ).alias("rho"),
        )
    )
    term = (F.col("rho") * F.col("rho") / (F.col("n") - F.col("k"))).cast(
        "decimal(38,15)"
    )
    return r.groupBy("event_type", "n").agg(
        F.round(
            F.col("n").cast("double")
            * (F.col("n") + 2)
            * F.sum(term).cast("double"),
            6,
        ).alias("q_stat")
    ).select(
        "event_type",
        F.col("n").alias("n_days"),
        F.lit(LJUNG_BOX_LAGS).cast("int").alias("m_lags"),
        "q_stat",
    )


_THEIL_SQL = """
WITH x AS (SELECT o_custkey,
                  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                    AS c
           FROM orders GROUP BY o_custkey),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s FROM x),
e AS (SELECT CAST(x.c AS DOUBLE) / (CAST(t.s AS DOUBLE) / t.n) AS r, t.n, t.s
      FROM x, t),
a AS (SELECT MAX(n) AS n, MAX(s) AS s,
             SUM(CAST(r * ln(r) AS DECIMAL(38,15))) AS t_acc,
             SUM(CAST(-ln(r) AS DECIMAL(38,15))) AS l_acc
      FROM e)
SELECT n AS n_customers, s AS total_cents,
       round(CAST(t_acc AS DOUBLE) / n, 6) AS theil_t,
       round(CAST(l_acc AS DOUBLE) / n, 6) AS theil_l,
       round(CAST(t_acc AS DOUBLE) / n / ln(CAST(n AS DOUBLE)), 6)
         AS theil_t_normalized
FROM a
"""


@register("agg_theil_index", oracle=_THEIL_SQL)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL INEQUALITY INDICES over per-customer spend — the
    decomposable member of the inequality family (Gini ranks, Lorenz
    draws the curve, HHI reads concentration of SHARES; Theil 1967's
    entropy-based T = (1/N) sum (x/mu) ln(x/mu) and L = (1/N) sum
    ln(mu/x) are the ones that split additively into within/between
    group terms, which is why panel studies reach for them), plus
    T/ln(N) — the [0,1] normalization that makes readings comparable
    across population sizes. Unlike the Gini pair, NO ranking is
    needed at all: both indices are plain means of per-row terms, so
    the op is one aggregate cheaper than its siblings by
    construction.

    Exactness: per-customer cents are exact integer sums; the global
    (n, s) pair reduces exactly; each customer's ratio term is one
    fixed double expression DECIMAL(38,15)-cast before the
    order-independent sum; three divisions + round(6) finish. Every
    customer with an order has positive spend (fixture invariant:
    o_totalprice > 0), so ln never sees zero — stated, not guarded.

    Plan/scale: one map-side-combined per-customer rollup (the same
    shuffle Gini pays), one 2-scalar reduction, one broadcast-back
    map + final aggregate. No window, no sort, no rank — at 100 TB
    this is strictly the cheapest inequality read in the catalog."""
    x = _t(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("c")
    )
    t = x.agg(F.count("*").alias("n"), F.sum("c").cast("bigint").alias("s"))
    r = F.col("c").cast("double") / (F.col("s").cast("double") / F.col("n"))
    e = x.crossJoin(F.broadcast(t)).select(r.alias("r"), "n", "s")
    a = e.agg(
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        F.sum((F.col("r") * F.log("r")).cast("decimal(38,15)")).alias("t_acc"),
        F.sum((-F.log("r")).cast("decimal(38,15)")).alias("l_acc"),
    )
    return a.select(
        F.col("n").alias("n_customers"),
        F.col("s").alias("total_cents"),
        F.round(F.col("t_acc").cast("double") / F.col("n"), 6).alias("theil_t"),
        F.round(F.col("l_acc").cast("double") / F.col("n"), 6).alias("theil_l"),
        F.round(
            F.col("t_acc").cast("double")
            / F.col("n")
            / F.log(F.col("n").cast("double")),
            6,
        ).alias("theil_t_normalized"),
    )


_DRAWDOWN_SQL = """
WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
                  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS cents
           FROM events GROUP BY 1, 2),
p AS (SELECT event_type, day, cents,
             MAX(cents) OVER (PARTITION BY event_type ORDER BY day
                              ROWS UNBOUNDED PRECEDING) AS peak
      FROM d),
dd AS (SELECT *,
              (CAST(peak AS DOUBLE) - cents) / peak AS drawdown,
              row_number() OVER (
                  PARTITION BY event_type
                  ORDER BY (CAST(peak AS DOUBLE) - cents) / peak DESC, day)
                AS rk
       FROM p),
cnt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM d
        GROUP BY event_type)
SELECT dd.event_type, cnt.n_days,
       CAST(dd.day AS TIMESTAMP) AS trough_day,
       dd.peak AS peak_cents,
       dd.cents AS trough_cents,
       round(dd.drawdown, 6) AS max_drawdown
FROM dd JOIN cnt ON cnt.event_type = dd.event_type
WHERE dd.rk = 1
"""


@register("timeseries_drawdown", oracle=_DRAWDOWN_SQL)
def timeseries_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMUM DRAWDOWN of each event type's daily-revenue series —
    the worst peak-to-trough collapse relative to the running peak
    (the risk statistic finance monitors on equity curves, and the
    same read an ops dashboard wants for daily volume: "how bad was
    the worst slump, and when"): per type, the running peak over the
    day grid, drawdown_t = (peak_t - x_t)/peak_t, and the row where
    it maximizes (tie -> earliest day), with the peak and trough
    levels alongside. CUSUM (``timeseries_cusum_changepoint``) finds
    WHERE the level shifted; drawdown reports the DEPTH of the worst
    excursion — different question, same grid.

    Exactness: daily cents are exact integer sums; the running peak
    is an integer window MAX; the drawdown is one fixed double
    expression, compared UNROUNDED for the argmax (with the day as
    the stated tie-break) and rounded only on emission. Revenue
    cents are positive, so peak > 0 always — stated, not guarded.

    Plan/scale: one map-side-combined day rollup, then windows on
    the |type x day| grid partitioned by type (bounded by the
    calendar, the family's shared shape); one row out per type."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    peak_w = (
        W.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    p = d.select(
        "event_type", "day", "cents", F.max("cents").over(peak_w).alias("peak")
    )
    drawdown = (F.col("peak").cast("double") - F.col("cents")) / F.col("peak")
    rk = F.row_number().over(
        W.partitionBy("event_type").orderBy(drawdown.desc(), "day")
    )
    dd = p.select(
        "event_type",
        "day",
        "cents",
        "peak",
        drawdown.alias("drawdown"),
        rk.alias("rk"),
    ).where(F.col("rk") == 1)
    cnt = d.groupBy("event_type").agg(F.count("*").alias("n_days"))
    return dd.join(F.broadcast(cnt), "event_type").select(
        "event_type",
        "n_days",
        F.col("day").cast("timestamp").alias("trough_day"),
        F.col("peak").alias("peak_cents"),
        F.col("cents").alias("trough_cents"),
        F.round("drawdown", 6).alias("max_drawdown"),
    )


_COL_ENTROPY_SQL = """
WITH s AS (SELECT 'o_orderstatus' AS col, o_orderstatus AS val FROM orders
           UNION ALL
           SELECT 'o_orderpriority', o_orderpriority FROM orders
           UNION ALL
           SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
           UNION ALL
           SELECT 'order_year',
                  CAST(CAST(year(o_orderdate) AS INT) AS VARCHAR) FROM orders
           UNION ALL
           SELECT 'price_sign',
                  CASE WHEN o_totalprice > 0 THEN 'pos' ELSE 'nonpos' END
           FROM orders),
c AS (SELECT col, val, CAST(COUNT(*) AS BIGINT) AS n
      FROM s GROUP BY col, val),
c2 AS (SELECT col, n,
              SUM(n) OVER (PARTITION BY col) AS tot
       FROM c),
t AS (SELECT col, CAST(MAX(tot) AS BIGINT) AS tot,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(MAX(n) AS BIGINT) AS top_n,
             CAST(SUM(CAST(
                 -(CAST(n AS DOUBLE) / tot)
                   * ln(CAST(n AS DOUBLE) / tot)
                   / ln(2) AS DECIMAL(38,15))) AS DOUBLE) AS h
      FROM c2 GROUP BY col)
SELECT col AS column_name, n_distinct,
       round(CAST(top_n AS DOUBLE) / tot, 6) AS top_share,
       round(h, 6) AS entropy_bits,
       CASE WHEN n_distinct > 1
            THEN round(h / (ln(CAST(n_distinct AS DOUBLE)) / ln(2)), 6)
            ELSE NULL END AS entropy_normalized
FROM t
"""


@register("profile_column_entropy", oracle=_COL_ENTROPY_SQL)
def profile_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATEGORICAL-COLUMN ENTROPY PROFILE of the orders table — the
    information-theoretic companion of the column profiler
    (``profile_orders_columns`` reads nulls/min/max/distincts;
    ``profile_functional_dependencies`` reads determinism BETWEEN
    columns; this reads how much information each column carries on
    its own): per column, Shannon entropy in bits over the value
    distribution, the dominant value's share, and entropy normalized
    by log2(distinct) — near-0 flags a effectively-constant column
    (drop it from shuffles and stats), near-1 a uniform key-like one
    (a candidate partition/bucket key). Columns span the cardinality
    range on purpose: status (3 values), priority (5), order year
    (calendar-sized), custkey (key-like), and a derived price-sign
    flag that is constant on this data — the live case for the
    normalized-entropy NULL boundary.

    Exactness: value counts are exact integers via ONE stacked
    aggregate; each value's -p*log2(p) term is one fixed double
    expression DECIMAL(38,15)-cast before the order-independent
    per-column sum; shares and normalizations are single divisions +
    round(6), with the single-valued-column guard (log2(1) = 0
    denominator) stated as NULL in both engines.

    Plan/scale: the unpivot explode carries (column, value) pairs —
    5x the rows but only the profiled columns' bytes; one map-side-
    combined count, then per-column closing sums over the bounded
    value grid. |columns| output rows."""
    o = _t(spark, sf_dir, "orders")
    stacked = o.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_orderstatus").alias("col"),
                    F.col("o_orderstatus").alias("val"),
                ),
                F.struct(
                    F.lit("o_orderpriority").alias("col"),
                    F.col("o_orderpriority").alias("val"),
                ),
                F.struct(
                    F.lit("o_custkey").alias("col"),
                    F.col("o_custkey").cast("string").alias("val"),
                ),
                F.struct(
                    F.lit("order_year").alias("col"),
                    F.year("o_orderdate").cast("int").cast("string").alias("val"),
                ),
                F.struct(
                    F.lit("price_sign").alias("col"),
                    F.when(F.col("o_totalprice") > 0, F.lit("pos"))
                    .otherwise(F.lit("nonpos"))
                    .alias("val"),
                ),
            )
        ).alias("s")
    ).select("s.col", "s.val")
    c = stacked.groupBy("col", "val").agg(F.count("*").alias("n"))
    tot_w = W.partitionBy("col")
    p = F.col("n").cast("double") / F.sum("n").over(tot_w)
    term = (-p * F.log(p) / math.log(2.0)).cast("decimal(38,15)")
    t = c.select("col", "n", term.alias("term")).groupBy("col").agg(
        F.sum("n").cast("bigint").alias("tot"),
        F.count("*").alias("n_distinct"),
        F.max("n").cast("bigint").alias("top_n"),
        F.sum("term").cast("double").alias("h"),
    )
    norm = F.col("h") / (F.log(F.col("n_distinct").cast("double")) / math.log(2.0))
    return t.select(
        F.col("col").alias("column_name"),
        "n_distinct",
        F.round(F.col("top_n").cast("double") / F.col("tot"), 6).alias("top_share"),
        F.round("h", 6).alias("entropy_bits"),
        F.when(F.col("n_distinct") > 1, F.round(norm, 6))
        .otherwise(F.lit(None).cast("double"))
        .alias("entropy_normalized"),
    )


#: Bucketed-entropy grid width: 1024 md5 buckets per column — the cap
#: that makes the profile's shuffle grid corpus-size-independent.
_ENT_BUCKETS = 1024

_COL_ENTROPY_BUCKETED_SQL = f"""
WITH s AS (SELECT 'o_orderstatus' AS col, o_orderstatus AS val FROM orders
           UNION ALL
           SELECT 'o_orderpriority', o_orderpriority FROM orders
           UNION ALL
           SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
           UNION ALL
           SELECT 'order_year',
                  CAST(CAST(year(o_orderdate) AS INT) AS VARCHAR) FROM orders
           UNION ALL
           SELECT 'price_sign',
                  CASE WHEN o_totalprice > 0 THEN 'pos' ELSE 'nonpos' END
           FROM orders),
b AS (SELECT col,
             ('0x' || substr(md5(val || '#ent'), 1, 6))::BIGINT
               % {_ENT_BUCKETS} AS bkt
      FROM s),
c AS (SELECT col, bkt, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY col, bkt),
c2 AS (SELECT col, n, SUM(n) OVER (PARTITION BY col) AS tot FROM c),
t AS (SELECT col, CAST(MAX(tot) AS BIGINT) AS tot,
             CAST(COUNT(*) AS BIGINT) AS n_buckets,
             CAST(MAX(n) AS BIGINT) AS top_n,
             CAST(SUM(CAST(
                 -(CAST(n AS DOUBLE) / tot)
                   * ln(CAST(n AS DOUBLE) / tot)
                   / ln(2) AS DECIMAL(38,15))) AS DOUBLE) AS h
      FROM c2 GROUP BY col)
SELECT col AS column_name, n_buckets,
       round(CAST(top_n AS DOUBLE) / tot, 6) AS top_bucket_share,
       round(h, 6) AS entropy_bucketed_bits
FROM t
"""


@register("profile_column_entropy_bucketed", oracle=_COL_ENTROPY_BUCKETED_SQL)
def profile_column_entropy_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKETED COLUMN-ENTROPY PROFILE — the scale twin of
    ``profile_column_entropy``, which enumerates each column's exact
    value grid and therefore carries a data-sized shuffle for
    key-like columns (o_custkey's grid grows with the corpus —
    3.2x/decade in the r11 ladder, by design but uncapped). This twin
    is the production shape: every value hashes into one of 1024 md5
    buckets (the ``sketch_count_min_md5_topk`` counter-cell device —
    seeded-suffix md5, identical in both engines), and the profile
    reads entropy over BUCKET counts. The grid is ≤ 1024 cells per
    column whatever the corpus, bucketed entropy LOWER-BOUNDS true
    entropy (collisions merge probability mass — the data-processing
    inequality), matches the exact profile to within collision noise
    for low-cardinality columns, and saturation (n_buckets near 1024
    with entropy near 10 bits) is itself the key-like signal the
    profiler exists to raise. No cap decision is needed — bucketing
    everything replaces the approx_count_distinct gate a two-pass
    design would need.

    Exactness: the bucket id is exact integer arithmetic on a 24-bit
    md5 prefix (conv/substr stated identically in both engines);
    bucket counts are exact integers; each -p*log2(p) term
    DECIMAL(38,15)-casts before the order-independent per-column sum;
    shares round(6).

    Plan/scale: one stacked explode (5x rows, profiled columns'
    bytes only) then ONE map-side-combined aggregate whose grid is
    ≤ 5 * 1024 cells — the combine absorbs the corpus, the exchange
    carries the grid. |columns| output rows at any scale."""
    o = _t(spark, sf_dir, "orders")
    stacked = o.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_orderstatus").alias("col"),
                    F.col("o_orderstatus").alias("val"),
                ),
                F.struct(
                    F.lit("o_orderpriority").alias("col"),
                    F.col("o_orderpriority").alias("val"),
                ),
                F.struct(
                    F.lit("o_custkey").alias("col"),
                    F.col("o_custkey").cast("string").alias("val"),
                ),
                F.struct(
                    F.lit("order_year").alias("col"),
                    F.year("o_orderdate").cast("int").cast("string").alias("val"),
                ),
                F.struct(
                    F.lit("price_sign").alias("col"),
                    F.when(F.col("o_totalprice") > 0, F.lit("pos"))
                    .otherwise(F.lit("nonpos"))
                    .alias("val"),
                ),
            )
        ).alias("s")
    ).select(
        "s.col",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.col("s.val"), F.lit("#ent"))), 1, 6),
                16,
                10,
            ).cast("long")
            % _ENT_BUCKETS
        ).alias("bkt"),
    )
    c = stacked.groupBy("col", "bkt").agg(F.count("*").alias("n"))
    tot_w = W.partitionBy("col")
    p = F.col("n").cast("double") / F.sum("n").over(tot_w)
    term = (-p * F.log(p) / math.log(2.0)).cast("decimal(38,15)")
    t = c.select("col", "n", term.alias("term")).groupBy("col").agg(
        F.sum("n").cast("bigint").alias("tot"),
        F.count("*").alias("n_buckets"),
        F.max("n").cast("bigint").alias("top_n"),
        F.sum("term").cast("double").alias("h"),
    )
    return t.select(
        F.col("col").alias("column_name"),
        "n_buckets",
        F.round(F.col("top_n").cast("double") / F.col("tot"), 6).alias(
            "top_bucket_share"
        ),
        F.round("h", 6).alias("entropy_bucketed_bits"),
    )


_MANN_WHITNEY_SQL = """
WITH x AS (SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END AS in_a,
                  CAST(round(o_totalprice * 100) AS BIGINT) // 100000 AS bin
           FROM orders),
g AS (SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(in_a) AS BIGINT) AS a
      FROM x GROUP BY bin),
w AS (SELECT bin, c, a,
             COALESCE(SUM(c) OVER (ORDER BY bin
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS cum_before
      FROM g),
s AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(a) AS BIGINT) AS n_a,
             CAST(SUM(CAST(a * (2 * cum_before + c + 1) AS DECIMAL(38,0)))
                  AS DOUBLE) AS r2,
             CAST(SUM(CAST(c * c * c - c AS DECIMAL(38,0))) AS DOUBLE) AS ties
      FROM w)
SELECT n_a, n - n_a AS n_b,
       round((r2 - CAST(n_a AS DOUBLE) * (n_a + 1)) / 2, 6) AS u_stat,
       round(((r2 - CAST(n_a AS DOUBLE) * (n_a + 1))
              - CAST(n_a AS DOUBLE) * (n - n_a))
             / (2 * sqrt(CAST(n_a AS DOUBLE) * (n - n_a) / 12.0
                         * ((n + 1) - ties
                            / (CAST(n AS DOUBLE) * (n - 1))))), 6) AS z_score,
       abs(((r2 - CAST(n_a AS DOUBLE) * (n_a + 1))
            - CAST(n_a AS DOUBLE) * (n - n_a))
           / (2 * sqrt(CAST(n_a AS DOUBLE) * (n - n_a) / 12.0
                       * ((n + 1) - ties
                          / (CAST(n AS DOUBLE) * (n - 1)))))) > 1.96
         AS reject_95
FROM s
"""


@register("agg_mann_whitney_binned", oracle=_MANN_WHITNEY_SQL)
def agg_mann_whitney_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U (Wilcoxon rank-sum) on $1,000 VALUE BINS —
    urgent-or-high orders vs the rest: the DISTRIBUTION-FREE
    two-sample location test beside the family's parametric Welch t
    (means) and KS (whole-shape) members — the one analysts reach for
    when revenue tails make means lie. Binning is the scale move
    (the ``agg_ks_binned`` / ``agg_kendall_tau_binned`` discipline):
    exact midranks over raw near-continuous prices would need a
    data-sized rank (the wall Spearman's two-phase machinery exists
    for); on the bounded bin grid every midrank is a closed form of
    the bin histogram — midrank_v = rows-below + (ties+1)/2 — and
    the tie-corrected normal approximation
    z = (U - n_a n_b/2) / sqrt(n_a n_b/12 ((n+1) - sum(t^3-t)/n(n-1)))
    reads entirely off grid marginals. Doubled midranks
    (2*cum_before + c + 1) keep the rank sum an exact integer — the
    Spearman rx2 trick.

    Exactness: bin counts, doubled rank sums, and the tie term
    accumulate in DECIMAL(38,0) (t^3 overflows BIGINT long before
    100 TB); the U, z, and decision close as fixed double
    expressions (+ round(6) on emission; the decision compares the
    unrounded z in both engines).

    Plan/scale: one map-side-combined bin aggregate is the only
    data-sized work; the cumulative window runs on the ~100-row bin
    grid; one-row output."""
    x = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("long")
        .alias("in_a"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT) div 100000").alias(
            "bin"
        ),
    )
    g = x.groupBy("bin").agg(
        F.count("*").alias("c"), F.sum("in_a").cast("bigint").alias("a")
    )
    cum_w = W.orderBy("bin").rowsBetween(W.unboundedPreceding, -1)
    w = g.select(
        "bin",
        "c",
        "a",
        F.coalesce(F.sum("c").over(cum_w), F.lit(0)).alias("cum_before"),
    )
    r2_term = (
        F.col("a") * (2 * F.col("cum_before") + F.col("c") + 1)
    ).cast("decimal(38,0)")
    tie_term = (
        F.col("c") * F.col("c") * F.col("c") - F.col("c")
    ).cast("decimal(38,0)")
    s = w.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum("a").cast("bigint").alias("n_a"),
        F.sum(r2_term).cast("double").alias("r2"),
        F.sum(tie_term).cast("double").alias("ties"),
    )
    n = F.col("n")
    na = F.col("n_a").cast("double")
    nb = (F.col("n") - F.col("n_a")).cast("double")
    u2 = F.col("r2") - na * (F.col("n_a") + 1)
    # literally 2*sqrt(var), matching the SQL text character-for-
    # character in structure (sqrt(4*var) is equal in IEEE but the
    # catalog's rule is identical stated expressions, not equivalences)
    z = (u2 - na * nb) / (
        2
        * F.sqrt(
            (na * nb / 12.0)
            * ((n + 1) - F.col("ties") / (n.cast("double") * (n - 1)))
        )
    )
    return s.select(
        "n_a",
        (F.col("n") - F.col("n_a")).alias("n_b"),
        F.round(u2 / 2, 6).alias("u_stat"),
        F.round(z, 6).alias("z_score"),
        (F.abs(z) > 1.96).alias("reject_95"),
    )


_KENDALL_SQL = """
WITH src AS (SELECT CAST(round(l_quantity) AS INT) AS bx,
                    CAST(floor(CAST(l_extendedprice AS DOUBLE) / 10000.0)
                         AS INT) AS by
             FROM lineitem),
g AS (SELECT bx, by, CAST(COUNT(*) AS BIGINT) AS n FROM src GROUP BY bx, by),
cd AS (SELECT
         CAST(SUM(CASE WHEN a.bx < b.bx AND a.by < b.by
                       THEN CAST(a.n * b.n AS DECIMAL(38,0))
                       ELSE CAST(0 AS DECIMAL(38,0)) END) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN a.bx < b.bx AND a.by > b.by
                       THEN CAST(a.n * b.n AS DECIMAL(38,0))
                       ELSE CAST(0 AS DECIMAL(38,0)) END) AS BIGINT) AS d
       FROM g a, g b),
tx AS (SELECT CAST(SUM(CAST(t * (t - 1) AS DECIMAL(38,0))) AS BIGINT) // 2
         AS n1
       FROM (SELECT SUM(n) AS t FROM g GROUP BY bx)),
ty AS (SELECT CAST(SUM(CAST(t * (t - 1) AS DECIMAL(38,0))) AS BIGINT) // 2
         AS n2
       FROM (SELECT SUM(n) AS t FROM g GROUP BY by)),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n FROM g)
SELECT tot.n AS n_rows, cd.c AS n_concordant, cd.d AS n_discordant,
       tx.n1 AS ties_x, ty.n2 AS ties_y,
       round((CAST(cd.c AS DOUBLE) - cd.d)
             / (sqrt(CAST(tot.n AS DOUBLE) * (tot.n - 1) / 2.0 - tx.n1)
                * sqrt(CAST(tot.n AS DOUBLE) * (tot.n - 1) / 2.0 - ty.n2)),
             6) AS tau_b
FROM cd, tx, ty, tot
"""


@register("agg_kendall_tau_binned", oracle=_KENDALL_SQL)
def agg_kendall_tau_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL'S TAU-B between line-item quantity and price, computed
    ENTIRELY from the binned contingency grid — the third rank-
    association member (Pearson reads linear fit, Spearman reads
    monotone rank agreement, tau reads PAIRWISE concordance: the
    probability a random pair sorts the same way on both axes, the
    quantity Kendall 1938 defined and the one with the direct
    betting-odds interpretation). Naive tau is O(n^2) over ROWS; on a
    grid of B_x x B_y value bins every concordant/discordant count is
    a product of CELL counts, so the quadratic collapses onto the
    bounded grid (<= 550 cells here: quantity's 50 native values x 11
    price bins) — the reduce-then-pair discipline ``agg_ks_binned``
    applies to the same wall, with the tie corrections (tau-b's
    sqrt((n0-n1)(n0-n2)) denominator) read off the grid marginals.

    Exactness: cell counts and every pair product accumulate in
    DECIMAL(38,0) (order-independent integer addition; products of
    two row counts overflow BIGINT long before 100 TB), exposed as
    BIGINT; the tau closes as one fixed double expression + round(6)
    on both engines. Binning is stated identically (round() for the
    integral quantity — never a bare CAST, the engines' cast-rounding
    divergence — and floor(double/10000) for price).

    Plan/scale: one map-side-combined grid aggregate (the only
    data-sized work), then a 550x550 broadcast-sized grid cross-pair
    and two marginal rollups — output and pair work are
    grid-bounded whatever the corpus."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_quantity")).cast("int").alias("bx"),
        F.floor(F.col("l_extendedprice").cast("double") / 10000.0)
        .cast("int")
        .alias("by"),
    )
    g = li.groupBy("bx", "by").agg(F.count("*").alias("n")).persist()
    a, b = g.alias("a"), g.alias("b")
    pair_n = (F.col("a.n") * F.col("b.n")).cast("decimal(38,0)")
    zero = F.lit(0).cast("decimal(38,0)")
    cd = (
        a.crossJoin(F.broadcast(b))
        .agg(
            F.sum(
                F.when(
                    (F.col("a.bx") < F.col("b.bx"))
                    & (F.col("a.by") < F.col("b.by")),
                    pair_n,
                ).otherwise(zero)
            )
            .cast("bigint")
            .alias("c"),
            F.sum(
                F.when(
                    (F.col("a.bx") < F.col("b.bx"))
                    & (F.col("a.by") > F.col("b.by")),
                    pair_n,
                ).otherwise(zero)
            )
            .cast("bigint")
            .alias("d"),
        )
    )
    def tie(key: str, out: str) -> DataFrame:
        return (
            g.groupBy(key)
            .agg(F.sum("n").alias("t"))
            .agg(
                F.expr(
                    "CAST(SUM(CAST(t * (t - 1) AS DECIMAL(38,0))) AS BIGINT)"
                    " div 2"
                ).alias(out)
            )
        )
    tx, ty = tie("bx", "n1"), tie("by", "n2")
    tot = g.agg(F.sum("n").cast("bigint").alias("n"))
    out = cd.crossJoin(tx).crossJoin(ty).crossJoin(tot)
    n0 = F.col("n").cast("double") * (F.col("n") - 1) / 2.0
    tau = (F.col("c").cast("double") - F.col("d")) / (
        F.sqrt(n0 - F.col("n1")) * F.sqrt(n0 - F.col("n2"))
    )
    return out.select(
        F.col("n").alias("n_rows"),
        F.col("c").alias("n_concordant"),
        F.col("d").alias("n_discordant"),
        F.col("n1").alias("ties_x"),
        F.col("n2").alias("ties_y"),
        F.round(tau, 6).alias("tau_b"),
    )


_SPEARMAN_SQL = """
WITH x AS (SELECT CAST(COUNT(*) AS BIGINT) AS xv,
                  CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                       AS BIGINT) AS yv
           FROM lineitem GROUP BY l_orderkey),
hx AS (SELECT xv, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY xv),
cx AS (SELECT xv,
              2 * (COALESCE(SUM(c) OVER (ORDER BY xv
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0)) + c + 1 AS rx2
       FROM hx),
hy AS (SELECT yv, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY yv),
cy AS (SELECT yv,
              2 * (COALESCE(SUM(c) OVER (ORDER BY yv
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0)) + c + 1 AS ry2
       FROM hy),
r AS (SELECT CAST(cx.rx2 AS DECIMAL(38,0)) AS rx,
             CAST(cy.ry2 AS DECIMAL(38,0)) AS ry
      FROM x JOIN cx ON x.xv = cx.xv JOIN cy ON x.yv = cy.yv),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(rx) AS sx, SUM(ry) AS sy,
             SUM(rx * ry) AS sxy,
             SUM(rx * rx) AS sxx,
             SUM(ry * ry) AS syy
      FROM r)
SELECT n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS spearman_rho
FROM s
"""


@register("agg_spearman_rank_corr", oracle=_SPEARMAN_SQL)
def agg_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION between an order's ITEM COUNT and
    its REVENUE — the robust/monotone companion of the Pearson pair
    (``agg_corr_covar_lineitem``): Pearson reads LINEAR association
    and is outlier-sensitive; Spearman is Pearson ON THE RANKS,
    invariant to any monotone transform (heavy-tailed revenue columns
    are exactly where analysts reach for it). The fixture's honest
    answer is strongly positive (~0.86 — more items, more revenue;
    the raw quantity/price columns draw independently and were
    rejected as the demo pair for reading ~0).

    The load-bearing rewrite: textbook Spearman globally sort-ranks
    every ROW through one task. Tied ranks split the problem by
    cardinality instead. QUANTITY has 50 distinct values, so its
    MIDRANK is a function of the value histogram alone — midrank(v) =
    (rows below v) + (count(v)+1)/2, a cumulative window over a
    50-row grid. PRICE is data-sized-distinct, so its histogram
    cumsum would itself be a single-task window (measured 181 s at
    ~sf10 before this rewrite); instead the HISTOGRAM gets the
    store's two-phase protocol generalized to weighted prefix sums:
    range-partition + sort the (value, count) rows — range bounds are
    key-based, so a value never splits across partitions — cumsum
    LOCALLY per partition (window keyed on spark_partition_id, fully
    parallel), collect the K per-partition count totals, prefix-sum
    them on the driver, and read the offsets back as one constant
    array (``store.prefix_offsets``, ``_dense_rowid_frame``'s shape
    with counts in place of rows;
    below(v) is partition-boundary-invariant, and the sorted
    histogram is persisted so the collected offsets stay aligned with
    the frame they came from — the ``_ranked_customer_spend``
    contract). DOUBLED midranks (always integers) keep every moment
    in exact DECIMAL(38,0) arithmetic — the doubling cancels in rho
    (rank affine invariance); one double finish + round(6).

    Plan/scale: the corpus reduces FIRST (one map-side-combined
    per-order aggregate); ranks are computed on the reduction. No
    single-partition stage anywhere — the only single-point work is
    the driver's K-row partition prefix sum; the item-count join
    broadcasts a grid-sized map; the revenue midranks join back on
    the revenue key; the 6-moment reduction is one map-side-combined
    aggregate to a single row."""
    from pyspark import StorageLevel

    from vector_db_core_spark.store import prefix_offsets

    x = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count("*").cast("bigint").alias("xv"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).cast("bigint").alias("yv"),
        )
        .select("xv", "yv")
        # persisted (r14): BOTH histograms and the final moment join
        # read this per-order reduction — unpersisted, the lineitem
        # scan + aggregate ran three times in the executed plan.
        # Released by the registry-wide clearCache contract.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # item-count side: grid-sized histogram (basket sizes)
    hx = x.groupBy("xv").agg(F.count("*").alias("c"))
    wcum = W.orderBy("xv").rowsBetween(W.unboundedPreceding, -1)
    below = F.coalesce(F.sum("c").over(wcum), F.lit(0))
    cx = hx.select("xv", (2 * below + F.col("c") + 1).alias("rx2"))
    # price side: weighted two-phase cumsum over the value histogram
    hy = x.groupBy("yv").agg(F.count("*").alias("c"))
    srt = (
        hy.repartitionByRange("yv")
        .sortWithinPartitions("yv")
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    totals = srt.groupBy("_pid").agg(F.sum("c").alias("t")).collect()
    off, _ = prefix_offsets({r._pid: r.t for r in totals}, F.col("_pid"))
    wloc = (
        W.partitionBy("_pid")
        .orderBy("yv")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    below_y = off + F.coalesce(F.sum("c").over(wloc), F.lit(0))
    cy = srt.select("yv", (2 * below_y + F.col("c") + 1).alias("ry2"))
    r = (
        x.join(F.broadcast(cx), "xv")
        .join(cy, "yv")
        .select(
            F.col("rx2").cast("decimal(38,0)").alias("rx"),
            F.col("ry2").cast("decimal(38,0)").alias("ry"),
        )
    )
    s = r.agg(
        F.count("*").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    num = n * F.col("sxy").cast("double") - sx * sy
    den = F.sqrt(
        (n * F.col("sxx").cast("double") - sx * sx)
        * (n * F.col("syy").cast("double") - sy * sy)
    )
    return s.select("n", F.round(num / den, 6).alias("spearman_rho"))


_CRAMERS_MATRIX_SQL = """
WITH raw AS (
    SELECT 'p_brand|p_type' AS pair, p_brand AS a, p_type AS b FROM part
    UNION ALL
    SELECT 'p_brand|p_size', p_brand, CAST(p_size AS VARCHAR) FROM part
    UNION ALL
    SELECT 'p_type|p_size', p_type, CAST(p_size AS VARCHAR) FROM part
    UNION ALL
    SELECT 'l_returnflag|l_linestatus', l_returnflag, l_linestatus
    FROM lineitem
    UNION ALL
    SELECT 'o_orderstatus|o_orderpriority', o_orderstatus, o_orderpriority
    FROM orders),
cells AS (SELECT pair, a, b, CAST(COUNT(*) AS BIGINT) AS n_ij
          FROM raw GROUP BY 1, 2, 3),
m AS (SELECT *,
             SUM(n_ij) OVER (PARTITION BY pair, a) AS rt,
             SUM(n_ij) OVER (PARTITION BY pair, b) AS ct,
             SUM(n_ij) OVER (PARTITION BY pair) AS n
      FROM cells),
s AS (SELECT pair,
             CAST(MAX(n) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
             CAST(COUNT(DISTINCT b) AS BIGINT) AS c,
             SUM(CAST(
                 (n_ij - CAST(rt AS DOUBLE) * ct / n)
                 * (n_ij - CAST(rt AS DOUBLE) * ct / n)
                 / (CAST(rt AS DOUBLE) * ct / n)
                 AS DECIMAL(27,15))) AS chi2_acc
      FROM m GROUP BY pair)
SELECT pair, n, r, c, (r - 1) * (c - 1) AS dof,
       round(CAST(chi2_acc AS DOUBLE), 6) AS chi2,
       round(sqrt(CAST(chi2_acc AS DOUBLE)
                  / (n * CAST(LEAST(r - 1, c - 1) AS DOUBLE))), 6)
         AS cramers_v
FROM s
"""


@register("agg_cramers_v", oracle=_CRAMERS_MATRIX_SQL)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAMER'S V ASSOCIATION MATRIX over categorical column PAIRS —
    the categorical analog of a correlation matrix and the profiling
    read feature selection starts from (``agg_chi2_independence``
    tests ONE pair chosen in advance; a profiler wants every
    candidate pair ranked by effect size in one pass). One row per
    pair with the contingency dimensions, chi2 and V; TPC-H's
    independent generators put most pairs near V=0, which is itself
    the correct read (the pytest pins it), while the
    returnflag|linestatus pair is structurally associated (status
    derives from ship/receipt dates that also drive returnability).

    Exactness: the ``agg_chi2_independence`` contract verbatim, per
    pair — exact integer cells and marginals, each cell's (O-E)^2/E
    stated in the same operation order in both engines, DECIMAL-cast
    before the order-independent sum, one double finish + round(6).

    Plan/scale: the three part pairs ride ONE scan — each row is
    melted to (pair, a, b) structs (a 3x row fan-out into a map-side-
    combined aggregate, NOT three scans; the r10 chi2 plan-audit
    lesson); the widest grid (type x size) is a few thousand cells,
    so every window and the final reduction run on bounded frames. At
    100 TB the only data-sized work is the melt aggregate; adding
    pairs widens the melt array, never adds scans."""
    p = _t(spark, sf_dir, "part").select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("p_brand|p_type").alias("pair"),
                    F.col("p_brand").alias("a"),
                    F.col("p_type").alias("b"),
                ),
                F.struct(
                    F.lit("p_brand|p_size").alias("pair"),
                    F.col("p_brand").alias("a"),
                    F.col("p_size").cast("string").alias("b"),
                ),
                F.struct(
                    F.lit("p_type|p_size").alias("pair"),
                    F.col("p_type").alias("a"),
                    F.col("p_size").cast("string").alias("b"),
                ),
            )
        ).alias("p")
    ).select("p.pair", "p.a", "p.b")
    li = _t(spark, sf_dir, "lineitem").select(
        F.lit("l_returnflag|l_linestatus").alias("pair"),
        F.col("l_returnflag").alias("a"),
        F.col("l_linestatus").alias("b"),
    )
    o = _t(spark, sf_dir, "orders").select(
        F.lit("o_orderstatus|o_orderpriority").alias("pair"),
        F.col("o_orderstatus").alias("a"),
        F.col("o_orderpriority").alias("b"),
    )
    cells = (
        p.unionByName(li)
        .unionByName(o)
        .groupBy("pair", "a", "b")
        .agg(F.count("*").alias("n_ij"))
    )
    m = cells.select(
        "pair",
        "a",
        "b",
        "n_ij",
        F.sum("n_ij").over(W.partitionBy("pair", "a")).alias("rt"),
        F.sum("n_ij").over(W.partitionBy("pair", "b")).alias("ct"),
        F.sum("n_ij").over(W.partitionBy("pair")).alias("n"),
    )
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    term = (F.col("n_ij") - e) * (F.col("n_ij") - e) / e
    s = m.groupBy("pair").agg(
        F.max("n").cast("bigint").alias("n"),
        F.countDistinct("a").cast("bigint").alias("r"),
        F.countDistinct("b").cast("bigint").alias("c"),
        F.sum(term.cast("decimal(27,15)")).alias("chi2_acc"),
    )
    chi2 = F.col("chi2_acc").cast("double")
    mind = F.least(F.col("r") - 1, F.col("c") - 1).cast("double")
    return s.select(
        "pair",
        "n",
        "r",
        "c",
        ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(F.sqrt(chi2 / (F.col("n") * mind)), 6).alias("cramers_v"),
    )


@register(
    "cohort_stickiness_dau_mau",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT 'month' AS grain,
                        strftime(ts, '%Y-%m') AS period,
                        CAST(ts AS DATE) AS day,
                        user_id
        FROM events
        UNION ALL
        SELECT DISTINCT 'week',
                        CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR),
                        CAST(ts AS DATE),
                        user_id
        FROM events)
    SELECT grain, period,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users,
           CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS user_days,
           round(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT day), 6)
             AS avg_dau,
           round(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT day)
                 / COUNT(DISTINCT user_id), 6) AS stickiness
    FROM ud
    GROUP BY grain, period
    """,
)
def cohort_stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU AND DAU/WAU STICKINESS — the engagement-frequency
    ratio product analytics leads with (MAU says how many came;
    DAU/MAU says how OFTEN the ones who came come back: 1.0 = daily
    habit, ~1/days = once-a-period drive-by). Both grains in one
    output: per calendar month and per ISO week (Monday-truncated in
    both engines), avg_dau = mean daily distinct users over days WITH
    activity; stickiness divides it by the period's distinct users.

    Exactness: one DISTINCT (grain, period, day, user) frame makes
    all three counts exact integers from the same source —
    sum-of-daily-DAU equals the frame's row count per period by
    construction, so avg_dau needs no second pass; two double
    divisions + round(6). Calendar math is the engines' shared
    Gregorian date cast and Monday week-truncation (Spark
    date_trunc('week') == DuckDB date_trunc('week')); the fixture's
    naive-micros timestamps see no timezone.

    Plan/scale: each event row melts to its two (grain, period)
    memberships (a 2x fan-out into ONE distinct — not two scans);
    the shuffle carries distinct user-days per grain (bounded by
    users x days x 2, not events), then a map-side-combined period
    aggregate. At 100 TB the distinct is the same pre-aggregation
    every retention op pays, and the COUNT(DISTINCT ...) pairs over
    the frame expand under Spark's expand operator, all combinable."""
    ud = (
        _t(spark, sf_dir, "events")
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("month").alias("grain"),
                        F.date_format("ts", "yyyy-MM").alias("period"),
                    ),
                    F.struct(
                        F.lit("week").alias("grain"),
                        F.date_trunc("week", F.col("ts"))
                        .cast("date")
                        .cast("string")
                        .alias("period"),
                    ),
                )
            ).alias("g"),
            F.to_date("ts").alias("day"),
            "user_id",
        )
        .select("g.grain", "g.period", "day", "user_id")
        .distinct()
    )
    return ud.groupBy("grain", "period").agg(
        F.countDistinct("user_id").cast("bigint").alias("active_users"),
        F.countDistinct("day").cast("bigint").alias("n_days"),
        F.count("*").cast("bigint").alias("user_days"),
        F.round(F.count("*").cast("double") / F.countDistinct("day"), 6).alias(
            "avg_dau"
        ),
        F.round(
            F.count("*").cast("double")
            / F.countDistinct("day")
            / F.countDistinct("user_id"),
            6,
        ).alias("stickiness"),
    )


@register(
    "window_session_gaps",
    oracle="""
    WITH t AS (SELECT user_id, epoch_us(ts) AS us,
                 CASE WHEN epoch_us(ts)
                           - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                     ORDER BY epoch_us(ts))
                           > 1800000000
                      OR lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                 ORDER BY epoch_us(ts)) IS NULL
                      THEN 1 ELSE 0 END AS brk
               FROM events),
    s AS (SELECT user_id, us,
                 SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM t),
    sess AS (SELECT user_id, sid,
                    MIN(us) AS start_us, MAX(us) AS end_us
             FROM s GROUP BY user_id, sid),
    g AS (SELECT user_id,
                 start_us - lag(end_us) OVER (PARTITION BY user_id
                                              ORDER BY sid) AS gap_us
          FROM sess),
    b AS (SELECT CASE WHEN gap_us < 3600000000 THEN '1_under_1h'
                      WHEN gap_us < 21600000000 THEN '2_1h_to_6h'
                      WHEN gap_us < 86400000000 THEN '3_6h_to_24h'
                      WHEN gap_us < 604800000000 THEN '4_1d_to_7d'
                      ELSE '5_over_7d' END AS gap_band,
                 gap_us
          FROM g WHERE gap_us IS NOT NULL),
    a AS (SELECT gap_band,
                 CAST(COUNT(*) AS BIGINT) AS n_gaps,
                 CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us
          FROM b GROUP BY gap_band)
    SELECT gap_band, n_gaps,
           round(CAST(n_gaps AS DOUBLE) / SUM(n_gaps) OVER (), 6) AS share,
           round(CAST(sum_gap_us AS DOUBLE) / n_gaps / 3600000000.0, 6)
             AS mean_gap_h
    FROM a
    """,
)
def window_session_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-SESSION GAP DISTRIBUTION — the re-engagement-latency read
    BETWEEN the sessions ``window_session_user_activity`` builds
    (session stats say what happens inside a visit; the gap between a
    session's end and the user's NEXT session start is the
    return-frequency signal notification/retention work optimizes).
    Sessions use the same 30-minute inactivity rule; gaps are banded
    into the product-standard buckets (<1h, 1-6h, 6-24h, 1-7d, >7d)
    with counts, share, and mean gap hours per band.

    Exactness: all sessionization arithmetic is exact BIGINT
    microseconds (the interarrival contract); band edges are integer
    literal compares; counts and gap sums are exact integers; share
    and mean are single double divisions + round(6). Band labels are
    prefix-numbered so ordering is lexicographic in both engines.

    Plan/scale: two windows partitioned by user_id (the lag-break and
    the running session id reuse ONE sort — same partitioning and
    ordering, Spark plans a single exchange+sort), then a
    map-side-combined (user, sid) aggregate, a lag over the
    sessions-per-user frame (orders of magnitude smaller than
    events), and a 5-row band aggregate. Per-user streams are the
    natural partition at 100 TB — millions of small user partitions,
    no global sort anywhere; the share divisor is a window sum over
    the 5-row band frame, not a second pass."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us")
    )
    wu = W.partitionBy("user_id").orderBy("us")
    brk = F.when(
        (F.col("us") - F.lag("us").over(wu) > 1_800_000_000)
        | F.lag("us").over(wu).isNull(),
        1,
    ).otherwise(0)
    s = e.select(
        "user_id",
        "us",
        F.sum(brk).over(wu.rowsBetween(W.unboundedPreceding, 0)).alias("sid"),
    )
    sess = s.groupBy("user_id", "sid").agg(
        F.min("us").alias("start_us"), F.max("us").alias("end_us")
    )
    g = sess.select(
        "user_id",
        (
            F.col("start_us")
            - F.lag("end_us").over(W.partitionBy("user_id").orderBy("sid"))
        ).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    band = (
        F.when(F.col("gap_us") < 3_600_000_000, "1_under_1h")
        .when(F.col("gap_us") < 21_600_000_000, "2_1h_to_6h")
        .when(F.col("gap_us") < 86_400_000_000, "3_6h_to_24h")
        .when(F.col("gap_us") < 604_800_000_000, "4_1d_to_7d")
        .otherwise("5_over_7d")
    )
    b = g.select(band.alias("gap_band"), "gap_us")
    a = b.groupBy("gap_band").agg(
        F.count("*").cast("bigint").alias("n_gaps"),
        F.sum("gap_us").cast("bigint").alias("sum_gap_us"),
    )
    return a.select(
        "gap_band",
        "n_gaps",
        F.round(
            F.col("n_gaps").cast("double")
            / F.sum("n_gaps").over(W.partitionBy()),
            6,
        ).alias("share"),
        F.round(
            F.col("sum_gap_us").cast("double")
            / F.col("n_gaps")
            / 3_600_000_000.0,
            6,
        ).alias("mean_gap_h"),
    )


@register(
    "agg_quantile_bands_exact",
    oracle="""
    WITH th AS (SELECT quantile_cont(o_totalprice,
                        [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS ts
                FROM orders),
    b AS (SELECT CAST(len(list_filter(th.ts, t -> o.o_totalprice > t))
                      AS INT) AS band,
                 o.o_totalprice AS v
          FROM orders o, th)
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(MIN(v), 2) AS min_price,
           round(MAX(v), 2) AS max_price,
           CAST(SUM(CAST(round(v * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM b
    GROUP BY band
    """,
)
def agg_quantile_bands_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT DECILE BANDING of order value — the histogram-on-exact-
    quantile-edges read (NTILE assigns by row rank and splits ties
    arbitrarily across bands; banding by the exact decile THRESHOLDS
    puts every equal value in the same band, which is what pricing /
    segmentation logic needs: 'the top decile BY VALUE', not 'the
    top tenth of rows'). Each order's band is the count of decile
    thresholds strictly below its value (0..9); per band: count,
    min/max, exact cents sum.

    Exactness: the nine thresholds come from the shared exact-
    percentile contract (Spark ``percentile`` array == DuckDB
    ``quantile_cont`` list, linear interpolation); band assignment is
    a strict double comparison against those exact doubles —
    identical in both engines because the thresholds themselves are
    identical doubles; counts are integers, the money sum rides the
    round(x*100)-BIGINT cents contract, min/max are exact value picks
    rounded for display.

    Plan/scale: one aggregate produces the 9-element threshold array
    (exact percentile concentrates per-group values — here ONE group;
    at 100 TB swap approx_percentile per the twin policy, same plan
    shape), broadcast-joined back onto the scan (Catalyst plans the
    1-row cross join as BroadcastNestedLoopJoin — no shuffle of
    orders); the band aggregate is map-side-combined to 10 rows."""
    o = _t(spark, sf_dir, "orders").select("o_totalprice")
    th = o.agg(
        F.percentile(
            "o_totalprice",
            F.array(*[F.lit(x / 10.0) for x in range(1, 10)]),
        ).alias("ts")
    )
    b = o.join(F.broadcast(th)).select(
        F.size(
            F.filter("ts", lambda t: F.col("o_totalprice") > t)
        ).alias("band"),
        F.col("o_totalprice").alias("v"),
    )
    return b.groupBy("band").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.min("v"), 2).alias("min_price"),
        F.round(F.max("v"), 2).alias("max_price"),
        F.sum(F.round(F.col("v") * 100).cast("bigint"))
        .cast("bigint")
        .alias("sum_cents"),
    )


_THETA_SQL = """
WITH RECURSIVE
d AS (SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
o AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY day) AS BIGINT) AS rn
      FROM d),
a AS (SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rn) AS BIGINT) AS sx,
             CAST(SUM(rn * rn) AS BIGINT) AS sxx,
             CAST(SUM(cents) AS BIGINT) AS sy,
             CAST(SUM(rn * cents) AS BIGINT) AS sxy
      FROM o GROUP BY event_type),
p AS (SELECT event_type, n, sx, sy,
             n * sxy - sx * sy AS num,
             n * sxx - sx * sx AS den
      FROM a),
z AS (SELECT o.event_type, o.rn, p.n, p.num, p.den, p.sy, p.sx,
             2 * o.cents * p.n * p.den
             - (p.sy * p.den - p.num * p.sx)
             - p.n * p.num * o.rn AS zt
      FROM o JOIN p USING (event_type)),
r AS (
  SELECT event_type, rn, n, num, den, sy, sx, zt, zt AS s
  FROM z WHERE rn = 1
  UNION ALL
  SELECT z.event_type, z.rn, z.n, z.num, z.den, z.sy, z.sx, z.zt,
         (z.zt + r.s + 1) // 2 AS s
  FROM z JOIN r ON z.event_type = r.event_type AND z.rn = r.rn + 1)
SELECT event_type,
       n AS n_days,
       CASE WHEN den > 0
            THEN round(CAST(num AS DOUBLE) / den / 100.0, 6) END
         AS slope_daily,
       CASE WHEN den > 0
            THEN round(CAST(sy * den - num * sx AS DOUBLE)
                       / (CAST(n AS DOUBLE) * den) / 100.0, 6) END
         AS intercept,
       CASE WHEN den > 0
            THEN round(CAST(s AS DOUBLE)
                       / (CAST(n AS DOUBLE) * den) / 100.0, 6) END
         AS ses_theta2_last,
       CASE WHEN den > 0
            THEN round(CAST((sy * den - num * sx) + n * num * (n + 1) + s
                            AS DOUBLE)
                       / (2.0 * n * den) / 100.0, 6) END AS forecast_1,
       CASE WHEN den > 0
            THEN round(CAST((sy * den - num * sx) + n * num * (n + 2) + s
                            AS DOUBLE)
                       / (2.0 * n * den) / 100.0, 6) END AS forecast_2,
       CASE WHEN den > 0
            THEN round(CAST((sy * den - num * sx) + n * num * (n + 3) + s
                            AS DOUBLE)
                       / (2.0 * n * den) / 100.0, 6) END AS forecast_3
FROM r WHERE rn = n
"""


def _tdiv2(c):
    """Truncate-toward-zero division by 2 (the ``_tdiv10`` device),
    composable inside ``F.aggregate`` lambdas; matches DuckDB ``//``
    for either sign."""
    aa = F.abs(c)
    t = ((aa - aa % 2).cast("double") / 2).cast("long")
    return F.when(c < 0, -t).otherwise(t)


@register("timeseries_theta_forecast", oracle=_THETA_SQL)
def timeseries_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THETA-METHOD FORECAST (Assimakopoulos & Nikolopoulos 2000 — the
    M3-competition winner and still the default statistical baseline
    forecasting benchmarks are judged against): per event type, the
    theta-0 line IS the OLS linear trend of the daily series and the
    theta-2 line (2*y - line) doubles the local curvature; SES
    (alpha=0.5) smooths the theta-2 line and the h-step forecast
    averages the two — trend extrapolation anchored by a smoothed
    local level. Output per type: fitted slope/intercept, last SES
    state, and the h=1..3 forecasts in daily dollars.

    Exactness (the Holt-family integer discipline, pushed through a
    RATIONAL line): the OLS slope num/den and intercept are ratios of
    exact BIGINT sums over (rn, cents); the theta-2 series is kept in
    the EXACT integer scale z*(n*den) — ``2*c*n*den - (sy*den-num*sx)
    - n*num*rn`` — so the SES recursion ``s' = (z + s + 1) // 2``
    (alpha=1/2 with half-up fold) is pure BIGINT and bit-identical at
    any parallelism; every output is ONE double division of exact
    integers + round(6). Magnitude bound: |z_scaled| <~ cents_max *
    n^5/6 — int64-safe to ~thousands of daily points per type at this
    fixture's magnitudes (a DECIMAL(38) accumulator is the documented
    swap for longer series). den=0 (a single-day series) yields NULL
    forecasts identically in both engines, never a division error.

    Plan/scale: daily pre-aggregation (map-side combined, ONE
    data-sized shuffle); per-type OLS sums are a second grid-sized
    aggregate broadcast back; the SES fold runs INSIDE codegen via
    ``array_sort(collect_list)`` + ``F.aggregate`` over the bounded
    daily series (the ``timeseries_holt_linear`` shape — series
    length is calendar days, not events). The oracle runs the
    identical recurrence as a recursive CTE."""
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents")
    )
    o = d.select(
        "event_type",
        "cents",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("day"))
        .cast("bigint")
        .alias("rn"),
    )
    a = o.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("rn").cast("bigint").alias("sx"),
        F.sum(F.col("rn") * F.col("rn")).cast("bigint").alias("sxx"),
        F.sum("cents").cast("bigint").alias("sy"),
        F.sum(F.col("rn") * F.col("cents")).cast("bigint").alias("sxy"),
    )
    p = a.select(
        "event_type",
        "n",
        "sx",
        "sy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
    )
    z = o.join(F.broadcast(p), "event_type").select(
        "event_type",
        "rn",
        "n",
        "num",
        "den",
        "sy",
        "sx",
        (
            2 * F.col("cents") * F.col("n") * F.col("den")
            - (F.col("sy") * F.col("den") - F.col("num") * F.col("sx"))
            - F.col("n") * F.col("num") * F.col("rn")
        ).alias("zt"),
    )
    series = z.groupBy("event_type", "n", "num", "den", "sy", "sx").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("rn").alias("rn"), "zt"))
        ).alias("s")
    )
    acc_t = "struct<s:bigint,first:boolean>"
    init = F.named_struct(
        F.lit("s"), F.lit(0).cast("long"), F.lit("first"), F.lit(True)
    ).cast(acc_t)

    def step(acc, x):
        s_new = F.when(acc["first"], x["zt"]).otherwise(
            _tdiv2(x["zt"] + acc["s"] + 1)
        )
        return F.named_struct(
            F.lit("s"), s_new, F.lit("first"), F.lit(False)
        ).cast(acc_t)

    folded = series.select(
        "event_type",
        "n",
        "num",
        "den",
        "sy",
        "sx",
        F.aggregate("s", init, step)["s"].alias("s"),
    )
    nden = F.col("n").cast("double") * F.col("den")
    lin0 = F.col("sy") * F.col("den") - F.col("num") * F.col("sx")

    def fc(h: int) -> F.Column:
        line = lin0 + F.col("n") * F.col("num") * (F.col("n") + h)
        return F.when(
            F.col("den") > 0,
            F.round(
                (line + F.col("s")).cast("double")
                / (F.lit(2.0) * F.col("n") * F.col("den"))
                / 100.0,
                6,
            ),
        )

    return folded.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.when(
            F.col("den") > 0,
            F.round(F.col("num").cast("double") / F.col("den") / 100.0, 6),
        ).alias("slope_daily"),
        F.when(
            F.col("den") > 0,
            F.round(lin0.cast("double") / nden / 100.0, 6),
        ).alias("intercept"),
        F.when(
            F.col("den") > 0,
            F.round(F.col("s").cast("double") / nden / 100.0, 6),
        ).alias("ses_theta2_last"),
        fc(1).alias("forecast_1"),
        fc(2).alias("forecast_2"),
        fc(3).alias("forecast_3"),
    )


_KAPPA_SQL = r"""
WITH t AS (SELECT n_chars >= 300 AS rater_a,
                  len(list_distinct(list_filter(
                      string_split_regex(text, '\s+'), x -> x <> ''))) * 10
                  >= len(list_filter(
                      string_split_regex(text, '\s+'), x -> x <> '')) * 9
                    AS rater_b
           FROM documents),
c AS (SELECT
        CAST(SUM(CASE WHEN rater_a AND rater_b THEN 1 ELSE 0 END) AS BIGINT)
          AS a,
        CAST(SUM(CASE WHEN rater_a AND NOT rater_b THEN 1 ELSE 0 END)
             AS BIGINT) AS b,
        CAST(SUM(CASE WHEN NOT rater_a AND rater_b THEN 1 ELSE 0 END)
             AS BIGINT) AS c,
        CAST(SUM(CASE WHEN NOT rater_a AND NOT rater_b THEN 1 ELSE 0 END)
             AS BIGINT) AS d,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM t),
m AS (SELECT a, b, c, d, n,
             CAST(a + d AS DOUBLE) / n AS po,
             (CAST(a + b AS DOUBLE) * (a + c)
              + CAST(c + d AS DOUBLE) * (b + d)) / (CAST(n AS DOUBLE) * n)
               AS pe
      FROM c)
SELECT a AS both_pass, b AS a_only, c AS b_only, d AS neither, n,
       round(po, 6) AS po,
       round(pe, 6) AS pe,
       CASE WHEN pe < 1.0 THEN round((po - pe) / (1.0 - pe), 6) END
         AS cohens_kappa
FROM m
"""


@register("agg_cohens_kappa", oracle=_KAPPA_SQL)
def agg_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA between two document-quality filters — the
    inter-rater agreement read (Cohen 1960) that tells a curation
    pipeline whether two filters are REDUNDANT (kappa near 1: drop
    one), COMPLEMENTARY (kappa near 0: compose them), or FIGHTING
    (negative: investigate) — raw percent agreement can't, because
    two filters that both pass ~everything agree by chance. Rater A
    is the length gate (n_chars >= 300), rater B the type-token-
    ratio gate (distinct tokens >= 90% of tokens, spelled as the
    integer cross-multiplication ``10*distinct >= 9*n`` — no float
    threshold); kappa = (po - pe) / (1 - pe) over their 2x2.

    Exactness: both raters are integer/boolean expressions over the
    shared token contract; the 2x2 cells are exact integer sums; po
    and pe are fixed double expressions stated in the same operation
    order in both engines; the degenerate pe = 1 case (both raters
    constant) yields NULL kappa identically rather than 0/0.

    Plan/scale: one corpus scan folding map-side to a single 2x2 —
    no shuffle beyond the 1-row final combine; adding raters widens
    the melt, never adds scans (the agg_cramers_v note)."""
    from vector_db_core_spark.functions.text import distinct_tokens, tokens

    t = _t(spark, sf_dir, "documents").select(
        (F.col("n_chars") >= 300).alias("ra"),
        (
            F.size(distinct_tokens("text")) * 10
            >= F.size(tokens("text")) * 9
        ).alias("rb"),
    )
    c = t.agg(
        F.sum(F.when(F.col("ra") & F.col("rb"), 1).otherwise(0))
        .cast("bigint")
        .alias("a"),
        F.sum(F.when(F.col("ra") & ~F.col("rb"), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when(~F.col("ra") & F.col("rb"), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
        F.sum(F.when(~F.col("ra") & ~F.col("rb"), 1).otherwise(0))
        .cast("bigint")
        .alias("d"),
        F.count("*").cast("bigint").alias("n"),
    )
    po = (F.col("a") + F.col("d")).cast("double") / F.col("n")
    pe = (
        (F.col("a") + F.col("b")).cast("double") * (F.col("a") + F.col("c"))
        + (F.col("c") + F.col("d")).cast("double") * (F.col("b") + F.col("d"))
    ) / (F.col("n").cast("double") * F.col("n"))
    return c.select(
        F.col("a").alias("both_pass"),
        F.col("b").alias("a_only"),
        F.col("c").alias("b_only"),
        F.col("d").alias("neither"),
        "n",
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.when(pe < 1.0, F.round((po - pe) / (1.0 - pe), 6)).alias(
            "cohens_kappa"
        ),
    )
