"""The local replica of the driver's t2 gate: every registered query
with an oracle must match DuckDB on the sf0.01 tables exactly
(names + row count + order-insensitive values)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE
from tests.oracle_util import compare_spark_duck


def _pairs():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    return sorted(o.keys()), q, o


def test_every_query_is_oracled():
    """Every registered query carries a DuckDB oracle: no rows-only
    entries, and no oracle without its query."""
    from vector_db_core_spark.operators import ORACLE, QUERIES

    assert set(QUERIES) == set(ORACLE), sorted(set(QUERIES) ^ set(ORACLE))


def test_every_oracle_has_query():
    names, q, o = _pairs()
    missing = [n for n in names if n not in q]
    assert not missing, f"oracle_sql entries without queries(): {missing}"


@pytest.mark.parametrize("name", _pairs()[0])
def test_oracle_match(name, spark, duck):
    _, queries, oracles = _pairs()
    df = queries[name](spark, SF_ORACLE)
    rel = duck.sql(oracles[name])
    problems = compare_spark_duck(df, rel)
    assert not problems, f"{name}: " + " | ".join(problems)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


@pytest.mark.parametrize("name", [
    "q1_pricing_summary",        # exact-decimal sums
    "agg_stddev_variance",       # decimal moments
    "sim_label_centroids",       # decimal vector means
    "text_unigram_logprob",      # decimal-cast ln sums
    "agg_higher_moments",        # exact integer power sums
    "pipeline_curriculum_phases",  # exact global percentile thresholds
    "q9_product_type_profit",    # two decimal sums subtracted in double
    "agg_incremental_merge",     # base+delta mergeable-state algebra
    "checksum_orders_table",     # DECIMAL(38,0) hash-fold accumulation
    "agg_mad_robust_outliers",   # exact-percentile-derived robust stats
    "text_char_entropy",         # decimal-absorbed log2 term sums
    "agg_covariance_matrix",     # micro-unit DECIMAL(38,0) co-moments
    "graph_pagerank_exact",      # integer power-iteration fold
    "sim_pca_power_iteration_exact",  # integer spectral fold
    "sketch_count_min_md5_topk",      # md5-family counter cells
    "sim_kmeans_lloyd_exact",         # integer Lloyd iterations
    "timeseries_cusum_changepoint",   # scaled integer deviation argmax
    "dedup_minhash_md5_estimate",     # md5-family minhash signatures
    "agg_gini_customer_spend",        # two-phase distributed rank
    "agg_lorenz_deciles",             # NTILE closed form on the rank
])
def test_results_partition_independent(name, spark):
    """The exact-arithmetic policy's real claim: identical results at
    ANY parallelism. Run each decimal-accumulation query at 3 and 32
    shuffle partitions and require bit-identical rows."""
    q = _pairs()[1]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = sorted(map(str, q[name](spark, SF_ORACLE).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        b = sorted(map(str, q[name](spark, SF_ORACLE).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b


#: The rotation's basis is the state of the world AT ROTATION TIME —
#: reports from rounds strictly before the current one. Reading every
#: CORRECTNESS_r*.json on disk made the round-11 pin self-break the
#: moment the driver deposited the round's own report (its all-green
#: rows emptied the "backlog"), so the basis round is now pinned
#: explicitly and bumped at each rotation.
ROTATION_BASIS_MAX_ROUND = 12


def test_driver_window_is_first_50_all_new_and_oracled():
    """The driver hash-checks the first 50 registry entries; pin the
    round-13 rotation invariants: the curated window IS the
    iteration-order prefix, every slot is oracled (no rows-only entry
    burning a hash-check slot — the round-3 sim_ann_lsh_topk lesson),
    and the window = the full never-driver-checked backlog FIRST
    followed by drift-sentinel REPEATS (each green in some prior
    round, re-checked on purpose). Basis: CORRECTNESS_r{01..12} (286
    distinct hash-green); backlog = the 13 round-12 additions.
    Reports from later rounds (the driver deposits CORRECTNESS_r13+
    into this worktree) are excluded on purpose — they postdate the
    rotation and must not alter its invariants."""
    import glob
    import json
    import os
    import re

    from vector_db_core_spark.operators import DRIVER_WINDOW, ORACLE, QUERIES

    assert len(DRIVER_WINDOW) == 50
    assert list(QUERIES)[:50] == list(DRIVER_WINDOW)
    # oracle iteration order must agree (driver zips them independently)
    oracled_prefix = [n for n in QUERIES if n in ORACLE][:10]
    assert oracled_prefix == [n for n in ORACLE][:10]
    assert all(n in ORACLE for n in DRIVER_WINDOW)
    repo = os.path.join(os.path.dirname(__file__), "..")
    already_green: set[str] = set()
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r[0-9][0-9].json"))):
        rnd = int(re.search(r"r(\d+)\.json$", path).group(1))
        if rnd > ROTATION_BASIS_MAX_ROUND:
            continue
        with open(path) as fh:
            already_green |= {k for k, v in json.load(fh).items() if v.get("hash_match")}
    assert already_green, "correctness reports missing — rotation basis gone"
    flags = [n in already_green for n in DRIVER_WINDOW]
    backlog = [n for n, green in zip(DRIVER_WINDOW, flags) if not green]
    assert len(backlog) == 13, backlog
    # backlog first, sentinels after — no interleaving
    assert flags == sorted(flags), "backlog entries must precede sentinels"
    # the window's backlog must BE the whole oracled backlog that
    # existed at rotation time: nothing never-checked AND registered
    # before the window may be missing from it
    post_window = set(list(QUERIES)[50:])
    missing = [
        n for n in ORACLE
        if n not in already_green and n not in DRIVER_WINDOW and n not in post_window
    ]
    assert not missing, missing


#: Oracle groups allowed to keep two batch implementations. The
#: all-pairs n-gram Jaccard is the exact reference the MinHash-LSH
#: path is checked against (its recall and precision tests and the
#: sweep's fast oracle), so it stays a second path on purpose.
REFERENCE_PAIRS = {frozenset({"dedup_ngram_jaccard_pairs", "dedup_minhash_lsh_pairs"})}


def test_one_implementation_per_oracle():
    """Names that share one DuckDB oracle text compute one result, so
    they must share one implementation: within a group there is at most
    one batch callable and at most one ``streaming_*`` callable (a
    second name on the same callable is an alias, not a twin)."""
    from collections import defaultdict

    from vector_db_core_spark.operators import ORACLE, QUERIES

    groups: dict[str, list[str]] = defaultdict(list)
    for name, sql in ORACLE.items():
        groups[sql].append(name)
    twins = []
    for names in groups.values():
        if frozenset(names) in REFERENCE_PAIRS:
            continue
        by_fn: dict[int, list[str]] = defaultdict(list)
        for name in names:
            by_fn[id(QUERIES[name])].append(name)
        streaming = [ns for ns in by_fn.values() if all(n.startswith("streaming_") for n in ns)]
        if len(streaming) > 1 or len(by_fn) - len(streaming) > 1:
            twins.append(sorted(names))
    assert not twins, f"oracle groups with more than one implementation: {twins}"
