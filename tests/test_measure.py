"""tools/measure.py: every query is timed from call to sink under its
own job group, leaves nothing cached, and counts its rows from the
timed execution."""

from __future__ import annotations

import subprocess
import sys

from tests.conftest import REPO, SF_SMOKE
from tools.measure import time_query
from vector_db_core_spark.operators import QUERIES


def test_build_time_jobs_run_in_the_query_group(spark, job_count):
    """agg_gini_customer_spend collects partition counts while it is
    built; time_query must run those jobs in the query's group too, so
    none is left in the caller's."""
    fn = QUERIES["agg_gini_customer_spend"]
    spark.catalog.clearCache()
    _, stray = job_count(lambda: time_query(spark, fn, SF_SMOKE, "gini_measured"))
    assert stray == 0
    _, build_jobs = job_count(lambda: fn(spark, SF_SMOKE))
    spark.catalog.clearCache()
    assert build_jobs > 0, "the query must do work at construction"
    measured = spark.sparkContext.statusTracker().getJobIdsForGroup("gini_measured")
    assert len(measured) > build_jobs  # construction jobs + the sink's


def test_no_rdd_left_persisted(spark):
    """agg_kendall_tau_binned persists its grid aggregate; time_query
    releases it."""
    fn = QUERIES["agg_kendall_tau_binned"]
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    fn(spark, SF_SMOKE).write.mode("overwrite").format("noop").save()
    assert set(jsc.getPersistentRDDs().keySet()) - before, "the query must persist"
    spark.catalog.clearCache()
    before = set(jsc.getPersistentRDDs().keySet())
    time_query(spark, fn, SF_SMOKE, "kendall_measured")
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


def test_rows_match_collect(spark):
    fn = QUERIES["q3_shipping_priority"]
    _, rows = time_query(spark, fn, SF_SMOKE, "q3_measured")
    assert rows == len(fn(spark, SF_SMOKE).collect()) > 0


def test_cli_writes_plans(spark, tmp_path):
    out = subprocess.run(
        [
            sys.executable,
            str(REPO / "tools" / "measure.py"),
            SF_SMOKE,
            "q1_pricing_summary",
            "--runs",
            "1",
            "--plans",
            str(tmp_path),
        ],
        capture_output=True,
        text=True,
        timeout=600,
        check=True,
    )
    assert "Physical Plan" in (tmp_path / "q1_pricing_summary.txt").read_text()
    assert "q1_pricing_summary  sf0.001: min " in out.stdout
    rows = len(QUERIES["q1_pricing_summary"](spark, SF_SMOKE).collect())
    assert out.stdout.rstrip().endswith(f" rows {rows}")
