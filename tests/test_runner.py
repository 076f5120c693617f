"""runner.run_query: the one way a query is run — its sinks, the job
group it tags the query's Spark jobs with, and that the group never
leaks past the call; plus run_oracle_check over a named subset."""

from __future__ import annotations

import pytest

from bitcoinminingetl_spark.registry import load_all
from bitcoinminingetl_spark.runner import run_query

NAME = "q_avg_grouped"


def _group_jobs(spark, group):
    """Ids of the retained jobs of `group`. The status tracker keeps only
    the last spark.ui.retainedJobs jobs and evicts the oldest in batches,
    so the tests below compare snapshots by the ids that appear, never by
    the ids that stay."""
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_collect_returns_the_rows_of_the_query(spark, sf_dir):
    fn = load_all()[NAME].fn
    df, rows, sec = run_query(spark, NAME, fn, sf_dir, "collect")
    assert sorted(map(tuple, rows)) == sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert df.columns == fn(spark, sf_dir).columns
    assert sec > 0


def test_jobs_carry_the_query_name_and_the_group_is_cleared(spark, sf_dir):
    fn = load_all()[NAME].fn
    run_query(spark, NAME, fn, sf_dir, "collect")
    tagged = _group_jobs(spark, NAME)
    assert tagged
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    ungrouped = _group_jobs(spark, None)
    spark.range(3).count()
    assert not _group_jobs(spark, NAME) - tagged
    assert _group_jobs(spark, None) - ungrouped


def test_count_returns_the_row_count(spark, sf_dir):
    fn = load_all()[NAME].fn
    _, n, _ = run_query(spark, NAME, fn, sf_dir, "count")
    assert n == fn(spark, sf_dir).count() > 0


def test_noop_is_the_default_sink(spark, sf_dir):
    _, out, _ = run_query(spark, NAME, load_all()[NAME].fn, sf_dir)
    assert out is None


def test_exception_propagates_and_the_group_is_cleared(spark, sf_dir):
    def boom(_spark, _sf_dir):
        raise RuntimeError("planted failure")

    with pytest.raises(RuntimeError, match="planted failure"):
        run_query(spark, "q_planted_failure", boom, sf_dir, "collect")
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    ungrouped = _group_jobs(spark, None)
    spark.range(3).count()
    assert _group_jobs(spark, None) - ungrouped
    assert not _group_jobs(spark, "q_planted_failure")


def test_run_oracle_check_runs_exactly_the_named_queries(spark, sf_dir):
    from bitcoinminingetl_spark.oracle_check import run_oracle_check

    names = ["q_avg_grouped", "q_filter_between"]
    summary = run_oracle_check(spark, sf_dir, names=names)
    assert list(summary["queries"]) == names
    assert summary["n_queries"] == 2
    assert all(r["status"] == "match" for r in summary["queries"].values())
