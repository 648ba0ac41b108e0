"""Bucketed-table co-location (io.write_bucketed): the storage-layout
lever the 100 TB design leans on for recurring fact-fact joins. The
pins are PLAN-SHAPE assertions (the test_plan_shape posture): a join
of two same-bucketed tables must show NO Exchange on either side, the
within-bucket sort must let the merge join skip its sort, a grouped
aggregate on the bucket key must not shuffle, and an equality filter
must prune to 1/n of the bucket files."""

from __future__ import annotations

import pytest

from cdc_2025_spark.io import read_table, write_bucketed

SF = "/root/testdata/sf0.001"
N_BUCKETS = 8


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    """orders + customer bucketed by customer key into the same
    bucket count (sorted within buckets), in a throwaway database."""
    spark.sql("CREATE DATABASE IF NOT EXISTS bucket_test")
    orders = read_table(spark, SF, "orders")
    customer = read_table(spark, SF, "customer")
    write_bucketed(
        orders,
        "bucket_test.orders_b",
        ["o_custkey"],
        N_BUCKETS,
        sort_cols=["o_custkey"],
    )
    write_bucketed(
        customer,
        "bucket_test.customer_b",
        ["c_custkey"],
        N_BUCKETS,
        sort_cols=["c_custkey"],
    )
    yield "bucket_test.orders_b", "bucket_test.customer_b"
    spark.sql("DROP DATABASE bucket_test CASCADE")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_same_bucket_join_has_no_exchange(spark, bucketed_tables):
    """The headline guarantee: joining the two tables on the bucket
    key plans a SortMergeJoin with ZERO Exchange operators — each
    task merges one bucket file pair locally. (Broadcast disabled so
    the small test tables take the same plan the big ones would.)"""
    ot, ct = bucketed_tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table(ot).join(
            spark.table(ct),
            spark.table(ot).o_custkey == spark.table(ct).c_custkey,
        )
        n = j.count()
        plan = _plan(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert n > 0
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    # sortBy within buckets: the merge join needs no per-task sort
    # beyond the bucket files' own order — no Sort above the scans
    assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan


def test_groupby_on_bucket_key_has_no_exchange(spark, bucketed_tables):
    ot, _ = bucketed_tables
    agg = spark.table(ot).groupBy("o_custkey").count()
    agg.count()
    plan = _plan(agg)
    assert "Exchange" not in plan, plan


def test_bucket_pruning_on_equality_filter(spark, bucketed_tables):
    """An equality predicate on the bucket column scans 1 of the
    N_BUCKETS buckets — the plan advertises the selected count.
    autoBucketedScan is turned off for the pin: the planner otherwise
    falls back to a plain scan for filter-only queries (where bucket
    layout adds task-count constraints without a join to pay for
    them) and the pruning never engages."""
    ot, _ = bucketed_tables
    any_key = spark.table(ot).select("o_custkey").first()[0]
    conf = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        q = spark.table(ot).filter(f"o_custkey = {any_key}")
        assert q.count() > 0
        plan = _plan(q)
    finally:
        spark.conf.set(conf, old)
    assert f"SelectedBucketsCount: 1 out of {N_BUCKETS}" in plan, plan


def test_unbucketed_join_shuffles_as_baseline(spark, bucketed_tables):
    """Control: the SAME join over the raw parquet (no bucketing)
    does exchange both sides — proving the no-Exchange pin above is
    the bucketing, not the data size."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = read_table(spark, SF, "orders")
        customer = read_table(spark, SF, "customer")
        j = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        )
        j.count()
        plan = _plan(j)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Exchange" in plan


def test_write_bucketed_validation(spark):
    with pytest.raises(ValueError, match="bucket_cols"):
        write_bucketed(None, "t", [], 4)
    with pytest.raises(ValueError, match="n_buckets"):
        write_bucketed(None, "t", ["k"], 0)
