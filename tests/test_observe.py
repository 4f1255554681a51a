"""Pipeline observability via df.observe() — the production pattern
for data-quality counters: metrics (row counts, null counts, exact
cent sums) ride the SAME action as the write/collect, costing zero
extra scans — at 100 TB a monitoring pass that re-reads the corpus is
itself a budget item, observe() makes it free. observe() answers
"what flowed through THIS run"."""

import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import Observation, functions as F


def test_observe_counters_ride_the_action(spark):
    obs = Observation("curation")
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    watched = d.observe(
        obs,
        F.count(F.lit(1)).alias("n_in"),
        F.sum(F.col("text").isNull().cast("long")).alias("n_null_text"),
        F.sum(F.length("text").cast("long")).alias("total_chars"),
    )
    kept = watched.where(F.length("text") >= 10)
    n_kept = kept.count()  # ONE action drives both the filter and the metrics
    got = obs.get
    assert got["n_in"] >= n_kept > 0
    assert got["n_null_text"] == 0
    # the counters match an independent aggregation exactly
    want = d.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.length("text")).alias("c")
    ).collect()[0]
    assert got["n_in"] == want["n"] and got["total_chars"] == want["c"]


def test_observe_exact_cents_through_a_join(spark):
    """Metrics observed mid-plan (before a join) report the pre-join
    flow — the placement IS the semantics, pinned here so a refactor
    that moves the observe point fails loudly."""
    obs = Observation("prejoin")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    watched = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_fact"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)))
        .cast("long")
        .alias("cents_in"),
    )
    joined = watched.join(
        o.where(F.col("o_orderpriority") == "1-URGENT"),
        watched["l_orderkey"] == o["o_orderkey"],
    )
    n_joined = joined.count()
    got = obs.get
    assert got["n_fact"] == li.count()  # pre-join flow, not post-join
    assert got["n_fact"] >= n_joined > 0
    assert got["cents_in"] > 0
