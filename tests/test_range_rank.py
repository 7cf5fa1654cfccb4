"""range_rank (ops/fusion) — exact-global-rank equivalence, and the
ntile closed form used by q_pareto_share.

range_rank replaces the single-task global row_number for total orders
with near-unique keys (where ordinal_rank's distinct-value histogram
would degenerate to row cardinality). These tests pin:

- rank values == the naive global row_number for the same total order,
  across sizes that straddle the partition count (empty partitions,
  single-row input, heavy ties broken by id);
- the SQL-standard NTILE(k) closed form (first n % k buckets of size
  n DIV k + 1, remainder of size n DIV k) == Spark's ntile, for every
  n in 1..40 at k=10 — the exact expression q_pareto_share inlines.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window, functions as F

from drone_spark.ops.fusion import range_rank


@pytest.mark.parametrize("n_rows", [1, 3, 17, 200])
def test_range_rank_matches_global_row_number(spark, n_rows):
    df = spark.range(n_rows).select(
        F.col("id"),
        # near-unique score with a few engineered ties
        (F.pmod(F.xxhash64("id"), F.lit(max(n_rows // 2, 1)))).alias("s"),
    )
    got = {
        r["id"]: r["rk"]
        for r in range_rank(
            df, [F.desc("s"), F.asc("id")], rank_col="rk", n_parts=8
        ).collect()
    }
    w = Window.orderBy(F.desc("s"), F.asc("id"))
    want = {
        r["id"]: r["rk"]
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    assert got == want


def test_ntile_closed_form_matches_spark_ntile(spark):
    # the exact CASE expression q_pareto_share uses, over rank r with
    # total count n_tot — checked against Spark's own ntile for every
    # n from 1 to 40 (straddles n < k, n % k == 0, and remainder cases)
    closed = (
        "CASE WHEN r <= (n_tot % 10) * (n_tot DIV 10 + 1) "
        "THEN (r - 1) DIV (n_tot DIV 10 + 1) + 1 "
        "ELSE (n_tot % 10) + "
        "(r - (n_tot % 10) * (n_tot DIV 10 + 1) - 1) "
        "DIV (n_tot DIV 10) + 1 END"
    )
    for n in range(1, 41):
        df = spark.range(1, n + 1).select(F.col("id").alias("r"))
        got = {
            r["r"]: r["t"]
            for r in df.withColumn("n_tot", F.lit(n))
            .withColumn("t", F.expr(closed).cast("int"))
            .collect()
        }
        w = Window.orderBy("r")
        want = {
            r["r"]: r["t"]
            for r in df.withColumn("t", F.ntile(10).over(w)).collect()
        }
        assert got == want, f"n={n}: {got} != {want}"


def test_range_rank_leaves_nothing_in_the_cache(spark):
    """The range-partitioned copy range_rank ranks over must not stay
    registered in the session's CacheManager once the result is
    collected: the same plan, rebuilt here, must not resolve to a
    cache entry."""
    df = spark.range(50).select(
        F.col("id"), (F.col("id") % 7).alias("s")
    )
    order = [F.desc("s"), F.asc("id")]
    ranked = range_rank(df, order, n_parts=4).collect()
    assert sorted(r["rank"] for r in ranked) == list(range(1, 51))
    parted = df.repartitionByRange(4, *order).withColumn(
        "_rr_pid", F.spark_partition_id()
    )
    level = parted.storageLevel
    assert not (level.useMemory or level.useDisk or level.useOffHeap), level
