"""Reciprocal-rank fusion (RRF) of independent vertex rankings.

The standard way a web search stack combines heterogeneous signals
(PageRank, in-degree, BM25, click models) without score calibration:
``rrf(v) = Σ_lists 1/(k + rank_list(v))`` (Cormack & Clarke, SIGIR'09;
k = 60 by convention). Contributions here are the integer
``10^9 DIV (k + rank)`` so the fused score stays in exact int64 and the
DuckDB twin hash-matches bit-for-bit.

Scale note — ordinal ranks without the single-task window trap: the
naive ``ROW_NUMBER() OVER (ORDER BY score DESC)`` drags every row
through one task. :func:`ordinal_rank` instead computes
``rank = (# strictly better rows) + row_number within the tie group``:
the strictly-better count comes from a cumulative sum over the
*distinct-score histogram* (tiny — value-space, not row-space — then
broadcast back), and the tie-group row_number windows are PARTITIONED
by score, so every window task is bounded by its tie-group size. The
DuckDB twin IS the naive global window, proving value equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

RRF_K = 60
RRF_SCALE = 1_000_000_000


def ordinal_rank(
    df: DataFrame, score_col: str, id_col: str, rank_col: str = "rank"
) -> DataFrame:
    """Deterministic ordinal rank by (score DESC, id ASC), distributed
    as histogram-prefix + per-tie-group row_number."""
    hist = df.groupBy(score_col).agg(F.count(F.lit(1)).alias("n_rows"))
    w_hist = (
        Window.orderBy(F.desc(score_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    better = hist.select(
        score_col,
        F.coalesce(F.sum("n_rows").over(w_hist), F.lit(0)).alias("n_better"),
    )
    w_tie = Window.partitionBy(score_col).orderBy(F.asc(id_col))
    return (
        df.join(F.broadcast(better), score_col)
        .withColumn(rank_col, F.col("n_better") + F.row_number().over(w_tie))
        .drop("n_better")
    )


def range_rank(
    df: DataFrame,
    order_cols,
    rank_col: str = "rank",
    n_parts: int | None = None,
) -> DataFrame:
    """Exact global ``row_number`` by a TOTAL order, without the
    single-task global window — for orders whose keys are near-unique,
    where :func:`ordinal_rank`'s distinct-value histogram would
    degenerate to row cardinality.

    Classic two-pass partition-offset ranking: range-repartition on the
    order (partition p then holds a contiguous key range), count rows
    per partition (≤ ``n_parts`` rows to the driver), prefix-sum the
    counts into per-partition offsets, and add a row_number windowed
    WITHIN each partition. Every window task is bounded by its
    (range-balanced) partition; the driver sees only the count rows.

    ``order_cols``: list of Columns (may carry asc/desc) forming a
    total order — ties across rows would make ranks depend on the
    range boundary placement, so the caller must include a tiebreaker.

    The range exchange is local-checkpointed: the counts job
    materializes it once, and the returned plan reads exactly those
    blocks, so offsets and rows share one sampling of the range
    boundaries (re-sampling in a second job could move boundary rows).
    The blocks have no lineage — losing one fails the query instead of
    silently re-sampling — and nothing is registered in the session's
    cache, so no copy outlives the returned DataFrame.
    """
    spark = df.sparkSession
    n_parts = n_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    parted = (
        df.repartitionByRange(n_parts, *order_cols)
        .withColumn("_rr_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    counts = {
        r["_rr_pid"]: r["cnt"]
        for r in parted.groupBy("_rr_pid").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    offsets, acc = [], 0
    for pid in range(n_parts):
        offsets.append((pid, acc))
        acc += counts.get(pid, 0)
    odf = spark.createDataFrame(offsets, "_rr_pid int, _rr_off long")
    w = Window.partitionBy("_rr_pid").orderBy(*order_cols)
    return (
        parted.join(F.broadcast(odf), "_rr_pid")
        .withColumn(rank_col, F.col("_rr_off") + F.row_number().over(w))
        .drop("_rr_pid", "_rr_off")
    )


def rrf_fuse(
    rankings: dict[str, DataFrame],
    id_col: str = "vid",
    k: int = RRF_K,
    top: int = 100,
) -> DataFrame:
    """Fuse named rankings — each DataFrame must carry ``(id_col,
    score)``. Vertices absent from a list contribute 0 from it (the
    standard RRF convention). Returns the ``top`` rows by fused score
    (ties broken on id), columns (id_col, rrf_fx)."""
    fused = None
    for name, df in rankings.items():
        ranked = ordinal_rank(
            df.select(id_col, "score"), "score", id_col, rank_col="r"
        ).select(
            id_col,
            F.expr(f"{RRF_SCALE} DIV ({k} + r)").alias(f"c_{name}"),
        )
        fused = ranked if fused is None else fused.join(ranked, id_col, "full")
    contribs = [c for c in fused.columns if c.startswith("c_")]
    total = sum((F.coalesce(F.col(c), F.lit(0)) for c in contribs), F.lit(0))
    return (
        fused.select(id_col, total.cast("long").alias("rrf_fx"))
        .orderBy(F.desc("rrf_fx"), F.asc(id_col))
        .limit(top)
    )
