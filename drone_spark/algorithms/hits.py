"""HITS (hubs & authorities) — Kleinberg's webgraph eigenvector pair.

The second classic link-analysis score next to PageRank (Kleinberg,
JACM 1999): per round ``auth(v) = Σ_{u→v} hub(u)`` then
``hub(u) = Σ_{u→v} auth(v)``, each L2-normalized; converges to the
principal singular vectors of the adjacency matrix. Absent from the
reference (its kernels are PR/CC/SSSP/Sim) but inseparable from the
link_graph tier's domain.

Plan shape per superstep: two scatter joins with map-side partial
sums, plus two 1-row L2-norm aggregates that broadcast back via a
cross join — Spark's equivalent of a global reduce+broadcast, costing
one ≤1-row exchange each. HITS needs the adjacency in BOTH
orientations (auth pass joins on src, hub pass on dst), so the edge
table is cached twice — once hash-partitioned on src, once on dst —
paying 2× edge memory so that neither pass re-shuffles edges per
round; only the (vid, auth, hub) state moves. The single-copy
alternative re-shuffles the full edge table on dst every superstep.
Measured locally (BASELINE.md round 3: 13.4M edges, 5 rounds,
interleaved min-of-2): 1.04× — modest, because an in-memory exchange
of 13M (long, long) rows is small next to HITS's two per-round state
shuffles and norms. The dual cache is kept for the cluster-scale byte
asymmetry the local A/B can't show: at 100 TB the edge table crosses
the network per round in the single-cache plan (TBs) while state is
GBs — the same reason every other kernel here pins edges in place —
at the honest price of 2× edge cache memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine.superstep import RunResult, SuperstepEngine
from ..graph.builder import vertices


def _l2_normalized(df: DataFrame, col: str) -> DataFrame:
    norm = df.agg(
        F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_n")
    )
    return (
        df.crossJoin(F.broadcast(norm))
        .withColumn(col, F.col(col) / F.when(F.col("_n") > 0, F.col("_n")).otherwise(1.0))
        .drop("_n")
    )


def hits(
    spark: SparkSession,
    engine: SuperstepEngine,
    edges: DataFrame,
    run_id: str = "hits",
    tol: float = 1e-8,
    max_supersteps: int = 100,
    num_parts: int | None = None,
    pre_partitioned: bool = False,
    edges_dst: DataFrame | None = None,
    resume: bool = False,
) -> RunResult:
    """Run HITS to convergence (L∞ delta over both scores ≤ tol).

    Result state: (vid, auth, hub, delta), each score vector
    L2-normalized. Vertices with no in-edges get auth 0; no out-edges →
    hub 0 (after the first round).

    ``pre_partitioned``: HITS joins the adjacency in BOTH orientations,
    so the zero-edge-shuffle path needs TWO stored copies of the edge
    set — ``edges`` bucketed on ``src`` and ``edges_dst`` bucketed on
    ``dst`` (write each once with sources/bucketed.write_bucketed_edges;
    the 2× storage mirrors the 2× cache this module already pays). Both
    scans are persisted as-is, skipping the per-run dual shuffle.

    ``resume``: continue from the last engine checkpoint — HITS state
    is plain (vid, auth, hub, delta) rows, the generic resume applies."""
    from ..sources.bucketed import prepare_edges

    if pre_partitioned and edges_dst is None:
        raise ValueError(
            "hits(pre_partitioned=True) needs BOTH stored orientations: "
            "pass edges (bucketed on src) AND edges_dst (the same edge "
            "set bucketed on dst)"
        )
    n_parts = num_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges_s = prepare_edges(
        edges.select("src", "dst"), n_parts, key="src",
        pre_partitioned=pre_partitioned,
    )
    edges_d = prepare_edges(
        (edges_dst if pre_partitioned else edges).select("src", "dst"),
        n_parts, key="dst", pre_partitioned=pre_partitioned,
    )
    n_edges = edges_s.count()
    edges_d.count()

    def init() -> DataFrame:
        return vertices(edges_s).select(
            F.col("id").alias("vid"),
            F.lit(1.0).alias("auth"),
            F.lit(1.0).alias("hub"),
            F.lit(1.0).alias("delta"),
        )

    def step(state: DataFrame, _k: int) -> DataFrame:
        auth_raw = (
            state.select(F.col("vid").alias("src"), "hub")
            .join(edges_s, "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum("hub").alias("auth_new"))
        )
        auth = _l2_normalized(
            state.select("vid", "auth", "hub")
            .join(auth_raw, "vid", "left")
            .withColumn("auth_new", F.coalesce("auth_new", F.lit(0.0))),
            "auth_new",
        )
        hub_raw = (
            auth.select(F.col("vid").alias("dst"), "auth_new")
            .join(edges_d, "dst")
            .groupBy(F.col("src").alias("vid"))
            .agg(F.sum("auth_new").alias("hub_new"))
        )
        out = _l2_normalized(
            auth.join(hub_raw, "vid", "left")
            .withColumn("hub_new", F.coalesce("hub_new", F.lit(0.0))),
            "hub_new",
        )
        return out.select(
            "vid",
            F.col("auth_new").alias("auth"),
            F.col("hub_new").alias("hub"),
            F.greatest(
                F.abs(F.col("auth_new") - F.col("auth")),
                F.abs(F.col("hub_new") - F.col("hub")),
            ).alias("delta"),
        )

    try:
        # both passes touch every edge once each per round
        return engine.run(
            run_id,
            init,
            step,
            tol=tol,
            max_supersteps=max_supersteps,
            resume=resume,
            edges_per_step=2 * n_edges,
        )
    finally:
        edges_s.unpersist()
        edges_d.unpersist()
