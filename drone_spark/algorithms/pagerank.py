"""PageRank — power iteration with damping 0.85 to 1e-6 convergence.

Reference semantics pinned (/root/reference/src/algorithm/PageRank.go):
init ``pr = 1.0`` for every vertex (:19-23); per round
``pr_new = 0.85 * Σ_in pr_u / outdeg_global(u) + 0.15`` (:74, α at :11,
global out-degree from Degree.* files at :28); convergence on the
per-vertex L∞ delta (:76 — reference eps 0.01, north_rule tightens to
1e-6). The fixpoint is *unnormalized* (Σ pr ≈ N); dangling vertices
scatter nothing, exactly like a vertex whose out-edges never existed in
the reference's adjacency.

Physical plan per superstep (one Spark job):

    state(parquet scan) ⋈ edges(cached, pre-hash-partitioned on src)
      → project pr/outdeg → groupBy(dst).sum  [partial agg map-side =
        the reference's hand-rolled message combining, PageRank.go:42-51]
      → left join back to state → new pr + delta

The edge table is shuffled **once** at prepare time
(``repartition(P, src)`` + persist): every iteration's join reuses the
cached hash partitioning, so the per-superstep shuffle is only the
small (vid, rank) state — the same reason the reference co-locates each
worker's adjacency in RAM (graph.go:103-122). Skewed dst hotspots are
handled by Catalyst partial aggregation + AQE skew handling; hub
vertices' out-edges are already spread across partitions by the
vertex-cut partitioner when running on catalog tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine.superstep import RunResult, SuperstepEngine
from ..graph.builder import vertices_with_outdeg

DAMPING = 0.85


def _scatter_side(df):
    """See engine/plan_hints.shj_build — the per-vertex side of the
    scatter join, SHUFFLE_HASH-hinted so the small co-partitioned state
    slice is the build side (not a per-superstep broadcast, not a
    sort-merge re-sort of the cached edge table). Measured min-of-2 at
    13.4M edges / local[8] / 3 supersteps: 12.36 s (r5 shape) -> 8.62 s
    with this hint + the join-back step (OPTIMIZATION_r06.md §Engine,
    item 1)."""
    from ..engine.plan_hints import shj_build

    return shj_build(df)


def _msgs_side(df):
    """The aggregated-message side of a state ⟕ msgs apply join —
    build side = the messages (≤|V| aggregated rows, bounded per
    partition by |V|/num_parts). See engine/plan_hints.shj_build."""
    from ..engine.plan_hints import shj_build

    return shj_build(df)


def pagerank(
    spark: SparkSession,
    engine: SuperstepEngine,
    edges: DataFrame,
    run_id: str = "pagerank",
    tol: float = 1e-6,
    damping: float = DAMPING,
    max_supersteps: int = 200,
    resume: bool = False,
    extra_vertices: DataFrame | None = None,
    pre_partitioned: bool = False,
    warm_start: DataFrame | None = None,
) -> RunResult:
    """Run PageRank; result state = (vid, pr, outdeg, delta).

    ``extra_vertices``: ids to include beyond edge endpoints (isolated
    pages from the pages table, SURVEY §2.1 S4) — they receive the
    teleport mass ``1-damping`` and scatter nothing.

    ``pre_partitioned``: the input is already hash-distributed on
    ``src`` (a bucketed catalog table, sources/bucketed.py) — skips the
    per-run full-edge-table shuffle, the dominant one-off cost at
    100 TB.

    ``warm_start``: a previous run's result state (``(vid, pr, ...)``)
    over an earlier version of this graph. The power-iteration fixpoint
    is init-independent, so seeding ``pr`` from the old scores (new
    vertices start at 1.0) reaches the SAME fixpoint in far fewer
    supersteps when the edge delta is small — the cross-run analogue of
    the reference's IncEval incremental rounds (PageRank.go:55-91),
    applied to graph *updates*: a daily web-crawl delta re-ranks in a
    handful of supersteps instead of from scratch."""
    from ..sources.bucketed import prepare_edges

    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges_r = prepare_edges(
        edges.select("src", "dst"), n_parts, pre_partitioned=pre_partitioned
    )
    n_edges = edges_r.count()  # materialize cache; also the teps numerator

    def init() -> DataFrame:
        # fused vertices+degrees (one exchange — builder
        # .vertices_with_outdeg, guide §2.4) over the cached edge table
        base = vertices_with_outdeg(edges_r, extra=extra_vertices)
        if warm_start is not None:
            base = base.join(
                warm_start.select(F.col("vid").alias("id"), F.col("pr").alias("pr0")),
                "id", "left",
            )
            pr0 = F.coalesce("pr0", F.lit(1.0))
        else:
            pr0 = F.lit(1.0)
        return base.select(
            F.col("id").alias("vid"),
            pr0.alias("pr"),
            F.col("outdeg"),
            F.lit(1.0).alias("delta"),  # force ≥1 iteration
        )

    def step(state: DataFrame, _k: int) -> DataFrame:
        scattered = (
            state.where(F.col("outdeg") > 0)
            .select("vid", (F.col("pr") / F.col("outdeg")).alias("w"))
            .transform(_scatter_side)
            .join(edges_r, F.col("vid") == F.col("src"))
        )
        new_pr = F.lit(1.0 - damping) + F.lit(damping) * F.coalesce(
            F.col("acc"), F.lit(0.0)
        )
        # join-back shape: ONE exchange per superstep, carrying only the
        # partially-aggregated (dst, w) contributions; the join back to
        # state is exchange-free (both sides hash-partitioned on vid)
        # and hash-builds the aggregated message side. A union-carrier
        # variant, which also ships every state row through the shuffle,
        # measured slower (OPTIMIZATION_r06.md §Engine, item 1).
        msgs = scattered.groupBy(F.col("dst").alias("mvid")).agg(
            F.sum("w").alias("acc")
        )
        return state.join(
            _msgs_side(msgs), state["vid"] == msgs["mvid"], "left"
        ).select(
            "vid",
            new_pr.alias("pr"),
            "outdeg",
            F.abs(new_pr - F.col("pr")).alias("delta"),
        )

    try:
        return engine.run(
            run_id,
            init,
            step,
            tol=tol,
            max_supersteps=max_supersteps,
            resume=resume,
            edges_per_step=n_edges,
            # full PageRank scatters every out-edge every superstep —
            # the real counter equals |E| here, but recording it through
            # the same machinery keeps the metric definition uniform
            traversed_expr=F.col("outdeg"),
        )
    finally:
        edges_r.unpersist()


def personalized_pagerank(
    spark: SparkSession,
    engine: SuperstepEngine,
    edges: DataFrame,
    seeds: DataFrame,
    run_id: str = "ppr",
    tol: float = 1e-9,
    damping: float = DAMPING,
    max_supersteps: int = 200,
    pre_partitioned: bool = False,
    resume: bool = False,
    warm_start: DataFrame | None = None,
) -> RunResult:
    """Personalized PageRank: teleport returns to ``seeds`` instead of
    everywhere — the standard topic-/site-conditioned authority score
    (Haveliwala, WWW'02) a web pipeline uses for seed-list expansion
    and crawl prioritization. The reference's kernel is the uniform
    special case (PageRank.go:74's constant 0.15 base term).

    ``seeds``: DataFrame with a ``vid`` column. Probability convention:
    Σ pr ≤ 1 (pr0 = 1/|S| on seeds; per-vertex base (1-d)/|S| on seeds,
    0 elsewhere) — dangling-vertex mass leaks rather than being
    redistributed to the seeds, matching the uniform kernel's (and the
    reference's, PageRank.go:74) dangling convention, so the converged
    sum is strictly below 1 on graphs with sinks. The tighter default
    ``tol`` stands because per-vertex mass is O(1/N), not O(1).

    Plan shape is identical to :func:`pagerank` (join-back step, one
    exchange per superstep); the only change is the per-vertex ``base``
    column the state carries, so every at-scale property (edge table
    shuffled once, map-side combine, frontier-free full scatter) holds
    unchanged.

    ``resume``/``warm_start``: same contracts as :func:`pagerank` —
    resume continues a killed run from the engine's last checkpoint;
    warm_start seeds ``pr`` from a previous run's result state over an
    earlier graph version (vertices absent from it start at the cold
    seed-mass init). The PPR fixpoint is init-independent for a fixed
    seed set, so a warm start converges to the same scores."""
    from ..sources.bucketed import prepare_edges

    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges_r = prepare_edges(
        edges.select("src", "dst"), n_parts, pre_partitioned=pre_partitioned
    )
    n_edges = edges_r.count()
    n_seeds = seeds.select("vid").distinct().count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank: empty seed set")

    def init() -> DataFrame:
        base = vertices_with_outdeg(edges_r).join(
            seeds.select("vid").distinct().withColumn("is_seed", F.lit(True)),
            F.col("id") == F.col("vid"),
            "left",
        )
        cold_pr = F.when(F.col("is_seed"), 1.0 / n_seeds).otherwise(0.0)
        if warm_start is not None:
            base = base.join(
                warm_start.select(F.col("vid").alias("wid"), F.col("pr").alias("pr0")),
                F.col("id") == F.col("wid"),
                "left",
            )
            pr_init = F.coalesce("pr0", cold_pr)
        else:
            pr_init = cold_pr
        return (
            base.select(
                F.col("id").alias("vid"),
                pr_init.alias("pr"),
                F.coalesce("outdeg", F.lit(0)).alias("outdeg"),
                F.when(F.col("is_seed"), (1.0 - damping) / n_seeds)
                .otherwise(0.0)
                .alias("base"),
                F.lit(1.0).alias("delta"),
            )
        )

    def step(state: DataFrame, _k: int) -> DataFrame:
        # join-back apply (see pagerank.step): one exchange carrying
        # only the partially-aggregated (dst, w) messages; the join back
        # to state is exchange-free and hash-builds the message side
        msgs = (
            state.where((F.col("outdeg") > 0) & (F.col("pr") != 0.0))
            .select("vid", (F.col("pr") / F.col("outdeg")).alias("w"))
            .transform(_scatter_side)
            .join(edges_r, F.col("vid") == F.col("src"))
            .groupBy(F.col("dst").alias("mvid"))
            .agg(F.sum("w").alias("acc"))
        )
        new_pr = F.col("base") + F.lit(damping) * F.coalesce(
            F.col("acc"), F.lit(0.0)
        )
        return state.join(
            _msgs_side(msgs), state["vid"] == msgs["mvid"], "left"
        ).select(
            "vid",
            new_pr.alias("pr"),
            "outdeg",
            "base",
            F.abs(new_pr - F.col("pr")).alias("delta"),
        )

    try:
        return engine.run(
            run_id,
            init,
            step,
            tol=tol,
            max_supersteps=max_supersteps,
            resume=resume,
            edges_per_step=n_edges,
            traversed_expr=F.when(F.col("pr") != 0.0, F.col("outdeg")).otherwise(
                F.lit(0)
            ),
        )
    finally:
        edges_r.unpersist()


def pagerank_weighted(
    spark: SparkSession,
    engine: SuperstepEngine,
    edges: DataFrame,
    weight_col: str = "weight",
    run_id: str = "pagerank_w",
    tol: float = 1e-6,
    damping: float = DAMPING,
    max_supersteps: int = 200,
    pre_partitioned: bool = False,
    resume: bool = False,
    warm_start: DataFrame | None = None,
) -> RunResult:
    """PageRank over a *weighted* graph: a vertex scatters
    ``pr · w_e / W_u`` along each out-edge (W_u = Σ out-weights), the
    natural rank for rolled-up graphs where an edge carries multiplicity
    — e.g. the host graph (extraction.host_graph), whose n_links IS the
    weight. Reduces to :func:`pagerank` when every weight is 1.

    Same at-scale shape as the uniform kernel: weighted edges are
    hash-partitioned on src once and cached; each superstep shuffles
    only (vid, rank); the join-back apply keeps one exchange +
    barrier per superstep; map-side partial sums combine the weighted
    contributions exactly like the unweighted ones.

    ``pre_partitioned``/``resume``/``warm_start``: same contracts as
    :func:`pagerank` — a src-bucketed stored table (carrying the weight
    column) skips the per-run edge shuffle; resume continues from the
    engine checkpoint; warm_start seeds ``pr`` from a prior run's
    result over an earlier graph version."""
    from ..sources.bucketed import prepare_edges

    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges_r = prepare_edges(
        edges.select("src", "dst", F.col(weight_col).cast("double").alias("w_e")),
        n_parts,
        pre_partitioned=pre_partitioned,
    )
    n_edges = edges_r.count()

    def init() -> DataFrame:
        # fused vertices + weighted degrees: src endpoints carry
        # (w_e, 1), dst endpoints (0.0, 0) — one union + sum aggregate
        # replaces the vertices distinct + degree groupBy + join
        # (guide §2.4), with identical (outw, outd) including the
        # 0-filled pure-dst vertices
        base = (
            edges_r.select(
                F.col("src").alias("id"),
                F.col("w_e").alias("_w"),
                F.lit(1).alias("_c"),
            )
            .unionAll(
                edges_r.select(
                    F.col("dst").alias("id"),
                    F.lit(0.0).alias("_w"),
                    F.lit(0).alias("_c"),
                )
            )
            .groupBy("id")
            .agg(
                F.sum("_w").alias("outw"),
                F.sum("_c").cast("long").alias("outd"),
            )
        )
        if warm_start is not None:
            base = base.join(
                warm_start.select(F.col("vid").alias("wid"), F.col("pr").alias("pr0")),
                F.col("id") == F.col("wid"),
                "left",
            )
            pr_init = F.coalesce("pr0", F.lit(1.0))
        else:
            pr_init = F.lit(1.0)
        return base.select(
            F.col("id").alias("vid"),
            pr_init.alias("pr"),
            F.coalesce("outw", F.lit(0.0)).alias("outw"),
            F.coalesce("outd", F.lit(0)).alias("outd"),
            F.lit(1.0).alias("delta"),
        )

    def step(state: DataFrame, _k: int) -> DataFrame:
        # join-back apply (see pagerank.step): one exchange carrying
        # only the partially-aggregated weighted messages
        msgs = (
            state.where(F.col("outw") > 0)
            .select("vid", (F.col("pr") / F.col("outw")).alias("r"))
            .transform(_scatter_side)
            .join(edges_r, F.col("vid") == F.col("src"))
            .groupBy(F.col("dst").alias("mvid"))
            .agg(F.sum(F.col("r") * F.col("w_e")).alias("acc"))
        )
        new_pr = F.lit(1.0 - damping) + F.lit(damping) * F.coalesce(
            F.col("acc"), F.lit(0.0)
        )
        return state.join(
            _msgs_side(msgs), state["vid"] == msgs["mvid"], "left"
        ).select(
            "vid",
            new_pr.alias("pr"),
            "outw",
            "outd",
            F.abs(new_pr - F.col("pr")).alias("delta"),
        )

    try:
        return engine.run(
            run_id,
            init,
            step,
            tol=tol,
            max_supersteps=max_supersteps,
            resume=resume,
            edges_per_step=n_edges,
            traversed_expr=F.col("outd"),
        )
    finally:
        edges_r.unpersist()


def pagerank_delta(
    spark: SparkSession,
    engine: SuperstepEngine,
    edges: DataFrame,
    run_id: str = "pagerank_delta",
    tol: float = 1e-6,
    damping: float = DAMPING,
    max_supersteps: int = 200,
    resume: bool = False,
    frontier_tol: float | None = None,
    pre_partitioned: bool = False,
) -> RunResult:
    """Incremental (delta) PageRank — the reference's evaluation scheme
    (PageRank.go:67-91): per-vertex ``acc`` accumulates received mass;
    each superstep only vertices whose rank changed by more than
    ``frontier_tol`` re-scatter ``Δpr/outdeg``; ``pr = α·acc + (1-α)``.
    Late supersteps touch a shrinking frontier, so edge traffic decays
    with convergence instead of staying O(E) per superstep (SURVEY §4.1
    "incremental evaluation" — the one optimization Catalyst cannot
    derive). ``frontier_tol`` defaults to tol/100.

    Unlike the reference — which recomputes the scatter delta from
    scratch each round and so *permanently drops* sub-threshold residual
    mass (PageRank.go:76-91) — ``d`` here carries unscattered residual
    forward: a vertex that stays below ``frontier_tol`` keeps
    accumulating incoming mass until it crosses the threshold and
    scatters the whole backlog. Truncation error is therefore bounded by
    the *current* suppressed residuals (≤ frontier_tol per vertex), not
    by their sum over all supersteps — the accuracy bound holds on
    adversarial chain/fan-in graphs too (tests/test_pagerank.py).

    State: (vid, pr, acc, d, outdeg, delta) — ``d`` is the signed mass
    still to scatter, ``delta`` the |pr| change (engine convergence)."""
    from ..sources.bucketed import prepare_edges

    frontier_tol = tol / 100 if frontier_tol is None else frontier_tol
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges_r = prepare_edges(
        edges.select("src", "dst"), n_parts,
        pre_partitioned=pre_partitioned, sort=True,
    )
    n_edges = edges_r.count()

    def init() -> DataFrame:
        # equivalent to the reference's PEval round: pr=1.0 everywhere,
        # whole graph is the first frontier (d = pr = 1.0, acc = 0);
        # fused vertices+degrees — one exchange (guide §2.4)
        return vertices_with_outdeg(edges_r).select(
            F.col("id").alias("vid"),
            F.lit(1.0).alias("pr"),
            F.lit(0.0).alias("acc"),
            F.lit(1.0).alias("d"),
            F.col("outdeg"),
            F.lit(1.0).alias("delta"),
        )

    def step(state: DataFrame, _k: int) -> DataFrame:
        scattered = (F.abs("d") > frontier_tol) & (F.col("outdeg") > 0)
        msgs = (
            state.where(scattered)
            .select("vid", (F.col("d") / F.col("outdeg")).alias("w"))
            .transform(_scatter_side)
            .join(edges_r, F.col("vid") == F.col("src"))
            .groupBy("dst")
            .agg(F.sum("w").alias("dacc"))
        )
        acc_new = F.col("acc") + F.coalesce("dacc", F.lit(0.0))
        pr_new = F.lit(1.0 - damping) + F.lit(damping) * acc_new
        # residual carry: scattered vertices consumed their d; suppressed
        # vertices keep it and add this round's incoming change
        d_new = (
            F.when(scattered, F.lit(0.0)).otherwise(F.col("d"))
            + pr_new
            - F.col("pr")
        )
        return state.join(
            _msgs_side(msgs), state["vid"] == msgs["dst"], "left"
        ).select(
            "vid",
            pr_new.alias("pr"),
            acc_new.alias("acc"),
            d_new.alias("d"),
            "outdeg",
            F.abs(pr_new - F.col("pr")).alias("delta"),
        )

    try:
        return engine.run(
            run_id, init, step, tol=tol, max_supersteps=max_supersteps,
            resume=resume, edges_per_step=n_edges,
            # only suppressed-residual-above-threshold vertices scatter:
            # the metric now decays with the frontier instead of
            # repeating |E| (VERDICT r2 missing #1)
            traversed_expr=F.when(
                (F.abs("d") > frontier_tol) & (F.col("outdeg") > 0),
                F.col("outdeg"),
            ).otherwise(F.lit(0)),
        )
    finally:
        edges_r.unpersist()


def pagerank_cogroup(
    spark: SparkSession,
    engine: SuperstepEngine,
    edges: DataFrame,
    run_id: str = "pagerank_cg",
    tol: float = 1e-6,
    damping: float = DAMPING,
    max_supersteps: int = 200,
    resume: bool = False,
    num_parts: int | None = None,
    salt_threshold: int = 1024,
    pre_partitioned: bool = False,
    warm_start: DataFrame | None = None,
) -> RunResult:
    """Subgraph-centric PageRank — the north-star execution shape.

    Edges are vertex-cut partitioned once (hub out-edges salted across
    partitions, graph/partitioner.py); each superstep **cogroups** the
    partition's edge batch with the ranks routed to it and runs a
    numpy-CSR gather-scatter kernel per partition (graph/csr.py) — the
    Spark re-expression of a DRONE worker iterating over its in-RAM
    adjacency (PRWorker.go:210-247 + PageRank.go:27-52). Partial sums
    per dst then combine globally (mirror→master, groupBy = J2) and
    rejoin state (master→mirror, J3).

    Results are identical to :func:`pagerank` (same fixpoint, same
    tolerance); which backend wins depends on the partition-local edge
    density — at web scale the cogroup kernel trades one shuffle of the
    rank table for executing the scatter entirely inside Arrow batches.

    ``pre_partitioned``: the input already carries the vertex-cut
    ``part`` column and is hash-distributed on it (a table written by
    sources/bucketed.write_vertexcut_edges, or a caller-managed layout)
    — skips both the one-time partitioner job and the per-run edge
    shuffle, the cogroup analogue of the relational backend's flag.

    ``warm_start``: seed ``pr`` from a previous run's result state —
    same cross-run incremental re-rank semantics as :func:`pagerank`
    (the fixpoint is init-independent; a small graph delta converges in
    a handful of supersteps).
    """
    n_parts = num_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    from ..graph.partitioner import partition_graph

    if pre_partitioned:
        if "part" not in edges.columns:
            raise ValueError(
                "pagerank_cogroup(pre_partitioned=True) needs edges with "
                "a vertex-cut 'part' column (write them with "
                "sources/bucketed.write_vertexcut_edges); a src-bucketed "
                "table is NOT part-distributed — pass the partitioned "
                "table or drop the flag"
            )
        edges_p = edges.select("src", "dst", "part").persist()
    else:
        pg = partition_graph(edges.select("src", "dst"), n_parts, salt_threshold)
        # sortWithinPartitions(part) at prep: the cogroup requires its
        # input clustered AND locally sorted by the grouping key; the
        # cached InMemoryRelation carries this ordering, so the
        # per-superstep plan's edge-side SortExec elides — without it
        # every superstep re-sorts the ENTIRE cached edge table
        # (plans/r06/prcg_step_before.txt operator (83))
        edges_p = (
            pg.edges.repartition(n_parts, "part")
            .sortWithinPartitions("part")
            .persist()
        )
    n_edges = edges_p.count()
    # (vid, rpart) routing table: every partition where vid has
    # out-edges (PartitionedGraph.out_routes — the master→mirror scatter
    # route, a projection of the replicas table) — derived from the
    # persisted edge table so it works for both input paths. The column
    # is renamed (not just aliased) so the cogroup of routed-state with
    # edges_p isn't an ambiguous self-join — cogroup matches grouping
    # keys positionally, names need not agree.
    # hash-partitioned on vid and persisted: the per-superstep
    # state⋈routes join then shuffles only the small state side —
    # the routes exchange is paid once at prep, not per superstep.
    # Measured neutral at bench scale (0.99x, BASELINE.md round 3)
    # where routes is tiny; at 100 TB routes is |V|·replication rows and
    # re-exchanging it 50+ times per run is real money.
    routes = (
        edges_p.select(F.col("src").alias("vid"), "part").distinct()
        .toDF("vid", "rpart").repartition(n_parts, "vid").persist()
    )
    routes.count()

    def init() -> DataFrame:
        # fused vertices+degrees over the cached vertex-cut table —
        # one exchange (guide §2.4)
        base = vertices_with_outdeg(edges_p.select("src", "dst"))
        if warm_start is not None:
            base = base.join(
                warm_start.select(F.col("vid").alias("id"), F.col("pr").alias("pr0")),
                "id", "left",
            )
            pr0 = F.coalesce("pr0", F.lit(1.0))
        else:
            pr0 = F.lit(1.0)
        return base.select(
            F.col("id").alias("vid"),
            pr0.alias("pr"),
            F.col("outdeg"),
            F.lit(1.0).alias("delta"),
        )

    import uuid

    # executor-side CSR cache: the partition's edge batch is immutable
    # within this run (persisted), so the CSR — its only structural
    # derivative — is built on the first superstep and reused by every
    # later one in the same Python worker (graph/csr.py cache notes).
    cache_token = f"prcg:{run_id}:{uuid.uuid4().hex}"

    def kernel(key, states, part_edges):
        # Arrow-native kernel (applyInArrow, Spark 4): the edge batch
        # and the routed ranks stay pyarrow Tables — numpy views come
        # straight off the Arrow buffers, no pandas block manager is
        # ever built for the (large) edge payload crossing per superstep
        import numpy as np
        import pyarrow as pa

        from ..graph.csr import (
            _arrow_col_np, csr_from_arrow, part_cache_get_or_build,
        )

        if part_edges.num_rows == 0 or states.num_rows == 0:
            return pa.table(
                {"dst": pa.array([], pa.int64()),
                 "partial": pa.array([], pa.float64())}
            )
        ck = (cache_token, tuple(k.as_py() for k in key))
        csr = part_cache_get_or_build(
            ck, part_edges.num_rows, lambda: csr_from_arrow(part_edges)
        )
        values = np.zeros(len(csr.vids))
        idx = csr.local_index(_arrow_col_np(states, "vid", np.int64))
        ok = idx >= 0
        values[idx[ok]] = _arrow_col_np(states, "w", np.float64)[ok]
        sums = csr.scatter_sum(values)
        nz = sums != 0.0
        return pa.table(
            {"dst": pa.array(csr.vids[nz], pa.int64()),
             "partial": pa.array(sums[nz], pa.float64())}
        )

    def step(state: DataFrame, _k: int) -> DataFrame:
        # groupBy(dst) pre-combine + join back to state. A union-carrier
        # one-shuffle fusion measured 0.91x here (BASELINE.md round 3) —
        # SLOWER: the kernel already map-side-combines per partition, so
        # the extra exchange the fusion removes is small, while widening
        # every partial row with null carrier columns through the Arrow
        # boundary is not. Keep the two-step shape.
        routed = (
            state.where(F.col("outdeg") > 0)
            .select("vid", (F.col("pr") / F.col("outdeg")).alias("w"))
            .join(routes, "vid")
        )
        contribs = (
            routed.groupBy("rpart")
            .cogroup(edges_p.groupBy("part"))
            .applyInArrow(kernel, schema="dst long, partial double")
            .groupBy("dst")
            .agg(F.sum("partial").alias("acc"))
        )
        new_pr = F.lit(1.0 - damping) + F.lit(damping) * F.coalesce(
            "acc", F.lit(0.0)
        )
        return state.join(
            _msgs_side(contribs), state["vid"] == contribs["dst"], "left"
        ).select(
            "vid",
            new_pr.alias("pr"),
            "outdeg",
            F.abs(new_pr - F.col("pr")).alias("delta"),
        )

    try:
        return engine.run(
            run_id, init, step, tol=tol, max_supersteps=max_supersteps,
            resume=resume, edges_per_step=n_edges,
            traversed_expr=F.col("outdeg"),
        )
    finally:
        edges_p.unpersist()
        routes.unpersist()
