"""Single-source shortest paths — reference-parity algorithm.

Reference semantics (/root/reference/src/algorithm/SSSP.go): init every
distance to +∞ (SSSPworker.go:24-31), seed one source with 0, relax
along out-edges keeping per-vertex minima (monotone-improvement filter
SSSP.go:145-150), iterate to fixpoint. Two reference quirks NOT
replicated (SURVEY §7): the hard-coded source vertex 73723936
(SSSPworker.go:160) becomes a parameter, and edge weights — which the
reference parses then discards, forcing 1.0 (graph.go:357-362) — are
honored when a ``weight`` column exists.

Frontier-delta evaluation: only vertices improved in the previous
superstep re-scatter (the reference's ``updatedSet``, SSSP.go:152-161) —
expressed as a filter on the state's ``delta`` column, so late
supersteps touch a shrinking fraction of the graph.

Two backends:

- ``relational`` — one-hop relaxation per superstep (frontier ⋈ edges →
  groupBy(vid).min); supersteps ≈ weighted-graph diameter.
- ``subgraph`` — the reference's actual execution shape (SSSP.go:21-44,
  83-106): a **heap-based local Dijkstra runs to fixpoint inside each
  vertex-cut partition** per superstep, so a superstep crosses an
  entire partition-local region instead of one hop; supersteps drop
  from O(diameter) to roughly O(#partition boundary crossings). The
  frontier's distances are routed to every partition holding the vertex
  (partitioner replicas table) and each cogrouped Arrow batch runs
  Dijkstra from those seeds over its local adjacency.

Unreached vertices are dropped from the result, matching the
reference's sink filter (SSSPworker.go:270).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine.superstep import RunResult, SuperstepEngine
from ..graph.partitioner import partition_graph

INF = float("inf")


def _dijkstra_core(svid, sdist, csr):
    """Heap Dijkstra over a LocalCSR from routed frontier (vid, dist)
    seeds; returns (vid, dist) arrays for every locally reached vertex
    plus stray seeds (no local presence) echoing their own minima."""
    import heapq

    import numpy as np

    indptr, nbrs, ws = csr.indptr, csr.indices, csr.weights
    dist = np.full(len(csr.vids), INF)
    heap: list[tuple[float, int]] = []
    sidx = csr.local_index(svid)
    for i, dv in zip(sidx.tolist(), sdist.tolist()):
        if i >= 0 and dv < dist[i]:
            dist[i] = dv
            heapq.heappush(heap, (dv, i))
    while heap:
        dv, v = heapq.heappop(heap)
        if dv > dist[v]:
            continue
        lo, hi = indptr[v], indptr[v + 1]
        if lo == hi:
            continue
        tgt = nbrs[lo:hi]
        nd = dv + ws[lo:hi]
        improved = nd < dist[tgt]
        if improved.any():
            bt, bd = tgt[improved], nd[improved]
            np.minimum.at(dist, bt, bd)  # dedupe parallel-edge targets
            for u in np.unique(bt).tolist():
                heapq.heappush(heap, (float(dist[u]), int(u)))
    reached_mask = np.isfinite(dist)
    out_v = csr.vids[reached_mask]
    out_d = dist[reached_mask]
    # seeds without local presence still emit their own (routed)
    # distance — it may be another partition's answer for that vertex
    stray = sidx < 0
    if stray.any():
        uv, inv = np.unique(svid[stray], return_inverse=True)
        ud = np.full(len(uv), INF)
        np.minimum.at(ud, inv, sdist[stray])
        out_v = np.concatenate([out_v, uv])
        out_d = np.concatenate([out_d, ud])
    return out_v, out_d


def _local_dijkstra_kernel_arrow(key, seeds, edges, cache_token=None):
    """Heap Dijkstra over one partition's adjacency, started from the
    frontier distances routed here (``applyInArrow``) — the Spark
    re-expression of the reference's per-worker incremental Dijkstra
    (SSSP.go:21-44, 83-106: ``container/heap`` over the in-RAM
    adjacency). Emits candidate (vid, dist) for every locally-reached
    vertex; the global ``groupBy(vid).min`` then applies the
    monotone-improvement filter (SSSP.go:145-150).

    The per-superstep edge batch stays a pyarrow Table — numpy views
    come straight off the Arrow buffers. The adjacency is a numpy CSR
    (graph/csr.LocalCSR, one vectorized build); the heap loop itself is
    inherent to Dijkstra, and each pop relaxes its whole out-neighborhood
    in numpy slices. With ``cache_token`` the CSR (a pure function of the
    partition's immutable edge set) is cached in the worker process and
    reused across supersteps — the DRONE worker's in-RAM adjacency."""
    import numpy as np
    import pyarrow as pa

    from ..graph.csr import LocalCSR, _arrow_col_np, part_cache_get_or_build

    if seeds.num_rows == 0:
        return pa.table({"vid": pa.array([], pa.int64()),
                         "dist": pa.array([], pa.float64())})

    def build() -> LocalCSR:
        srcs = _arrow_col_np(edges, "src", np.int64)
        dsts = _arrow_col_np(edges, "dst", np.int64)
        wts = (
            _arrow_col_np(edges, "weight", np.float64)
            if "weight" in edges.column_names
            else np.ones(len(srcs), dtype=np.float64)
        )
        return LocalCSR.from_edges(srcs, dsts, weights=wts)

    if cache_token is not None and key is not None:
        ck = (cache_token, tuple(k.as_py() for k in key))
        csr = part_cache_get_or_build(ck, edges.num_rows, build)
    else:
        csr = build()
    out_v, out_d = _dijkstra_core(
        _arrow_col_np(seeds, "vid", np.int64),
        _arrow_col_np(seeds, "dist", np.float64), csr,
    )
    return pa.table({"vid": pa.array(out_v, pa.int64()),
                     "dist": pa.array(out_d, pa.float64())})


def sssp(
    spark: SparkSession,
    engine: SuperstepEngine,
    edges: DataFrame,
    source: int,
    run_id: str = "sssp",
    max_supersteps: int = 200,
    resume: bool = False,
    backend: str = "relational",
    num_parts: int | None = None,
    salt_threshold: int = 1024,
    pre_partitioned: bool = False,
    warm_start: DataFrame | None = None,
) -> RunResult:
    """State: (vid, dist, outdeg, delta); delta>0 marks the current frontier.

    ``warm_start``: a previous run's (vid, dist) state over an earlier,
    edge-SUBSET version of the graph (append-only crawl growth) and the
    SAME source. Old distances are paths that still exist, hence
    achievable upper bounds; init takes min(cold seed, old dist) and
    puts every finite-dist vertex in the first frontier so the old
    distances re-scatter across the appended edges. The monotone
    min-combine then converges to the exact new fixpoint — typically in
    far fewer supersteps than a cold run. Edge REMOVALS invalidate the
    bound; re-run cold for shrinking graphs.

    ``pre_partitioned``: skips the per-run edge shuffle — the dominant
    one-off cost at 100 TB. For the relational backend the input must
    be hash-distributed on ``src`` (bucketed catalog table,
    sources/bucketed.write_bucketed_edges); for the subgraph backend it
    must carry the vertex-cut ``part`` column and be distributed on it
    (sources/bucketed.write_vertexcut_edges), which also skips the
    one-time partitioner job — same contract as
    ``pagerank_cogroup(pre_partitioned=True)``."""
    from ..sources.bucketed import prepare_edges

    n_parts = num_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    weighted = "weight" in edges.columns
    cols = ["src", "dst"] + (["weight"] if weighted else [])
    cleanup: list[DataFrame] = []

    if backend == "relational":
        edges_r = prepare_edges(
            edges.select(*cols), n_parts, pre_partitioned=pre_partitioned
        )
        n_edges = edges_r.count()
        cleanup.append(edges_r)
        w = F.col("weight") if weighted else F.lit(1.0)

        def step(state: DataFrame, _k: int) -> DataFrame:
            msgs = (
                state.where(F.col("delta") > 0)  # frontier only
                .select(F.col("vid").alias("src"), "dist")
                .join(edges_r, "src")
                .groupBy(F.col("dst").alias("vid"))
                .agg(F.min(F.col("dist") + w).alias("msg"))
            )
            return _apply(state, msgs)

        verts_src = edges_r
    elif backend == "subgraph":
        import uuid

        if pre_partitioned:
            if "part" not in edges.columns:
                raise ValueError(
                    "sssp(backend='subgraph', pre_partitioned=True) needs "
                    "edges with a vertex-cut 'part' column (write them "
                    "with sources/bucketed.write_vertexcut_edges); a "
                    "src-bucketed table is NOT part-distributed — pass "
                    "the partitioned table or drop the flag"
                )
            edges_p = edges.select(*cols, "part").persist()
        else:
            pg = partition_graph(edges.select(*cols), n_parts, salt_threshold)
            edges_p = (
                pg.edges.repartition(n_parts, "part")
                # local sort by the cogroup key at prep: the cached
                # ordering elides the per-superstep edge-side SortExec
                # (see pagerank_cogroup prep note / plans/r06)
                .sortWithinPartitions("part")
                .persist()
            )
        n_edges = edges_p.count()
        # presence routes derived from the persisted table directly
        # (PartitionedGraph.presence_routes is the same expression) so
        # both input paths share one lineage off the cache
        routes = (
            edges_p.select(F.col("src").alias("vid"), "part")
            .unionAll(edges_p.select(F.col("dst").alias("vid"), "part"))
            .distinct()
            .toDF("vid", "rpart")
            .persist()
        )
        routes.count()
        cleanup.extend([edges_p, routes])
        token = f"sssp:{run_id}:{uuid.uuid4().hex}"

        def kernel(key, seeds, part_edges):
            return _local_dijkstra_kernel_arrow(key, seeds, part_edges, token)

        def step(state: DataFrame, _k: int) -> DataFrame:
            seeds = (
                state.where(F.col("delta") > 0)
                .select("vid", "dist")
                .join(routes, "vid")
                .select("rpart", "vid", "dist")
            )
            msgs = (
                seeds.groupBy("rpart")
                .cogroup(edges_p.groupBy("part"))
                .applyInArrow(kernel, schema="vid long, dist double")
                .groupBy("vid")
                .agg(F.min("dist").alias("msg"))
            )
            return _apply(state, msgs)

        verts_src = edges_p
    else:
        raise ValueError(f"unknown backend {backend!r}")

    def _apply(state: DataFrame, msgs: DataFrame) -> DataFrame:
        from ..engine.plan_hints import shj_build

        new_dist = F.least("dist", F.coalesce("msg", F.col("dist")))
        # SHUFFLE_HASH build on the aggregated messages (engine/plan_hints)
        return state.join(shj_build(msgs), "vid", "left").select(
            "vid",
            new_dist.alias("dist"),
            "outdeg",
            (F.col("dist") > new_dist).cast("double").alias("delta"),
        )

    def init() -> DataFrame:
        # state carries outdeg so the engine's metrics scan can count
        # the edges the frontier actually relaxes (traversed_expr).
        # Fused vertices+degrees over the CACHED prepared table: one
        # exchange instead of two plus the identity join (guide §2.4)
        from ..graph.builder import vertices_with_outdeg

        base = vertices_with_outdeg(verts_src.select("src", "dst")).select(
            F.col("id").alias("vid"),
            F.when(F.col("id") == source, 0.0).otherwise(INF).alias("dist"),
            F.col("outdeg"),
            F.when(F.col("id") == source, 1.0).otherwise(0.0).alias("delta"),
        )
        if warm_start is None:
            return base
        w = warm_start.select(
            F.col("vid").alias("wvid"), F.col("dist").alias("wdist")
        )
        dist = F.least(F.col("dist"), F.coalesce("wdist", F.lit(INF)))
        return base.join(w, base["vid"] == w["wvid"], "left").select(
            "vid",
            dist.alias("dist"),
            "outdeg",
            # every vertex with a finite warm distance re-scatters once
            # so old paths relax across the appended edges
            F.when(dist < INF, 1.0).otherwise(0.0).alias("delta"),
        )

    try:
        return engine.run(
            run_id, init, step, tol=0.0, max_supersteps=max_supersteps,
            resume=resume, edges_per_step=n_edges,
            traversed_expr=F.when(F.col("delta") > 0, F.col("outdeg")).otherwise(F.lit(0)),
        )
    finally:
        for df in cleanup:
            df.unpersist()


def reached(result_state: DataFrame) -> DataFrame:
    """Result sink semantics: drop unreached vertices (SSSPworker.go:270)."""
    return result_state.where(F.col("dist") != INF).select("vid", "dist")


WIDEST_INF = 1 << 60


def widest_path_fixed(
    edges_w: DataFrame,
    seed,
    iters: int = 4,
) -> DataFrame:
    """Bounded-hop WIDEST path (max-min semiring) from ``seed``: after
    k rounds, w(v) = the maximum over ≤k-hop paths seed→v of the
    minimum edge capacity along the path — the bottleneck bandwidth /
    "strongest chain of endorsements" query. Same scatter-gather
    superstep shape as SSSP with (min,+) swapped for (max,min): the
    engine family is semiring-generic, this materializes the second
    semiring. Monotone non-decreasing per vertex, so a fixed iteration
    count is a safe under-approximation exactly like katz_fixed.

    edges_w: (src, dst, w) integer capacities. Exact integers
    end-to-end (seed starts at 2⁶⁰ ≫ any capacity, so min(seed, cap)
    = cap). Result: (vid, width) for vertices with width > 0 —
    i.e. reachable within ``iters`` hops (seed reports 2⁶⁰)."""
    verts = (
        edges_w.select(F.col("src").alias("vid"))
        .unionAll(edges_w.select(F.col("dst").alias("vid")))
        .distinct()
    )
    state = verts.select(
        "vid",
        F.when(F.col("vid") == seed, F.lit(WIDEST_INF))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("width"),
    )
    for _ in range(iters):
        msgs = (
            state.where(F.col("width") > 0)
            .join(edges_w, state["vid"] == edges_w["src"])
            .groupBy("dst")
            .agg(F.max(F.least(F.col("width"), F.col("w"))).alias("best"))
        )
        state = (
            state.join(msgs, state["vid"] == msgs["dst"], "left")
            .select(
                "vid",
                F.greatest(
                    F.col("width"), F.coalesce(F.col("best"), F.lit(0))
                )
                .cast("long")
                .alias("width"),
            )
        )
    return state.where(F.col("width") > 0)


def widest_path_fixed_sql(
    edges_cte: str, seed_sql: str, iters: int = 4
) -> str:
    """DuckDB twin of :func:`widest_path_fixed` (edges CTE must be
    named ``hw`` with columns src, dst, w)."""
    ctes = [
        edges_cte,
        "v AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM hw "
        "UNION ALL SELECT dst FROM hw))",
        f"w0 AS (SELECT vid, CASE WHEN vid = {seed_sql} THEN "
        f"{WIDEST_INF}::BIGINT ELSE 0::BIGINT END AS width FROM v)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"w{k} AS (SELECT v.vid, CAST(GREATEST(p.width, "
            "COALESCE(m.best, 0)) AS BIGINT) AS width FROM v "
            f"JOIN w{k-1} p ON p.vid = v.vid LEFT JOIN "
            f"(SELECT e.dst AS vid, MAX(LEAST(p.width, e.w)) AS best "
            f"FROM w{k-1} p JOIN hw e ON e.src = p.vid WHERE p.width > 0 "
            "GROUP BY e.dst) m ON m.vid = v.vid)"
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT vid, width FROM w{iters} WHERE width > 0"
    )


def hitting_time_fixed(
    edges_w: DataFrame,
    target,
    iters: int = 6,
) -> DataFrame:
    """Expected random-walk steps to ABSORB at ``target``, truncated
    at an ``iters``-step horizon — the absorbing-chain dual of
    PageRank's stationary view, and the "how many clicks from here to
    the seed host" crawl-diagnostics query. Walk follows out-edges
    with probability proportional to weight; dynamic programming
    h₀ ≡ 0, h_{i+1}(v) = 0 if v = target else
    1 + Σ_u P(v,u)·h_i(u), so h_k(v) = E[min(steps to target, k)-ish
    truncated recursion] — monotone non-decreasing in k, exact.

    All arithmetic is integer fixed point: P in ppm (1e6·w DIV outw,
    the markov_stationary convention), h in milli-steps, the product
    re-scaled with DIV 1e6 each round — bit-identical to the unrolled
    SQL oracle. Hosts that cannot reach the target within the horizon
    drift toward k·1000 (every step costs 1 and never absorbs), which
    is exactly the truncated-expectation reading.

    Same bounded-iteration join shape as widest_path_fixed: each round
    is one shuffle on dst + one left join back to the vertex set; the
    transition table is computed once and reused (plan-pinned, no
    re-shuffle per round). Result: (vid, h_milli)."""
    outw = edges_w.groupBy("src").agg(F.sum("w").alias("outw"))
    trans = edges_w.join(outw, "src").select(
        "src",
        "dst",
        F.expr("(1000000 * w) DIV outw").cast("long").alias("p_ppm"),
    )
    verts = (
        edges_w.select(F.col("src").alias("vid"))
        .unionAll(edges_w.select(F.col("dst").alias("vid")))
        .distinct()
    )
    state = verts.select("vid", F.lit(0).cast("long").alias("h"))
    for _ in range(iters):
        msgs = (
            state.join(trans, state["vid"] == trans["dst"])
            .groupBy("src")
            .agg(F.expr("sum(p_ppm * h) DIV 1000000").alias("acc"))
        )
        state = verts.join(
            msgs, verts["vid"] == msgs["src"], "left"
        ).select(
            "vid",
            F.when(F.col("vid") == target, F.lit(0))
            .otherwise(F.lit(1000) + F.coalesce(F.col("acc"), F.lit(0)))
            .cast("long")
            .alias("h"),
        )
    return state.select("vid", F.col("h").alias("h_milli"))


def hitting_time_fixed_sql(
    edges_cte: str, target_sql: str, iters: int = 6
) -> str:
    """DuckDB twin of :func:`hitting_time_fixed` (edges CTE must be
    named ``hw`` with columns src, dst, w). Each unrolled step
    references the previous one exactly once, so CTE inlining stays
    linear (cf. the markov_stationary oracle lesson)."""
    ctes = [
        edges_cte,
        "tw AS (SELECT e.src, e.dst, CAST((1000000 * e.w) // o.outw "
        "AS BIGINT) AS p_ppm FROM hw e JOIN (SELECT src, SUM(w) AS outw "
        "FROM hw GROUP BY src) o ON o.src = e.src)",
        "v AS (SELECT DISTINCT vid FROM (SELECT src AS vid FROM hw "
        "UNION ALL SELECT dst FROM hw))",
        "h0 AS (SELECT vid, 0::BIGINT AS h FROM v)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"h{k} AS (SELECT v.vid, CAST(CASE WHEN v.vid = {target_sql} "
            "THEN 0 ELSE 1000 + COALESCE(m.acc, 0) END AS BIGINT) AS h "
            "FROM v LEFT JOIN (SELECT t.src, SUM(t.p_ppm * p.h) // 1000000 "
            f"AS acc FROM h{k-1} p JOIN tw t ON t.dst = p.vid "
            "GROUP BY t.src) m ON m.src = v.vid)"
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT vid, h AS h_milli FROM h{iters}"
    )
