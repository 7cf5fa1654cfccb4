"""k-core decomposition by parallel peeling.

The k-core is the maximal induced subgraph in which every vertex has
(undirected) degree ≥ k — the standard webgraph density/spam-farm
analysis the reference engine never had (its four compiled kernels are
PR/CC/SSSP/Sim, worker*.go). Peeling is the textbook distributed
algorithm: every round simultaneously drop all vertices whose degree
within the surviving subgraph is < k; the fixpoint is exactly the
k-core (Matula & Beck 1983 — greatest-fixpoint characterization).

Superstep shape (engine-run, so checkpoints/resume/metrics come free)
— **frontier decrements**, not per-round degree recounts: a round's
work is proportional to the vertices dropped in it, not to |E|. Each
round the newly-dropped set joins the once-cached src-partitioned
symmetric edge table (reusing its partitioning — the edge table never
re-shuffles) and scatters a −1 to every neighbor; a partial-agg sum on
dst folds the decrements into the surviving vertices' degrees. A naive
recount formulation (join sym against the active set on BOTH
endpoints) would re-shuffle the full edge table on ``dst`` every round
— a scale killer this module deliberately avoids, mirroring the
frontier discipline of delta-PR/CC/SSSP. Measured (interleaved
min-of-2, 13.4M-edge scaling graph, k=8, 22 rounds to the same
812,988-vertex core): decrement 24.9 s vs recount 273.9 s — **11×**
(BASELINE.md round 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine.superstep import RunResult, SuperstepEngine


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected simple edge set: both directions, self-loops dropped,
    multi-edges deduped."""
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    return e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def k_core(
    spark: SparkSession,
    engine: SuperstepEngine,
    edges: DataFrame,
    k: int,
    run_id: str = "kcore",
    max_supersteps: int = 100,
    num_parts: int | None = None,
    pre_partitioned: bool = False,
    assume_symmetric: bool = False,
    resume: bool = False,
) -> RunResult:
    """Peel to the k-core fixpoint. Result state: every vertex that ever
    carried an edge, with ``active`` = membership in the k-core after
    the final round and ``deg`` = original degree minus every edge into
    the dropped set (== its degree within the survivors, the k-core
    degree once converged). ``tol=0`` termination: the run stops the
    first round in which no vertex is dropped.

    ``pre_partitioned``: the input is already hash-distributed on
    ``src`` (a bucketed catalog table) — skips the per-run full-table
    shuffle, the dominant one-off cost at 100 TB. Peeling floods along
    *undirected* edges, so a pre-partitioned input must also already be
    symmetric (store ``write_bucketed_edges(symmetrize(e), ...)`` once);
    that semantic precondition is attested separately via
    ``assume_symmetric=True`` — same contract as CC/LP.

    ``resume``: continue a killed run from its last engine checkpoint
    (per-superstep lineage, engine/superstep.py) — peeling state is
    plain (vid, active, deg, odeg, delta) rows, so the generic resume
    path applies unchanged."""
    from ..sources.bucketed import prepare_edges

    if k < 1:
        raise ValueError(f"k_core requires k >= 1, got {k}")
    if pre_partitioned and not assume_symmetric:
        raise ValueError(
            "pre_partitioned k-core input must already be symmetric "
            "(re-symmetrizing would re-shuffle it); pass "
            "assume_symmetric=True to attest both (a,b) and (b,a) rows "
            "exist, or drop pre_partitioned"
        )
    n_parts = num_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym_in = (
        edges.select("src", "dst") if assume_symmetric else symmetrize(edges)
    )
    sym = prepare_edges(sym_in, n_parts, pre_partitioned=pre_partitioned)
    n_edges = sym.count()

    def init() -> DataFrame:
        deg = sym.groupBy(F.col("src").alias("vid")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        return deg.select(
            "vid",
            F.lit(True).alias("active"),
            "deg",
            # original degree: a dropping vertex's scatter joins ALL its
            # sym rows, so the traversal counter needs the undecremented
            # count
            F.col("deg").alias("odeg"),
            F.lit(1.0).alias("delta"),  # force ≥1 peeling round
        )

    def step(state: DataFrame, _k: int) -> DataFrame:
        # frontier = vertices dropping THIS round; only they touch edges
        dropping = state.where(F.col("active") & (F.col("deg") < k)).select(
            F.col("vid").alias("src")
        )
        decs = (
            sym.join(dropping, "src")  # reuses sym's cached src hash
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.count(F.lit(1)).alias("dec"))
        )
        from ..engine.plan_hints import shj_build

        # SHUFFLE_HASH build on the decrement table (engine/plan_hints)
        joined = state.join(shj_build(decs), "vid", "left")
        new_active = F.col("active") & (F.col("deg") >= k)
        # a dropped vertex's deg no longer matters; survivors lose one
        # per edge into this round's frontier (frontier-internal edges
        # decrement already-dead vertices, harmlessly)
        return joined.select(
            "vid",
            new_active.alias("active"),
            (F.col("deg") - F.coalesce("dec", F.lit(0))).alias("deg"),
            "odeg",
            F.when(F.col("active") != new_active, 1.0)
            .otherwise(0.0)
            .alias("delta"),
        )

    try:
        return engine.run(
            run_id,
            init,
            step,
            tol=0.0,
            max_supersteps=max_supersteps,
            resume=resume,
            edges_per_step=n_edges,
            # next superstep's scatter = this round's frontier: rows
            # about to drop join all their sym edges
            traversed_expr=F.when(
                F.col("active") & (F.col("deg") < k), F.col("odeg")
            ).otherwise(F.lit(0)),
        )
    finally:
        sym.unpersist()


def core_members(result: RunResult) -> DataFrame:
    """(vid, deg) rows of the converged k-core."""
    return result.state.where("active").select("vid", "deg")


def s_core(
    edges: DataFrame,
    s: int,
    weight_col: str = "w",
    rounds: int | None = None,
    num_parts: int | None = None,
    pre_partitioned: bool = False,
    assume_symmetric: bool = False,
) -> DataFrame:
    """Weighted k-core — the *s-core* (Eidsaa & Almaas 2013): peel
    vertices whose STRENGTH (sum of incident undirected edge weights)
    within the surviving subgraph is < ``s``, all at once per round, to
    the greatest fixpoint. The weighted-graph density analysis for
    rolled-up multigraphs (host graph n_links, co-purchase counts)
    where raw degree undercounts heavy parallel structure.

    ``pre_partitioned``: the input is already hash-distributed on
    ``src`` (a bucketed catalog table) — skips the per-run symmetrize +
    repartition shuffle, same contract as :func:`k_core`. The stored
    table must already be the symmetrized *aggregated* weighted edge
    set (both directions present, one row per directed pair, summed
    ``w``) — attested via ``assume_symmetric=True``.

    Returns (vid, in_core, strength): every vertex of the symmetrized
    simple graph, with its induced strength at termination (== original
    strength minus every dropped neighbor's edge weight). ``rounds``
    pins the round count for cross-engine twins; ``None`` runs to the
    fixpoint.

    Same frontier-decrement discipline as :func:`k_core` (module
    docstring: measured 11× over per-round recounts): the weighted
    symmetric edge table is hash-partitioned on src ONCE and persisted;
    each round only the dropping frontier joins it, scattering −w to
    survivors — a round's work is proportional to edges leaving the
    frontier, never |E|. Integer weights, so strengths are exact."""
    from ..sources.bucketed import prepare_edges

    spark = edges.sparkSession
    n_parts = num_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    if pre_partitioned and not assume_symmetric:
        raise ValueError(
            "pre_partitioned s-core input must already be the "
            "symmetrized aggregated weighted edge set (re-symmetrizing "
            "would re-shuffle it); pass assume_symmetric=True to attest "
            "that, or drop pre_partitioned"
        )
    if assume_symmetric:
        sym_rows = edges.select(
            "src", "dst", F.col(weight_col).cast("long").alias("w")
        )
    else:
        und = (
            edges.where(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("a"),
                F.greatest("src", "dst").alias("b"),
                F.col(weight_col).cast("long").alias("w"),
            )
            .groupBy("a", "b")
            .agg(F.sum("w").alias("w"))
        )
        sym_rows = und.select(
            F.col("a").alias("src"), F.col("b").alias("dst"), "w"
        ).unionAll(
            und.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w")
        )
    symw = prepare_edges(sym_rows, n_parts, pre_partitioned=pre_partitioned)
    state = (
        symw.groupBy(F.col("src").alias("vid"))
        .agg(F.sum("w").alias("strength"))
        .select("vid", F.lit(True).alias("active"), "strength")
        .persist()
    )
    r = 0
    while True:
        r += 1
        dropping = state.where(F.col("active") & (F.col("strength") < s))
        n_drop = dropping.count()
        if n_drop == 0 and rounds is None:
            break
        if n_drop > 0:
            dec = (
                dropping.select(F.col("vid").alias("src"))
                .join(symw, "src")
                .groupBy(F.col("dst").alias("vid"))
                .agg(F.sum("w").alias("dec"))
            )
            new_state = (
                state.join(dec, "vid", "left")
                .select(
                    "vid",
                    (F.col("active") & (F.col("strength") >= s)).alias("active"),
                    (F.col("strength") - F.coalesce("dec", F.lit(0)))
                    .alias("strength"),
                )
                .persist()
            )
            new_state.count()  # materialize before unpersisting the parent
            state.unpersist()
            state = new_state
        if rounds is not None and r >= rounds:
            break
    out = state.select(
        "vid", F.col("active").alias("in_core"), F.col("strength").cast("long").alias("strength")
    )
    symw.unpersist()
    return out


def coreness_h(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """``rounds`` iterations of the H-operator on the undirected simple
    graph — the distributed *coreness* (core-number) computation of Lü
    et al. 2016 ("The H-index of a network node", Nature Physics) and
    Montresor et al. 2013: start from c₀(v) = deg(v) and repeat
    c_{t+1}(v) = H{c_t(u) : u ~ v}, where H of a multiset is the
    largest k such that at least k members are ≥ k. The sequence is
    monotonically non-increasing and its fixpoint is exactly the core
    number of v; a fixed ``rounds`` prefix is deterministic and
    layout-independent (H is order-free), so Spark and the DuckDB twin
    hash-match bit-for-bit — the katz_fixed convention for iterative
    kernels whose full fixpoint depth is data-dependent.

    Unlike :func:`k_core` (membership at ONE k via peeling), this
    yields every vertex's core number in one pass over k — the whole
    k-core hierarchy (web spam farms live at high coreness, tendril
    pages at 1).

    Plan shape per round: one scatter join (values ⋈ sym on dst — the
    symmetric edge table is computed once and reused, only the |V|-row
    value table moves), then H per vertex as a partitionBy(id) window
    ``max(least(row_number over nval desc, nval))`` — a single
    hash-shuffle on id with no Python anywhere. The window sort is per
    neighborhood, so skew follows max-degree; at 100 TB the same
    H-operator folds into the cogroup-CSR backend (numpy sort per
    partition) if a hub's neighbor list outgrows a task — same
    escalation seam as pagerank's two backends.

    Result: (vid, coreness).
    """
    from pyspark.sql import Window

    sym = symmetrize(edges)
    vals = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("id").orderBy(F.col("nv").desc())
    for _ in range(rounds):
        nb = sym.join(
            vals.select(F.col("id").alias("dst"), F.col("c").alias("nv")),
            "dst",
        ).select(F.col("src").alias("id"), "nv")
        vals = (
            nb.withColumn("rn", F.row_number().over(w))
            .groupBy("id")
            .agg(
                F.max(F.least(F.col("rn").cast("long"), F.col("nv")))
                .alias("c")
            )
        )
    return vals.select("id", F.col("c").cast("long").alias("coreness")).withColumnRenamed("id", "vid")


def coreness_h_sql(edges_cte: str, rounds: int = 4) -> str:
    """DuckDB twin of :func:`coreness_h`: unrolled window-CTE chain
    over an ``edges(src, dst)`` CTE. BIGINT-pinned throughout (the
    pagerank5 oracle's HUGEINT type note)."""
    ctes = [
        f"WITH {edges_cte}",
        "sym AS (SELECT src, dst FROM (SELECT src, dst FROM edges WHERE"
        " src <> dst UNION SELECT dst, src FROM edges WHERE src <> dst))",
        "c0 AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS c"
        " FROM sym GROUP BY src)",
    ]
    for t in range(1, rounds + 1):
        ctes.append(
            f"n{t} AS (SELECT s.src AS id, c.c AS nv FROM sym s"
            f" JOIN c{t-1} c ON c.id = s.dst)"
        )
        ctes.append(
            f"c{t} AS (SELECT id, CAST(MAX(LEAST(rn, nv)) AS BIGINT) AS c"
            f" FROM (SELECT id, nv, CAST(ROW_NUMBER() OVER ("
            f"PARTITION BY id ORDER BY nv DESC) AS BIGINT) AS rn"
            f" FROM n{t}) GROUP BY id)"
        )
    return (
        ", ".join(ctes)
        + f" SELECT id AS vid, c AS coreness FROM c{rounds}"
    )


def onion_layers(
    edges: DataFrame,
    rounds: int = 16,
) -> DataFrame:
    """Onion decomposition (Hébert-Dufresne, Grochow & Allard, Sci.
    Rep. 2016) — the refinement of coreness that k-core peeling throws
    away: each vertex gets the PEEL ROUND at which it leaves the graph.
    Round r: k ← max(k, min current degree); remove every vertex with
    degree ≤ k; layer(v) = r. Layers order the inside of each k-shell
    (low layer = the shell's loosely-attached periphery, high = its
    structural center) — the center/periphery profile used on webgraphs
    to separate tendril pages from spam-farm cores at the SAME
    coreness.

    ``rounds`` bounds the peel to a fixed prefix — the katz_fixed /
    coreness_h convention for kernels whose full fixpoint depth is
    data-dependent: layers 1..rounds are EXACT (identical to the
    unbounded decomposition), vertices outliving round ``rounds`` are
    simply absent from the result (they are the deep core; a caller
    wanting the full onion raises ``rounds``). Peeling is inherently
    round-sequential — a bounded prefix is also what keeps the job's
    round count, and the DuckDB twin's recursion, independent of a
    pathological graph's layer count at 100 TB.

    Deterministic and layout-independent (each round's removal set is
    a pure degree predicate — no tie-breaking), so the recursive-CTE
    twin (:func:`onion_layers_sql`) hash-matches exactly.

    Plan: the frontier-DECREMENT formulation k_core's A/B measured 11×
    over recounting (BASELINE.md round 3): the symmetric edge
    table is scanned only through the removed-set join (hash/broadcast
    on the small frontier — AQE picks), degrees update by subtraction,
    lineage is truncated with an eager localCheckpoint EVERY round
    (the stress_centrality discipline) — peeling re-references the
    degree table three times per round, so without truncation the
    LOGICAL plan triples per round and Catalyst analysis time goes
    exponential (measured: round 4 of the persist-only form cost 70 s
    on a 2k-edge graph; checkpointed, milliseconds).
    Result: (vid, layer), 1-based, only vertices peeled within
    ``rounds``.
    """
    sym = symmetrize(edges).persist()
    deg = (
        sym.groupBy(F.col("src").alias("vid"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .persist()
    )
    deg.count()
    out: list[DataFrame] = []
    spark = edges.sparkSession
    k = 0
    for layer in range(1, rounds + 1):
        row = deg.agg(F.min("deg").alias("m"), F.count(F.lit(1))).collect()[0]
        if row[1] == 0:
            break
        k = max(k, int(row["m"]))
        removed = deg.where(F.col("deg") <= k).select("vid").persist()
        removed.count()
        out.append(
            removed.select("vid", F.lit(layer).cast("long").alias("layer"))
        )
        dec = (
            sym.join(removed.withColumnRenamed("vid", "dst"), "dst")
            .groupBy(F.col("src").alias("vid"))
            .agg(F.count(F.lit(1)).cast("long").alias("dec"))
        )
        deg_new = (
            deg.join(removed, "vid", "left_anti")
            .join(dec, "vid", "left")
            .select(
                "vid",
                (F.col("deg") - F.coalesce(F.col("dec"), F.lit(0)))
                .cast("long")
                .alias("deg"),
            )
            .localCheckpoint()  # eager: truncates plan AND caches
        )
        deg.unpersist()
        deg = deg_new
    sym.unpersist()
    if not out:
        return spark.createDataFrame([], "vid long, layer long")
    res = out[0]
    for part in out[1:]:
        res = res.unionAll(part)
    return res


def onion_layers_sql(edges_cte: str, rounds: int = 16) -> str:
    """DuckDB twin of :func:`onion_layers`: a recursive CTE carrying
    (id, k, round) — per round the degree subquery re-joins the carried
    vertex set, the global min arrives via a window over the round's
    rows, recursion stops at ``rounds``, and layer(v) = last round v
    survived + 1 (capped rows excluded, as in the Spark prefix)."""
    return (
        f"WITH RECURSIVE {edges_cte}, "
        "sym AS (SELECT src, dst FROM (SELECT src, dst FROM edges WHERE"
        " src <> dst UNION SELECT dst, src FROM edges WHERE src <> dst)), "
        "walk(id, k, r) AS ("
        " SELECT DISTINCT src AS id, 0::BIGINT AS k, 0::BIGINT AS r FROM sym"
        " UNION ALL"
        " SELECT id, k2 AS k, r + 1 FROM ("
        "  SELECT w.id, w.r,"
        "   GREATEST(w.k, MIN(COALESCE(d.deg, 0)) OVER ()) AS k2,"
        "   COALESCE(d.deg, 0) AS deg"
        f"  FROM walk w LEFT JOIN ("
        "   SELECT s.src AS id, COUNT(*) AS deg FROM sym s"
        "   JOIN walk w2 ON w2.id = s.dst GROUP BY s.src"
        "  ) d ON d.id = w.id"
        f"  WHERE w.r < {rounds}"
        " ) WHERE deg > k2) "
        "SELECT vid, layer FROM ("
        " SELECT id AS vid, CAST(MAX(r) + 1 AS BIGINT) AS layer"
        " FROM walk GROUP BY id)"
        f" WHERE layer <= {rounds}"
    )


def core_density(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Density profile of the k-core hierarchy — for every level k the
    induced subgraph on vertices with H-coreness ≥ k (Charikar's greedy
    densest-subgraph certificate walks exactly these shells; on web
    graphs the density-vs-k elbow locates the spam-farm core). Levels
    come from :func:`coreness_h` at a fixed ``rounds`` prefix (the
    katz_fixed convention), so Spark and the DuckDB twin agree
    bit-for-bit.

    Plan shape: coreness once, then ONE join of the undirected edge
    table against the |V|-row coreness table on each endpoint (an edge
    survives level k iff min(c_src, c_dst) ≥ k), and the per-k totals
    are suffix sums — a window cumulative over the ≤max-coreness-row
    histogram, never a per-k rescan of the edge table. density_ppm =
    ⌊10⁶·2E_k / V_k⌋ (average degree within the shell, scaled) in
    exact integer arithmetic. Result: (k, n_vertices, n_edges,
    density_ppm), one row per OBSERVED coreness level ≥ 1 (an absent
    k's shell equals the next observed level's row).
    """
    from pyspark.sql import Window

    c = coreness_h(edges, rounds=rounds)
    und = (
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )
    lvl = (
        und.join(c.select(F.col("vid").alias("a"), F.col("coreness").alias("ca")), "a")
        .join(c.select(F.col("vid").alias("b"), F.col("coreness").alias("cb")), "b")
        .select(F.least("ca", "cb").alias("lvl"))
    )
    eh = lvl.groupBy("lvl").agg(F.count(F.lit(1)).alias("ne"))
    vh = c.groupBy(F.col("coreness").alias("lvl")).agg(
        F.count(F.lit(1)).alias("nv")
    )
    w = (
        Window.orderBy(F.col("lvl").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hist = (
        vh.join(eh, "lvl", "full")
        .select(
            "lvl",
            F.coalesce("nv", F.lit(0)).alias("nv"),
            F.coalesce("ne", F.lit(0)).alias("ne"),
        )
        .select(
            "lvl",
            F.sum("nv").over(w).cast("long").alias("n_vertices"),
            F.sum("ne").over(w).cast("long").alias("n_edges"),
        )
    )
    return hist.where(F.col("lvl") >= 1).select(
        F.col("lvl").cast("long").alias("k"),
        "n_vertices",
        "n_edges",
        F.floor(
            F.lit(2_000_000) * F.col("n_edges") / F.col("n_vertices")
        )
        .cast("long")
        .alias("density_ppm"),
    )


def core_density_sql(edges_cte: str, rounds: int = 4) -> str:
    """DuckDB twin of :func:`core_density` (wraps the coreness_h twin
    as a derived-table CTE; suffix sums via the same descending window)."""
    inner = coreness_h_sql(edges_cte, rounds=rounds)
    return (
        f"WITH core AS ({inner}), "
        f"{edges_cte}, "
        "und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b "
        "FROM edges WHERE src <> dst), "
        "lvl AS (SELECT LEAST(ca.coreness, cb.coreness) AS lvl FROM und "
        "JOIN core ca ON ca.vid = und.a JOIN core cb ON cb.vid = und.b), "
        "eh AS (SELECT lvl, CAST(COUNT(*) AS BIGINT) AS ne FROM lvl GROUP BY lvl), "
        "vh AS (SELECT coreness AS lvl, CAST(COUNT(*) AS BIGINT) AS nv "
        "FROM core GROUP BY coreness), "
        "hist AS (SELECT COALESCE(vh.lvl, eh.lvl) AS lvl, "
        "COALESCE(nv, 0) AS nv, COALESCE(ne, 0) AS ne "
        "FROM vh FULL JOIN eh ON vh.lvl = eh.lvl), "
        "cum AS (SELECT lvl, CAST(SUM(nv) OVER (ORDER BY lvl DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        " AS n_vertices, "
        "CAST(SUM(ne) OVER (ORDER BY lvl DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        " AS n_edges FROM hist) "
        "SELECT CAST(lvl AS BIGINT) AS k, n_vertices, n_edges, "
        "CAST(FLOOR(2000000 * n_edges / n_vertices) AS BIGINT) AS density_ppm "
        "FROM cum WHERE lvl >= 1"
    )
