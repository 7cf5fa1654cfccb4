"""Connected components & label propagation — min-label / hash-to-min.

Reference semantics (/root/reference/src/algorithm/CC.go): init
``cc[v] = v`` (:51-54); each superstep floods the minimum label along
edges, with a **local fixpoint inside each partition before any
communication** (DFS to exhaustion, :28-45 — the "subgraph-centric"
claim of README.md:27-29); between supersteps, mirrors and masters
exchange per-vertex minima (:94-99). Label propagation (north_rule) is
the same machinery with ``hash(v)`` as the initial label (hash-to-min);
both converge to a component-constant label, checked exactly.

**Frontier (delta) evaluation** — the reference re-floods only vertices
whose label changed since the last superstep (``updatedByMessage``,
CC.go:103-117). Both backends below do the same: each superstep routes
only the labels that *changed last superstep* into the flood, so late
supersteps touch O(changed) rows instead of re-shipping all O(V) labels
through O(E) expansion. The per-partition ``n_changed`` metric decays
to 0 across supersteps (asserted by tests).

Two backends, same results:

- ``relational`` — one hash-to-min round per superstep: ``frontier ⋈
  sym_edges → groupBy(dst).min → join``. Supersteps ≈ graph diameter;
  every operator is Catalyst-codegen'd.
- ``subgraph`` (default) — the DRONE-style kernel: edges are
  vertex-cut partitioned once (graph/partitioner.py) and stay cached
  hash-partitioned; each superstep cogroups the partition's edges with
  the *changed* labels routed to it via the partitioner's ``replicas``
  table (the Master./Mirror. analogue, graph.go:382-441) and runs
  **union-find to local fixpoint inside an Arrow batch**
  (``applyInArrow``), then a global ``groupBy(vid).min`` combines
  mirror candidates at masters. Supersteps drop from O(diameter) to
  O(log #partitions) — the reference's entire reason for existing
  (CC.go:28-45), re-expressed as a grouped Arrow kernel instead of
  goroutines + gRPC.

Both run under the checkpointing SuperstepEngine, so CC/LP inherit
resume + per-partition metrics.

Unlike the reference's CC result sink — which emits duplicate rows for
mirrored vertices (CCworker.go:257-259, SURVEY §2.1 S10) — the result
here has exactly one row per vertex.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine.superstep import RunResult, SuperstepEngine
from ..graph.partitioner import partition_graph


def _sym_edges(edges: DataFrame) -> DataFrame:
    """Both directions of the undirected graph, self-loops dropped."""
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    return e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()


def _init_labels(sym: DataFrame, label_expr) -> DataFrame:
    """State: (vid, label, outdeg, delta) — ``outdeg`` is the vertex's
    degree in the symmetrized graph, carried so the engine's metrics
    scan can count the edges the frontier actually traverses
    (traversed_expr; the reference's real per-superstep counters,
    CC.go:29).

    ``sym`` is symmetric, so every vertex appears as ``src`` and the
    degree groupBy's key set IS the vertex set — the former
    ``distinct(src) ⟕ out_degrees`` was an identity join costing a
    second exchange (guide §2.4: a distinct on data whose groupBy
    already dedupes it). One aggregation, degrees never null."""
    from ..graph.builder import out_degrees

    return out_degrees(sym).select(
        F.col("id").alias("vid"),
        label_expr(F.col("id")).alias("label"),
        F.col("outdeg"),
        F.lit(1.0).alias("delta"),
    )


def _apply_updates(state: DataFrame, cand: DataFrame) -> DataFrame:
    """state ⟕ candidate minima → (vid, label, outdeg, delta); delta>0
    marks the next frontier (the reference's updatedByMessage set,
    CC.go:103-117)."""
    from ..engine.plan_hints import shj_build

    new_label = F.least(F.col("label"), F.coalesce("msg", F.col("label")))
    # SHUFFLE_HASH build on the aggregated candidate minima: both sides
    # are hash-partitioned on vid; stats-blind planning would re-sort
    # both every superstep (engine/plan_hints)
    return state.join(shj_build(cand), "vid", "left").select(
        "vid",
        new_label.alias("label"),
        "outdeg",
        (F.col("label") > new_label).cast("double").alias("delta"),
    )


# ---------------------------------------------------------------------------
# backend: relational hash-to-min (frontier-filtered)
# ---------------------------------------------------------------------------
def _relational_step(sym_r: DataFrame):
    def step(state: DataFrame, _k: int) -> DataFrame:
        from ..engine.plan_hints import shj_build

        cand = (
            state.where(F.col("delta") > 0)  # frontier only
            .select(F.col("vid").alias("src"), "label")
            .transform(shj_build)  # build the frontier, stream cached edges
            .join(sym_r, "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.min("label").alias("msg"))
        )
        return _apply_updates(state, cand)

    return step


# ---------------------------------------------------------------------------
# backend: subgraph-centric local fixpoint (union-find per partition)
# ---------------------------------------------------------------------------
def _cc_structure(srcs, dsts):
    """Vertex dictionary + component labelling for one partition's edge
    arrays — the cacheable pure-structure part of the seeded kernel.
    hash-based global→local mapping (one factorize beats unique +
    per-array searchsorted ~8× at 5M edges — see LocalCSR.from_edges)."""
    import numpy as np

    from ..graph.csr import local_components

    codes, vids = pd.factorize(np.concatenate([srcs, dsts]), sort=True)
    ne = len(srcs)
    return np.asarray(vids), local_components(codes[:ne], codes[ne:], len(vids))


def _seeded_minima(svid, slab, vids, comp):
    """numpy core of the seeded fixpoint: minimum seeded label per local
    component, scattered back to every member; stray seeds (no local
    presence) emit their own minima. Returns (out_vid, out_label)."""
    import numpy as np

    if len(vids):
        pos = np.minimum(np.searchsorted(vids, svid), len(vids) - 1)
        known = vids[pos] == svid
    else:
        pos = np.zeros(len(svid), dtype=np.int64)
        known = np.zeros(len(svid), dtype=bool)
    sentinel = np.iinfo(np.int64).max
    best = np.full(len(vids), sentinel, dtype=np.int64)
    np.minimum.at(best, comp[pos[known]], slab[known])
    lab = best[comp]
    seeded = lab != sentinel
    out_v, out_l = vids[seeded], lab[seeded]
    if not known.all():
        uv, inv = np.unique(svid[~known], return_inverse=True)
        ul = np.full(len(uv), sentinel, dtype=np.int64)
        np.minimum.at(ul, inv, slab[~known])
        out_v = np.concatenate([out_v, uv])
        out_l = np.concatenate([out_l, ul])
    return out_v, out_l


def _seeded_fixpoint_kernel_arrow(
    key, seeds, edges, cache_token: str | None = None
):
    """Vectorized component fixpoint over one partition's edges, seeded
    with the labels that changed last superstep (``applyInArrow``).

    Arrow hands us the partition's whole subgraph (the in-memory
    analogue of a DRONE worker's adjacency maps, graph.go:103-122) plus
    only the *frontier* labels routed here via the replicas table; both
    stay pyarrow Tables and numpy views come straight off the Arrow
    buffers. The local fixpoint (reference's DFS flood, CC.go:28-45 —
    compiled Go there) runs as numpy scatter-min label contraction
    (graph/csr.local_components): no per-edge Python. Any vertex
    structurally connected to a seed adopts the minimum seeded label of
    its local component. Emits (vid, label) candidates for every local
    vertex in a seeded component; unseeded components emit nothing —
    their minima were already distributed in an earlier superstep.

    With ``cache_token`` the structural part — the vertex dictionary
    and component labelling, a pure function of the partition's
    immutable edge set — is cached in the Python worker process and
    reused across supersteps (graph/csr.part_cache_get_or_build): after
    the first superstep the per-superstep kernel cost drops from O(E)
    contraction to O(V) label scatter, the same amortization a DRONE
    worker gets from holding adjacency in RAM.
    """
    import numpy as np
    import pyarrow as pa

    from ..graph.csr import _arrow_col_np, part_cache_get_or_build

    if seeds.num_rows == 0:
        return pa.table({"vid": pa.array([], pa.int64()),
                         "label": pa.array([], pa.int64())})

    def build():
        return _cc_structure(
            _arrow_col_np(edges, "src", np.int64),
            _arrow_col_np(edges, "dst", np.int64),
        )

    if cache_token is not None and key is not None:
        ck = (cache_token, tuple(k.as_py() for k in key))
        vids, comp = part_cache_get_or_build(ck, edges.num_rows, build)
    else:
        vids, comp = build()
    out_v, out_l = _seeded_minima(
        _arrow_col_np(seeds, "vid", np.int64),
        _arrow_col_np(seeds, "label", np.int64),
        vids, comp,
    )
    return pa.table({"vid": pa.array(out_v, pa.int64()),
                     "label": pa.array(out_l, pa.int64())})


def _subgraph_step(
    spark: SparkSession, edges_p: DataFrame, routes: DataFrame,
    cache_token: str,
):
    """edges_p: (src, dst, part) — vertex-cut partitioned, persisted.
    routes: (vid, rpart) — the partitioner's replicas table (every
    partition holding the vertex as master or mirror, J3 of SURVEY §2.3).
    ``cache_token``: keys the executor-side structural cache (see
    kernel docstring)."""

    def kernel(key, seeds, edges):
        return _seeded_fixpoint_kernel_arrow(key, seeds, edges, cache_token)

    def step(state: DataFrame, _k: int) -> DataFrame:
        # master→mirror broadcast (J3) of the FRONTIER only: changed
        # labels join the replica routing table, then each partition's
        # kernel runs the local fixpoint; mirror candidates combine back
        # at one row per vertex (J2, groupBy min).
        seeds = (
            state.where(F.col("delta") > 0)
            .select("vid", "label")
            .join(routes, "vid")
            .select("rpart", "vid", "label")
        )
        cand = (
            seeds.groupBy("rpart")
            .cogroup(edges_p.groupBy("part"))
            .applyInArrow(kernel, schema="vid long, label long")
            .groupBy("vid")
            .agg(F.min("label").alias("msg"))
        )
        return _apply_updates(state, cand)

    return step


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------
def _run_labeling(
    spark: SparkSession,
    engine: SuperstepEngine,
    edges: DataFrame,
    label_expr,
    run_id: str,
    backend: str,
    max_supersteps: int,
    resume: bool,
    num_parts: int | None = None,
    salt_threshold: int = 1024,
    pre_partitioned: bool = False,
    assume_symmetric: bool = False,
    warm_start: DataFrame | None = None,
) -> RunResult:
    """``pre_partitioned``: skips the per-run full-table shuffle — for
    the relational backend the input must be hash-distributed on
    ``src`` (bucketed catalog table, sources/bucketed.py); for the
    subgraph backend it must carry the vertex-cut ``part`` column and
    be distributed on it (write_vertexcut_edges), which also skips the
    one-time partitioner job. Because CC/LP flood labels along
    *undirected* edges, a pre-partitioned input must ALSO already be
    symmetric
    (both (a,b) and (b,a) rows): the symmetrize union would destroy
    the distribution the flag promises. That is a semantic
    precondition, not a layout detail — a directed table silently
    yields wrong components — so it must be asserted separately via
    ``assume_symmetric=True``; ``pre_partitioned`` alone raises."""
    from ..sources.bucketed import prepare_edges

    if pre_partitioned and not assume_symmetric:
        raise ValueError(
            "pre_partitioned CC/LP input must already be symmetric "
            "(re-symmetrizing would re-shuffle it); pass "
            "assume_symmetric=True to attest both (a,b) and (b,a) "
            "rows exist, or drop pre_partitioned"
        )
    n_parts = num_parts or int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym = edges if assume_symmetric else _sym_edges(edges)
    cleanup: list[DataFrame] = []
    if backend == "relational":
        sym_r = prepare_edges(sym, n_parts, pre_partitioned=pre_partitioned)
        n_edges = sym_r.count()
        step = _relational_step(sym_r)
        cleanup.append(sym_r)
        init_sym = sym_r  # init reads the CACHED prepared table
    elif backend == "subgraph":
        import uuid

        if pre_partitioned:
            # vertex-cut contract, same as pagerank_cogroup: the table
            # already carries 'part' and is distributed on it
            # (sources/bucketed.write_vertexcut_edges over a symmetric
            # edge set — assume_symmetric asserted above)
            if "part" not in sym.columns:
                raise ValueError(
                    "subgraph pre_partitioned input needs a vertex-cut "
                    "'part' column (write it with "
                    "sources/bucketed.write_vertexcut_edges); a "
                    "src-bucketed table is NOT part-distributed"
                )
            edges_p = sym.select("src", "dst", "part").persist()
        else:
            pg = partition_graph(sym, n_parts, salt_threshold=salt_threshold)
            edges_p = (
                pg.edges.repartition(n_parts, "part")
                # local sort by the cogroup key at prep: the cached
                # ordering elides the per-superstep edge-side SortExec
                # (see pagerank_cogroup prep note / plans/r06)
                .sortWithinPartitions("part")
                .persist()
            )
        n_edges = edges_p.count()
        # presence routing table, derived from the cached edge
        # partitioning (presence = the replicas table's mirror rows);
        # renamed so the cogroup isn't an ambiguous self-join
        routes = (
            edges_p.select(F.col("src").alias("vid"), "part")
            .unionAll(edges_p.select(F.col("dst").alias("vid"), "part"))
            .distinct()
            .toDF("vid", "rpart")
            .persist()
        )
        routes.count()
        # unique per invocation: the executor cache can only ever serve
        # this run's (immutable, persisted) partition edge sets
        token = f"cc:{run_id}:{uuid.uuid4().hex}"
        step = _subgraph_step(spark, edges_p, routes, cache_token=token)
        cleanup.extend([edges_p, routes])
        # init reads the CACHED partitioned table (same edge multiset:
        # partition_graph only adds 'part') — the raw ``sym`` plan would
        # re-run symmetrize+distinct from the source table
        init_sym = edges_p.select("src", "dst")
    else:
        raise ValueError(f"unknown backend {backend!r}")

    def init() -> DataFrame:
        base = _init_labels(init_sym, label_expr)
        if warm_start is None:
            return base
        # incremental relabeling after edge APPENDS (the daily-crawl
        # delta): seed each vertex with min(fresh seed, previous
        # label). Sound because appends only MERGE components: a prior
        # label is the seed-min over a subset of the vertex's new
        # component, so it is achievable and ≥ the new fixpoint — the
        # min-combine flood still converges to the exact new labels,
        # skipping every superstep the old graph already paid for.
        # Edge REMOVALS invalidate this (a label may name a vertex no
        # longer reachable); re-run cold for shrinking graphs.
        w = warm_start.select(
            F.col("vid").alias("wvid"), F.col("label").alias("wlabel")
        )
        return (
            base.join(w, base["vid"] == w["wvid"], "left")
            .select(
                "vid",
                F.least(
                    F.col("label"), F.coalesce("wlabel", F.col("label"))
                ).alias("label"),
                "outdeg",
                "delta",
            )
        )

    try:
        return engine.run(
            run_id, init, step, tol=0.0, max_supersteps=max_supersteps,
            resume=resume, edges_per_step=n_edges,
            # real traversal counter: the next superstep floods exactly
            # the frontier's incident (symmetrized) edges
            traversed_expr=F.when(F.col("delta") > 0, F.col("outdeg")).otherwise(F.lit(0)),
        )
    finally:
        for df in cleanup:
            df.unpersist()


def connected_components(
    spark: SparkSession,
    engine: SuperstepEngine,
    edges: DataFrame,
    run_id: str = "cc",
    backend: str = "subgraph",
    max_supersteps: int = 100,
    resume: bool = False,
    **kw,
) -> RunResult:
    """Min-vid label per undirected component (exact). State: (vid, label, delta).

    ``warm_start=`` (kw): a previous run's (vid, label) state over an
    earlier, edge-subset version of the graph — exact incremental
    relabeling for append-only graph growth (see _run_labeling.init)."""
    return _run_labeling(
        spark, engine, edges, lambda c: c, run_id, backend, max_supersteps, resume, **kw
    )


def label_propagation(
    spark: SparkSession,
    engine: SuperstepEngine,
    edges: DataFrame,
    run_id: str = "lp",
    backend: str = "subgraph",
    max_supersteps: int = 100,
    resume: bool = False,
    label_expr=None,
    **kw,
) -> RunResult:
    """Hash-to-min: labels seeded with a hash of vid (default xxhash64);
    converges to the component-wide minimum hash (exact,
    component-constant). ``label_expr`` overrides the seed hash — e.g. a
    Knuth multiplicative hash when the oracle side can't compute
    xxhash64."""
    return _run_labeling(
        spark, engine, edges, label_expr or (lambda c: F.xxhash64(c)),
        run_id, backend, max_supersteps, resume, **kw,
    )


def bipartite_check(
    spark: SparkSession,
    engine: SuperstepEngine,
    edges: DataFrame,
    run_id: str = "bipartite",
    backend: str = "relational",
    max_supersteps: int = 100,
) -> DataFrame:
    """Per-component bipartiteness via the **bipartite double cover**:
    lift every vertex v to (v,0)/(v,1) — encoded 2v and 2v+1 — and
    every undirected edge u~v to the two cross-parity cover edges
    (u,0)~(v,1) and (u,1)~(v,0). A classical fact (see e.g. Godsil &
    Royle, *Algebraic Graph Theory* §6.4): a connected component is
    bipartite iff its double cover splits into TWO components — any
    odd cycle walks the cover from (v,0) back to (v,1) and fuses the
    halves. So ONE run of the engine's existing CC fixpoint on the
    cover graph answers odd-cycle-freeness for every component at
    once; no new iteration machinery, the same min-label superstep
    discipline (and the same cost shape: 2|E| cover edges, labels
    converge in the same number of supersteps as plain CC ± 1).

    Web use: link graphs that should be bipartite by construction
    (page↔asset, query↔click, order↔part) get a structural integrity
    check; a non-bipartite component pinpoints odd-cycle
    contamination.

    Per vertex v, with cover labels l0 = label(2v), l1 = label(2v+1):
    component(v) = min(l0, l1) div 2 (the component's min vid — the
    plain CC label, recovered for free), and the component is
    bipartite iff l0 ≠ l1 for every member. Result: one row per
    component, (component, n_vertices, is_bipartite).
    """
    sym = _sym_edges(edges)
    cover = sym.select(
        (F.col("src") * 2).alias("src"), (F.col("dst") * 2 + 1).alias("dst")
    )
    # sym already holds both directions, so one cross-parity lift per
    # directed row covers both (u,0)~(v,1) and (u,1)~(v,0).
    res = connected_components(
        spark, engine, cover, run_id=run_id, backend=backend,
        max_supersteps=max_supersteps,
    )
    lab = res.state.select("vid", "label")
    # integer div, not float `/`: 64-bit hashed ids exceed float64's
    # 2^53 exact range (the 2v encoding itself asks ids < 2^62)
    l0 = lab.where(F.col("vid") % 2 == 0).select(
        F.expr("vid div 2").alias("v"), F.col("label").alias("l0")
    )
    l1 = lab.where(F.col("vid") % 2 == 1).select(
        F.expr("(vid - 1) div 2").alias("v"), F.col("label").alias("l1")
    )
    return (
        l0.join(l1, "v")
        .select(
            "v",
            F.expr("least(l0, l1) div 2").alias("component"),
            (F.col("l0") != F.col("l1")).alias("two_sided"),
        )
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.min(F.col("two_sided").cast("int")).cast("boolean")
            .alias("is_bipartite"),
        )
    )


def bipartite_check_sql(edges_cte: str) -> str:
    """DuckDB twin of :func:`bipartite_check` — the recursive min-label
    walk (the connected_components oracle) run on the double cover."""
    return (
        f"WITH RECURSIVE {edges_cte}, "
        "symb AS (SELECT src, dst FROM (SELECT src, dst FROM edges WHERE"
        " src <> dst UNION SELECT dst, src FROM edges WHERE src <> dst)), "
        "cov AS (SELECT 2 * src AS src, 2 * dst + 1 AS dst FROM symb), "
        "csym AS (SELECT src, dst FROM cov"
        " UNION SELECT dst, src FROM cov), "
        "cv AS (SELECT DISTINCT src AS id FROM csym), "
        "walk(id, lab) AS ("
        " SELECT id, id FROM cv"
        " UNION"
        " SELECT s.dst, w.lab FROM walk w JOIN csym s ON s.src = w.id"
        " WHERE w.lab < s.dst), "
        "clab AS (SELECT id, MIN(lab) AS lab FROM walk GROUP BY id), "
        "pairs AS (SELECT e.id // 2 AS v, e.lab AS l0, o.lab AS l1"
        " FROM clab e JOIN clab o ON o.id = e.id + 1"
        " WHERE e.id % 2 = 0) "
        "SELECT LEAST(l0, l1) // 2 AS component,"
        " CAST(COUNT(*) AS BIGINT) AS n_vertices,"
        " CAST(MIN(CASE WHEN l0 <> l1 THEN 1 ELSE 0 END) AS BOOLEAN)"
        " AS is_bipartite "
        "FROM pairs GROUP BY 1"
    )
