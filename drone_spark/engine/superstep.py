"""Generic superstep driver loop with checkpointing, metrics and resume.

This is the Spark-native replacement for the reference's whole control
plane: master RPC fan-out, registration barrier, per-superstep
finish/OR-termination and message exchange
(/root/reference/src/master.go:370-413, SURVEY.md §3). One DRONE
superstep (compute → mirror→master combine → master→mirror broadcast)
becomes exactly one Spark job produced by the algorithm's ``step``
function; shuffles replace every gRPC path.

What Spark does *not* give us and this engine adds (SURVEY.md §4.3):

- **fixpoint loop** — driven here, termination on the algorithm's
  ``pending`` aggregate (the analogue of the master ORing workers'
  ``MessageToSend`` flags, master.go:267-271);
- **lineage truncation** — every superstep's state is materialized once
  and the next plan starts from it, so the logical plan stays O(1) deep
  instead of growing by one join+agg per iteration;
- **resume** — a killed run restarts from its last committed snapshot
  (north_rule); commit metadata carries the superstep number;
- **metrics** — one set of counters per superstep (vertex count, changed
  count, max delta, traversed edges, phase seconds), the same numbers
  the reference's master takes from every worker in FinishRequest
  (master_service.proto:33-55).

One commit path (:meth:`SuperstepEngine._commit`): each superstep
materializes once — a parquet snapshot at full commits (every
``checkpoint_every``-th superstep, the resume points) and an eager
``localCheckpoint`` between them. The metric aggregates come from one of
two places, chosen by ``checkpoint_every`` alone:

- ``checkpoint_every == 1`` (snapshot every superstep, the
  metrics-fidelity mode): a scan of the committed state grouped by
  master partition, one row per partition — a second small job;
- ``checkpoint_every > 1`` (the throughput mode): four global aggregates
  observed inside the materialization job itself (``DataFrame.observe``),
  one row with ``part = -1`` — no extra job or stage.

Either way the rows go through the same bookkeeping
(:meth:`SuperstepEngine._record`): frontier shift, traversed totals,
commit meta and the resume row. A superstep's rows sum to the same
``n_vertices`` and ``edges_traversed`` at every cadence, and those sums
match ``RunResult.history``. Metric rows buffer on the driver and are
appended to the metrics table at every full commit (and at run end),
keeping the table consistent with the resume points: on resume, rows
beyond the resumed superstep are truncated and the resume-point row is
recomputed from the loaded state, so a crash between the state commit
and the metrics append can neither double-count nor lose a row.

State contract: a DataFrame with a long ``vid`` column, a double
``delta`` column (per-vertex change this superstep; drives convergence
and the metrics), and any algorithm columns.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..catalog import Catalog


@dataclass
class RunResult:
    run_id: str
    state: DataFrame
    supersteps: int
    converged: bool
    seconds: float
    resumed_from: int | None = None
    history: list[dict] = field(default_factory=list)
    # edges actually traversed, summed over supersteps: real frontier
    # counts when the algorithm supplies ``traversed_expr``, else the
    # static |E|·supersteps upper bound (reference parity: the
    # accumulated counter teps is derived from, master.go:285,:407)
    edges_traversed_total: int = 0


class SuperstepEngine:
    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        num_parts: int = 32,
        checkpoint_every: int = 1,
    ) -> None:
        self.spark = spark
        self.catalog = catalog
        self.num_parts = num_parts
        self.checkpoint_every = checkpoint_every
        self._pending_metrics: list[tuple] = []

    # table names ----------------------------------------------------------
    @staticmethod
    def _state_table(run_id: str) -> str:
        return f"runs/{run_id}/state"

    @staticmethod
    def _metrics_table(run_id: str) -> str:
        return f"runs/{run_id}/metrics"

    def metrics(self, run_id: str) -> DataFrame:
        return self.catalog.read(self.spark, self._metrics_table(run_id))

    # main loop -------------------------------------------------------------
    def run(
        self,
        run_id: str,
        init: Callable[[], DataFrame],
        step: Callable[[DataFrame, int], DataFrame],
        tol: float = 1e-6,
        max_supersteps: int = 200,
        resume: bool = False,
        edges_per_step: int | None = None,
        traversed_expr=None,
    ) -> RunResult:
        """Iterate ``state = step(state, k)`` until ``max(delta) <= tol``.

        ``init`` builds superstep-0 state; both callables return plans,
        the engine materializes them. With ``resume=True`` and a prior
        checkpoint for ``run_id``, the loop continues from the last
        committed superstep instead of restarting.

        ``checkpoint_every`` (constructor): full catalog commits — the
        resume points — happen every Nth superstep; in between, lineage
        is truncated in memory (``localCheckpoint``) and metric rows
        buffer on the driver. N=1 (default) is the strict
        snapshot-every-superstep mode; the final state is always fully
        committed either way.

        ``traversed_expr``: a Column over state rows giving the number
        of edges that row will scatter across in the NEXT superstep
        (the algorithm's own frontier predicate × its out-degree, e.g.
        ``F.when(F.col("delta") > 0, F.col("outdeg")).otherwise(0)``).
        The engine sums it alongside the other metric aggregates and
        records it — shifted one superstep — as the ``edges_traversed``
        metric: row k reports the edges actually traversed *during*
        step k, i.e. the frontier of state k-1. This is the reference's
        per-superstep traversal counter (kernel counters
        PageRank.go:29,78 / CC.go:29, accumulated master.go:285,:407).
        ``None`` falls back to the static ``edges_per_step`` upper bound
        for every superstep after init. Superstep 0 traverses nothing.
        """
        cat, spark = self.catalog, self.spark
        state_table = self._state_table(run_id)
        resumed_from: int | None = None
        self._edges_per_step = edges_per_step
        self._traversed_expr = traversed_expr
        self._pending_metrics = []
        # per-row-key frontier edges of the last recorded state = what
        # the next superstep traverses ({} → 0: init traverses nothing)
        self._prev_frontier: dict[int, int] = {}
        self._row_frontier: dict[int, int] = {}
        self._traversed_total = 0

        if resume and cat.exists(state_table):
            version = cat.latest_version(state_table)
            meta = cat.commit_meta(state_table, version)
            k = int(meta["superstep"])
            state = cat.read(spark, state_table)
            pending = self._resume_metrics(run_id, state, k, version, meta)
            resumed_from = k
        else:
            cat.drop(state_table)
            cat.drop(self._metrics_table(run_id))
            k = 0
            state, pending = self._commit(
                run_id, init(), k, time.monotonic(), full=True
            )

        t_start = time.monotonic()
        history: list[dict] = []
        converged = pending <= tol
        last_full = True
        while not converged and k < max_supersteps:
            k += 1
            t0 = time.monotonic()
            last_full = k % self.checkpoint_every == 0
            before = self._traversed_total
            state, pending = self._commit(
                run_id, step(state, k), k, t0, full=last_full
            )
            history.append({
                "superstep": k, "max_delta": pending,
                "edges_traversed": self._traversed_total - before,
            })
            converged = pending <= tol
        if not last_full:  # converged/stopped between commits: persist final state
            cat.write_snapshot(
                state, state_table, meta=self._commit_meta(k, self._row_frontier)
            )
            state = cat.read(spark, state_table)
        self._flush_metrics(run_id)
        return RunResult(
            run_id=run_id,
            state=state,
            supersteps=k,
            converged=converged,
            seconds=time.monotonic() - t_start,
            resumed_from=resumed_from,
            history=history,
            edges_traversed_total=self._traversed_total,
        )

    # commit + metrics -------------------------------------------------------
    def _commit(
        self,
        run_id: str,
        new_state: DataFrame,
        superstep: int,
        t0: float,
        full: bool = True,
    ) -> tuple[DataFrame, float]:
        """Materialize one superstep exactly once and record its metrics.

        ``full`` commits write a parquet snapshot (a resume point) and
        read it back; between them the state is truncated in memory with
        an eager ``localCheckpoint``. Returning the materialized state is
        the lineage truncation: the next superstep's plan starts from it,
        not from the iteration history.

        At ``checkpoint_every > 1`` the metric aggregates ride the
        materialization job as observed metrics, adding no job or stage.
        At ``checkpoint_every == 1`` a per-partition scan of the
        committed snapshot follows the write (≤num_parts rows back to
        the driver). Metric rows flush to the metrics table as one
        coalesced append per full commit.

        Phase split (reference FinishRequest parity,
        master_service.proto:33-55): ``write_seconds`` = step plan
        execution + state materialization (one action — Spark computes
        the plan inside the write); ``metrics_seconds`` = reading the
        metric aggregates (the scan, or fetching the observed values);
        ``seconds`` = their sum."""
        cat = self.catalog
        state_table = self._state_table(run_id)
        obs = None
        if self.checkpoint_every > 1:
            obs = Observation()
            new_state = new_state.observe(obs, *self._metric_aggs())
        if full:
            version = cat.write_snapshot(
                new_state, state_table,
                meta=self._commit_meta(superstep, self._prev_frontier),
            )
            committed = cat.read(self.spark, state_table)
        else:
            version = -1  # not a resume point
            committed = new_state.localCheckpoint(eager=True)
        write_seconds = time.monotonic() - t0
        t_m0 = time.monotonic()
        if obs is not None:
            vals = obs.get  # complete: the materialization job ran
            rows = [(-1, vals["n"], vals["c"], vals["d"], vals.get("t"))]
        else:
            rows = self._scan_metrics(committed)
        max_delta = self._record(
            superstep, rows, write_seconds, time.monotonic() - t_m0, version
        )
        if full:
            self._flush_metrics(run_id)
        return committed, max_delta

    def _metric_aggs(self) -> list:
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("delta") > 0).cast("long")).alias("c"),
            F.max("delta").alias("d"),
        ]
        if self._traversed_expr is not None:
            aggs.append(F.sum(self._traversed_expr.cast("long")).alias("t"))
        return aggs

    def _scan_metrics(self, state: DataFrame) -> list[tuple]:
        """(part, n, c, d, t) aggregates from a materialized state: one
        row per master partition at ``checkpoint_every == 1``, else one
        global row (part = -1)."""
        part = (
            F.pmod(F.xxhash64("vid"), F.lit(self.num_parts)).cast("int")
            if self.checkpoint_every == 1 else F.lit(-1)
        )
        scan = state.groupBy(part.alias("part")).agg(*self._metric_aggs())
        return [
            (r["part"], r["n"], r["c"], r["d"], r.asDict().get("t"))
            for r in scan.collect()
        ]

    def _record(
        self, superstep: int, rows: list[tuple], write_seconds: float,
        metrics_seconds: float, version: int,
        frontier: dict[int, int] | None = None,
    ) -> float:
        """Buffer one superstep's metric rows and advance the traversal
        bookkeeping; returns the max delta (the convergence value).

        ``edges_traversed`` of row k is the edges traversed during step
        k: with ``traversed_expr``, the frontier summed over state k-1
        (``frontier`` overrides it at resume, from commit meta); without
        it, the static ``edges_per_step`` bound, spread evenly over the
        superstep's rows so that they sum to it. Either way superstep 0
        records 0, and a superstep's rows sum to its history entry."""
        if self._traversed_expr is not None:
            frontier = self._prev_frontier if frontier is None else frontier
            if len(rows) == 1 and rows[0][0] == -1:
                edges = [sum(frontier.values())]
            else:
                edges = [int(frontier.get(int(r[0]), 0)) for r in rows]
            self._row_frontier = frontier
            self._prev_frontier = {int(r[0]): int(r[4] or 0) for r in rows}
        else:
            total = int(self._edges_per_step or 0) if superstep > 0 else 0
            q, extra = divmod(total, max(len(rows), 1))
            edges = [q + (i < extra) for i in range(len(rows))]
        self._traversed_total += sum(edges)
        seconds = write_seconds + metrics_seconds
        for (part, n, c, d, _), e in zip(rows, edges):
            self._pending_metrics.append((
                superstep, int(part), int(n or 0), int(c or 0),
                float(d or 0.0), seconds, write_seconds, metrics_seconds,
                version, e,
            ))
        return max((float(r[3] or 0.0) for r in rows), default=0.0)

    def _commit_meta(self, superstep: int, frontier: dict[int, int]) -> dict:
        """Snapshot meta: the superstep, plus the per-row-key edges its
        metric rows record — so a resume can rebuild that row exactly."""
        traversed = (
            {str(p): int(v) for p, v in frontier.items()}
            if self._traversed_expr is not None else None
        )
        return {"superstep": superstep, "traversed": traversed}

    def _flush_metrics(self, run_id: str) -> None:
        if not self._pending_metrics:
            return
        # inline VALUES instead of createDataFrame: the Python-RDD-backed
        # write path spawns Python workers and measured 5-8 s per flush;
        # a literal VALUES plan is pure JVM and ~0.1 s. All cells are
        # ints/floats produced by this module — safe to inline.
        def dbl(x: float) -> str:
            if x != x:
                return "CAST('NaN' AS DOUBLE)"
            if x in (float("inf"), float("-inf")):
                return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
            return f"CAST({x!r} AS DOUBLE)"

        rows = ", ".join(
            f"({s}, {p}, {n}L, {c}L, {dbl(d)}, {dbl(sec)}, {dbl(ws)}, {dbl(ms)},"
            f" {v}, {e}L)"
            for (s, p, n, c, d, sec, ws, ms, v, e) in self._pending_metrics
        )
        df = self.spark.sql(
            "SELECT * FROM VALUES " + rows +
            " AS t(superstep, part, n_vertices, n_changed, max_delta,"
            " seconds, write_seconds, metrics_seconds, state_version,"
            " edges_traversed)"
        )
        self.catalog.append(df.coalesce(1), self._metrics_table(run_id))
        self._pending_metrics = []

    def _resume_metrics(
        self, run_id: str, state: DataFrame, k: int, version: int, meta: dict,
    ) -> float:
        """Make the metrics table idempotent across resumes: drop any
        rows from supersteps beyond the resume point (a prior run may
        have buffered/flushed further than the snapshot we resume from),
        then recompute the resume superstep's row(s) from the loaded
        state — covering a crash that landed between the state commit
        and the metrics flush. The rows' ``edges_traversed`` comes from
        the snapshot's commit meta; the same scan re-derives the next
        superstep's frontier from the loaded state. Returns the state's
        max delta."""
        cat, spark = self.catalog, self.spark
        mtable = self._metrics_table(run_id)
        if cat.exists(mtable):
            kept = cat.read(spark, mtable).where(F.col("superstep") < k)
            cat.write_snapshot(kept.coalesce(1), mtable, meta={"truncated_to": k})
        stored = meta.get("traversed") or {}
        t_m0 = time.monotonic()
        rows = self._scan_metrics(state)
        pending = self._record(
            k, rows, 0.0, time.monotonic() - t_m0, version,
            frontier={int(p): int(v) for p, v in stored.items()},
        )
        self._flush_metrics(run_id)
        return pending
