"""Engine metrics fidelity — real traversal counters + phase split.

VERDICT r2 missing #1 (static |E| in every ``edges_traversed`` row) and
missing #2 (no compute-vs-metrics timing split). Reference parity:
per-superstep traversed-edge counters (PageRank.go:29,78, CC.go:29,
accumulated master.go:285,:407) and per-phase FinishRequest seconds
(master_service.proto:33-55).
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from drone_spark.algorithms.pagerank import pagerank, pagerank_delta
from drone_spark.catalog import Catalog
from drone_spark.engine.superstep import SuperstepEngine


def _per_step(engine, run_id):
    return (
        engine.metrics(run_id)
        .groupBy("superstep")
        .agg(
            F.sum("edges_traversed").alias("traversed"),
            F.max("seconds").alias("seconds"),
            F.max("write_seconds").alias("write_seconds"),
            F.max("metrics_seconds").alias("metrics_seconds"),
        )
        .orderBy("superstep")
        .collect()
    )


def test_full_pagerank_traversed_equals_e_per_superstep(spark, engine, small_edges):
    n_edges = small_edges.count()
    res = pagerank(spark, engine, small_edges, run_id="m_pr", tol=1e-4)
    rows = _per_step(engine, "m_pr")
    traversed = [r["traversed"] for r in rows]
    # init scatters nothing; every later superstep scatters ALL edges
    # (full PageRank has no frontier) — the real counter equals |E|
    assert traversed[0] == 0
    assert all(t == n_edges for t in traversed[1:])
    assert res.edges_traversed_total == n_edges * res.supersteps


def test_delta_pagerank_traversed_decays(spark, engine, small_edges):
    n_edges = small_edges.count()
    res = pagerank_delta(spark, engine, small_edges, run_id="m_prd", tol=1e-4)
    traversed = [r["traversed"] for r in _per_step(engine, "m_prd")]
    assert traversed[0] == 0
    assert traversed[1] == n_edges  # first superstep: whole graph is frontier
    # the frontier optimization is the point: late supersteps traverse
    # strictly less than the first flood, and the accumulated total is
    # well below the static supersteps×|E| upper bound
    assert traversed[-1] < n_edges
    assert res.edges_traversed_total == sum(traversed)
    assert res.edges_traversed_total < n_edges * res.supersteps


def test_phase_split_sums_to_seconds(spark, engine, small_edges):
    pagerank(spark, engine, small_edges, run_id="m_split", tol=1e-4)
    for r in engine.metrics("m_split").collect():
        assert r["write_seconds"] >= 0.0 and r["metrics_seconds"] >= 0.0
        assert abs(r["seconds"] - (r["write_seconds"] + r["metrics_seconds"])) < 1e-6


def test_traversed_survives_resume(spark, small_edges, tmp_path):
    cat = Catalog(str(tmp_path / "cat"))
    eng = SuperstepEngine(spark, cat, num_parts=8, checkpoint_every=1)
    full = pagerank_delta(spark, eng, small_edges, run_id="m_full", tol=1e-4)
    part = pagerank_delta(
        spark, eng, small_edges, run_id="m_cut", tol=1e-4, max_supersteps=3
    )
    assert not part.converged
    cont = pagerank_delta(spark, eng, small_edges, run_id="m_cut", tol=1e-4, resume=True)
    assert cont.converged and cont.resumed_from == 3
    # metrics tables agree superstep-by-superstep: the resumed run's
    # rebuilt resume-point row carries the traversal recorded in commit
    # meta, and post-resume rows re-derive from the loaded frontier
    a = [r["traversed"] for r in _per_step(eng, "m_full")]
    b = [r["traversed"] for r in _per_step(eng, "m_cut")]
    assert a == b
    # the interrupted run accumulated supersteps 1..3; the resumed run
    # re-accounts the resume-point row (from commit meta) plus 4..end
    assert part.edges_traversed_total == sum(b[1 : part.supersteps + 1])
    assert cont.edges_traversed_total == sum(b[part.supersteps :])


def test_metric_rows_agree_with_history_at_every_cadence(spark, small_edges, tmp_path):
    """Per-partition rows (checkpoint_every=1) and the observed global
    row (checkpoint_every>1) are two granularities of ONE bookkeeping:
    per superstep, the rows sum to the same vertex and traversed-edge
    counts, and both match ``RunResult.history``. HITS has no
    ``traversed_expr``, so this pins the static-bound path: superstep 0
    records 0, every later superstep exactly ``edges_per_step``."""
    from drone_spark.algorithms.hits import hits

    per_cadence = {}
    for every in (1, 4):
        eng = SuperstepEngine(
            spark, Catalog(str(tmp_path / f"cat{every}")), num_parts=4,
            checkpoint_every=every,
        )
        res = hits(spark, eng, small_edges, run_id="m_hits", max_supersteps=3)
        rows = (
            eng.metrics("m_hits").groupBy("superstep")
            .agg(F.sum("n_vertices").alias("n"),
                 F.sum("edges_traversed").alias("e"),
                 F.max("max_delta").alias("d"))
            .orderBy("superstep").collect()
        )
        assert [r["superstep"] for r in rows] == list(range(res.supersteps + 1))
        assert rows[0]["e"] == 0
        for h in res.history:
            r = rows[h["superstep"]]
            assert r["e"] == h["edges_traversed"] == 2 * small_edges.count()
            assert r["d"] == pytest.approx(h["max_delta"], rel=1e-12, abs=0.0)
        assert res.edges_traversed_total == sum(r["e"] for r in rows)
        per_cadence[every] = rows
    a, b = per_cadence[1], per_cadence[4]
    assert [(r["n"], r["e"]) for r in a] == [(r["n"], r["e"]) for r in b]
    assert np.allclose([r["d"] for r in a], [r["d"] for r in b], rtol=1e-9, atol=0.0)
