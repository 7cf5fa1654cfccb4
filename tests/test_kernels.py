"""Partition-local kernel tests — the vectorization contract.

VERDICT r2 item 1: the CC union-find and SSSP adjacency build ran as
interpreted per-edge Python loops; at 100× partition sizes that loop IS
the superstep. These tests pin (a) exactness of the vectorized kernels
against brute-force oracles on random partition-shaped inputs, and
(b) that no per-edge Python loop reappears in the kernel sources.
"""

import inspect
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from drone_spark.algorithms.cc import _seeded_fixpoint_kernel_arrow
from drone_spark.algorithms.sssp import _local_dijkstra_kernel_arrow
from drone_spark.graph.csr import LocalCSR, local_components
from tests.oracles import union_find_components


def _arrow_call(kernel, seeds: pd.DataFrame, edges: pd.DataFrame,
                key=None, cache_token=None) -> pd.DataFrame:
    """Drive an applyInArrow kernel the way Spark does: Arrow tables in,
    pyarrow scalars as the group key, an Arrow table out."""
    if key is not None:
        key = tuple(pa.scalar(k) for k in key)
    out = kernel(
        key,
        pa.Table.from_pandas(seeds, preserve_index=False),
        pa.Table.from_pandas(edges, preserve_index=False),
        cache_token,
    )
    return out.to_pandas()


def _cc_kernel(key, seeds, edges, cache_token=None):
    return _arrow_call(_seeded_fixpoint_kernel_arrow, seeds, edges, key, cache_token)


def _sssp_kernel(key, seeds, edges, cache_token=None):
    return _arrow_call(_local_dijkstra_kernel_arrow, seeds, edges, key, cache_token)


def _rand_edges(rng, n_vertices: int, n_edges: int) -> tuple[np.ndarray, np.ndarray]:
    src = rng.integers(0, n_vertices, n_edges)
    dst = rng.integers(0, n_vertices, n_edges)
    return src, dst


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_local_components_matches_union_find(seed):
    rng = np.random.default_rng(seed)
    src, dst = _rand_edges(rng, 200, 300)
    comp = local_components(src, dst, 200)
    exp = union_find_components([(int(s), int(d)) for s, d in zip(src, dst)])
    # oracle covers edge endpoints only; isolated vertices are their own root
    for v in range(200):
        if v in exp:
            assert comp[v] == exp[v]
        else:
            assert comp[v] == v
    # idempotent (fully compressed) and rooted at component minima
    assert np.array_equal(comp[comp], comp)


def test_cc_kernel_seeded_min_label():
    # two components {0,1,2} and {3,4}; seed only the first with labels
    edges = pd.DataFrame({"src": [0, 1, 3], "dst": [1, 2, 4]})
    seeds = pd.DataFrame({"vid": [2], "label": [7]})
    out = _cc_kernel(None, seeds, edges)
    got = dict(zip(out["vid"], out["label"]))
    # the whole seeded component adopts the min seeded label; the
    # unseeded component emits nothing
    assert got == {0: 7, 1: 7, 2: 7}


def test_cc_kernel_random_vs_oracle():
    rng = np.random.default_rng(3)
    src, dst = _rand_edges(rng, 500, 800)
    edges = pd.DataFrame({"src": src, "dst": dst})
    verts = np.unique(np.concatenate([src, dst]))
    seeds = pd.DataFrame({"vid": verts, "label": verts})  # seed all: full CC
    out = _cc_kernel(None, seeds, edges)
    got = dict(zip(out["vid"].astype(int), out["label"].astype(int)))
    exp = union_find_components([(int(s), int(d)) for s, d in zip(src, dst)])
    assert got == exp


def test_sssp_kernel_random_vs_dict_dijkstra():
    rng = np.random.default_rng(4)
    src, dst = _rand_edges(rng, 300, 900)
    w = rng.uniform(0.5, 3.0, 900)
    edges = pd.DataFrame({"src": src, "dst": dst, "weight": w})
    seeds = pd.DataFrame({"vid": [int(src[0]), 299], "dist": [0.0, 1.5]})
    out = _sssp_kernel(None, seeds, edges)
    got = dict(zip(out["vid"].astype(int), out["dist"]))

    # brute-force oracle: plain dict Dijkstra
    import heapq

    adj: dict[int, list[tuple[int, float]]] = {}
    for s, d, ww in zip(src, dst, w):
        adj.setdefault(int(s), []).append((int(d), float(ww)))
    dist: dict[int, float] = {}
    heap = []
    for v, dv in zip(seeds["vid"], seeds["dist"]):
        if dv < dist.get(int(v), float("inf")):
            dist[int(v)] = float(dv)
            heapq.heappush(heap, (float(dv), int(v)))
    while heap:
        dv, v = heapq.heappop(heap)
        if dv > dist.get(v, float("inf")):
            continue
        for u, ww in adj.get(v, ()):
            nd = dv + ww
            if nd < dist.get(u, float("inf")):
                dist[u] = nd
                heapq.heappush(heap, (nd, u))
    assert set(got) == set(dist)
    for v in dist:
        assert got[v] == pytest.approx(dist[v], abs=1e-12)


def test_sssp_kernel_seed_without_local_edges():
    # a routed seed whose adjacency lives in another partition must
    # still emit its own distance (it may be another vertex's answer)
    edges = pd.DataFrame({"src": [1], "dst": [2]})
    seeds = pd.DataFrame({"vid": [9], "dist": [4.0]})
    out = _sssp_kernel(None, seeds, edges)
    assert dict(zip(out["vid"], out["dist"])) == {9: 4.0}


def test_kernels_contain_no_per_edge_python_loop():
    """Source pin for VERDICT r2 item 1: the partition-local fixpoint
    kernels must stay vectorized — no `for ... zip(...)` walk over the
    edge arrays, no dict-based union-find/adjacency build. The only
    sanctioned Python loop is Dijkstra's heap pop (inherent to the
    algorithm; each pop relaxes a whole numpy slice)."""
    cc_src = inspect.getsource(_seeded_fixpoint_kernel_arrow)
    assert not re.search(r"for\s+\w+(,\s*\w+)*\s+in\s+zip\(", cc_src)
    assert "setdefault" not in cc_src and "parent[" not in cc_src

    sssp_src = inspect.getsource(_local_dijkstra_kernel_arrow)
    assert "setdefault" not in sssp_src  # no dict adjacency build
    assert "LocalCSR" in sssp_src  # adjacency comes from the CSR helper
    # seed init may zip over the (small) seed set; the edge arrays may not
    assert not re.search(r"zip\(edges", sssp_src)


def test_local_csr_weights_align_after_reorder():
    # from_edges argsorts by src — weights must follow their edges
    src = np.array([3, 1, 3, 2], dtype=np.int64)
    dst = np.array([1, 2, 2, 3], dtype=np.int64)
    w = np.array([0.3, 0.1, 0.9, 0.2])
    csr = LocalCSR.from_edges(src, dst, weights=w)
    got = set()
    for i, vid in enumerate(csr.vids):
        for j in range(csr.indptr[i], csr.indptr[i + 1]):
            got.add((int(vid), int(csr.vids[csr.indices[j]]), float(csr.weights[j])))
    assert got == {(3, 1, 0.3), (1, 2, 0.1), (3, 2, 0.9), (2, 3, 0.2)}


def test_part_cache_semantics():
    """Executor-side structural cache: hit on same (token, part) and row
    count; rebuild when the sanity row count differs; bounded LRU."""
    from drone_spark.graph import csr as csr_mod

    calls = {"n": 0}

    def builder():
        calls["n"] += 1
        return object()

    a = csr_mod.part_cache_get_or_build(("t1", (0,)), 100, builder)
    b = csr_mod.part_cache_get_or_build(("t1", (0,)), 100, builder)
    assert a is b and calls["n"] == 1  # hit
    c = csr_mod.part_cache_get_or_build(("t1", (0,)), 101, builder)
    assert c is not a and calls["n"] == 2  # row-count mismatch → rebuild
    # bounded: filling beyond the cap evicts the oldest entries
    for i in range(csr_mod._PART_CACHE_MAX + 10):
        csr_mod.part_cache_get_or_build(("fill", (i,)), i, builder)
    assert len(csr_mod._PART_CACHE) <= csr_mod._PART_CACHE_MAX


def test_cc_kernel_cached_equals_fresh():
    """The cached structural path must produce byte-identical candidate
    output to a fresh build across repeated (superstep-like) calls with
    changing seeds."""
    import numpy as np

    rng = np.random.default_rng(9)
    edges = pd.DataFrame(
        {"src": rng.integers(0, 300, 1000), "dst": rng.integers(0, 300, 1000)}
    ).astype("int64")
    verts = np.unique(np.concatenate([edges["src"], edges["dst"]]))
    for step in range(3):  # different frontier each "superstep"
        seeds = pd.DataFrame(
            {"vid": verts[step::3], "label": verts[step::3] * 2 + step}
        ).astype("int64")
        fresh = _cc_kernel(None, seeds, edges)
        cached = _cc_kernel((7,), seeds, edges, cache_token="tok-eq")
        f = sorted(zip(fresh["vid"], fresh["label"]))
        c = sorted(zip(cached["vid"], cached["label"]))
        assert f == c
