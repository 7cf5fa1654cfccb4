"""Property-based tests (hypothesis) for the partition-local kernels.

Pure-numpy functions — no SparkSession — so hundreds of random cases
cost milliseconds. These are the functions whose correctness everything
else leans on: the CC scatter-min contraction and the CSR Dijkstra.
"""

import heapq

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import example, given, settings, strategies as st

from drone_spark.algorithms.cc import _seeded_fixpoint_kernel_arrow
from drone_spark.algorithms.sssp import _local_dijkstra_kernel_arrow
from drone_spark.graph.csr import LocalCSR, local_components
from tests.oracles import union_find_components


edge_lists = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=0, max_size=120
)


@settings(max_examples=200, deadline=None)
@given(edges=edge_lists)
def test_local_components_always_matches_union_find(edges):
    n = 31
    u = np.array([a for a, _ in edges], dtype=np.int64)
    v = np.array([b for _, b in edges], dtype=np.int64)
    comp = local_components(u, v, n)
    exp = union_find_components(edges)
    for x in range(n):
        assert comp[x] == exp.get(x, x)
    assert np.array_equal(comp[comp], comp)  # fully compressed


@settings(max_examples=100, deadline=None)
@given(
    edges=edge_lists,
    seeds=st.lists(
        st.tuples(st.integers(0, 30), st.integers(-50, 50)),
        min_size=1, max_size=10,
    ),
)
@example(
    edges=[],
    seeds=[(0, 0), (0, 1)],
).via('discovered failure')
def test_cc_kernel_emits_min_seed_label_per_seeded_component(edges, seeds):
    epd = pd.DataFrame(
        {"src": [a for a, _ in edges], "dst": [b for _, b in edges]}
    ).astype("int64")
    spd = pd.DataFrame(
        {"vid": [v for v, _ in seeds], "label": [l for _, l in seeds]}
    ).astype("int64")
    out = _seeded_fixpoint_kernel_arrow(
        None, pa.Table.from_pandas(spd), pa.Table.from_pandas(epd)
    ).to_pandas()
    got = dict(zip(out["vid"].astype(int), out["label"].astype(int)))

    # oracle: brute union-find over edges ∪ seed singletons
    comp = union_find_components(edges)
    roots: dict[int, int] = {}
    for v, _ in seeds:
        roots.setdefault(v, comp.get(v, v))
    best: dict[int, int] = {}
    for v, lab in seeds:
        r = comp.get(v, v)
        best[r] = min(best.get(r, lab), lab)
    exp = {}
    verts = {x for e in edges for x in e} | {v for v, _ in seeds}
    for x in verts:
        r = comp.get(x, x)
        if r in best:
            exp[x] = best[r]
    assert got == exp


@settings(max_examples=100, deadline=None)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(0, 20), st.integers(0, 20),
            st.floats(0.1, 10.0, allow_nan=False),
        ),
        min_size=0, max_size=80,
    ),
    seeds=st.lists(
        st.tuples(st.integers(0, 20), st.floats(0.0, 20.0, allow_nan=False)),
        min_size=1, max_size=5,
    ),
)
def test_dijkstra_kernel_matches_dict_oracle(edges, seeds):
    epd = pd.DataFrame(
        {
            "src": pd.Series([a for a, _, _ in edges], dtype="int64"),
            "dst": pd.Series([b for _, b, _ in edges], dtype="int64"),
            "weight": pd.Series([w for _, _, w in edges], dtype="float64"),
        }
    )
    spd = pd.DataFrame(
        {
            "vid": pd.Series([v for v, _ in seeds], dtype="int64"),
            "dist": pd.Series([d for _, d in seeds], dtype="float64"),
        }
    )
    out = _local_dijkstra_kernel_arrow(
        None, pa.Table.from_pandas(spd), pa.Table.from_pandas(epd)
    ).to_pandas()
    got = dict(zip(out["vid"].astype(int), out["dist"]))

    adj: dict[int, list[tuple[int, float]]] = {}
    for a, b, w in edges:
        adj.setdefault(a, []).append((b, w))
    dist: dict[int, float] = {}
    heap = []
    for v, d in seeds:
        if d < dist.get(v, float("inf")):
            dist[v] = d
            heapq.heappush(heap, (d, v))
    while heap:
        d, v = heapq.heappop(heap)
        if d > dist.get(v, float("inf")):
            continue
        for u, w in adj.get(v, ()):
            nd = d + w
            if nd < dist.get(u, float("inf")):
                dist[u] = nd
                heapq.heappush(heap, (nd, u))
    assert set(got) == set(dist)
    for v in dist:
        assert abs(got[v] - dist[v]) < 1e-9


@settings(max_examples=150, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1, max_size=60,
    )
)
def test_csr_roundtrips_edge_multiset(edges):
    src = np.array([a for a, _ in edges], dtype=np.int64)
    dst = np.array([b for _, b in edges], dtype=np.int64)
    w = np.arange(len(edges), dtype=np.float64)  # tag each edge uniquely
    csr = LocalCSR.from_edges(src, dst, weights=w)
    rebuilt = []
    for i, vid in enumerate(csr.vids):
        for j in range(csr.indptr[i], csr.indptr[i + 1]):
            rebuilt.append((int(vid), int(csr.vids[csr.indices[j]]), csr.weights[j]))
    assert sorted(rebuilt) == sorted(
        (a, b, float(t)) for (a, b), t in zip(edges, w)
    )
