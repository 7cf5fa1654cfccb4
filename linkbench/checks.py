"""Output checks: each compares a program result with an independent
computation (oracles.py) and raises :class:`CheckError` on a mismatch.

Checks take plain numpy arrays so the tests can feed them corrupted
results without starting Spark.
"""

from __future__ import annotations

import numpy as np

from . import oracles

PR_TOL = 1e-6


class CheckError(AssertionError):
    """A program output disagrees with its reference computation."""


def _sorted_pairs(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    pairs = np.stack([np.asarray(src, np.int64), np.asarray(dst, np.int64)], 1)
    return pairs[np.lexsort((pairs[:, 1], pairs[:, 0]))]


def extraction(src: np.ndarray, dst: np.ndarray, ref_src: np.ndarray,
               ref_dst: np.ndarray) -> str:
    """The extracted (src, dst) rows are exactly the embedded link set."""
    got, ref = _sorted_pairs(src, dst), _sorted_pairs(ref_src, ref_dst)
    if len(np.unique(got, axis=0)) != len(got):
        raise CheckError("extraction: duplicate (src, dst) rows")
    if got.shape != ref.shape or not np.array_equal(got, ref):
        raise CheckError(
            f"extraction: {len(got)} edges extracted, {len(ref)} embedded, "
            "sets differ")
    return f"{len(got)} edges match"


def _aligned(vids: np.ndarray, values: np.ndarray, ref_vids: np.ndarray,
             what: str) -> np.ndarray:
    order = np.argsort(vids)
    vids, values = np.asarray(vids)[order], np.asarray(values)[order]
    if len(vids) != len(ref_vids) or not np.array_equal(vids, ref_vids):
        raise CheckError(
            f"{what}: vertex set differs ({len(vids)} vs {len(ref_vids)})")
    return values


def pagerank(vids: np.ndarray, pr: np.ndarray, supersteps: int,
             ref: tuple[np.ndarray, np.ndarray, int], what: str) -> str:
    """Ranks agree with the numpy iteration within 1e-6 and the superstep
    count equals its iteration count."""
    ref_vids, ref_pr, ref_k = ref
    if supersteps != ref_k:
        raise CheckError(f"{what}: {supersteps} supersteps, reference {ref_k}")
    got = _aligned(vids, pr, ref_vids, what)
    err = float(np.max(np.abs(got - ref_pr))) if len(got) else 0.0
    if not np.allclose(got, ref_pr, rtol=PR_TOL, atol=PR_TOL):
        raise CheckError(f"{what}: max |pr - ref| = {err:.3g}")
    return f"{len(got)} ranks, max err {err:.2g}, {ref_k} supersteps"


def traversal(total: int, n_edges: int, supersteps: int, what: str) -> str:
    """Full PageRank scatters every edge once per superstep."""
    if total != n_edges * supersteps:
        raise CheckError(
            f"{what}: edges_traversed_total {total} != {n_edges} x {supersteps}")
    return f"{total} = {n_edges} x {supersteps}"


def components(vids: np.ndarray, labels: np.ndarray,
               ref: dict[int, int]) -> str:
    """Every vertex carries the smallest vid of its component."""
    ref_vids = np.fromiter(ref.keys(), np.int64, len(ref))
    order = np.argsort(ref_vids)
    ref_vids = ref_vids[order]
    ref_min = np.fromiter(ref.values(), np.int64, len(ref))[order]
    got = _aligned(vids, labels, ref_vids, "cc")
    bad = int(np.count_nonzero(got != ref_min))
    if bad:
        raise CheckError(f"cc: {bad} vertices carry a wrong component label")
    return f"{len(got)} vertices, {len(np.unique(ref_min))} components"


def label_partition(vids: np.ndarray, labels: np.ndarray,
                    ref: dict[int, int]) -> str:
    """LP labels partition the vertices exactly as the components do, and
    each label is the seed (xxhash64 of the vid) of a member of its
    component -- the component's smallest seed, where hash-to-min ends."""
    ref_vids = np.fromiter(ref.keys(), np.int64, len(ref))
    order = np.argsort(ref_vids)
    ref_vids = ref_vids[order]
    comp = np.fromiter(ref.values(), np.int64, len(ref))[order]
    got = _aligned(vids, labels, ref_vids, "lp")
    # same partition: the (label, component) pairs are one-to-one
    n_comp = len(np.unique(comp))
    pairs = np.unique(np.stack([got, comp], 1), axis=0)
    if len(pairs) != len(np.unique(got)) or len(pairs) != n_comp:
        raise CheckError("lp: label partition differs from the components")
    _, comp_idx = np.unique(comp, return_inverse=True)
    min_seed = np.full(n_comp, np.iinfo(np.int64).max)
    np.minimum.at(min_seed, comp_idx, oracles.xxhash64(ref_vids))
    bad = int(np.count_nonzero(got != min_seed[comp_idx]))
    if bad:
        raise CheckError(
            f"lp: {bad} vertices' label is not their component's min seed")
    return f"{len(got)} vertices, {n_comp} labels"


def resumed(first_supersteps: int, resumed_from: int | None,
            converged: bool) -> str:
    """LP stopped after one superstep and resumed from that snapshot."""
    if first_supersteps != 1 or resumed_from != 1 or not converged:
        raise CheckError(
            f"lp: first run {first_supersteps} supersteps, resumed from "
            f"{resumed_from}, converged={converged}")
    return "stopped at 1, resumed from 1"


def same_labels(vids: np.ndarray, labels: np.ndarray, ref_vids: np.ndarray,
                ref_labels: np.ndarray, what: str) -> str:
    """Two labelings of the same vertices are identical."""
    order = np.argsort(ref_vids)
    got = _aligned(vids, labels, np.asarray(ref_vids)[order], what)
    bad = int(np.count_nonzero(got != np.asarray(ref_labels)[order]))
    if bad:
        raise CheckError(f"{what}: {bad} labels differ")
    return f"{len(got)} labels identical"


def triangles(count: int, ref: int) -> str:
    if count != ref:
        raise CheckError(f"triangles: {count}, reference {ref}")
    return f"{count} triangles"
