"""Independent reference computations for the benchmark's output checks.

Nothing here imports ``drone_spark`` or Spark: each function recomputes
a result the program also produces, from the benchmark's own inputs,
with plain Python / numpy / DuckDB, so a check compares two
computations that share no code.
"""

from __future__ import annotations

import hashlib

import numpy as np

DAMPING = 0.85

# XXH64 primes (Spark's XXH64.hashLong, the default LP seed label)
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def url_id(url: str) -> int:
    """60-bit vertex id of a url: the first 15 hex digits of its md5."""
    return int(hashlib.md5(url.encode("utf-8")).hexdigest()[:15], 16)


def corpus_links(n_pages: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(src, dst) page indices of the links the page generator embeds.

    Replays the generator's per-page random stream, ``default_rng([seed,
    idx])``: token count, tokens, Zipf out-degree, then one uniform
    draw per link slot targeting ``floor(u*u*n)``; self-links and
    repeated targets are skipped. No HTML is rendered or parsed.
    """
    src: list[int] = []
    dst: list[int] = []
    for idx in range(n_pages):
        rng = np.random.default_rng([seed, idx])
        n_tokens = int(rng.integers(20, 81))
        rng.integers(0, 27, n_tokens)  # the page text's tokens
        outdeg = min(int(rng.zipf(1.7)), 64, n_pages - 1) if n_pages > 1 else 0
        seen = {idx}
        for u in rng.random(outdeg):
            t = int(u * u * n_pages)
            if t not in seen:
                seen.add(t)
                src.append(idx)
                dst.append(t)
    return np.asarray(src, np.int64), np.asarray(dst, np.int64)


def page_ids(n_pages: int) -> np.ndarray:
    """Vertex id of every page index (url ``http://site{i%997}.example/p{i}``)."""
    return np.fromiter(
        (url_id(f"http://site{i % 997}.example/p{i}") for i in range(n_pages)),
        np.int64, n_pages,
    )


def pagerank(
    src: np.ndarray, dst: np.ndarray, tol: float | None = None,
    steps: int | None = None,
) -> tuple[np.ndarray, np.ndarray, int]:
    """Unnormalised power iteration ``pr' = 0.15 + 0.85 * sum pr_u/outdeg_u``
    from ``pr = 1`` over the endpoints of the edge list (duplicates count).

    Stops after ``steps`` iterations, or at the first iteration whose max
    per-vertex change is ``<= tol``. Returns (vids, pr, iterations).
    """
    vids = np.unique(np.concatenate([src, dst]))
    si = np.searchsorted(vids, src)
    di = np.searchsorted(vids, dst)
    outdeg = np.bincount(si, minlength=len(vids)).astype(np.float64)
    pr = np.ones(len(vids))
    k = 0
    while True:
        k += 1
        msg = np.bincount(di, weights=pr[si] / outdeg[si], minlength=len(vids))
        new = (1.0 - DAMPING) + DAMPING * msg
        delta = np.abs(new - pr).max()
        pr = new
        if (steps is not None and k >= steps) or (tol is not None and delta <= tol):
            return vids, pr, k


def components(src: np.ndarray, dst: np.ndarray) -> dict[int, int]:
    """vid -> smallest vid of its undirected component (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(src.tolist(), dst.tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:  # the smaller id stays root, so a root is its set's min
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {v: find(v) for v in parent}


def xxhash64(values: np.ndarray, seed: int = 42) -> np.ndarray:
    """Spark's ``xxhash64`` of a bigint column (XXH64 of the 8-byte value)."""
    with np.errstate(over="ignore"):
        x = values.astype(np.int64).view(np.uint64)
        h = np.uint64(seed) + _P5 + np.uint64(8)
        k = x * _P2
        k = (k << np.uint64(31)) | (k >> np.uint64(33))
        h ^= k * _P1
        h = ((h << np.uint64(27)) | (h >> np.uint64(37))) * _P1 + _P4
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h.view(np.int64)


def triangles(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles of the undirected simple graph, by a DuckDB 3-way join."""
    import duckdb
    import pandas as pd

    a = np.minimum(src, dst)
    b = np.maximum(src, dst)
    keep = a != b
    e = pd.DataFrame({"a": a[keep], "b": b[keep]}).drop_duplicates()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.register("e", e)
        return int(con.execute(
            "SELECT count(*) FROM e e1 JOIN e e2 ON e1.b = e2.a "
            "JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b"
        ).fetchone()[0])
    finally:
        con.close()
