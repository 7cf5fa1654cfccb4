"""The three workloads: inputs made from the seed, the timed program
calls of one round, and the checks made after the clock.

Sizes are set so that one cold run of any workload (session start,
input synthesis, one round, checks) stays near 40 s on 4 cores.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from . import checks, oracles

CORES = 4

# corpus_pagerank: the link graph is the generator's seed-42 corpus
# (42 supersteps to 1e-6 at 20k pages); the run seed decides which
# pages share a parquet file, i.e. which extraction task parses them.
# With the link graph drawn from the run seed, the superstep count
# ranged 42-108 over seeds 1-20 at 20k pages (a closed 2-cycle -- a
# spider trap -- appears in about one corpus in four and decays only at
# 0.85 per superstep), so wall time would measure which seed was drawn.
N_PAGES = 20_000
CORPUS_SEED = 42

# large_pagerank: ~1.35M edges, so a relational superstep is several
# times the Spark job floor; both backends run the same fixed count.
LARGE_VERTICES = 200_000
LARGE_STEPS = 4
LARGE_GEN_PARTITIONS = 16

# labeling_strict: co-purchase-like graph -- baskets of 2-8 items drawn
# by popularity inside four disjoint categories, each basket a clique.
ITEMS = 20_000
ORDERS = 30_000
CATEGORY_SHARES = (0.4, 0.3, 0.2, 0.1)


def copurchase_edges(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Undirected (src < dst) edge list, deduplicated, from ``seed``."""
    rng = np.random.default_rng([seed, 0xC0FFEE])
    shares = np.asarray(CATEGORY_SHARES)
    bounds = np.concatenate([[0], np.cumsum((shares * ITEMS).astype(np.int64))])
    item_vid = rng.permutation(ITEMS).astype(np.int64) + 1_000_000
    category = rng.choice(len(shares), size=ORDERS, p=shares)
    size = np.clip(rng.poisson(2.0, ORDERS) + 2, 2, 8)
    src, dst = [], []
    for c in range(len(shares)):
        lo, n = bounds[c], bounds[c + 1] - bounds[c]
        cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** 0.6)
        for k in range(2, 9):
            m = int(np.count_nonzero((category == c) & (size == k)))
            if not m:
                continue
            picks = np.searchsorted(cdf, rng.random((m, k)) * cdf[-1])
            items = item_vid[lo + np.minimum(picks, n - 1)]
            a, b = np.triu_indices(k, 1)
            src.append(items[:, a].ravel())
            dst.append(items[:, b].ravel())
    s, d = np.concatenate(src), np.concatenate(dst)
    lo_, hi_ = np.minimum(s, d), np.maximum(s, d)
    keep = lo_ != hi_
    pairs = np.unique(np.stack([lo_[keep], hi_[keep]], 1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def _write_parquet(path: str, src: np.ndarray, dst: np.ndarray, files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for i, (s, d) in enumerate(zip(np.array_split(src, files), np.array_split(dst, files))):
        pq.write_table(pa.table({"src": s, "dst": d}), os.path.join(path, f"part-{i}.parquet"))


def _read_edges(path: str) -> tuple[np.ndarray, np.ndarray]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["src", "dst"])
    return (t.column("src").to_numpy().astype(np.int64),
            t.column("dst").to_numpy().astype(np.int64))


def _state(result, *cols) -> list[np.ndarray]:
    pdf = result.state.select(*cols).toPandas()
    return [pdf[c].to_numpy() for c in cols]


class Workload:
    def clear(self, run, out) -> None:
        """Drop what one round left behind."""

    def partition_input(self, run):
        """The edge table the program vertex-cut partitions, if any."""
        return None


class CorpusPagerank(Workload):
    name = "corpus_pagerank"
    table = "linkbench_corpus_edges"

    def setup(self, run) -> dict:
        from pyspark.sql import functions as F

        from drone_spark.corpus import generate_pages

        self.pages = os.path.join(run.dir, "pages")
        (generate_pages(run.spark, N_PAGES, seed=CORPUS_SEED)
         .repartition(CORES, F.xxhash64("url", F.lit(run.seed)))
         .sortWithinPartitions("url")
         .write.parquet(self.pages))
        return {"pages": N_PAGES, "corpus_seed": CORPUS_SEED,
                "layout_seed": run.seed}

    def round(self, run) -> dict:
        from drone_spark.algorithms.pagerank import pagerank
        from drone_spark.extraction import edges_from_pages
        from drone_spark.sources.bucketed import (
            read_bucketed_edges, write_bucketed_edges,
        )

        spark = run.spark
        path = os.path.join(run.dir, "bucketed")
        run.call("write_bucketed_edges", write_bucketed_edges,
                 edges_from_pages(spark.read.parquet(self.pages)).select("src", "dst"),
                 self.table, path, n_buckets=CORES)
        engine = run.engine(checkpoint_every=8)
        res = run.call("pagerank", pagerank, spark, engine,
                       read_bucketed_edges(spark, self.table), run_id="corpus_pr",
                       tol=1e-6, pre_partitioned=True)
        return {"pr": res, "bucketed_path": path}

    def check(self, run, out) -> dict:
        if not hasattr(self, "ref"):
            ids = oracles.page_ids(N_PAGES)
            s, d = oracles.corpus_links(N_PAGES, CORPUS_SEED)
            self.ref_edges = (ids[s], ids[d])
            self.ref = oracles.pagerank(*self.ref_edges, tol=checks.PR_TOL)
        pdf = run.spark.table(self.table).select("src", "dst").toPandas()
        pr = out["pr"]
        run.check("extraction", checks.extraction,
                  pdf["src"].to_numpy(), pdf["dst"].to_numpy(), *self.ref_edges)
        run.check("pagerank", checks.pagerank, *_state(pr, "vid", "pr"),
                  pr.supersteps, self.ref, "pagerank")
        run.check("traversal", checks.traversal, pr.edges_traversed_total,
                  len(self.ref_edges[0]), pr.supersteps, "pagerank")
        return {"extracted_edges": len(pdf), "supersteps": pr.supersteps}

    def clear(self, run, out) -> None:
        run.spark.sql(f"DROP TABLE IF EXISTS {self.table}")
        shutil.rmtree(out["bucketed_path"], ignore_errors=True)


class LargePagerank(Workload):
    name = "large_pagerank"

    def setup(self, run) -> dict:
        from drone_spark.corpus import generate_edges_direct

        self.edges = os.path.join(run.dir, "edges")
        (generate_edges_direct(run.spark, LARGE_VERTICES, seed=run.seed,
                               gen_partitions=LARGE_GEN_PARTITIONS)
         .write.parquet(self.edges))
        return {"vertices": LARGE_VERTICES, "supersteps": LARGE_STEPS,
                "graph_seed": run.seed}

    def round(self, run) -> dict:
        from drone_spark.algorithms.pagerank import pagerank, pagerank_cogroup

        spark = run.spark
        edges = spark.read.parquet(self.edges)
        engine = run.engine(checkpoint_every=8)
        rel = run.call("pagerank", pagerank, spark, engine, edges, run_id="large_pr",
                       tol=0.0, max_supersteps=LARGE_STEPS)
        cog = run.call("pagerank_cogroup", pagerank_cogroup, spark, engine, edges,
                       run_id="large_prcg", tol=0.0, max_supersteps=LARGE_STEPS)
        return {"pr": rel, "prcg": cog}

    def check(self, run, out) -> dict:
        if not hasattr(self, "ref"):
            self.ref_edges = _read_edges(self.edges)
            self.ref = oracles.pagerank(*self.ref_edges, steps=LARGE_STEPS)
        n_edges = len(self.ref_edges[0])
        for key, what in (("pr", "pagerank"), ("prcg", "pagerank_cogroup")):
            res = out[key]
            run.check(what, checks.pagerank, *_state(res, "vid", "pr"),
                      res.supersteps, self.ref, what)
            run.check(f"{what}.traversal", checks.traversal,
                      res.edges_traversed_total, n_edges, res.supersteps, what)
        return {"edges": n_edges}

    def partition_input(self, run):
        return run.spark.read.parquet(self.edges).select("src", "dst")


class LabelingStrict(Workload):
    name = "labeling_strict"

    def setup(self, run) -> dict:
        self.edges = os.path.join(run.dir, "edges")
        self.ref_edges = copurchase_edges(run.seed)
        _write_parquet(self.edges, *self.ref_edges, files=CORES)
        return {"items": ITEMS, "orders": ORDERS, "graph_seed": run.seed,
                "edges": len(self.ref_edges[0])}

    def round(self, run) -> dict:
        from drone_spark.algorithms.cc import connected_components, label_propagation
        from drone_spark.algorithms.triangles import triangle_count

        spark = run.spark
        edges = spark.read.parquet(self.edges)
        engine = run.engine(checkpoint_every=1)
        cc = run.call("connected_components", connected_components, spark, engine,
                      edges, run_id="cc")
        # LP stops after one superstep, then resumes from its snapshot
        lp1 = run.call("label_propagation", label_propagation, spark, engine, edges,
                       run_id="lp", max_supersteps=1)
        lp = run.call("label_propagation", label_propagation, spark, engine, edges,
                      run_id="lp", resume=True)
        tri = run.call("triangle_count", lambda: triangle_count(edges).collect())
        return {"cc": cc, "lp1": lp1, "lp": lp, "tri": int(tri[0]["n_triangles"]),
                "engine": engine}

    def check(self, run, out) -> dict:
        from drone_spark.algorithms.cc import label_propagation

        if not hasattr(self, "ref"):
            self.ref = oracles.components(*self.ref_edges)
            self.ref_tri = oracles.triangles(*self.ref_edges)
        lp, lp1 = out["lp"], out["lp1"]
        run.check("cc", checks.components, *_state(out["cc"], "vid", "label"), self.ref)
        run.check("lp", checks.label_partition, *_state(lp, "vid", "label"), self.ref)
        run.check("lp.resumed", checks.resumed, lp1.supersteps, lp.resumed_from,
                  lp.converged)
        whole = run.call("label_propagation", label_propagation, run.spark,
                         out["engine"], run.spark.read.parquet(self.edges),
                         run_id="lp_whole", timed=False)
        run.check("lp.resume_equals_whole", checks.same_labels,
                  *_state(lp, "vid", "label"), *_state(whole, "vid", "label"),
                  "lp resumed vs uninterrupted")
        run.check("triangles", checks.triangles, out["tri"], self.ref_tri)
        return {"components": len(set(self.ref.values())),
                "vertices": len(self.ref), "triangles": self.ref_tri}

    def partition_input(self, run):
        from pyspark.sql import functions as F

        e = run.spark.read.parquet(self.edges)
        return e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


WORKLOADS = {w.name: w for w in (CorpusPagerank, LargePagerank, LabelingStrict)}
