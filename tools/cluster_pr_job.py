"""PageRank job body for the standalone-cluster scaling proxy.

Submitted by tools/bench_standalone.py via

    spark-submit --master spark://127.0.0.1:7077 --py-files drone_spark.zip \
        tools/cluster_pr_job.py <edges_parquet> <steps> <num_parts> <out_json>

— the north-rule launch shape ("runs via spark-submit --py-files at N and
4N executors"). The master URL, executor count/cores/memory all come from
the submit conf, so the SAME job body runs at every cluster size; only
the cluster underneath changes. Timed region matches bench.py's
``_pagerank_job``: edge scan + cache + degrees + init + all supersteps
(``iter_seconds`` = supersteps only, the scaling-ratio basis).
"""

from __future__ import annotations

import json
import sys
import tempfile
import time

from pyspark.sql import SparkSession


def main() -> None:
    edges_path, steps, num_parts, out_path = (
        sys.argv[1],
        int(sys.argv[2]),
        int(sys.argv[3]),
        sys.argv[4],
    )
    backend = sys.argv[5] if len(sys.argv) > 5 else "relational"

    # master/executor topology comes entirely from spark-submit; only
    # SQL-layer confs are set here, mirroring drone_spark.session (AQE
    # on, shuffled-hash joins allowed so the per-superstep scatter join
    # does not re-sort the cached edge table — OPTIMIZATION_r06.md
    # §Engine, items 1 and 5)
    spark = (
        SparkSession.builder.appName(f"scaling-pr-{backend}")
        .config("spark.sql.shuffle.partitions", str(num_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from drone_spark.algorithms.pagerank import pagerank, pagerank_cogroup
    from drone_spark.catalog import Catalog
    from drone_spark.engine.superstep import SuperstepEngine

    edges = spark.read.parquet(edges_path)
    n_edges = edges.count()
    eng = SuperstepEngine(
        spark,
        Catalog(tempfile.mkdtemp(prefix="cluster_pr_cat_")),
        num_parts=num_parts,
        checkpoint_every=steps + 1,  # snapshot only at the end
    )
    runner = pagerank_cogroup if backend == "cogroup" else pagerank
    t0 = time.monotonic()
    res = runner(
        spark,
        eng,
        edges,
        run_id="cluster_pr",
        tol=0.0,  # fixed-superstep mode: identical work at every size
        max_supersteps=steps,
    )
    wall = time.monotonic() - t0

    sc = spark.sparkContext
    facts = {
        "seconds": round(wall, 3),
        "iter_seconds": round(res.seconds, 3),
        "supersteps": res.supersteps,
        "n_edges": n_edges,
        "edges_per_sec": round(n_edges * res.supersteps / res.seconds, 0),
        "backend": backend,
        "default_parallelism": sc.defaultParallelism,
        "executors": sc.getConf().get("spark.executor.instances", "dynamic"),
        "master": sc.master,
    }
    with open(out_path, "w") as fh:
        json.dump(facts, fh)
    print("CLUSTER_PR_RESULT " + json.dumps(facts))
    spark.stop()


if __name__ == "__main__":
    main()
