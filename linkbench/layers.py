"""Per-layer metric catalogue and the traced run's layer table."""

from __future__ import annotations

import glob
import json
import os
import statistics

# (metric, unit, better, layer module, end-to-end metric it should move, note)
METRICS = [
    ("session.start_s", "s", "lower", "session", "setup_s", ""),
    ("corpus.gen_s", "s", "lower", "corpus", "setup_s",
     "labeling_strict synthesises its graph with numpy, not the corpus module"),
    ("extraction.s", "s", "lower", "extraction", "wall_s",
     "wall of the stages of the bucketed write that scan the pages table "
     "(the HTML parse runs in that stage)"),
    ("extraction.pages_per_s", "pages/s", "higher", "extraction", "wall_s", ""),
    ("extraction.edges", "count", "higher", "extraction", "wall_s", ""),
    ("bucketed.write_s", "s", "lower", "sources.bucketed", "wall_s",
     "write_bucketed_edges wall minus extraction.s"),
    ("bucketed.prepare_s", "s", "lower", "sources.bucketed", "wall_s",
     "relational pagerank call start to SuperstepEngine.run entry: "
     "prepare_edges, cache and count"),
    ("partitioner.s", "s", "lower", "graph.partitioner", "wall_s",
     "cogroup/CC/LP call start to SuperstepEngine.run entry: vertex-cut "
     "placement, cache, count and routes"),
    ("partitioner.replication_factor", "ratio", "lower", "graph.partitioner",
     "wall_s",
     "partitions holding an edge of a vertex, averaged over vertices"),
    ("partitioner.edge_balance", "ratio", "lower", "graph.partitioner",
     "wall_s", "max / mean edges per partition"),
    ("engine.supersteps", "count", "lower", "engine.superstep", "wall_s", ""),
    ("engine.init_s", "s", "lower", "engine.superstep", "wall_s",
     "init plan plus the superstep-0 commit, summed over runs"),
    ("engine.superstep_s", "s", "lower", "engine.superstep", "wall_s, edges_per_s",
     "median; from one step-plan request to the next"),
    ("engine.step_plan_s", "s", "lower", "engine.superstep", "wall_s, edges_per_s",
     "median time inside the algorithm's step callable (plan build)"),
    ("engine.jobs_per_superstep", "count", "lower", "engine.superstep", "wall_s", "median"),
    ("engine.stages_per_superstep", "count", "lower", "engine.superstep", "wall_s",
     "median; skipped stages not counted"),
    ("spark.driver_serial_s", "s", "lower", "engine.superstep", "wall_s, edges_per_s",
     "timed seconds with no Spark job running"),
    ("catalog.snapshot_s", "s", "lower", "catalog", "wall_s",
     "inside Catalog.write_snapshot/append; includes running the plan "
     "being written"),
    ("catalog.snapshots", "count", "lower", "catalog", "wall_s", ""),
    ("catalog.bytes_written", "bytes", "lower", "catalog", "wall_s", ""),
    ("catalog.read_s", "s", "lower", "catalog", "wall_s", ""),
    ("pagerank.s", "s", "lower", "algorithms", "wall_s, edges_per_s", ""),
    ("pagerank_cogroup.s", "s", "lower", "algorithms", "wall_s, edges_per_s", ""),
    ("cc.s", "s", "lower", "algorithms", "wall_s", ""),
    ("lp.s", "s", "lower", "algorithms", "wall_s", "stopped run plus resumed run"),
    ("triangles.s", "s", "lower", "algorithms", "wall_s", ""),
    ("spark.tasks", "count", "lower", "algorithms", "wall_s", ""),
    ("spark.shuffle_read_bytes", "bytes", "lower", "algorithms", "wall_s", ""),
    ("spark.shuffle_write_bytes", "bytes", "lower", "algorithms", "wall_s", ""),
    ("spark.executor_run_s", "s", "lower", "algorithms", "wall_s", "summed over tasks"),
    ("spark.executor_cpu_s", "s", "lower", "algorithms", "wall_s", "summed over tasks"),
    ("spark.gc_s", "s", "lower", "algorithms", "wall_s", "summed over tasks"),
    ("spark.python_bytes_sent", "bytes", "lower", "algorithms", "wall_s",
     "Arrow bytes into Python workers (mapInPandas, applyInArrow)"),
    ("spark.python_bytes_returned", "bytes", "lower", "algorithms", "wall_s", ""),
    ("spark.python_run_s", "s", "lower", "algorithms", "wall_s",
     "task-summed time inside Python workers; Spark does not split the "
     "Arrow (de)serialisation from the kernel itself"),
    ("trace.wall_s", "s", "lower", "benchmark", "wall_s",
     "traced round wall; overhead = this minus the untraced median"),
]
UNITS = {m[0]: m[1] for m in METRICS}

NOT_EXPOSED = [
    "Arrow kernel time apart from the Python-worker boundary (one "
    "'time to run Python workers' SQL metric covers both)",
    "driver-side plan analysis/optimisation time per job (no event; it "
    "is inside spark.driver_serial_s)",
    "per-superstep convergence-check cost at sparse cadence (observed "
    "inside the materialisation job, not a job of its own)",
]


def _untraced_walls(out_dir: str, workload: str) -> list[float]:
    walls = []
    for path in glob.glob(os.path.join(out_dir, f"{workload}-seed*-trace0-*.json")):
        try:
            with open(path) as fh:
                walls.append(json.load(fh)["end_to_end"]["wall_s"])
        except (OSError, KeyError, ValueError):
            continue
    return walls


def write_table(out_dir: str, tag: str, workload: str, values: dict) -> str:
    """Write ``<tag>-layers.md`` and return its path. Tracing overhead
    is taken against the untraced runs of the workload found beside it."""
    walls = _untraced_walls(out_dir, workload)
    lines = [f"# {workload}: per-layer metrics (traced run)", "",
             "| layer | metric | value | unit | moves | note |",
             "|---|---|---|---|---|---|"]
    for name, unit, _better, layer, moves, note in METRICS:
        lines.append(f"| {layer} | {name} | {values[name]:.6g} | {unit} | "
                     f"{moves} | {note} |")
    lines.append("")
    if walls:
        med = statistics.median(walls)
        lines.append(f"Tracing overhead: {values['trace.wall_s'] - med:+.3f} s "
                     f"(traced {values['trace.wall_s']:.3f} s, untraced median "
                     f"{med:.3f} s over {len(walls)} runs).")
    else:
        lines.append("Tracing overhead: no untraced run of this workload in "
                     f"{out_dir} to compare with.")
    lines += ["", "Not exposed by Spark's event log:"]
    lines += [f"- {x}" for x in NOT_EXPOSED]
    path = os.path.join(out_dir, f"{tag}-layers.md")
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return path
