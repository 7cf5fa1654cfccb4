"""Link-graph benchmark: one workload, one seed, one process.

    python3 linkbench/run.py --workload corpus_pagerank --seed 1 --seconds 20 --trace 0

Run from the repository root. Set-up (Spark session start plus input
synthesis) happens before the clock; the timed region is every program
call of one round; rounds repeat while the next one would still end
within ``--seconds`` (at least one round); the output checks run after
the clock. The last line of stdout is one JSON object; with
``--trace 0`` it holds the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a separately traced run. Details (provenance,
checks, calls, layer table) go to ``.linkbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()  # set-up is timed from the process's start

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".linkbench_out")
sys.path.insert(0, ROOT)

DRIVER_MEMORY = "3g"
END_TO_END = {"setup_s": "s", "wall_s": "s", "edges_per_s": "edges/s"}


def _log(msg: str) -> None:
    print(f"[linkbench] {msg}", file=sys.stderr, flush=True)


class Run:
    """State of one benchmark process: the session, the operation
    counters and, when tracing, the tracer."""

    def __init__(self, args, rundir: str) -> None:
        self.seed = args.seed
        self.dir = rundir
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.correct = True
        self.calls: list[dict] = []
        self.checks: list[dict] = []

    def group(self, name: str) -> None:
        if self.tracer is not None:
            self.tracer.call = name
            self.tracer.group(name)

    def engine(self, checkpoint_every: int):
        from drone_spark.catalog import Catalog
        from drone_spark.engine.superstep import SuperstepEngine

        from linkbench.workloads import CORES

        root = tempfile.mkdtemp(prefix="catalog-", dir=self.dir)
        if self.tracer is None:
            return SuperstepEngine(self.spark, Catalog(root), num_parts=CORES,
                                   checkpoint_every=checkpoint_every)
        from linkbench.trace import TracingCatalog, TracingEngine

        return TracingEngine(self.spark, TracingCatalog(root, self.tracer), self.tracer,
                             num_parts=CORES, checkpoint_every=checkpoint_every)

    def call(self, api: str, fn, *args, timed: bool = True, **kwargs):
        """One program call; ``timed`` calls belong to the round's clock.
        A call that raises ends the run without a result."""
        self.attempted += 1
        name = f"{api}#{len(self.calls)}" if timed else f"check:{api}"
        self.group(name)
        t0 = time.time()
        out = fn(*args, **kwargs)
        t1 = time.time()
        self.group("check" if not timed else "round")
        if timed:
            self.calls.append({
                "name": name, "api": api, "t0": t0, "t1": t1,
                "traversed": getattr(out, "edges_traversed_total", None),
                "supersteps": getattr(out, "supersteps", None),
            })
        return out

    def check(self, name: str, fn, *args) -> None:
        from linkbench.checks import CheckError

        self.attempted += 1
        try:
            detail, ok = fn(*args), True
        except CheckError as exc:
            detail, ok = str(exc), False
            self.correct = False
            _log(f"check {name} FAILED: {exc}")
        self.checks.append({"check": name, "ok": ok, "detail": detail})


def _spark_conf(rundir: str, eventlog: str | None) -> dict[str, str]:
    tmp = os.path.join(rundir, "tmp")
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(rundir, "warehouse"),
        "spark.local.dir": os.path.join(rundir, "local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if eventlog:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _provenance(spark, env_before: dict) -> dict:
    def git(*cmd):
        try:
            return subprocess.run(["git", *cmd], cwd=ROOT, capture_output=True,
                                  text=True, timeout=10, check=True).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            return None

    src = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "drone_spark", "**", "*.py"),
                                 recursive=True)):
        src.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            src.update(fh.read())
    conf = spark.sparkContext.getConf()
    keys = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.join.preferSortMergeJoin",
            "spark.sql.execution.arrow.pyspark.enabled", "spark.eventLog.enabled")
    return {
        "git_sha": git("rev-parse", "HEAD"),
        "git_dirty": (bool(git("status", "--porcelain"))
                      if git("rev-parse", "HEAD") else None),
        "drone_spark_sha256": src.hexdigest(),
        "spark_graft_env_before_import": env_before,
        "spark_graft_env_effective": {k: v for k, v in sorted(os.environ.items())
                                      if k.startswith("SPARK_GRAFT_")},
        "spark_version": spark.version,
        "spark_conf": {k: conf.get(k, None) for k in keys},
        "cpus": os.cpu_count(),
        "python": sys.version.split()[0],
    }


def _partition_facts(run, workload) -> dict:
    """Vertex-cut statistics of the input the program partitions (after
    the clock, traced runs only)."""
    from pyspark.sql import functions as F

    from drone_spark.graph.partitioner import partition_graph
    from linkbench.workloads import CORES

    edges = workload.partition_input(run)
    if edges is None:
        return {}
    pg = partition_graph(edges, CORES)
    per_part = [r["count"] for r in pg.edges.groupBy("part").count().collect()]
    n_vertices = (edges.select(F.col("src").alias("v"))
                  .union(edges.select("dst")).distinct().count())
    return {
        "replication_factor": pg.presence_routes().count() / n_vertices,
        "edge_balance": max(per_part) / (sum(per_part) / CORES),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    env_before = {k: v for k, v in sorted(os.environ.items())
                  if k.startswith("SPARK_GRAFT_")}
    import drone_spark  # noqa: F401  - fails fast where the program is absent

    from linkbench.procs import stop_spark
    from linkbench.workloads import CORES, WORKLOADS

    workload = WORKLOADS[args.workload]()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    os.makedirs(OUT, exist_ok=True)
    rundir = os.path.join(OUT, "work", tag)
    eventlog = os.path.join(OUT, "eventlogs", tag) if args.trace else None
    for d in (rundir, os.path.join(rundir, "tmp"), eventlog):
        if d:
            os.makedirs(d, exist_ok=True)
    # Python workers import drone_spark through the environment the JVM
    # inherits; temp files stay inside the run directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(rundir, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR on next use

    run = Run(args, rundir)
    detail: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace, "cores": CORES}
    try:
        from drone_spark.session import get_spark

        t0 = time.monotonic()
        run.spark = get_spark(f"linkbench-{args.workload}", cores=CORES,
                              extra_conf=_spark_conf(rundir, eventlog))
        session_s = time.monotonic() - t0
        if args.trace:
            from linkbench.trace import Tracer

            run.tracer = Tracer(run.spark)
        run.group("setup")
        t0 = time.monotonic()
        detail["inputs"] = workload.setup(run)
        gen_s = time.monotonic() - t0
        setup_s = time.monotonic() - T_START
        detail["provenance"] = _provenance(run.spark, env_before)

        rounds, facts = [], {}
        while True:
            run.calls = []
            run.group("round")
            r0, w0 = time.monotonic(), time.time()
            out = workload.round(run)
            wall = time.monotonic() - r0
            w1 = time.time()
            run.group("check")
            info = workload.check(run, out)
            if args.trace and not rounds:
                run.group("facts")
                facts = _partition_facts(run, workload)
            workload.clear(run, out)
            rounds.append({"wall_s": wall, "span": (w0, w1), "calls": run.calls,
                           "outputs": info})
            timed = sum(r["wall_s"] for r in rounds)
            if timed + wall > args.seconds:
                break
        detail["checks"] = run.checks
        detail["rounds"] = rounds
    finally:
        if run.spark is not None:
            for row in run.spark.sql("SHOW TABLES").collect():
                run.spark.sql(f"DROP TABLE IF EXISTS {row['tableName']}")
            detail["leftover_processes"] = stop_spark(run.spark)
        shutil.rmtree(rundir, ignore_errors=True)

    engine_calls = [c for r in rounds for c in r["calls"] if c["traversed"] is not None]
    traversed = sum(c["traversed"] for c in engine_calls)
    engine_s = sum(c["t1"] - c["t0"] for c in engine_calls)
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(r["wall_s"] for r in rounds),
        "edges_per_s": traversed / engine_s,
    }
    detail["end_to_end"] = e2e
    if args.trace:
        from linkbench.layers import UNITS, write_table
        from linkbench.trace import layers, parse_eventlog

        (log_file,) = glob.glob(os.path.join(eventlog, "*"))
        jobs, stages = parse_eventlog(log_file)
        first = rounds[0]
        facts.update(session_s=session_s, gen_s=gen_s,
                     pages=detail["inputs"].get("pages", 0),
                     extracted_edges=first["outputs"].get("extracted_edges", 0))
        per_layer = layers(run.tracer, jobs, stages, first["calls"],
                           first["span"], facts)
        detail["per_layer"] = per_layer
        detail["spans"] = run.tracer.spans
        detail["layer_table"] = write_table(OUT, tag, args.workload, per_layer)
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    with open(os.path.join(OUT, f"{tag}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    print(json.dumps({"correct": run.correct, "attempted": run.attempted,
                      "failed": 0, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and exit without a result
        traceback.print_exc()
        sys.exit(1)
