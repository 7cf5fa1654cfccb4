"""Per-layer tracing for the traced run, built only from the program's
public surface and Spark's event log.

- :class:`Tracer` records spans (kind, name, start, end, extra) in
  memory and tags Spark jobs with ``setJobGroup``.
- :class:`TracingCatalog` times every catalog commit and read and
  counts the bytes each commit wrote.
- :class:`TracingEngine` wraps ``SuperstepEngine.run``: it times the
  ``init``/``step`` callables it is handed and tags each superstep's
  jobs with their own job group.
- :func:`parse_eventlog` and :func:`layers` turn the event log plus the
  spans into the per-layer metrics.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from drone_spark.catalog import Catalog
from drone_spark.engine.superstep import SuperstepEngine

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_PY_RUN = "time to run Python workers"
_TASK_SUMS = ("tasks", "run_s", "cpu_s", "gc_s", "input_bytes", "shuffle_read",
              "shuffle_write", "py_sent", "py_returned", "py_run_s")


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.call = "setup"

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def add(self, kind: str, name: str, t0: float, t1: float, **extra) -> None:
        self.spans.append({"kind": kind, "name": name, "t0": t0, "t1": t1, **extra})

    def of(self, kind: str) -> list[dict]:
        return [s for s in self.spans if s["kind"] == kind]


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class TracingCatalog(Catalog):
    def __init__(self, root: str, tracer: Tracer) -> None:
        super().__init__(root)
        self.tracer = tracer

    def _timed_commit(self, write, df, name, meta):
        t0 = time.time()
        version = write(df, name, meta)
        # layout <root>/<table>/v=<version>/ (catalog module docstring)
        written = _du(os.path.join(self.root, name, f"v={version:06d}"))
        self.tracer.add("catalog.commit", name, t0, time.time(), bytes=written)
        return version

    def write_snapshot(self, df, name, meta=None):
        return self._timed_commit(super().write_snapshot, df, name, meta)

    def append(self, df, name, meta=None):
        return self._timed_commit(super().append, df, name, meta)

    def read(self, spark, name, version=None):
        t0 = time.time()
        df = super().read(spark, name, version)
        self.tracer.add("catalog.read", name, t0, time.time())
        return df


class TracingEngine(SuperstepEngine):
    def __init__(self, spark, catalog, tracer: Tracer, **kw) -> None:
        super().__init__(spark, catalog, **kw)
        self.tracer = tracer

    def run(self, run_id, init, step, *args, **kw):
        tr, call = self.tracer, self.tracer.call
        entered = time.time()

        def traced_init():
            tr.group(f"{call}|s0")
            t0 = time.time()
            df = init()
            tr.add("engine.superstep", call, t0, time.time(), k=0)
            return df

        def traced_step(state, k):
            tr.group(f"{call}|s{k}")
            t0 = time.time()
            df = step(state, k)
            tr.add("engine.superstep", call, t0, time.time(), k=k)
            return df

        try:
            res = super().run(run_id, traced_init, traced_step, *args, **kw)
        finally:
            tr.group(call)
        tr.add("engine.run", call, entered, time.time(),
               supersteps=res.supersteps, resumed_from=res.resumed_from)
        return res


# -- event log ---------------------------------------------------------------
def _acc(task_info: dict, name: str) -> float:
    for a in task_info.get("Accumulables", ()):
        if a.get("Name") == name:
            try:
                return float(a.get("Update", 0) or 0)
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def parse_eventlog(path: str) -> tuple[dict, dict]:
    """(jobs, stages) from an uncompressed JSON-lines event log.

    jobs:   id -> {group, start, end, stages}      (seconds since epoch)
    stages: id -> {start, end, tasks, run_s, cpu_s, gc_s, input_bytes,
                   shuffle_read, shuffle_write, py_sent, py_returned,
                   py_run_s}
    Stages that never completed (skipped) are absent."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {
                    "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": e["Stage IDs"],
                }
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                stages[info["Stage ID"]] = {
                    "start": info.get("Submission Time", 0) / 1000.0,
                    "end": info.get("Completion Time", 0) / 1000.0,
                }
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                info = e.get("Task Info") or {}
                t = tasks.setdefault(e["Stage ID"], dict.fromkeys(_TASK_SUMS, 0.0))
                sr = m.get("Shuffle Read Metrics") or {}
                t["tasks"] += 1
                t["run_s"] += m.get("Executor Run Time", 0) / 1e3
                t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                t["shuffle_read"] += (sr.get("Local Bytes Read", 0)
                                      + sr.get("Remote Bytes Read", 0))
                t["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                t["py_sent"] += _acc(info, _PY_SENT)
                t["py_returned"] += _acc(info, _PY_RETURNED)
                t["py_run_s"] += _acc(info, _PY_RUN) / 1e3
    for sid, st in stages.items():
        st.update(tasks.get(sid, dict.fromkeys(_TASK_SUMS, 0.0)))
    return jobs, stages


def _union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def layers(tracer: Tracer, jobs: dict, stages: dict, calls: list[dict],
           round_span: tuple[float, float], facts: dict) -> dict[str, float]:
    """Per-layer metrics of one traced round.

    ``calls``: the round's program calls, {name, api, t0, t1};
    ``facts``: values measured outside the event log (set-up timers,
    partitioner statistics, page and edge counts)."""
    t0, t1 = round_span
    call_names = {c["name"] for c in calls}

    def call_of(group: str | None) -> str | None:
        return group.split("|", 1)[0] if group else None

    timed_jobs = [j for j in jobs.values() if call_of(j["group"]) in call_names]
    timed_stages = [stages[s] for j in timed_jobs for s in j["stages"] if s in stages]

    def total(key: str) -> float:
        return sum(st[key] for st in timed_stages)

    def api_seconds(api: str) -> float:
        return sum(c["t1"] - c["t0"] for c in calls if c["api"] == api)

    entered = {s["name"]: s["t0"] for s in tracer.of("engine.run")}
    runs = [s for s in tracer.of("engine.run") if s["name"] in call_names]
    prep = {c["api"]: 0.0 for c in calls}
    for c in calls:
        if c["name"] in entered:
            prep[c["api"]] += entered[c["name"]] - c["t0"]

    # supersteps: a step's span starts when the engine asks for its plan;
    # it lasts until the next plan request of the same run (or the run's end)
    steps, plan_s, jobs_per, stages_per, init_s = [], [], [], [], 0.0
    for run in runs:
        own = sorted((s for s in tracer.of("engine.superstep")
                      if s["name"] == run["name"] and run["t0"] <= s["t0"] <= run["t1"]),
                     key=lambda s: s["t0"])
        for i, s in enumerate(own):
            end = own[i + 1]["t0"] if i + 1 < len(own) else run["t1"]
            if s["k"] == 0:
                init_s += end - s["t0"]
                continue
            steps.append(end - s["t0"])
            plan_s.append(s["t1"] - s["t0"])
            group = f"{run['name']}|s{s['k']}"
            own_jobs = [j for j in jobs.values() if j["group"] == group]
            jobs_per.append(len(own_jobs))
            stages_per.append(sum(1 for j in own_jobs for x in j["stages"] if x in stages))

    def med(xs: list[float]) -> float:
        return statistics.median(xs) if xs else 0.0

    write_calls = [c for c in calls if c["api"] == "write_bucketed_edges"]
    extract_s = sum(
        st["end"] - st["start"]
        for j in timed_jobs if call_of(j["group"]) in {c["name"] for c in write_calls}
        for s in j["stages"] if s in stages
        for st in [stages[s]] if st["input_bytes"] > 0
    )
    commits = [s for s in tracer.of("catalog.commit") if t0 <= s["t0"] <= t1]
    reads = [s for s in tracer.of("catalog.read") if t0 <= s["t0"] <= t1]
    busy = _union_seconds(
        [(j["start"], j["end"]) for j in jobs.values() if j["end"] is not None], t0, t1)
    out = {
        "session.start_s": facts["session_s"],
        "corpus.gen_s": facts["gen_s"],
        "extraction.s": extract_s,
        "extraction.pages_per_s": facts.get("pages", 0) / extract_s if extract_s else 0.0,
        "extraction.edges": float(facts.get("extracted_edges", 0)),
        "bucketed.write_s": max(api_seconds("write_bucketed_edges") - extract_s, 0.0),
        "bucketed.prepare_s": prep.get("pagerank", 0.0),
        "partitioner.s": sum(prep.get(a, 0.0) for a in
                             ("pagerank_cogroup", "connected_components",
                              "label_propagation")),
        "partitioner.replication_factor": facts.get("replication_factor", 0.0),
        "partitioner.edge_balance": facts.get("edge_balance", 0.0),
        "engine.supersteps": float(len(steps)),
        "engine.init_s": init_s,
        "engine.superstep_s": med(steps),
        "engine.step_plan_s": med(plan_s),
        "engine.jobs_per_superstep": med(jobs_per),
        "engine.stages_per_superstep": med(stages_per),
        "spark.driver_serial_s": (t1 - t0) - busy,
        "catalog.snapshot_s": sum(s["t1"] - s["t0"] for s in commits),
        "catalog.snapshots": float(len(commits)),
        "catalog.bytes_written": float(sum(s["bytes"] for s in commits)),
        "catalog.read_s": sum(s["t1"] - s["t0"] for s in reads),
        "pagerank.s": api_seconds("pagerank"),
        "pagerank_cogroup.s": api_seconds("pagerank_cogroup"),
        "cc.s": api_seconds("connected_components"),
        "lp.s": api_seconds("label_propagation"),
        "triangles.s": api_seconds("triangle_count"),
        "spark.tasks": total("tasks"),
        "spark.shuffle_read_bytes": total("shuffle_read"),
        "spark.shuffle_write_bytes": total("shuffle_write"),
        "spark.executor_run_s": total("run_s"),
        "spark.executor_cpu_s": total("cpu_s"),
        "spark.gc_s": total("gc_s"),
        "spark.python_bytes_sent": total("py_sent"),
        "spark.python_bytes_returned": total("py_returned"),
        "spark.python_run_s": total("py_run_s"),
        "trace.wall_s": t1 - t0,
    }
    return out
