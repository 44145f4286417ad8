"""Traced run: spans at the benchmark's wrappers plus Spark's own counters.

Nothing here changes the engine. ``instrument`` swaps wrappers in for the
public names one job goes through (``InputConfig.from_message``, the
consumer's ``aggregate``, ``plans.pipeline``'s ``map_columns`` /
``keyed_merge`` / ``enrich``, and each reader of the registry) and restores
them on exit. Each wrapper records a span (name, start, end, parent, job)
and keeps the frame its call returned, so every intermediate frame of the
job can be executed on its own afterwards.

Spark's side is read after each job from the status stores, which work with
the UI disabled: ``AppStatusStore`` for jobs, stages and tasks (grouped by a
job group the benchmark sets), and ``SQLAppStatusStore`` for the operator
metrics of the final adaptive plan of the job's sink execution.
"""

from __future__ import annotations

import re
import statistics
import time
from contextlib import contextmanager

READER_FORMATS = {2: "csv", 7: "csv", 4: "xlsx", 6: "xlsx", 5: "xml", 8: "jsonl"}


class Tracer:
    """In-memory span recorder; spans are written out when the run ends."""

    def __init__(self):
        self.enabled = True  # off: every wrapper calls straight through
        self.spans: list[dict] = []
        self.job: int | None = None
        self.frames: dict[str, list] = {}
        self._stack: list[int] = []

    def start_job(self, job: int) -> None:
        self.job = job
        self.frames = {}

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "job": self.job,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn, frame: str | None = None):
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                out = fn(*args, **kwargs)
            if frame is not None:
                self.frames.setdefault(frame, []).append(out[0] if isinstance(out, tuple) else out)
            return out
        return traced

    def job_spans(self, job: int) -> list[dict]:
        return [s for s in self.spans if s["job"] == job]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name, minus the time its child spans cover."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"] - child.get(s["id"], 0.0)
    return out


def span_total(spans: list[dict], prefix: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"].startswith(prefix))


@contextmanager
def instrument(tracer: Tracer, readers: dict, spark):
    """Wrap the engine's public names for the duration of the block; yields
    the traced reader registry to pass to ``process_messages``. Reader calls
    run under their own job group suffix so their eager Spark jobs (CSV
    header pass, JSON schema inference) can be counted."""
    from etl_edi_data_scrapper_spark.plans import pipeline
    from etl_edi_data_scrapper_spark.plans.config import InputConfig
    from etl_edi_data_scrapper_spark.streaming import consumer

    sc = spark.sparkContext
    saved = [(InputConfig, "from_message", InputConfig.__dict__["from_message"]),
             (consumer, "aggregate", consumer.aggregate),
             (pipeline, "map_columns", pipeline.map_columns),
             (pipeline, "keyed_merge", pipeline.keyed_merge),
             (pipeline, "enrich", pipeline.enrich)]
    InputConfig.from_message = staticmethod(
        tracer.wrap("plans.config.parse", InputConfig.from_message))
    consumer.aggregate = tracer.wrap("plans.pipeline.build", consumer.aggregate)
    pipeline.map_columns = tracer.wrap("operators.mapper.map_columns", pipeline.map_columns, "mapped")
    pipeline.keyed_merge = tracer.wrap("operators.merge.keyed_merge", pipeline.keyed_merge, "merged")
    pipeline.enrich = tracer.wrap("operators.merge.enrich", pipeline.enrich, "enriched")

    def traced_reader(type_id, fn):
        inner = tracer.wrap(f"sources.read.{READER_FORMATS.get(type_id, f'type{type_id}')}",
                            fn, "scan")

        def read(spark_, source, range_):
            if not tracer.enabled:
                return fn(spark_, source, range_)
            group = f"pb-{tracer.job}"
            sc.setJobGroup(f"{group}-read", "reader")
            try:
                return inner(spark_, source, range_)
            finally:
                sc.setJobGroup(group, "job")
        return read

    try:
        yield {t: traced_reader(t, fn) for t, fn in readers.items()}
    finally:
        for owner, name, orig in saved:
            setattr(owner, name, orig)


# --- status store readouts ----------------------------------------------------

def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def metric_number(text: str | None) -> float:
    """A SQL metric string as a number: "1,312,975" or, for size and timing
    metrics, the total in "total (min, med, max ...)\\n82.3 MiB (...)"."""
    if not text:
        return 0.0
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1)


_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}


def metric_ms(text: str | None) -> float:
    """A timing metric's total in milliseconds: "12 ms", "1.5 s", "2.1 m"."""
    if not text:
        return 0.0
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([0-9.,]+)\s*([a-z]*)", line)
    return float(m.group(1).replace(",", "")) * _MS.get(m.group(2), 1) if m else 0.0


def drain(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def stage_readout(spark, groups: list[str], plan: dict) -> dict:
    """Jobs, stages and tasks of the given job groups. ``plan`` is the
    sink execution's ``plan_readout``, which names the stages that run the
    merge's aggregates."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    intervals, stages = [], []
    job_ids = [j for g in groups for j in sc.statusTracker().getJobIdsForGroup(g)]
    for jid in job_ids:
        jd = store.job(jid)
        start, end = _opt(jd.submissionTime()), _opt(jd.completionTime())
        if start is not None and end is not None:
            intervals.append((start.getTime() / 1000, end.getTime() / 1000))
        for sid in _seq(jd.stageIds()):
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            stages.append(st)
    union, cur_end = 0.0, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            union += b - a
            cur_end = b
        elif b > cur_end:
            union += b - cur_end
            cur_end = b

    def tasks(sid):  # None: a node that ran in a single task
        return 1 if sid is None else store.lastStageAttempt(sid).numTasks()

    skew, sid = 1.0, plan.get("merge_stage")
    if sid is not None:
        st = store.lastStageAttempt(sid)
        durs = [_opt(t.duration()) or 0 for t in _seq(store.taskList(sid, st.attemptId(), 100000))]
        if durs and statistics.median(durs) > 0:
            skew = max(durs) / statistics.median(durs)
    return {
        "spark_jobs": len(job_ids),
        "stages": len(stages),
        "oha_tasks": sum(tasks(sid) for sid in plan.get("oha_stages", [])),
        "spark_job_wall_s": union,
        "task_s": sum(s.executorRunTime() for s in stages) / 1000,
        "gc_s": sum(s.jvmGcTime() for s in stages) / 1000,
        "shuffle_read_bytes": sum(s.shuffleReadBytes() for s in stages),
        "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in stages),
        "spill_bytes": sum(s.diskBytesSpilled() for s in stages),
        "failed_tasks": sum(s.numFailedTasks() for s in stages),
        "merge_task_skew": skew,
    }


def _executions(spark, job_ids: set) -> list:
    sql = spark._jsparkSession.sharedState().statusStore()
    return [e for e in _seq(sql.executionsList())
            if any(int(j) in job_ids for j in _seq(e.jobs().keySet().toSeq()))]


def _plan_nodes(spark, eid: int) -> tuple[dict, dict]:
    """Nodes of an execution's final plan graph: id -> (name, {metric name:
    (accumulator id, value)}), and id -> child ids."""
    sql = spark._jsparkSession.sharedState().statusStore()
    graph, values = sql.planGraph(eid), sql.executionMetrics(eid)
    nodes = {}
    for n in _seq(graph.allNodes()):
        metrics = {m.name(): (m.accumulatorId(), _opt(values.get(m.accumulatorId())))
                   for m in _seq(n.metrics())}
        nodes[n.id()] = (n.name().strip(), metrics)
    children: dict[int, list[int]] = {}
    for e in _seq(graph.edges()):
        children.setdefault(e.toId(), []).append(e.fromId())
    return nodes, children


def plan_readout(spark, job_ids: set) -> dict:
    """Operator metrics of the last SQL execution that ran one of ``job_ids``
    (the sink's), read from its final adaptive plan graph."""
    execs = _executions(spark, job_ids)
    if not execs:
        return {}
    eid = max(e.executionId() for e in execs)
    nodes, children = _plan_nodes(spark, eid)

    def value(nid, metric):
        return (nodes[nid][1].get(metric) or (None, None))[1]

    def rows(nid):
        return metric_number(value(nid, "number of output rows"))

    def depth_first(nid):
        yield nid
        for c in children.get(nid, []):
            yield from depth_first(c)

    def stage_of(nid) -> int | None:
        # A timing or size metric updated by several tasks names the stage of
        # the largest: "total (min, med, max (stageId: taskId))\n1 ms (0 ms,
        # 0 ms, 1 ms (stage 3.0: task 7))". One task's value stands alone.
        ids = {int(sid) for _, text in nodes[nid][1].values() if text
               for sid in re.findall(r"\(stage (\d+)\.\d+: task \d+\)", text)}
        return min(ids) if ids else None

    roots = [n for n in nodes if not any(n in cs for cs in children.values())]
    order = [n for r in roots for n in depth_first(r)]
    aggs = [n for n in order if nodes[n][0].endswith("Aggregate")]
    ohas = [n for n in aggs if nodes[n][0] == "ObjectHashAggregate"]
    rows_in = rows_out = 0.0
    if len(aggs) >= 2:
        rows_out = rows(aggs[0])
        # first node below the partial aggregate that counts its rows
        below = [n for n in depth_first(aggs[1]) if n != aggs[1]
                 and "number of output rows" in nodes[n][1]]
        rows_in = rows(below[0]) if below else 0.0
    scans = [n for n in nodes if "Scan" in nodes[n][0]]
    return {
        "execution_id": eid,
        "scan_rows": sum(rows(n) for n in scans),
        "scan_rows_each": [rows(n) for n in scans],
        "scan_bytes": sum(metric_number(value(n, "size of files read")) for n in scans),
        "merge_rows_in": rows_in,
        "merge_rows_out": rows_out,
        "sort_fallback_tasks": sum(metric_number(value(n, "number of sort fallback tasks"))
                                   for n in ohas),
        # the stage of the last merge's final aggregate, and of each
        # ObjectHashAggregate (None where a single task ran it)
        "merge_stage": stage_of(aggs[0]) if aggs else None,
        "oha_stages": [stage_of(n) for n in ohas],
        "broadcast_joins": sum(1 for name, _ in nodes.values() if name == "BroadcastHashJoin"),
        "operators": [nodes[n][0] for n in order],
    }


def python_readout(spark, job_ids: set) -> dict:
    """Python evaluation nodes (those that report "time to run Python
    workers") over every SQL execution that ran one of ``job_ids``."""
    count, ms = 0, 0.0
    for e in _executions(spark, job_ids):
        nodes, _ = _plan_nodes(spark, e.executionId())
        for _, metrics in nodes.values():
            if "time to run Python workers" in metrics:
                count += 1
                ms += metric_ms(metrics["time to run Python workers"][1])
    return {"python_nodes": count, "python_eval_ms": ms}


def planning_phases(df) -> dict:
    """QueryPlanningTracker phases (ms) of ``df``'s own query execution;
    forcing ``executedPlan`` runs optimization and planning."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return {k: float(_opt(phases.get(k)).durationMs()) if _opt(phases.get(k)) is not None else 0.0
            for k in ("analysis", "optimization", "planning")}
