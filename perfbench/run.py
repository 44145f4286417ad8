"""EDI job benchmark: seeded supplier feeds through the engine's job path.

    python3 perfbench/run.py --workload edi_small_feeds --seed 1 --seconds 12 --trace 0

Run from the repository root. The run generates the workload's inputs for
the seed (cached under ``.perfbench_cache/``), starts the engine with its own
session defaults, warms up on whole blocks of the stream, then drives a
closed loop with one consumer over the stream, one block of jobs repeated.
An EDI job message goes through ``streaming.consumer.process_messages`` into
a sink that publishes ``sinks.rows_as_json`` to Spark's noop writer; a
kernel job is one pass over suite kernel queries on a generated table, each
executed into noop. The next job is handed over only after the previous one
returns, and a timed loop always ends on a block boundary, so every run times
the same mix. After the timed loop every EDI job that ran is executed once
more through ``Engine.run_job`` and its published rows are compared with
``replica.run_job``, an independent pure-Python computation of the same job;
each kernel query's rows are compared with its DuckDB oracle.

``--trace 1`` runs the loop with the wrappers of ``tracing.py``, each traced
job paired with an untraced twin of the same job, and reads Spark's status
stores after each job; it prints the per-layer metrics and writes the spans
to the inputs' directory.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
is the run's report (host record, workload parameters, sample counts,
percentiles, error rate).
"""

from __future__ import annotations

import argparse
import decimal
import hashlib
import json
import math
import os
import statistics
import subprocess
import sys
import tempfile
import time

import gen
import replica
import tracing as tr

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
WORKLOADS = tuple(gen.PARAMS)
KERNELS = gen.PARAMS["large_jobs"]["kernels"]["queries"]

# End-to-end metrics (untraced runs): name -> unit.
END_TO_END = {"setup_s": "s", "job_s_p50": "s", "jobs_per_s": "1/s", "rows_per_s": "rows/s"}

# Per-layer metrics: name -> unit. Each is the median over the traced jobs.
PER_LAYER = {
    "session.start_s": "s",
    "plans.config.parse_ms": "ms", "plans.pipeline.build_ms": "ms",
    "sources.read_ms": "ms", **{f"sources.read_ms.{f}": "ms" for f in ("csv", "xlsx", "xml", "jsonl")},
    "sources.eager_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "exec.spark_jobs": "count", "exec.stages": "count", "exec.driver_gap_s": "s",
    "sources.scan_exec_s": "s", "sources.scan_bytes": "bytes", "sources.scan_rows": "rows",
    "operators.mapper.exec_s": "s", "operators.merge.exec_s": "s",
    "operators.merge.rows_in": "rows", "operators.merge.rows_out": "rows",
    "operators.merge.sort_fallback_ratio": "ratio", "operators.merge.task_skew": "ratio",
    "operators.merge.enrich_exec_s": "s", "operators.merge.broadcast_joins": "count",
    "sinks.json_exec_s": "s", "streaming.consumer.overhead_ms": "ms",
    "exec.task_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.failed_tasks": "count",
    **{f"functions.{q}.{m}": u for q in KERNELS for m, u in (("build_ms", "ms"), ("exec_s", "s"))},
    "functions.python_nodes": "count", "functions.python_eval_ms": "ms",
    "trace.overhead_ms": "ms", "process.peak_rss_mb": "MB",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpu_calibration() -> float:
    """Seconds for a fixed single-thread workload (md5 over 64 MiB): runs
    are only compared when this probe reads alike."""
    blob = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.md5()
    for _ in range(64):
        h.update(blob)
    return time.perf_counter() - t0


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of this Python driver, the JVM and the JVM's child
    processes (Python workers), summed."""
    pids = [os.getpid(), jvm_pid]
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    if int(fh.read().rsplit(")", 1)[1].split()[1]) == jvm_pid:
                        pids.append(int(d))
            except (OSError, IndexError, ValueError):
                continue
    return sum(_vm_hwm_kb(p) for p in pids) / 1024


def steal_s() -> float | None:
    """CPU time the hypervisor has taken from this VM's vCPUs so far (the
    steal column of /proc/stat), or None where the kernel does not report it."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def confine_temp_files() -> None:
    """Point Spark's local dirs, the JVM's and Python's temp dirs into the
    cache, so a run writes nothing outside the checkout. Call before the JVM
    starts; it inherits the environment."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None


def stop_engine(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it: the
    gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def ensure_inputs(workload: str, seed: int) -> tuple[str, float]:
    """Generate the seed's inputs once per checkout (and generator version),
    in a child process so the generator's memory stays out of ``peak_rss_mb``."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        version = hashlib.sha1(fh.read()).hexdigest()[:8]
    out = os.path.join(CACHE, f"{workload}-{seed}-{version}")
    if os.path.exists(os.path.join(out, "manifest.json")):
        return out, 0.0
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
                    "--seed", str(seed), "--out", out], check=True)
    return out, time.perf_counter() - t0


def percentile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


class Bench:
    """One engine session driven by one consumer over a workload's stream:
    one block of jobs, repeated. An EDI job is a message that goes through
    ``process_messages`` into a sink publishing ``rows_as_json`` to noop; a
    kernel job is one pass over suite queries, each built by its
    ``suite.QUERIES`` function and executed into noop."""

    data_dir = "."  # the run works inside the inputs' directory

    def __init__(self, manifest: dict):
        from etl_edi_data_scrapper_spark import Engine
        from etl_edi_data_scrapper_spark.sinks import rows_as_json
        from etl_edi_data_scrapper_spark.streaming.consumer import process_messages

        self._process = process_messages
        self._rows_as_json = rows_as_json
        if any(is_pass(job) for job in manifest["jobs"]):
            from etl_edi_data_scrapper_spark import suite

            self.suite = suite
        params = manifest["params"]
        self.jobs = manifest["jobs"]
        self.block = len(self.jobs)
        self.min_jobs = params["min_blocks"] * self.block
        self.kernel_rows: dict[str, tuple[list, list]] = {}  # query -> (rows, columns)
        self.collected: set[int] = set()
        t0 = time.perf_counter()
        self.engine = Engine()
        self.session_s = time.perf_counter() - t0
        self.spark = self.engine.spark
        for _ in range(params["warm_blocks"]):
            for idx in range(self.block):
                self.warm_one(idx)
        self.setup_s = time.perf_counter() - t0

    def warm_one(self, idx: int) -> None:
        """Warm-up runs whole blocks: a JVM's first Spark jobs and each
        reader's first job run several times slower than later ones, and the
        JIT keeps compiling through the first blocks. The first pass over the
        kernels collects each query's rows for the check."""
        job = self.jobs[idx]
        if not is_pass(job) or idx in self.collected:
            self.run_one(idx)
            return
        self.collected.add(idx)
        for q in job["queries"]:
            try:
                df = self.build(q)
                self.kernel_rows[q] = ([tuple(r) for r in df.collect()], df.columns)
            except Exception as e:
                print(f"query {q} failed: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)

    def sink(self, df, cfg) -> None:
        self._rows_as_json(df).write.format("noop").mode("overwrite").save()

    def build(self, query: str):
        return self.suite.QUERIES[query](self.spark, self.data_dir)

    def run_one(self, idx: int, readers=None, sink=None, process=None,
                each=None) -> tuple[bool, float]:
        """One job; the arguments swap in traced readers, sink and consumer,
        and ``each(query, build)`` may wrap each kernel query's run."""
        job = self.jobs[idx]
        if is_pass(job):
            return self.run_pass(job["queries"], each)
        errors = []
        t0 = time.perf_counter()
        ok = (process or self._process)(self.spark, [job["message"]],
                                        readers or self.engine.readers, sink or self.sink,
                                        on_error=lambda msg, e: errors.append(e))
        dt = time.perf_counter() - t0
        for e in errors:
            print(f"job {idx} failed: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
        return ok == 1, dt

    def run_pass(self, queries: list[str], each=None) -> tuple[bool, float]:
        t0 = time.perf_counter()
        for q in queries:
            try:
                if each:
                    each(q, lambda: self.build(q))
                else:
                    self.build(q).write.format("noop").mode("overwrite").save()
            except Exception as e:
                print(f"query {q} failed: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
                return False, time.perf_counter() - t0
        return True, time.perf_counter() - t0

    def loop(self, seconds: float, run=None, before=None, after=None) -> dict:
        """Closed loop over the stream for at least ``seconds`` and
        ``min_blocks`` blocks, ending on a block boundary. The minimum is set
        above ``seconds`` at the current speed, so that noise does not change
        how many blocks a run times. Each record keeps the job's latency and
        the loop time at which it ended."""
        run = run or self.run_one
        records = []
        t_start = time.perf_counter()
        while (len(records) < self.min_jobs or len(records) % self.block
               or time.perf_counter() - t_start < seconds):
            idx = len(records) % len(self.jobs)
            if before:
                before(len(records), idx)
            ok, dt = run(idx)
            records.append({"job": idx, "ok": ok, "seconds": dt,
                            "end": time.perf_counter() - t_start})
            if after:
                after(len(records) - 1, idx)
        return {"records": records, "wall_s": time.perf_counter() - t_start}

    def check(self, job_indices) -> tuple[set, dict]:
        """Wrong job indices, and the rows that reached the merge per EDI job."""
        idxs = set(job_indices)
        passes = {i for i in idxs if is_pass(self.jobs[i])}
        wrong, keyed = self.check_edi(idxs - passes)
        return wrong | self.check_kernels(passes), keyed

    def check_edi(self, job_indices: set) -> tuple[set, dict]:
        """Publish every distinct job once more via ``Engine.run_job`` and
        compare with the replica, four jobs at a time."""
        from concurrent.futures import ThreadPoolExecutor

        first: dict[str, int] = {}  # a stream may repeat a message
        for idx in sorted(job_indices):
            first.setdefault(self.jobs[idx]["message"], idx)
        wrong, keyed = set(), {}
        with ThreadPoolExecutor(max_workers=4) as pool:
            for idx, keyed[idx], problem in pool.map(self._check_one, sorted(first.values())):
                if problem:
                    print(f"job {idx}: {problem}", file=sys.stderr)
                    wrong.add(idx)
        for idx in job_indices:
            same = first[self.jobs[idx]["message"]]
            keyed[idx] = keyed[same]
            if same in wrong:
                wrong.add(idx)
        return wrong, keyed

    def _check_one(self, idx: int) -> tuple[int, int, str | None]:
        msg = self.jobs[idx]["message"]
        expected, keyed = replica.run_job(msg)
        try:
            got = [json.loads(r.value) for r in
                   self._rows_as_json(self.engine.run_job(msg)).collect()]
        except Exception as e:  # a crash in the check is a wrong output
            return idx, keyed, f"check failed: {type(e).__name__}: {e}"
        by_key = {g.get("upc"): g for g in got}
        if len(by_key) == len(got) and by_key == expected:
            return idx, keyed, None
        bad = sorted(k for k in set(by_key) | set(expected) if by_key.get(k) != expected.get(k))
        return idx, keyed, f"{len(bad)} keys differ from the replica, e.g. {bad[:3]}"

    def check_kernels(self, job_indices: set) -> set:
        """Compare each query's rows from the first warm-up pass (the same
        query on the same file as every timed pass) with its DuckDB oracle
        (``suite.ORACLES``) over that file."""
        if not job_indices:
            return set()
        import duckdb

        con = duckdb.connect()
        table = os.path.join(self.data_dir, "embeddings.parquet")
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{table}')")
        wrong = set()
        for idx in sorted(job_indices):
            for q in self.jobs[idx]["queries"]:
                try:
                    got, cols = self.kernel_rows[q]
                    rel = con.sql(self.suite.ORACLES[q])
                    problem = compare_rows(got, cols, rel.fetchall(), rel.columns)
                except KeyError:
                    problem = "no rows: the query failed in the warm-up pass"
                except Exception as e:  # a crash in the check is a wrong output
                    problem = f"check failed: {type(e).__name__}: {e}"
                if problem:
                    print(f"query {q}: {problem}", file=sys.stderr)
                    wrong.add(idx)
        return wrong

    def sanity_problem(self, layer: dict, keyed: dict) -> dict | None:
        """Why a traced job's plan readout cannot be trusted, or None.

        EDI jobs: file scans output every generated row; an XLSX feed is a
        local relation that the optimizer filters by the merge key before
        the scan (ConvertToLocalRelation), so it outputs the rows that reach
        the merge. The merge's input is the rows with a non-empty key.
        Kernel passes: every scan of each query's final plan outputs the
        table's rows."""
        job = self.jobs[layer["job"]]
        if is_pass(job):
            rows = job["rows"] // len(job["queries"])
            bad = {q: scans for q, scans in layer["scan_rows_each"].items()
                   if not scans or any(r != rows for r in scans)}
            return {"job": layer["job"], "scan_rows": bad, "expected_scan_rows": rows} if bad else None
        idx = layer["job"]
        scan = keyed.get(idx) if layer["format"] == "xlsx" else job["rows"]
        if layer["sources.scan_rows"] == scan and layer["operators.merge.rows_in"] == keyed.get(idx):
            return None
        return {"job": idx, "format": layer["format"], "scan_rows": layer["sources.scan_rows"],
                "expected_scan_rows": scan, "merge_rows_in": layer["operators.merge.rows_in"],
                "keyed_rows": keyed.get(idx)}


def is_pass(job: dict) -> bool:
    """A kernel job (one pass over suite queries) rather than an EDI message."""
    return "queries" in job


def _canon(v):
    return float(v) if isinstance(v, decimal.Decimal) else v


def _sort_key(row: tuple) -> tuple:
    return tuple((0, "") if v is None else
                 (1, float(f"{v:.6g}")) if isinstance(v, (int, float)) else (2, str(v))
                 for v in row)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return (a is not None and b is not None
                and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12))
    return a == b


def compare_rows(got: list[tuple], got_cols: list[str], want: list[tuple],
                 want_cols: list[str]) -> str | None:
    """Order-insensitive comparison of two results by column name; floats
    agree to 1e-9 relative (the engine and DuckDB sum in other orders)."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != oracle {sorted(want_cols)}"
    cols = sorted(got_cols)

    def canon(rows, names):
        return sorted((tuple(_canon(r[names.index(c)]) for c in cols) for r in rows),
                      key=_sort_key)

    g, w = canon(got, list(got_cols)), canon(want, list(want_cols))
    if len(g) != len(w):
        return f"{len(g)} rows, oracle {len(w)}"
    bad = [(x, y) for x, y in zip(g, w) if not all(map(_same, x, y))]
    return f"{len(bad)} rows differ, e.g. {bad[0]}" if bad else None


def with_units(values: dict, units: dict) -> dict:
    return {name: {"value": values[name], "unit": unit} for name, unit in units.items()}


def end_to_end(bench: Bench, run: dict) -> dict:
    """Latency: median over the timed jobs. Throughput: median over the
    run's blocks of one block's completed jobs (input rows) ÷ the block's
    wall time, so a burst of host load that slows one block moves it
    less than a whole-run ratio."""
    recs = run["records"]
    done = [r for r in recs if r["ok"]]
    lat = [r["seconds"] for r in done] or [float("nan")]
    jobs_per_s, rows_per_s = [], []
    for i in range(0, len(recs), bench.block):
        block = recs[i:i + bench.block]
        wall = block[-1]["end"] - (recs[i - 1]["end"] if i else 0.0)
        ok = [r for r in block if r["ok"]]
        jobs_per_s.append(len(ok) / wall)
        rows_per_s.append(sum(bench.jobs[r["job"]]["rows"] for r in ok) / wall)
    return with_units({
        "setup_s": bench.setup_s,
        "job_s_p50": statistics.median(lat),
        "jobs_per_s": statistics.median(jobs_per_s),
        "rows_per_s": statistics.median(rows_per_s),
    }, END_TO_END)


def block_walls(bench: Bench, run: dict) -> list[float]:
    ends = [r["end"] for r in run["records"][bench.block - 1::bench.block]]
    return [b - a for a, b in zip([0.0, *ends], ends)]


def by_format(bench: Bench, run: dict) -> dict[str, list[float]]:
    """Latencies of the completed jobs per format ("pass" for kernel passes)."""
    out: dict[str, list[float]] = {}
    for r in run["records"]:
        if r["ok"]:
            out.setdefault(bench.jobs[r["job"]]["format"], []).append(r["seconds"])
    return out


def traced_loop(bench: Bench, seconds: float) -> dict:
    """The loop with wrappers on; per job, the spans, Spark's counters and,
    for EDI jobs, the marginal execution time of each captured frame. Each
    traced job is paired with an untraced twin (same job, wrappers switched
    off; run before it for even jobs, after it for odd ones), so the tracing
    overhead is a paired difference in the same warm state."""
    tracer = tr.Tracer()
    sc = bench.spark.sparkContext
    layers: list[dict] = []
    twins: list[dict] = []

    def sink(df, cfg):
        if not tracer.enabled:
            return bench.sink(df, cfg)
        with tracer.span("sinks.rows_as_json"):
            out = bench._rows_as_json(df)
        tracer.frames["json"] = [out]
        with tracer.span("sinks.write"):
            out.write.format("noop").mode("overwrite").save()

    def consumer(spark, messages, readers, sink_, **kw):
        if not tracer.enabled:
            return bench._process(spark, messages, readers, sink_, **kw)
        with tracer.span("streaming.consumer"):
            return bench._process(spark, messages, readers, sink_, **kw)

    def each(q, build):
        if not tracer.enabled:
            build().write.format("noop").mode("overwrite").save()
            return
        sc.setJobGroup(f"pb-{tracer.job}-{q}", "query")
        with tracer.span(f"functions.{q}.build"):
            df = build()
        with tracer.span(f"functions.{q}.exec"):
            df.write.format("noop").mode("overwrite").save()
        tracer.frames[q] = [df]

    def run(idx):
        return bench.run_one(idx, readers, sink, consumer, each)

    def run_twin(idx):
        sc.setJobGroup("pb-twin", "untraced twin")
        tracer.enabled = False
        try:
            ok, dt = run(idx)
            twins.append({"job": idx, "ok": ok, "seconds": dt})
        finally:
            tracer.enabled = True

    def before(n, idx):
        if n % 2 == 0:  # twins alternate before/after, so a second run's
            run_twin(idx)  # warm caches favour neither side
        tracer.start_job(n)
        sc.setJobGroup(f"pb-{n}", "job")

    def after(n, idx):
        if n % 2 == 1:
            run_twin(idx)
            sc.setJobGroup(f"pb-{n}", "job")
        layer = (kernel_layer if is_pass(bench.jobs[idx]) else edi_layer)(bench, tracer, n, idx)
        if layer:
            layers.append(layer)

    with tr.instrument(tracer, bench.engine.readers, bench.spark) as readers:
        result = bench.loop(seconds, run=run, before=before, after=after)
    return {"run": result, "twins": twins, "layers": layers, "spans": tracer.spans,
            "self_s": tr.self_times(tracer.spans)}


def _noop_seconds(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def edi_layer(bench: Bench, tracer: tr.Tracer, n: int, idx: int) -> dict:
    """Layer record of traced EDI job ``n``: spans, the marginal execution
    time of each captured frame, and Spark's status stores."""
    sc = bench.spark.sparkContext
    frames = tracer.frames
    phases = tr.planning_phases(frames["json"][0])
    sc.setJobGroup(f"pb-{n}-frames", "frames")
    scan = sum(_noop_seconds(f) for f in frames["scan"])
    chain = [frames["scan"][0]]
    if len(frames["merged"]) > 1:  # multi-source: base re-key, then enrich legs
        chain += [frames["merged"][0], *frames["enriched"]]
    t_chain = [_noop_seconds(f) for f in chain[1:]]
    t_mapped = _noop_seconds(frames["mapped"][0])
    t_merged = _noop_seconds(frames["merged"][-1])
    t_json = _noop_seconds(bench._rows_as_json(frames["merged"][-1]))
    sc.setJobGroup(f"pb-{n}", "job")
    tr.drain(bench.spark)
    eager = len(sc.statusTracker().getJobIdsForGroup(f"pb-{n}-read"))
    plan = tr.plan_readout(bench.spark, set(sc.statusTracker().getJobIdsForGroup(f"pb-{n}")))
    stages = tr.stage_readout(bench.spark, [f"pb-{n}", f"pb-{n}-read"], plan)
    spans = tracer.job_spans(n)
    root = next(s for s in spans if s["name"] == "streaming.consumer")
    job_s = root["end"] - root["start"]
    reads = {}
    for s in spans:
        if s["name"].startswith("sources.read."):
            fmt = s["name"].rsplit(".", 1)[1]
            reads[fmt] = reads.get(fmt, 0.0) + (s["end"] - s["start"]) * 1000
    parse = tr.span_total(spans, "plans.config.parse")
    build = tr.span_total(spans, "plans.pipeline.build")
    sink_s = tr.span_total(spans, "sinks.")
    read_s = sum(reads.values()) / 1000
    prev = t_chain[-1] if t_chain else scan
    return {
        "job": idx, "format": bench.jobs[idx]["format"], "job_s": job_s,
        "plans.config.parse_ms": parse * 1000,
        "plans.pipeline.build_ms": (build - read_s) * 1000,
        "sources.read_ms": read_s * 1000,
        **{f"sources.read_ms.{k}": v for k, v in reads.items()},
        "sources.eager_jobs": eager,
        **catalyst(phases), **exec_counters(stages),
        "exec.driver_gap_s": job_s - stages["spark_job_wall_s"],
        "sources.scan_exec_s": scan,
        "sources.scan_bytes": plan.get("scan_bytes", 0.0),
        "sources.scan_rows": plan.get("scan_rows", 0.0),
        "operators.mapper.exec_s": t_mapped - prev,
        "operators.merge.exec_s": t_merged - t_mapped,
        "operators.merge.rows_in": plan.get("merge_rows_in", 0.0),
        "operators.merge.rows_out": plan.get("merge_rows_out", 0.0),
        # fallback tasks of the ObjectHashAggregates ÷ tasks of the stages running them
        **({"operators.merge.sort_fallback_ratio":
            plan["sort_fallback_tasks"] / stages["oha_tasks"]} if stages["oha_tasks"] else {}),
        "operators.merge.task_skew": stages["merge_task_skew"],
        **({"operators.merge.enrich_exec_s": t_chain[-1] - t_chain[0],
            "operators.merge.broadcast_joins": plan.get("broadcast_joins", 0)}
           if len(t_chain) > 1 else {}),
        "sinks.json_exec_s": t_json - t_merged,
        "streaming.consumer.overhead_ms": (job_s - parse - build - sink_s) * 1000,
        "operators": plan.get("operators", []),
    }


def kernel_layer(bench: Bench, tracer: tr.Tracer, n: int, idx: int) -> dict | None:
    """Layer record of traced kernel pass ``n``: per query its build and
    execution spans; Spark's counters summed over the pass's queries, each
    of which ran under its own job group. None when a query failed (the
    check counts it)."""
    sc = bench.spark.sparkContext
    queries = bench.jobs[idx]["queries"]
    if any(q not in tracer.frames for q in queries):
        return None
    sc.setJobGroup(f"pb-{n}-frames", "frames")
    spans = tracer.job_spans(n)
    job_s = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
    tr.drain(bench.spark)
    layer = {"job": idx, "format": "pass", "job_s": job_s, "scan_rows_each": {},
             "operators": {}}
    totals: dict[str, float] = {}
    for q in queries:
        jobs = set(sc.statusTracker().getJobIdsForGroup(f"pb-{n}-{q}"))
        plan = tr.plan_readout(bench.spark, jobs)
        stages = tr.stage_readout(bench.spark, [f"pb-{n}-{q}"], plan)
        py = tr.python_readout(bench.spark, jobs)
        layer[f"functions.{q}.build_ms"] = tr.span_total(spans, f"functions.{q}.build") * 1000
        layer[f"functions.{q}.exec_s"] = tr.span_total(spans, f"functions.{q}.exec")
        layer["scan_rows_each"][q] = plan.get("scan_rows_each", [])
        layer["operators"][q] = plan.get("operators", [])
        for name, value in {
            **catalyst(tr.planning_phases(tracer.frames[q][0])), **exec_counters(stages),
            "spark_job_wall_s": stages["spark_job_wall_s"],
            "functions.python_nodes": py["python_nodes"],
            "functions.python_eval_ms": py["python_eval_ms"],
            "sources.scan_bytes": plan.get("scan_bytes", 0.0),
            "sources.scan_rows": plan.get("scan_rows", 0.0),
        }.items():
            totals[name] = totals.get(name, 0.0) + value
    layer["exec.driver_gap_s"] = job_s - totals.pop("spark_job_wall_s")
    return {**layer, **totals}


def catalyst(phases: dict) -> dict:
    return {f"catalyst.{k}_ms": v for k, v in phases.items()}


def exec_counters(stages: dict) -> dict:
    return {"exec.spark_jobs": stages["spark_jobs"], "exec.stages": stages["stages"],
            **{f"exec.{k}": stages[k] for k in ("task_s", "gc_s", "shuffle_read_bytes",
                                                "shuffle_write_bytes", "spill_bytes",
                                                "failed_tasks")}}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import pyspark

    import etl_edi_data_scrapper_spark  # noqa: F401  (fail before any work without the engine)

    host = {"nproc": len(os.sched_getaffinity(0)), "cpu_count": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "pyspark": pyspark.__version__, "seed": args.seed,
            "load_avg_1m_start": os.getloadavg()[0], "calib_md5_64mb_s": cpu_calibration()}
    workdir, gen_s = ensure_inputs(args.workload, args.seed)
    with open(os.path.join(workdir, "manifest.json")) as fh:
        manifest = json.load(fh)
    os.chdir(workdir)  # messages and queries name files relative to it; the JVM inherits it
    confine_temp_files()

    bench = Bench(manifest)
    spark = bench.spark
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    host["spark.driver.memory"] = spark.conf.get("spark.driver.memory", None)
    host["jvm_max_heap_mb"] = spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
    host["spark.master"] = spark.sparkContext.master

    steal0 = steal_s()
    if args.trace:
        # twins and frame executions make a traced job several times longer
        bench.min_jobs = manifest["params"]["trace_blocks"] * bench.block
        traced = traced_loop(bench, args.seconds)
        run = traced["run"]
    else:
        run = bench.loop(args.seconds)
    steal1 = steal_s()
    host["steal_s_timed"] = steal1 - steal0 if steal0 is not None else None
    # not bounded: the JVM's heap growth under the default driver heap is
    # bimodal between runs of the same input
    peak_mb = peak_rss_mb(jvm_pid)

    records = run["records"] + (traced["twins"] if args.trace else [])
    t0 = time.perf_counter()
    wrong, keyed = bench.check([r["job"] for r in records])
    check_s = time.perf_counter() - t0

    attempted = len(records)
    failed = sum(1 for r in records if not r["ok"] or r["job"] in wrong)
    lat = [r["seconds"] for r in run["records"] if r["ok"]]
    report = {
        "workload": args.workload, "host": host, "params": manifest["params"],
        "generation_s": gen_s, "session_start_s": bench.session_s,
        "samples": len(lat), "blocks": len(run["records"]) // bench.block,
        "block_s": statistics.median(block_walls(bench, run)),
        "block_s_each": block_walls(bench, run),
        "job_s_p50_by_format": {f: statistics.median(v) for f, v in by_format(bench, run).items()},
        "job_s_p90": percentile(lat, 0.9) if lat else None,
        "job_s_max": max(lat) if lat else None, "job_s": lat,
        "check_s": check_s, "peak_rss_mb": peak_mb,
        "error_rate": failed / attempted, "wrong_jobs": sorted(wrong),
    }
    correct = failed == 0
    if args.trace:
        metrics, sanity = per_layer(bench, traced, keyed, peak_mb)
        report["sanity"] = sanity
        correct = correct and sanity["ok"]
        path = os.path.join(workdir, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"report": report, "layers": traced["layers"],
                       "self_s": traced["self_s"], "spans": traced["spans"]}, fh)
        report["trace_file"] = path
    else:
        metrics = end_to_end(bench, run)
    stop_engine(spark)
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def per_layer(bench: Bench, traced: dict, keyed: dict, peak_mb: float) -> tuple[dict, dict]:
    layers = traced["layers"]

    def median(name):
        # per-format and per-query metrics: over the jobs that have them;
        # a metric no job of the workload has reads 0
        vals = [layer[name] for layer in layers if name in layer]
        return statistics.median(vals) if vals else 0.0

    values = {name: median(name) for name in PER_LAYER}
    values["session.start_s"] = bench.session_s
    values["process.peak_rss_mb"] = peak_mb
    diffs = [r["seconds"] - twin["seconds"]
             for r, twin in zip(traced["run"]["records"], traced["twins"])]
    values["trace.overhead_ms"] = statistics.median(diffs) * 1000
    # The readout is trusted only if the plan's row counts match the inputs.
    bad = [p for p in (bench.sanity_problem(layer, keyed) for layer in layers) if p]
    return (with_units(values, PER_LAYER),
            {"ok": not bad, "checked_jobs": len(layers), "mismatches": bad})


if __name__ == "__main__":
    sys.exit(main())
