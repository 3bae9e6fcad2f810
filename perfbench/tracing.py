"""Traced mode (`--trace 1`): per-layer metrics and spans.

Everything here is installed only in a traced run:
  - wrappers around the public functions of the engine's layers, which
    record a span (name, start, end, parent, op id) per call;
  - a counter of py4j calls from the Python driver into the JVM;
  - a StreamingQueryListener, plus the progress reports of every
    streaming query the engine starts;
  - an uncompressed local Spark event log, parsed when the run ends,
    whose jobs carry the pass and operation as a local property;
  - /proc reads of the driver, JVM and Python-worker processes.
Spans stay in memory and are written to `.perfbench_traces/` at the end.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

import gen
import procfs

PROP = "perfbench.op"

# span name -> the layer metric that sums its time
SNAPSHOT_METHODS = {
    "plan_files": "snapshot.plan_files_s",
    "scan": "snapshot.scan_s", "scan_where": "snapshot.scan_s",
    "scan_runtime_pruned": "snapshot.scan_s", "scan_changes": "snapshot.scan_s",
    "scan_changelog": "snapshot.scan_s",
    "append": "snapshot.append_s", "delete_where": "snapshot.delete_s",
    "merge_upsert": "snapshot.merge_s", "compact": "snapshot.compact_s",
    "expire_snapshots": "snapshot.expire_s",
    "snapshots": "snapshot.meta_s", "files": "snapshot.meta_s",
}
COMMITS = {"append", "delete_where", "merge_upsert", "compact", "expire_snapshots"}

# operations whose whole call goes through one layer
OP_LAYERS = {"pyds_facade_scan": "pyds.scan_s", "sql_version_as_of": "sql_timetravel.s"}

EXEC_ACCUMS = {
    "internal.metrics.executorRunTime": ("exec.run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("exec.cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("exec.gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("exec.shuffle_write_mb", 2**-20),
    "internal.metrics.shuffle.read.remoteBytesRead": ("exec.shuffle_read_mb", 2**-20),
    "internal.metrics.shuffle.read.localBytesRead": ("exec.shuffle_read_mb", 2**-20),
    "internal.metrics.memoryBytesSpilled": ("exec.spill_mb", 2**-20),
    "internal.metrics.diskBytesSpilled": ("exec.spill_mb", 2**-20),
    "internal.metrics.input.bytesRead": ("exec.input_mb", 2**-20),
    "internal.metrics.input.recordsRead": ("exec.input_rows", 1),
    "internal.metrics.resultSize": ("exec.result_mb", 2**-20),
}

_EXCHANGE = re.compile(r"^[\s:+\-|]*(\w*Exchange)\b", re.M)
_SCAN = re.compile(r"^[\s:+\-|]*(\*\(\d+\)\s+)?(\w*Scan\w*)\b", re.M)

# every per-layer metric and its unit; ops add op.<name>.s
METRICS = {
    "session.start_s": "s", "catalog.load_s": "s", "catalog.loads": "count",
    "registry.construct_s": "s", "registry.construct_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.exchanges": "count", "catalyst.scans": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.input_mb": "MB", "exec.input_rows": "count",
    "exec.rows_read_per_row_out": "ratio", "exec.result_mb": "MB",
    "driver.cpu_s": "s", "driver.py4j_calls": "count",
    "jvm.cpu_s": "s", "pyworker.cpu_s": "s",
    "jvm.peak_rss_mb": "MB", "pyworker.peak_rss_mb": "MB",
    "caching.storage_mb": "MB", "caching.persists": "count",
    "snapshot.plan_files_s": "s", "snapshot.files_live": "count",
    "snapshot.files_planned": "count", "snapshot.files_read_ratio": "ratio",
    "snapshot.scan_s": "s", "snapshot.meta_s": "s",
    "snapshot.append_s": "s", "snapshot.delete_s": "s", "snapshot.merge_s": "s",
    "snapshot.compact_s": "s", "snapshot.expire_s": "s", "snapshot.commit_jobs": "count",
    "snapshot.data_files": "count", "snapshot.delete_files": "count",
    "snapshot.metadata_kb": "KB", "snapshot.write_amp": "ratio",
    "snapshot.manifest_memo_entries": "count",
    "pyds.scan_s": "s", "sql_timetravel.s": "s",
    "stream.queries": "count", "stream.batches": "count", "stream.batch_p50_ms": "ms",
    "stream.addbatch_ms": "ms", "stream.walcommit_ms": "ms", "stream.planning_ms": "ms",
    "stream.input_rows": "count", "stream.memory_tables": "count",
    "tmp.leftover_mb": "MB", "tmp.leftover_dirs": "count",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.overhead": "ratio",
}


class Tracer:
    def __init__(self, scratch: str, tmp: str):
        self.tmp = tmp
        self.eventlog = os.path.join(scratch, "eventlog")
        os.makedirs(self.eventlog)
        self.active = False
        self.pass_i = -1
        self.op_name = ""
        self.spans: list[tuple] = []  # (id, name, start, end, parent, pass, op)
        self._stack: list[int] = []
        self.py4j_calls = 0
        self.queries: list = []  # StreamingQuery objects started by the engine
        self.started_queries = 0
        self.per_pass: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.op_lat: dict[str, list[float]] = defaultdict(list)
        self.op_kind: dict[str, str] = {}
        self.table_location = ""
        self.untraced_pass_s: dict[int, float] = {}  # by pass
        self._file_sizes: dict[str, int] = {}
        self.session_s = 0.0

    # -- set-up ------------------------------------------------------------

    def spark_conf(self) -> dict:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.eventlog,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(None)
        self._stack.append(sid)
        t0 = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid] = (sid, name, t0, time.time(), parent, self.pass_i, self.op_name)

    def _wrap(self, owner, attr: str, name: str, after=None) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if not self.active:
                return orig(*a, **kw)
            with self.span(name):
                out = orig(*a, **kw)
            if after is not None:
                after(orig, a, kw, out)
            return out

        setattr(owner, attr, wrapper)
        # modules that imported the function by name hold their own reference
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("hiveberg_spark"):
                for k, v in list(vars(mod).items()):
                    if v is orig:
                        setattr(mod, k, wrapper)

    def wrap_engine(self) -> None:
        from hiveberg_spark import caching, catalog, session
        from hiveberg_spark.sources import snapshot_table, sql_timetravel
        from hiveberg_spark.streaming import events

        self._wrap(session, "get_spark", "session.get_spark")
        self._wrap(catalog, "load_table", "catalog.load_table")
        self._wrap(sql_timetravel, "sql_with_time_travel", "sql_timetravel.sql_with_time_travel")
        self._wrap(events, "run_to_memory", "stream.run_to_memory")
        self._wrap(caching, "persist_tracked", "caching.persist_tracked")
        cls = snapshot_table.SnapshotTable
        for m in SNAPSHOT_METHODS:
            self._wrap(cls, m, f"snapshot.{m}",
                       after=self._after_plan_files if m == "plan_files" else None)
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        orig_start = DataStreamWriter.start

        def start(writer, *a, **kw):
            q = orig_start(writer, *a, **kw)
            if self.active:
                self.queries.append((self.pass_i, q))
            return q

        DataStreamWriter.start = start

    def _after_plan_files(self, orig, a, kw, files) -> None:
        table = a[0]
        sid = kw.get("snapshot_id", a[2] if len(a) > 2 else None)
        live = orig(table, None, snapshot_id=sid)  # outside the span: not timed
        p = self.per_pass[self.pass_i]
        p["snapshot.files_planned"] += len(files)
        p["snapshot.files_live"] += len(live)

    def attach(self, spark, session_s: float) -> None:
        """Start the counters that need a live session."""
        import py4j.java_gateway as jg
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.session_s = session_s
        orig_send = jg.GatewayClient.send_command

        def send_command(client, *a, **kw):
            if self.active:
                self.py4j_calls += 1
            return orig_send(client, *a, **kw)

        jg.GatewayClient.send_command = send_command
        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                if tracer.active:
                    tracer.started_queries += 1

            def onQueryProgress(self, event):
                pass  # progress is read from each query's own reports

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    # -- per pass and per operation ------------------------------------------

    def begin_pass(self, i: int, table_location: str) -> None:
        self.pass_i = i
        self.table_location = table_location
        self._file_sizes = {}
        self.spark.sparkContext.setLocalProperty(PROP, f"{i}|" if self.active else None)
        self._calls0 = self.py4j_calls
        self._started0 = self.started_queries

    @contextmanager
    def op(self, op, i: int):
        if not self.active:
            yield
            return
        self.op_name = op.name
        self.op_kind[op.name] = op.kind
        proc0 = procfs.snapshot()
        try:
            with self.span(f"op.{op.name}"):
                yield
        finally:
            proc = procfs.snapshot()
            for k in ("driver", "jvm", "pyworker"):
                self.per_pass[i][f"{k}.cpu_s"] += proc[k]["cpu_s"] - proc0[k]["cpu_s"]
            self.spark.sparkContext.setLocalProperty(PROP, f"{i}|")
            self.op_name = ""

    @contextmanager
    def paused(self):
        """Nothing is recorded inside: checks and the tracer's own reads."""
        was, self.active = self.active, False
        try:
            yield
        finally:
            self.active = was

    @contextmanager
    def phase(self, name: str):
        """`construct` (the call into the engine) or `action` (toArrow)."""
        if not self.active:
            yield
            return
        self.spark.sparkContext.setLocalProperty(PROP, f"{self.pass_i}|{self.op_name}|{name}")
        with self.span(f"op.{name}"):
            yield

    def after_op(self, op, i, df, result, construct_s, action_s) -> None:
        if not self.active:
            return
        with self.paused():
            self._after_op(op, i, df, result, construct_s, action_s)

    def _after_op(self, op, i, df, result, construct_s, action_s) -> None:
        p = self.per_pass[i]
        self.op_lat[op.name].append(construct_s + action_s)
        if op.name in OP_LAYERS:
            p[OP_LAYERS[op.name]] += construct_s + action_s
        if op.kind != "commit":
            p["registry.construct_s"] += construct_s
        if hasattr(result, "num_rows"):
            p["rows_out"] += result.num_rows
        # the engine releases an operation's tracked caches when the next
        # registry query starts, so storage is read after every operation
        storage = sum(info.memSize() + info.diskSize()
                      for info in self.spark.sparkContext._jsc.sc().getRDDStorageInfo())
        p["caching.storage_mb"] = max(p["caching.storage_mb"], storage / 2**20)
        if df is not None:
            try:
                qe = df._jdf.queryExecution()
                phases = qe.tracker().phases()
                for name in ("analysis", "optimization", "planning"):
                    o = phases.get(name)
                    if o.isDefined():
                        p[f"catalyst.{name}_ms"] += o.get().durationMs()
                plan = qe.executedPlan().toString().split("== Initial Plan ==")[0]
                p["catalyst.exchanges"] += len(_EXCHANGE.findall(plan))
                p["catalyst.scans"] += len(_SCAN.findall(plan))
            except Exception as e:  # a plan that cannot be read is reported, not fatal
                print(f"[perfbench] catalyst read failed for {op.name}: {e}", file=sys.stderr)
        if op.kind == "commit":
            self._note_written(i)

    def _note_written(self, i: int) -> None:
        """Bytes of files that appeared in the workload's table since the
        last commit (the numerator of write amplification)."""
        loc = self.table_location
        for root, _d, files in os.walk(loc):
            for f in files:
                path = os.path.join(root, f)
                if path not in self._file_sizes:
                    try:
                        self._file_sizes[path] = os.path.getsize(path)
                    except FileNotFoundError:
                        continue
                    self.per_pass[i]["written_bytes"] += self._file_sizes[path]

    def end_pass(self, i: int, wall: float, workload) -> None:
        from hiveberg_spark.sources import snapshot_table

        if not self.active:
            self.untraced_pass_s[i] = wall
            return
        p = self.per_pass[i]
        p["pass_s"] = wall
        p["driver.py4j_calls"] = self.py4j_calls - self._calls0
        p["stream.queries"] = self.started_queries - self._started0
        p["snapshot.manifest_memo_entries"] = len(snapshot_table._MANIFEST_CACHE)
        # sink tables of this run's stream queries still registered
        names = {q.name for _i, q in self.queries if q.name}
        p["stream.memory_tables"] = sum(self.spark.catalog.tableExists(n) for n in names)
        loc = self.table_location
        if not os.path.isfile(os.path.join(loc, "metadata.json")):
            return
        data = glob.glob(os.path.join(loc, "data", "**", "*.*"), recursive=True)
        deletes = glob.glob(os.path.join(loc, "deletes", "**", "*.*"), recursive=True)
        p["snapshot.data_files"] = len([f for f in data if not f.endswith(".crc")])
        p["snapshot.delete_files"] = len([f for f in deletes if not f.endswith(".crc")])
        p["snapshot.metadata_kb"] = (gen.dir_bytes(os.path.join(loc, "metadata"))
                                     + os.path.getsize(os.path.join(loc, "metadata.json"))) / 1024
        user = workload.user_bytes()
        p["snapshot.write_amp"] = p.pop("written_bytes", 0.0) / user if user else 0.0
        batches = []
        for pi, q in self.queries:
            if pi != i:
                continue
            for prog in q.recentProgress:
                d = prog.durationMs if hasattr(prog, "durationMs") else prog["durationMs"]
                rows = prog.numInputRows if hasattr(prog, "numInputRows") else prog["numInputRows"]
                batches.append(d.get("triggerExecution", 0))
                p["stream.addbatch_ms"] += d.get("addBatch", 0)
                p["stream.walcommit_ms"] += d.get("walCommit", 0)
                p["stream.planning_ms"] += d.get("queryPlanning", 0)
                p["stream.input_rows"] += rows
        p["stream.batches"] = len(batches)
        p["stream.batch_p50_ms"] = statistics.median(batches) if batches else 0.0

    # -- end of run ------------------------------------------------------------

    def before_stop(self, spark) -> None:
        self.active = False
        self.leftover_mb = gen.dir_bytes(self.tmp) / 2**20
        self.leftover_dirs = len(os.listdir(self.tmp))
        self.proc_end = procfs.snapshot()

    def _eventlog(self) -> None:
        """Per-pass job, stage and task counts and executor metrics."""
        files = glob.glob(os.path.join(self.eventlog, "*"))
        jobs = {}  # job id -> (pass, op, phase, submit ms)
        stage_job = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    if '"Event":"SparkListenerJobStart"' in line:
                        e = json.loads(line)
                        tag = (e.get("Properties") or {}).get(PROP) or ""
                        parts = tag.split("|")
                        if len(parts) < 2 or not parts[0]:
                            continue
                        jobs[e["Job ID"]] = (int(parts[0]), parts[1],
                                             parts[2] if len(parts) > 2 else "",
                                             e["Submission Time"])
                        for s in e["Stage IDs"]:
                            stage_job[s] = e["Job ID"]
                    elif '"Event":"SparkListenerStageCompleted"' in line:
                        e = json.loads(line)
                        info = e["Stage Info"]
                        job = jobs.get(stage_job.get(info["Stage ID"]))
                        if job is None:
                            continue
                        p = self.per_pass[job[0]]
                        p["exec.stages"] += 1
                        p["exec.tasks"] += info["Number of Tasks"]
                        for acc in info.get("Accumulables", []):
                            m = EXEC_ACCUMS.get(acc.get("Name"))
                            if m is not None:
                                p[m[0]] += float(acc.get("Value") or 0) * m[1]
        commit_spans = [s for s in self.spans if s and s[1].split(".")[-1] in COMMITS
                        and s[1].startswith("snapshot.")]
        for pass_i, op, phase, ms in jobs.values():
            p = self.per_pass[pass_i]
            p["exec.jobs"] += 1
            if phase == "construct" and self.op_kind.get(op) != "commit":
                p["registry.construct_jobs"] += 1
            t = ms / 1000.0
            if any(s[2] <= t <= s[3] for s in commit_spans if s[5] == pass_i):
                p["snapshot.commit_jobs"] += 1

    def _span_sums(self) -> None:
        by_id = {s[0]: s for s in self.spans if s}
        for s in by_id.values():
            _sid, name, t0, t1, parent, pass_i, _op = s
            metric = None
            if name.startswith("snapshot."):
                metric = SNAPSHOT_METHODS.get(name.split(".", 1)[1])
            elif name == "catalog.load_table":
                metric = "catalog.load_s"
                self.per_pass[pass_i]["catalog.loads"] += 1
            elif name == "caching.persist_tracked":
                self.per_pass[pass_i]["caching.persists"] += 1
            if metric is None:
                continue
            # a call nested in a call of the same metric is already counted
            a = by_id.get(parent)
            nested = False
            while a is not None:
                if a[1].startswith("snapshot.") and SNAPSHOT_METHODS.get(a[1].split(".", 1)[1]) == metric:
                    nested = True
                    break
                a = by_id.get(a[4])
            if not nested:
                self.per_pass[pass_i][metric] += t1 - t0

    def metrics(self) -> dict:
        from workloads import WORKLOADS

        self._eventlog()
        self._span_sums()
        traced = sorted(i for i, p in self.per_pass.items() if "pass_s" in p)
        out = {}
        for name, unit in METRICS.items():
            vals = [self.per_pass[i].get(name, 0.0) for i in traced]
            out[name] = (statistics.median(vals) if vals else 0.0, unit)
        rows = [self.per_pass[i].get("rows_out", 0) for i in traced]
        inp = [self.per_pass[i].get("exec.input_rows", 0) for i in traced]
        out["exec.rows_read_per_row_out"] = (
            statistics.median(a / b if b else 0.0 for a, b in zip(inp, rows)), "ratio")
        files = [(self.per_pass[i].get("snapshot.files_planned", 0),
                  self.per_pass[i].get("snapshot.files_live", 0)) for i in traced]
        out["snapshot.files_read_ratio"] = (
            statistics.median(a / b if b else 0.0 for a, b in files), "ratio")
        out["session.start_s"] = (self.session_s, "s")
        out["jvm.peak_rss_mb"] = (self.proc_end["jvm"]["peak_rss_mb"], "MB")
        out["pyworker.peak_rss_mb"] = (self.proc_end["pyworker"]["peak_rss_mb"], "MB")
        out["tmp.leftover_mb"] = (self.leftover_mb, "MB")
        out["tmp.leftover_dirs"] = (self.leftover_dirs, "count")
        # every traced pass is compared with the mean of the untraced
        # passes on either side of it
        u = self.untraced_pass_s
        out["trace.pass_s"] = (statistics.median(self.per_pass[i]["pass_s"] for i in traced), "s")
        out["trace.untraced_pass_s"] = (
            statistics.median(u[j] for i in traced for j in (i - 1, i + 1)), "s")
        out["trace.overhead"] = (statistics.median(
            self.per_pass[i]["pass_s"] / ((u[i - 1] + u[i + 1]) / 2) - 1.0 for i in traced), "ratio")
        for name in sorted({n for w in WORKLOADS.values() for n in w.OPS}):
            vals = self.op_lat.get(name, [])
            out[f"op.{name}.s"] = (statistics.median(vals) if vals else 0.0, "s")
        return out

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keys = ("id", "name", "start", "end", "parent", "pass", "op")
        with open(path, "w") as f:
            for s in self.spans:
                if s:
                    f.write(json.dumps(dict(zip(keys, s))) + "\n")
