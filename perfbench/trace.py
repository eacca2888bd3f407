"""Tracing for the benchmark's traced run, and its memory meter.

Three sources, all read from the benchmark's own process:

- ``Tracer``: spans around calls into the program's public functions
  on the driver, installed by rebinding module attributes for the
  traced pass only and restored afterwards. A span records name,
  start, end, parent span and op id; a layer's self time is its spans'
  time minus the time of their child spans. The tracer also records
  the format and options of every ``DataFrameReader.load``: the
  options the program handed a data source.
- ``SparkCounters``: per-op jobs, stages, tasks and executor times from
  the application status store, and per-node SQL metrics (scan output
  rows, Python worker times, files read) from the SQL status store.
  Both stores work with ``spark.ui.enabled=false``. The SQL store is
  read through ``executionsList``: a DataFrame's own
  ``queryExecution()`` is a fresh plan, not the one that ran.
- ``Memory``: the memory the program holds: its Python processes at
  their peak, and the JVM's heap and non-heap in use after the last op.
"""

from __future__ import annotations

import functools
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None


@dataclass
class Tracer:
    spans: list = field(default_factory=list)
    op: int | None = None
    loads: list = field(default_factory=list)  # (op id, format, options)
    _stack: list = field(default_factory=list)
    _patched: list = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent, op=self.op))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def _patch(self, owner, attr: str, make) -> None:
        """Rebind ``owner.attr`` to ``make(original)`` until ``unwrap``."""
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))
        self._patched.append((owner, attr, orig))

    def wrap(self, module, attr: str, name: str) -> None:
        """Rebind ``module.attr`` to a spanned wrapper until ``unwrap``."""

        def make(orig):
            def spanned(*args, **kwargs):
                with self.span(name):
                    return orig(*args, **kwargs)

            return spanned

        self._patch(module, attr, make)

    def record_loads(self) -> None:
        """Record each ``DataFrameReader.load`` with its format and
        options, keys lower-cased and values as strings, as the data
        source receives them."""
        from pyspark.sql.readwriter import DataFrameReader, to_str

        def state(reader) -> dict:
            return reader.__dict__.setdefault("_traced", {"format": None, "options": {}})

        def make_format(orig):
            def fmt(reader, source):
                state(reader)["format"] = source
                return orig(reader, source)

            return fmt

        def make_option(orig):
            def option(reader, key, value):
                state(reader)["options"][key.lower()] = to_str(value)
                return orig(reader, key, value)

            return option

        def make_options(orig):
            def options(reader, **opts):
                state(reader)["options"].update({k.lower(): to_str(v) for k, v in opts.items()})
                return orig(reader, **opts)

            return options

        def make_load(orig):
            def load(reader, *args, **kwargs):
                df = orig(reader, *args, **kwargs)
                st = state(reader)
                self.loads.append((self.op, st["format"], dict(st["options"])))
                return df

            return load

        for attr, make in (("format", make_format), ("option", make_option),
                           ("options", make_options), ("load", make_load)):
            self._patch(DataFrameReader, attr, make)

    def op_loads(self, op: int, fmt: str) -> list:
        """Options of the op's loads of data source ``fmt``."""
        return [opts for o, f, opts in self.loads if o == op and f == fmt]

    def wrap_everywhere(self, orig, name: str, package: str = "shc_spark") -> None:
        """Wrap every binding of ``orig`` in the package's loaded modules
        (``from x import f`` copies the function into each importer)."""
        import sys

        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self.wrap(mod, attr, name)

    def unwrap(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def op_spans(self, op: int, name: str) -> list:
        return [s for s in self.spans if s.op == op and s.name == name]

    def self_times(self) -> dict:
        """Self seconds per span name: duration minus child durations
        (children of one span run one after another on this thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def to_json(self) -> list:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "op": s.op}
            for s in self.spans
        ]


_UNIT_MS = {"ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}
_UNIT_B = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TOTAL = re.compile(r"([-\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: ``20,000``, ``0 ms``, or
    ``total (min, med, max ...)\\n4.5 s (275 ms, ...)`` -> ms / bytes /
    count."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _TOTAL.match(line.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _UNIT_MS:
        return value * _UNIT_MS[unit]
    return value * _UNIT_B.get(unit, 1)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


# physical operators whose tasks run Python code: UDF and pandas/arrow
# map nodes, and the Python data source scan and write nodes (every
# DataSourceV2 relation in this repository is a Python data source)
PYTHON_OPERATORS = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow", "PythonMapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow",
    "AggregateInPandas", "ArrowAggregatePython", "WindowInPandas", "ArrowWindowPython",
    "BatchScan", "AppendData", "OverwriteByExpression", "OverwritePartitionsDynamic",
)


def _cluster_names(cluster) -> set:
    """Operator names in a stage's RDD operation graph (the root
    cluster, named after the stage id, is left out)."""
    names = set()
    for child in _seq(cluster.childClusters()):
        names |= {child.name()} | _cluster_names(child)
    return names


class SparkCounters:
    """Counters of the Spark jobs and SQL executions an op ran, read
    from the status stores after the listener bus has drained."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = spark.sparkContext._gateway.new_array(
            spark.sparkContext._gateway.jvm.double, 0
        )

    def mark(self) -> tuple:
        self._bus.waitUntilEmpty()
        return (self._store.jobsList(None).size(), self._sql.executionsCount())

    def since(self, mark: tuple) -> dict:
        self._bus.waitUntilEmpty()
        n_jobs, n_exec = mark
        jobs_all = self._store.jobsList(None)  # newest first
        new_jobs = [jobs_all.apply(i) for i in range(jobs_all.size() - n_jobs)]
        c = {
            "jobs": len(new_jobs),
            "stages": 0,
            "tasks": 0,
            "python_tasks": 0,
            "executor_run_ms": 0.0,
            "executor_cpu_ms": 0.0,
            "shuffle_write_bytes": 0,
            "scan_tasks": 0,
            "first_job_submitted": None,
            "operators": set(),
        }
        for j in new_jobs:
            sub = j.submissionTime()
            if sub.isDefined():
                t = sub.get().getTime() / 1e3
                if c["first_job_submitted"] is None or t < c["first_job_submitted"]:
                    c["first_job_submitted"] = t
            for sid in _seq(j.stageIds()):
                for st in _seq(self._store.stageData(sid, False, None, False, self._no_quantiles)):
                    if str(st.status()) == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["executor_run_ms"] += st.executorRunTime()
                    c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    ops = _cluster_names(self._store.operationGraphForStage(sid).rootCluster())
                    c["operators"] |= ops
                    if any(o.startswith(PYTHON_OPERATORS) for o in ops):
                        c["python_tasks"] += st.numTasks()
                    if any(o.startswith("BatchScan shc") for o in ops):
                        c["scan_tasks"] += st.numTasks()
        c["operators"] = sorted(c["operators"])
        c.update(self._sql_metrics(n_exec))
        return c

    def _sql_metrics(self, first_exec: int) -> dict:
        out = {
            "executions": 0,
            "scan_output_rows": 0,
            "python_worker_init_ms": 0.0,
            "python_worker_run_ms": 0.0,
            "files_read": 0,
        }
        count = self._sql.executionsCount() - first_exec
        if count <= 0:
            return out
        for ex in _seq(self._sql.executionsList(first_exec, count)):
            eid = ex.executionId()
            out["executions"] += 1
            values = self._sql.executionMetrics(eid)
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    name = m.name()
                    if node.name() == "BatchScan shc" and name == "number of output rows":
                        out["scan_output_rows"] += int(parse_metric(v.get()))
                    elif name in ("time to start Python workers", "time to initialize Python workers"):
                        out["python_worker_init_ms"] += parse_metric(v.get())
                    elif name == "time to run Python workers":
                        out["python_worker_run_ms"] += parse_metric(v.get())
                    elif name == "number of files read":
                        out["files_read"] += int(parse_metric(v.get()))
        return out


def _children(pid: int) -> list:
    """Child processes of ``pid``, started by any of its threads."""
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(x) for x in fh.read().split()]
        except OSError:
            pass
    return out


def descendants(pid: int) -> list:
    """Every live process below ``pid``."""
    out, todo = [], [pid]
    while todo:
        for child in _children(todo.pop()):
            out.append(child)
            todo.append(child)
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Memory:
    """Memory the program holds, in two parts.

    - Python: this process's growth over its size when the meter was
      made (after the benchmark's imports and generated inputs) plus
      every Python process below the JVM (workers, their daemon, data
      source planners), as proportional set size, so pages forked
      workers share are counted once. ``sample`` is called after every
      set-up step and every op; the part is the peak over those moments.
    - JVM: heap in use after a full collection plus non-heap in use,
      read once by ``finish`` after the last op: what the JVM retains
      (metadata, caches, stored blocks, status stores). The JVM's
      resident size is not used: it follows G1's heap sizing, which
      reacts to measured pause times, and read 2.2-2.8 GB for the same
      work.
    """

    def __init__(self) -> None:
        self._pid = os.getpid()
        self._base_kb = _pss_kb(self._pid)
        self.python_kb = 0
        self.python_processes = 0  # at the Python peak
        self.jvm_kb = 0

    def sample(self) -> None:
        jvm = _children(self._pid)
        python = [p for p in descendants(self._pid) if p not in jvm]
        kb = _pss_kb(self._pid) - self._base_kb + sum(_pss_kb(p) for p in python)
        if kb > self.python_kb:
            self.python_kb, self.python_processes = kb, len(python)

    def finish(self, spark) -> None:
        import gc

        gc.collect()  # drops this process's handles on JVM objects
        mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        # Spark's ContextCleaner releases the blocks of broadcasts and
        # shuffles whose handles a collection freed, on its own thread,
        # which frees more at the next collection: collect until the
        # heap stops shrinking (two or three rounds)
        heap = None
        for _ in range(10):
            mx.gc()
            used = mx.getHeapMemoryUsage().getUsed()
            if heap is not None and heap - used < 1 << 20:
                break
            heap = used
            time.sleep(0.5)
        self.jvm_kb = (used + mx.getNonHeapMemoryUsage().getUsed()) // 1024

    @property
    def mb(self) -> float:
        return (self.python_kb + self.jvm_kb) / 1024.0
