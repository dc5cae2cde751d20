"""Tracing from outside the engine.

- ``Tracer`` wraps the public functions of the package's modules in spans
  (name, start, end, parent, op). Spans stay in memory until the run ends.
- ``SparkStatus`` reads Spark's in-process status stores after each op:
  stage metrics from the app status store and SQL metrics from the SQL
  status store. With one client, the stages and SQL executions that appear
  during an op belong to it.
- ``EngineCpu`` and ``RssSampler`` read the CPU time and resident memory of
  the driver process, the JVM and its Python workers from /proc; the sampler runs
  on one light thread. ``jvm_work_cpu`` reads the JVM's CPU time without its
  JIT and GC threads.

Nothing here is imported by the engine; the package is only wrapped.
"""

from __future__ import annotations

import functools
import os
import re
import sys
import threading
import time

from stats import union_length

PKG = "agentic_data_pipeline_spark"

# (layer span name, module, attribute); "Class.method" patches a method.
TRACED = [
    ("session.get_spark", "session", "get_spark"),
    ("catalog.load_table", "catalog", "load_table"),
    ("plans.sql_exec", "plans.dialect", "sql_exec"),
    ("plans.rewrite", "plans.dialect", "duckdb_to_spark_sql"),
    ("sources.ingest", "sources.ingest", "ingest"),
    ("sources.write_bronze", "sources.bronze", "write_bronze"),
    ("sources.read_bronze", "sources.bronze", "read_bronze"),
    ("agent.rule", "agent", "TransformationAgent.apply_business_rule"),
    ("serving.serve_json", "serving", "serve_json"),
    ("serving.serve_csv", "serving", "serve_csv"),
    ("serving.bar_chart", "serving", "bar_chart_data"),
]


class Tracer:
    """In-memory spans around calls into the package's modules."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self._wrapped: dict[str, tuple] = {}  # name -> (original, wrapper)
        self.enabled = True

    def begin(self, name: str) -> int:
        self.spans.append({"name": name, "t0": time.perf_counter(), "t1": None,
                           "parent": self._stack[-1] if self._stack else None,
                           "op": self.op})
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx]["t1"] = time.perf_counter()
        self._stack.pop()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            idx = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(idx)
        return traced

    def install(self) -> None:
        """Wrap every TRACED function wherever the package refers to it
        (modules bind imported names at import time). Call again after more
        package modules are imported; wrapping is idempotent."""
        import importlib

        for name, mod, attr in TRACED:
            owner = importlib.import_module(f"{PKG}.{mod}")
            cls, _, meth = attr.rpartition(".")
            if cls:
                owner = getattr(owner, cls)
            if name not in self._wrapped:
                fn = getattr(owner, meth)
                self._wrapped[name] = (fn, self._wrap(name, fn))
            fn, wrapped = self._wrapped[name]
            if cls:
                setattr(owner, meth, wrapped)
                continue
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG):
                    for k, v in list(vars(m).items()):
                        if v is fn:
                            setattr(m, k, wrapped)

    def layer_totals(self) -> dict[str, dict]:
        """Per span name: calls, total seconds (outermost calls only, so a
        recursive layer is not counted twice) and self seconds."""
        out: dict[str, dict] = {}
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["t1"] is not None:
                child_time[s["parent"]] += s["t1"] - s["t0"]
        for i, s in enumerate(self.spans):
            if s["t1"] is None:
                continue
            d = out.setdefault(s["name"], {"calls": 0, "s": 0.0, "self_s": 0.0})
            d["calls"] += 1
            d["self_s"] += (s["t1"] - s["t0"]) - child_time[i]
            p = s["parent"]
            while p is not None and self.spans[p]["name"] != s["name"]:
                p = self.spans[p]["parent"]
            if p is None:
                d["s"] += s["t1"] - s["t0"]
        return out


_UNIT = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
         "B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
         "TiB": 1024 ** 4}
_NUM = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Value of one formatted SQL metric: '1.8 s', '635.5 KiB', '1,960',
    or the total line of 'total (min, med, max ...)\\n12 ms (...)'."""
    m = _NUM.search(text.strip().split("\n")[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1)


# SQL metrics summed over the Python-boundary nodes of an op's executions
# (MapInArrow, MapInPandas, ArrowEvalPython, FlatMapGroupsInPandas, ...).
PYTHON_NODE = re.compile(r"Python|Arrow|Pandas")
SQL_METRICS = {
    "time to run Python workers": "python_s",
    "data sent to Python workers": "python_bytes",
}


class SparkStatus:
    """Stage and SQL metrics of the work Spark did since the last call."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.last_stage = self._newest_stage()
        self.last_exec = self.sql_store.executionsCount()
        self.last_job = self._newest_job()
        self.cost_s = 0.0  # time spent reading the stores

    def _stages(self):
        jvm = self.sc._jvm
        return self.jsc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())

    def _newest_stage(self) -> int:
        it = self._stages().iterator()
        return it.next().stageId() if it.hasNext() else -1

    def _newest_job(self) -> int:
        it = self.jsc.statusStore().jobsList(
            self.sc._jvm.java.util.ArrayList()).iterator()
        return it.next().jobId() if it.hasNext() else -1

    def collect(self, t0: float, t1: float) -> dict:
        """Metrics for the op that ran in wall-clock [t0, t1] (time.time())."""
        start = time.perf_counter()
        self.jsc.listenerBus().waitUntilEmpty()
        m = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
             "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_read_bytes": 0,
             "shuffle_write_bytes": 0, "spill_bytes": 0, "scan_bytes": 0,
             "python_s": 0.0, "python_bytes": 0.0}
        spans = []
        newest = self.last_stage
        it = self._stages().iterator()
        while it.hasNext():  # newest stage first
            s = it.next()
            sid = s.stageId()
            if sid <= self.last_stage:
                break
            newest = max(newest, sid)
            if s.status().toString() != "COMPLETE":
                continue  # skipped (reused) or failed stages did no work
            m["stages"] += 1
            m["tasks"] += s.numTasks()
            m["executor_run_s"] += s.executorRunTime() / 1e3
            m["executor_cpu_s"] += s.executorCpuTime() / 1e9
            m["gc_s"] += s.jvmGcTime() / 1e3
            m["shuffle_read_bytes"] += s.shuffleReadBytes()
            m["shuffle_write_bytes"] += s.shuffleWriteBytes()
            m["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            m["scan_bytes"] += s.inputBytes()
            if s.submissionTime().isDefined() and s.completionTime().isDefined():
                spans.append((s.submissionTime().get().getTime() / 1e3,
                              s.completionTime().get().getTime() / 1e3))
        self.last_stage = newest
        newest_job = self.last_job
        it = self.jsc.statusStore().jobsList(self.sc._jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            jid = it.next().jobId()
            if jid <= self.last_job:
                break
            newest_job = max(newest_job, jid)
            m["jobs"] += 1
        self.last_job = newest_job
        count = self.sql_store.executionsCount()
        if count > self.last_exec:
            execs = self.sql_store.executionsList(int(self.last_exec), int(count - self.last_exec))
            it = execs.iterator()
            while it.hasNext():
                ex = it.next()
                values = ex.metricValues()
                if values is None:
                    continue
                nodes = self.sql_store.planGraph(ex.executionId()).allNodes().iterator()
                while nodes.hasNext():
                    node = nodes.next()
                    if not PYTHON_NODE.search(node.name()):
                        continue
                    metrics = node.metrics().iterator()
                    while metrics.hasNext():
                        sm = metrics.next()
                        key = SQL_METRICS.get(sm.name())
                        if key is not None:
                            v = values.get(sm.accumulatorId())
                            if v is not None and v.isDefined():
                                m[key] += parse_metric(v.get())
            self.last_exec = count
        m["run_s"] = union_length(spans, t0, t1)
        m["driver_gap_s"] = max((t1 - t0) - m["run_s"], 0.0)
        self.cost_s += time.perf_counter() - start
        return m


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(root: int) -> list[int]:
    """``root`` and every process descended from it."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command field may hold spaces; ppid follows its ')'
                parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


_TICK = os.sysconf("SC_CLK_TCK")


class EngineCpu:
    """CPU seconds (user + system) used by this process, the JVM and the
    JVM's Python workers. Time the hypervisor takes from the VM (steal) is
    not charged to processes, so this stays put when the wall clock
    stretches under a busy host. The tree is read afresh on every call, so
    workers forked since the last call count; a worker that exits counts
    through its parent's reaped-children time."""

    def __init__(self, root: int):
        self.root = root

    def seconds(self) -> float:
        total = sum(os.times()[:2])
        for pid in _children(self.root):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += sum(int(x) for x in fields[11:15]) / _TICK  # utime..cstime
        return total


# The JVM's own runtime threads: JIT compilers, garbage collectors and the
# VM thread that runs their safepoints. Their CPU follows what ran before,
# not the code on the calling threads.
_RUNTIME_THREADS = re.compile(r"C[12] CompilerThre|GC Thread|G1 |VM Thread")


def jvm_work_cpu(pid: int) -> float:
    """CPU seconds of the JVM's threads other than its runtime threads."""
    total = 0.0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if _RUNTIME_THREADS.match(f.read()):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += (int(fields[11]) + int(fields[12])) / _TICK  # utime, stime
    return total


class RssSampler:
    """Peak summed RSS of a process tree (JVM plus Python workers)."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root = root_pid
        self.interval = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in _children(self.root)))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
