"""Outside-in layer trace for the traced benchmark run.

:class:`Tracer` wraps the public functions of each layer module (the
repository's own modules, named in :data:`LAYERS`) and records one span
per call: name, start, end, parent span and op id. Spans stay in memory
until the run ends. Nothing in ``aistore_spark`` is edited; the wrappers
are installed on the module attributes for a traced pass and removed
after it.

:class:`StatusReader` reads Spark's status stores after each op, by the
op's job group: jobs, stages, tasks, executor time, shuffle, spill and
I/O from the AppStatusStore, and the Python-worker metrics of the SQL
plan nodes (``PythonSQLMetrics``) from the SQL status store.

:func:`layer_metrics` turns both into the named per-layer metrics.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pydoc
import re
import sys
import threading
import time
import types
from dataclasses import dataclass, field

#: (layer, module, attribute names or None for every public function
#: and every public method of the module's classes)
LAYERS = (
    ("session", "aistore_spark.session", None),
    ("sources.tables", "aistore_spark.sources.tables", None),
    ("sources.catalog_source", "aistore_spark.sources.catalog_source", None),
    ("sources.io_fixtures", "aistore_spark.sources.io_fixtures", None),
    ("sources.binary", "aistore_spark.sources.binary", None),
    ("sources.downloader", "aistore_spark.sources.downloader", None),
    ("catalog", "aistore_spark.catalog", None),
    ("util.local_frame", "aistore_spark.util", ("local_frame",)),
    ("util.pin", "aistore_spark.util", ("pin",)),
    ("api", "aistore_spark.api", None),
    ("operators.listing", "aistore_spark.operators.listing", None),
    ("operators.summary", "aistore_spark.operators.summary", None),
    ("operators.filters", "aistore_spark.operators.filters", None),
    ("operators.movement", "aistore_spark.operators.movement", None),
    ("operators.maintenance", "aistore_spark.operators.maintenance", None),
    ("operators.placement", "aistore_spark.operators.placement", None),
    ("operators.timejoin", "aistore_spark.operators.timejoin", None),
    ("operators.joins", "aistore_spark.operators.joins", None),
    ("operators.archive", "aistore_spark.operators.archive", None),
    ("operators.dsort", "aistore_spark.operators.dsort", None),
    ("operators.etl", "aistore_spark.operators.etl", None),
    ("operators.multimodal", "aistore_spark.operators.multimodal", None),
    ("operators.dedup", "aistore_spark.operators.dedup", None),
    ("operators.simsearch", "aistore_spark.operators.simsearch", None),
    ("operators.text", "aistore_spark.operators.text", None),
)

BUILD, COLLECT = "op.build", "op.collect"


class _Traced:
    """A traced stand-in for one function or method.

    It keeps the wrapped function's metadata (``__wrapped__`` included,
    so ``inspect.signature`` still sees the real parameters), binds like
    a function when set on a class, and pickles as a reference to the
    original: a UDF closure that captures it ships the untraced function
    to the Python workers.
    """

    def __init__(self, tracer: "Tracer", layer: str, fn, path: str):
        functools.update_wrapper(self, fn)
        self._tracer, self._layer, self._fn, self._path = tracer, layer, fn, path

    def __call__(self, *args, **kwargs):
        span = self._tracer.open(self._layer)
        try:
            return self._fn(*args, **kwargs)
        finally:
            self._tracer.close(span)

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return (pydoc.locate, (self._path,))


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    op: int | None
    fallbacks: int = 0


@dataclass
class Tracer:
    """Span recorder; times are ``time.perf_counter`` seconds."""

    spans: list[Span] = field(default_factory=list)
    #: op id stamped on every span opened while it is set
    op: int | None = None
    _undo: list = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def open(self, name: str) -> int:
        stack = self._stack()
        with self._lock:
            self.spans.append(
                Span(
                    name,
                    time.perf_counter(),
                    None,
                    stack[-1] if stack else None,
                    self.op,
                )
            )
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack().remove(idx)

    def add(self, name: str, start: float, end: float, op: int | None) -> None:
        with self._lock:
            self.spans.append(Span(name, start, end, None, op))

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _note_create_frame(self) -> None:
        stack = self._stack()
        if stack and self.spans[stack[-1]].name == "util.local_frame":
            self.spans[stack[-1]].fallbacks += 1

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def install(self) -> None:
        """Wrap every layer function, wherever a module holds a reference."""
        from pyspark.sql import SparkSession

        wrappers: dict[int, tuple[object, _Traced]] = {}
        for layer, modname, names in LAYERS:
            mod = importlib.import_module(modname)
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or (names is not None and attr not in names):
                    continue
                if inspect.isfunction(obj) and obj.__module__ == modname:
                    traced = _Traced(self, layer, obj, f"{modname}.{attr}")
                    wrappers[id(obj)] = (obj, traced)
                elif (
                    names is None
                    and inspect.isclass(obj)
                    and obj.__module__ == modname
                ):
                    for mattr, m in list(vars(obj).items()):
                        if inspect.isfunction(m) and (
                            mattr == "__init__" or not mattr.startswith("_")
                        ):
                            path = f"{modname}.{attr}.{mattr}"
                            self._set(obj, mattr, _Traced(self, layer, m, path))
        # rebinding by identity also covers `from module import name`
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith("aistore_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = wrappers.get(id(val))
                if hit is not None and hit[0] is val:
                    self._set(mod, attr, hit[1])

        create = SparkSession.createDataFrame

        @functools.wraps(create)
        def counted_create(session, *args, **kwargs):
            self._note_create_frame()
            return create(session, *args, **kwargs)

        self._set(SparkSession, "createDataFrame", counted_create)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)


# ---- status stores ---------------------------------------------------------

_STAGE_FIELDS = {
    "exec.run_s": ("executorRunTime", 1e-3),
    "exec.cpu_s": ("executorCpuTime", 1e-9),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "exec.deser_s": ("executorDeserializeTime", 1e-3),
    "shuffle.write_bytes": ("shuffleWriteBytes", 1),
    "shuffle.read_bytes": ("shuffleReadBytes", 1),
    "shuffle.fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spill.disk_bytes": ("diskBytesSpilled", 1),
    "spill.mem_bytes": ("memoryBytesSpilled", 1),
    "input.bytes": ("inputBytes", 1),
    "input.records": ("inputRecords", 1),
    "output.bytes": ("outputBytes", 1),
}

#: display names of ``PythonSQLMetrics`` (Spark 4.1.2); one node's six
#: metrics are registered in this order, so their accumulator ids are
#: consecutive and the rows counter sits five ids after ``sent``
_PY_METRICS = {
    "data sent to Python workers": "python.sent_bytes",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.total_s",
}
_PY_SENT = "data sent to Python workers"
_PY_ROWS_OFFSET = 5

_UNITS = {
    "": 1.0, "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
    "TiB": 2.0**40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric_value(text: str) -> float:
    """The total of one formatted SQL metric (``'1,234'``, ``'2.5 MiB'``,
    or a ``total (min, med, max ...)`` block whose second line leads
    with the total)."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _metric_text(values: str, acc_id: int) -> str | None:
    m = re.search(
        rf"(?:\(|, ){acc_id} -> (.*?)(?=, \d+ -> |\)$)", values, flags=re.DOTALL
    )
    return m.group(1) if m else None


class StatusReader:
    """Per-op readings from the driver's status stores (UI off is fine)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = self._sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quant = gw.new_array(gw.jvm.double, 0)
        n = self._sql.executionsCount()
        last = self._sql.executionsList(n - 1, 1) if n else None
        self._next_exec = last.apply(0).executionId() + 1 if n else 0

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def op(self, group: str, since_ms: int) -> dict:
        """Jobs (epoch-ms intervals) and summed stage and Python metrics
        of the op that ran under job group *group*."""
        self.drain()
        out = dict.fromkeys(_STAGE_FIELDS, 0.0)
        out.update(dict.fromkeys(_PY_METRICS.values(), 0.0))
        out.update({"python.rows_received": 0.0, "spark.stages": 0, "spark.tasks": 0})
        jobs, seen = [], set()
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else None
                jobs.append((sub.get().getTime(), end))
            ids = jd.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                attempts = self._store.stageData(
                    sid, False, self._no_status, False, self._no_quant
                )
                for a in range(attempts.size()):
                    sd = attempts.apply(a)
                    key = (sid, sd.attemptId())
                    st = sd.submissionTime()
                    if (
                        key in seen
                        or sd.status().toString() == "SKIPPED"
                        or not st.isDefined()
                        or st.get().getTime() < since_ms
                    ):
                        continue
                    seen.add(key)
                    out["spark.stages"] += 1
                    out["spark.tasks"] += sd.numCompleteTasks()
                    for name, (attr, scale) in _STAGE_FIELDS.items():
                        out[name] += getattr(sd, attr)() * scale
        out["jobs"] = jobs
        self._python_metrics(out)
        return out

    def _python_metrics(self, out: dict) -> None:
        while True:
            opt = self._sql.execution(self._next_exec)
            if not opt.isDefined():
                return
            eid = self._next_exec
            self._next_exec += 1
            listed = opt.get().metrics().toString()
            if _PY_SENT not in listed:
                continue
            metrics = set(re.findall(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)", listed))
            names = {int(i): n for n, i, _ in metrics}
            values = self._sql.executionMetrics(eid).toString()
            for acc, name in names.items():
                key = _PY_METRICS.get(name)
                accs = [(key, acc)] if key else []
                rows = acc + _PY_ROWS_OFFSET
                if name == _PY_SENT and names.get(rows) == "number of output rows":
                    accs.append(("python.rows_received", rows))
                for k, a in accs:
                    text = _metric_text(values, a)
                    if text is not None:
                        out[k] += parse_metric_value(text)


# ---- per-layer metrics -----------------------------------------------------


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part its direct children cover."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    return [s.end - s.start - c for s, c in zip(spans, child)]


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


@dataclass
class OpRecord:
    """One traced op: perf_counter times and its status-store reading."""

    op: int
    name: str
    t0: float
    t1: float
    t2: float
    status: dict


def op_phases(rec: OpRecord, spans: list[Span], epoch_offset: float) -> dict:
    """Phase split of one op and the jobs each of its spans submitted.

    A job belongs to the innermost span (latest start) of the op that
    contains its submission time; ``driver_gap.s`` is the op time no
    job covers.
    """
    own = [
        i
        for i, s in enumerate(spans)
        if s.op == rec.op and s.name not in (BUILD, COLLECT)
    ]
    jobs_by_span: dict[int, int] = {}
    out = {"build.jobs": 0, "collect.jobs": 0}
    intervals = []
    for sub_ms, done_ms in rec.status["jobs"]:
        t = min(max(sub_ms / 1000.0 - epoch_offset, rec.t0), rec.t2)
        end = rec.t2
        if done_ms is not None:
            end = min(done_ms / 1000.0 - epoch_offset, rec.t2)
        intervals.append((t, max(t, end)))
        out["build.jobs" if t < rec.t1 else "collect.jobs"] += 1
        inner = [i for i in own if spans[i].start <= t <= spans[i].end]
        if inner:
            i = max(inner, key=lambda j: spans[j].start)
            jobs_by_span[i] = jobs_by_span.get(i, 0) + 1
    out["build.s"] = rec.t1 - rec.t0
    out["collect.s"] = rec.t2 - rec.t1
    out["driver_gap.s"] = (rec.t2 - rec.t0) - _covered(intervals)
    out["span_jobs"] = jobs_by_span
    return out


LAYER_NAMES = tuple(name for name, _, _ in LAYERS)
PHASE_METRICS = ("build.s", "build.jobs", "collect.s", "collect.jobs", "driver_gap.s")
STATUS_METRICS = (
    "spark.jobs", "spark.stages", "spark.tasks",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.deser_s", "cores.busy_ratio",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
    "spill.disk_bytes", "spill.mem_bytes",
    "input.bytes", "input.records", "output.bytes",
    "task.skew_max",
    "python.total_s", "python.boot_s", "python.init_s",
    "python.sent_bytes", "python.rows_received",
    "util.local_frame.fallbacks",
)
#: measured by the benchmark process (``run.PeakMemory``), not the tracer
MEMORY_METRICS = ("mem.peak_mib", "mem.jvm_mib", "mem.python_mib")


def metric_names() -> list[str]:
    """Every per-layer metric a traced run reports, in report order."""
    per_layer = [
        f"{layer}.{k}" for layer in LAYER_NAMES for k in ("calls", "self_s", "jobs")
    ]
    return (
        per_layer + list(PHASE_METRICS) + list(STATUS_METRICS) + list(MEMORY_METRICS)
        + ["trace.overhead_s"]
    )


def metric_units() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric."""
    out = []
    for name in metric_names():
        if name.endswith(("_s", ".s")):
            unit = "s"
        elif name.endswith("_mib"):
            unit = "MiB"
        elif name.endswith(("_bytes", ".bytes")):
            unit = "B"
        elif name in ("cores.busy_ratio", "task.skew_max"):
            unit = "ratio"
        else:
            unit = "count"
        out.append((name, unit, "higher" if name == "cores.busy_ratio" else "lower"))
    return out


def layer_metrics(
    spans: list[Span],
    records: list[OpRecord],
    epoch_offset: float,
    traced_passes: int,
    cores: int,
    skew_max: float,
    overhead_s: float,
) -> dict[str, float]:
    """Per-layer metrics per traced warm pass (``session``: of the set-up)."""
    selfs = self_times(spans)
    out = {name: 0.0 for name in metric_names()}
    span_jobs: dict[int, int] = {}
    latency = 0.0
    for rec in records:
        ph = op_phases(rec, spans, epoch_offset)
        span_jobs.update(ph.pop("span_jobs"))
        for k, v in ph.items():
            out[k] += v
        for k, v in rec.status.items():
            if k == "jobs":
                out["spark.jobs"] += len(v)
            else:
                out[k] += v
        latency += rec.t2 - rec.t0
    for i, s in enumerate(spans):
        if s.name in LAYER_NAMES:
            out[f"{s.name}.calls"] += 1
            out[f"{s.name}.self_s"] += selfs[i]
            out[f"{s.name}.jobs"] += span_jobs.get(i, 0)
            out["util.local_frame.fallbacks"] += s.fallbacks
    for k in out:
        if not k.startswith("session."):
            out[k] /= max(traced_passes, 1)
    if latency:
        out["cores.busy_ratio"] = out["exec.run_s"] * traced_passes / (latency * cores)
    out["task.skew_max"] = skew_max
    out["trace.overhead_s"] = overhead_s
    return out
