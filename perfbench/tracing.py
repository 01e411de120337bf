"""Span tracing for the traced benchmark run.

The tracer wraps, from outside the program, the public functions the
workloads reach (``WRAPS``), the query registry's builders and the py4j
client's ``send_command``. Each wrapped call records a span (name, start,
end, parent, op id) and the py4j round trips made inside it; spans stay in
memory until the run ends. Spark jobs are read afterwards from the status
store and attributed, by submission time, to the innermost span open at
that moment, so per-operation job, stage, task, executor-time, shuffle,
spill and memory figures need no hooks inside the engine.

For lazy operators (functions returning a DataFrame) ``build_s`` is the
call itself; ``exec_s`` forces the returned frame to the noop sink right
after the call. Work the tracer adds (forcing, Catalyst probes, reading
snapshot counters) runs in ``probe:`` spans, whose time and jobs are left
out of the engine totals. A tracer made with ``probes=False`` records only
the spans and the py4j round trips; the tracing-overhead figure is measured
with one.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from workloads import dir_bytes

PKG = "financial_data_pipeline_spark"

# (module, attribute, metric prefix, kind). ``lazy`` wrappers time the call
# as ``build_s`` and force the returned DataFrame in a ``probe:exec:`` span;
# ``eager`` ones time the call as ``s``.
WRAPS = [
    ("sources.sinks", "write_parquet", "sources.sinks.write_parquet", "eager"),
    ("sources.laketable", "LakeTable.commit", "sources.laketable.commit", "eager"),
    ("sources.laketable", "LakeTable.merge", "sources.laketable.merge", "eager"),
    ("sources.laketable", "LakeTable.read", "sources.laketable.read", "eager"),
    ("sources.laketable", "compact", "sources.laketable.compact", "eager"),
    ("sources.rollup", "refresh_rollup", "sources.rollup.refresh_rollup", "eager"),
    ("sources.adapters", "load_table", "sources.adapters.load_table", "eager"),
    ("operators.cleaning", "clean_ohlcv", "operators.cleaning.clean_ohlcv", "lazy"),
    ("operators.resample", "resample_ohlcv", "operators.resample.resample_ohlcv", "lazy"),
    ("operators.indicators", "calculate_all", "operators.indicators.calculate_all", "lazy"),
    ("operators.splitter", "chronological_split", "operators.splitter.chronological_split", "eager"),
    ("plans.pipeline", "run_pipeline_single", "plans.pipeline.run_pipeline_single", "eager"),
    ("plans.report", "validation_report", "plans.report.validation_report", "eager"),
    ("metadata", "compute_metadata", "metadata.compute_metadata", "eager"),
    ("metadata", "MetadataStore.save", "metadata.MetadataStore.save", "eager"),
]

# span-name prefix → layer, for self time per layer (the session layer's
# one call, get_spark, happens in set-up and is reported on its own)
LAYERS = ("sources", "operators", "plans", "metadata")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    run: str = ""
    py4j_calls: int = 0
    py4j_s: float = 0.0
    attrs: dict = field(default_factory=dict)


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _phases(df) -> dict[str, float]:
    """Catalyst phase ms of ``df``'s own plan, forcing its physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


class Tracer:
    """Records spans and py4j round trips; see the module docstring."""

    def __init__(self, run_id: str, probes: bool = True) -> None:
        self.run_id = run_id
        self.probes = probes
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self.catalyst: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._undo: list = []

    # -- spans ------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        sp = Span(name, time.time(), parent=self.stack[-1] if self.stack else None, op=self.op, run=self.run_id, attrs=attrs)
        self.spans.append(sp)
        self.stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self.stack.pop()

    def _count_py4j(self, dt: float) -> None:
        for i in self.stack:
            sp = self.spans[i]
            sp.py4j_calls += 1
            sp.py4j_s += dt

    # -- installation -------------------------------------------------------

    def _patch(self, owner, attr: str, new) -> None:
        old = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        setattr(owner, attr, new)
        self._undo.append((owner, attr, old))

    def install(self, spark) -> None:
        from financial_data_pipeline_spark.plans import driver_queries as dq

        for mod_name, attr, metric, kind in WRAPS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                self._patch(cls, meth, self._wrap(getattr(cls, meth), metric, kind))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, metric, kind)
            # rebind every ``from x import f`` copy inside the package too
            for name, m in list(sys.modules.items()):
                if name == PKG or name.startswith(PKG + "."):
                    if getattr(m, attr, None) is orig:
                        self._patch(m, attr, wrapped)
        for qname, fn in list(dq.QUERIES.items()):
            self._patch_query(dq.QUERIES, qname, fn)
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        @functools.wraps(send)
        def send_command(*a, **kw):
            t = time.perf_counter()
            try:
                return send(*a, **kw)
            finally:
                self._count_py4j(time.perf_counter() - t)

        client.send_command = send_command
        self._undo.append((client, "send_command", None))

    def _patch_query(self, registry: dict, qname: str, fn) -> None:
        def build(*a, **kw):
            with self.span("plans.driver_queries.build", query=qname):
                return fn(*a, **kw)

        registry[qname] = build
        self._undo.append((registry, qname, fn))

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._undo):
            if isinstance(owner, dict):
                owner[attr] = old
            elif old is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, old)
        self._undo.clear()

    def _wrap(self, fn, metric: str, kind: str):
        tracer = self
        sig = inspect.signature(fn)
        counted = self.probes and (metric in _PRE or metric in _POST)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if counted:
                a = sig.bind(*args, **kwargs)
                a.apply_defaults()
                a = a.arguments
                with tracer.span("probe:counters"):
                    before = _PRE[metric](a) if metric in _PRE else None
            with tracer.span(metric) as sp:
                out = fn(*args, **kwargs)
            if counted:
                with tracer.span("probe:counters"):
                    sp.attrs |= _POST[metric](a, out, before)
            if kind == "lazy" and tracer.probes:
                tracer.catalyst_probe(out)
                with tracer.span("probe:exec:" + metric):
                    _force(out)
            return out

        return wrapper

    # -- catalyst phases of a query's own plan ------------------------------

    def add_catalyst(self, phases: dict[str, float]) -> None:
        for k, v in phases.items():
            self.catalyst[self.op][k] += v

    def catalyst_probe(self, df) -> None:
        """Record the Catalyst phases of ``df``'s plan in a ``probe:`` span."""
        with self.span("probe:catalyst"):
            self.add_catalyst(_phases(df))


def _snapshot_files(table, version: int) -> set[str]:
    return {f.path for f in table._load_snapshot(version).files} if version > 0 else set()


def _read_counters(a: dict, out, before) -> dict:
    table = a["self"]
    v = table.head_version() if a["version"] is None else a["version"]
    live = len(_snapshot_files(table, v))
    opened = len(table.pruned_files(v, a["pred_col"], a["lo"], a["hi"]))
    return {"files_live": live, "files_opened_ratio": opened / live if live else 0.0}


def _carried(a: dict, out, before) -> dict:
    files = _snapshot_files(a["target"], out)
    carried = len(files & _snapshot_files(a["target"], before))
    return {"files_carried_ratio": carried / len(files) if files else 0.0}


# Counters derived from lake snapshots and written files: state read before
# the call (by argument name), and attributes computed after it.
_PRE = {
    "sources.laketable.commit": lambda a: a["self"].head_version(),
    "sources.laketable.merge": lambda a: a["self"].head_version(),
    "sources.laketable.compact": lambda a: a["table"].head_version(),
    "sources.rollup.refresh_rollup": lambda a: a["target"].head_version(),
}
_POST = {
    "sources.sinks.write_parquet": lambda a, out, before: {"bytes": dir_bytes(a["path"])},
    "sources.laketable.commit": lambda a, out, before: {"files_added": len(a["self"].added_files(before, out))},
    "sources.laketable.merge": lambda a, out, before: {
        "files_rewritten": len(_snapshot_files(a["self"], before) - _snapshot_files(a["self"], out))
    },
    "sources.laketable.compact": lambda a, out, before: {
        "bytes_rewritten": sum(
            os.path.getsize(p) for p in (a["table"].added_files(before, out) if out != before else [])
        )
    },
    "sources.laketable.read": _read_counters,
    "sources.rollup.refresh_rollup": _carried,
}


# ---------------------------------------------------------------------------
# Spark jobs from the status store
# ---------------------------------------------------------------------------

STAGE_FIELDS = ("executor_run_s", "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "failed_tasks", "tasks")


def harvest_jobs(spark, after_job_id: int) -> list[dict]:
    """Jobs with id > ``after_job_id``: submission time (epoch s), stage
    count and the sums of their stages' task metrics."""
    jsc = spark.sparkContext._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 - private API; a short wait does the same
        time.sleep(0.3)
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        jid = j.jobId()
        if jid <= after_job_id:
            continue
        sub = j.submissionTime()
        rec = {"id": jid, "t": sub.get().getTime() / 1000.0 if sub.isDefined() else None, "stages": 0, "peak_exec_mem_bytes": 0}
        rec |= {k: 0.0 for k in STAGE_FIELDS}
        ids = j.stageIds()
        for k in range(ids.size()):
            try:
                sd = store.lastStageAttempt(ids.apply(k))
            except Exception:  # noqa: BLE001 - stage evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += sd.numTasks()
            rec["failed_tasks"] += sd.numFailedTasks()
            rec["executor_run_s"] += sd.executorRunTime() / 1e3
            rec["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            rec["shuffle_read_bytes"] += sd.shuffleReadBytes()
            rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            rec["peak_exec_mem_bytes"] = max(rec["peak_exec_mem_bytes"], sd.peakExecutionMemory())
        out.append(rec)
    return out


# ---------------------------------------------------------------------------
# Per-operation summary
# ---------------------------------------------------------------------------


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def summarize_op(tracer: Tracer, op: int, jobs: list[dict], cores: int) -> dict[str, float]:
    """Per-layer metrics of one traced operation (see ``perfbench/README.md``)."""
    idx = [i for i, sp in enumerate(tracer.spans) if sp.op == op]
    spans = {i: tracer.spans[i] for i in idx}
    root = next(i for i in idx if spans[i].name == "op")
    children: dict[int, list[int]] = defaultdict(list)
    for i in idx:
        if spans[i].parent is not None:
            children[spans[i].parent].append(i)

    def probed(i: int) -> bool:
        while i is not None:
            if spans[i].name.startswith("probe:"):
                return True
            i = spans[i].parent
        return False

    # jobs submitted during this operation → innermost span open at
    # submission (the status store keeps millisecond timestamps)
    def within(sp: Span, t: float) -> bool:
        return sp.start - 0.002 <= t <= sp.end + 0.002

    by_span: dict[int, list[dict]] = defaultdict(list)
    for j in jobs:
        if j["t"] is None or not within(spans[root], j["t"]):
            continue
        best = root
        for i in idx:
            if within(spans[i], j["t"]) and spans[i].start >= spans[best].start:
                best = i
        by_span[best].append(j)

    def subtree(i: int) -> list[int]:
        out, todo = [], [i]
        while todo:
            k = todo.pop()
            out.append(k)
            todo.extend(children[k])
        return out

    def jobs_in(i: int) -> list[dict]:
        return [j for k in subtree(i) for j in by_span[k]]

    m: dict[str, float] = defaultdict(float)
    ratios: dict[str, list[float]] = defaultdict(list)
    layer_self: dict[str, float] = defaultdict(float)
    probe_s = 0.0
    for i in idx:
        sp = spans[i]
        dur = sp.end - sp.start
        if sp.name.startswith("probe:"):
            if sp.parent is not None and probed(sp.parent):
                continue
            probe_s += dur
            if sp.name.startswith("probe:exec:"):
                m[sp.name[len("probe:exec:"):] + ".exec_s"] += dur
            continue
        self_s = dur - _union([(spans[c].start, spans[c].end) for c in children[i]])
        layer = sp.name.split(".")[0]
        if sp.name == "op":
            layer_self["bench"] += self_s
            continue
        layer_self[layer] += self_s
        key = sp.name
        if key in ("plans.driver_queries.build", "plans.driver_queries.exec"):
            m[key.replace(".build", ".build_s").replace(".exec", ".exec_s")] += dur
            if key.endswith("build"):
                m["plans.driver_queries.py4j_calls"] += sp.py4j_calls
            continue
        lazy = any(w[2] == key and w[3] == "lazy" for w in WRAPS)
        m[key + (".build_s" if lazy else ".s")] += dur
        m[key + ".calls"] += 1
        m[key + ".py4j_calls"] += sp.py4j_calls
        m[key + ".jobs"] += len(jobs_in(i))
        for a, v in sp.attrs.items():
            if a.endswith("ratio"):
                ratios[key + "." + a].append(v)
            elif a == "files_live":
                m["sources.laketable.files_live"] = max(m["sources.laketable.files_live"], v)
            else:
                m[key + "." + a] += v
    for k, vs in ratios.items():
        m[k] = sum(vs) / len(vs)
    b, e = m.get("plans.driver_queries.build_s", 0.0), m.get("plans.driver_queries.exec_s", 0.0)
    if b + e > 0:
        m["plans.driver_queries.build_share"] = b / (b + e)
    rsp = spans[root]
    wall = rsp.end - rsp.start
    m["py4j.calls"] = rsp.py4j_calls
    m["py4j.s"] = rsp.py4j_s
    real = [j for i in idx if not probed(i) for j in by_span[i]]
    m["spark.jobs"] = len(real)
    for f in ("stages", *STAGE_FIELDS):
        m["spark." + f] = sum(j[f] for j in real)
    m["spark.peak_exec_mem_bytes"] = max((j["peak_exec_mem_bytes"] for j in real), default=0)
    busy_wall = max(wall - probe_s, 1e-9)
    m["spark.busy_ratio"] = m["spark.executor_run_s"] / (busy_wall * cores)
    for phase in ("analysis", "optimization", "planning"):
        m[f"spark.catalyst.{phase}_ms"] = tracer.catalyst.get(op, {}).get(phase, 0.0)
    for layer in (*LAYERS, "bench"):
        m[f"layer.{layer}.self_s"] = layer_self.get(layer, 0.0)
    m["trace.wall_s"] = wall
    m["trace.probe_s"] = probe_s
    m["trace.spans"] = len(idx)
    return dict(m)


# ---------------------------------------------------------------------------
# The per-layer metrics a traced run prints: name → (unit, better)
# ---------------------------------------------------------------------------

PER_LAYER: dict[str, tuple[str, str]] = {
    "session.get_spark.s": ("s", "lower"),
    "memory.peak_rss_mb": ("MB", "lower"),
    "sources.sinks.write_parquet.s": ("s", "lower"),
    "sources.sinks.write_parquet.bytes": ("B", "lower"),
    "sources.laketable.commit.s": ("s", "lower"),
    "sources.laketable.commit.jobs": ("count", "lower"),
    "sources.laketable.commit.files_added": ("count", "lower"),
    "sources.laketable.merge.s": ("s", "lower"),
    "sources.laketable.merge.files_rewritten": ("count", "lower"),
    "sources.laketable.compact.s": ("s", "lower"),
    "sources.laketable.compact.bytes_rewritten": ("B", "lower"),
    "sources.laketable.read.s": ("s", "lower"),
    "sources.laketable.read.files_opened_ratio": ("ratio", "lower"),
    "sources.laketable.files_live": ("count", "lower"),
    "sources.rollup.refresh_rollup.s": ("s", "lower"),
    "sources.rollup.refresh_rollup.jobs": ("count", "lower"),
    "sources.rollup.refresh_rollup.files_carried_ratio": ("ratio", "higher"),
    "sources.adapters.load_table.s": ("s", "lower"),
    "sources.adapters.load_table.calls": ("count", "lower"),
    "operators.cleaning.clean_ohlcv.build_s": ("s", "lower"),
    "operators.cleaning.clean_ohlcv.exec_s": ("s", "lower"),
    "operators.resample.resample_ohlcv.build_s": ("s", "lower"),
    "operators.resample.resample_ohlcv.exec_s": ("s", "lower"),
    "operators.indicators.calculate_all.build_s": ("s", "lower"),
    "operators.indicators.calculate_all.exec_s": ("s", "lower"),
    "operators.indicators.calculate_all.py4j_calls": ("count", "lower"),
    "operators.splitter.chronological_split.s": ("s", "lower"),
    "plans.pipeline.run_pipeline_single.s": ("s", "lower"),
    "plans.report.validation_report.s": ("s", "lower"),
    "plans.report.validation_report.jobs": ("count", "lower"),
    "metadata.compute_metadata.s": ("s", "lower"),
    "metadata.MetadataStore.save.s": ("s", "lower"),
    "plans.driver_queries.build_s": ("s", "lower"),
    "plans.driver_queries.exec_s": ("s", "lower"),
    "plans.driver_queries.py4j_calls": ("count", "lower"),
    "plans.driver_queries.build_share": ("ratio", "lower"),
    "py4j.calls": ("count", "lower"),
    "py4j.s": ("s", "lower"),
    "spark.catalyst.analysis_ms": ("ms", "lower"),
    "spark.catalyst.optimization_ms": ("ms", "lower"),
    "spark.catalyst.planning_ms": ("ms", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.busy_ratio": ("ratio", "higher"),
    "spark.shuffle_read_bytes": ("B", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.peak_exec_mem_bytes": ("B", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "layer.sources.self_s": ("s", "lower"),
    "layer.operators.self_s": ("s", "lower"),
    "layer.plans.self_s": ("s", "lower"),
    "layer.metadata.self_s": ("s", "lower"),
    "layer.bench.self_s": ("s", "lower"),
    "trace.op_s": ("s", "lower"),
    "trace.probe_s": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
    "trace.spans": ("count", "lower"),
}
