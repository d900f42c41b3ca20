"""Tracing for the benchmark's traced run (``--trace 1``).

Spans are recorded from the benchmark's own files: :func:`install` swaps
the public functions of each library module for timing wrappers, in every
module namespace that holds them (``pipeline`` calls the operators through
names it imported, so patching the defining module alone would miss those
calls). The benchmark opens spans around its own actions with
:meth:`Tracer.span`. Spans stay in memory until the run ends.

Engine-side numbers come from Spark's status stores, read between ops:
the AppStatusStore (jobs, stages, task metrics), the SQLAppStatusStore
(Exchange nodes of each executed plan) and, for DataFrames the benchmark
holds, ``QueryExecution.tracker`` (planning phases).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import sys
import time
from collections import defaultdict
import dataclasses

PACKAGE = "etl_validator_github_spark"

#: Layer (module name, without the package prefix) -> public functions
#: that open a span when called.
WRAPPED: dict[str, tuple[str, ...]] = {
    "plans.session": ("get_spark",),
    "generator": ("generate_bankdata", "generate_bankdata_distributed"),
    "operators.mutate": ("widen_to_strings", "overwrite_column",
                         "overwrite_cells"),
    "sources.io": ("read_bankdata", "read_error_csv", "write_bankdata",
                   "write_single_csv"),
    "operators.validate": ("failing_records", "with_errors",
                           "summarize_rule_violations", "validate_schema"),
    "operators.errors": ("to_error_records", "write_error_csv"),
    "operators.reconcile": ("reconcile_errors",),
    "pipeline": ("validate_file", "run_scenario"),
    "streaming.pipeline": ("stream_validate",),
    "contract": ("load",),
}


@dataclasses.dataclass
class Span:
    name: str  # "<layer>:<function>"
    start: float  # time.time(), so it lines up with Spark's job timestamps
    end: float
    parent: int | None  # index of the enclosing span
    op: int | None  # op id, None outside the timed ops

    @property
    def layer(self) -> str:
        return self.name.split(":", 1)[0]


class Tracer:
    """In-memory span recorder. ``active`` gates recording, so ops can run
    traced and untraced in one process."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.op: int | None = None
        self.py4j_calls = 0
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span around the block while the tracer is active."""
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, layer: str, func):
        @functools.wraps(func)
        def traced(*args, **kwargs):
            with self.span(f"{layer}:{func.__name__}"):
                return func(*args, **kwargs)

        return traced

    def to_json(self) -> list[dict]:
        return [dataclasses.asdict(s) for s in self.spans]


def install(tracer: Tracer) -> None:
    """Replace each public function in :data:`WRAPPED` with a tracing
    wrapper, in its module and in every loaded package module that imported
    it by name."""
    for layer, names in WRAPPED.items():
        mod = importlib.import_module(f"{PACKAGE}.{layer}")
        for name in names:
            original = getattr(mod, name)
            wrapper = tracer.wrap(layer, original)
            for other in list(sys.modules.values()):
                if other is None or not getattr(other, "__name__", "").startswith(PACKAGE):
                    continue
                for attr, value in list(vars(other).items()):
                    if value is original:
                        setattr(other, attr, wrapper)


#: py4j's "release this Java object" command. Python's garbage collector
#: sends it at unpredictable times, so it is left out of the count.
_RELEASE = "m\nd\n"


def count_py4j(tracer: Tracer, spark) -> None:
    """Count py4j round trips the program makes while the tracer is
    active, by wrapping the gateway client's ``send_command``."""
    client = spark.sparkContext._gateway._gateway_client  # noqa: SLF001
    send = client.send_command

    def counting(command, *args, **kwargs):
        if tracer.active and not command.startswith(_RELEASE):
            tracer.py4j_calls += 1
        return send(command, *args, **kwargs)

    client.send_command = counting


def self_times(spans: list[Span], op: int) -> dict[str, float]:
    """Layer -> self seconds within one op: each span's duration minus the
    part of its interval that its child spans cover. ``spans`` is the
    tracer's full list (parents are positions in it)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for pos, s in enumerate(spans):
        if s.op != op:
            continue
        covered = _union_length([(c.start, c.end) for c in children[pos]],
                                s.start, s.end)
        out[s.layer] += (s.end - s.start) - covered
    return dict(out)


def span_totals(spans: list[Span], op: int) -> dict[str, float]:
    """Span name -> summed duration within one op (outermost calls only,
    so a recursive or nested call of the same function is not counted
    twice)."""
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s.op != op:
            continue
        p = s.parent
        while p is not None and spans[p].name != s.name:
            p = spans[p].parent
        if p is None:
            out[s.name] += s.end - s.start
    return dict(out)


def jobs_by_span(spans: list[Span], op: int,
                 submitted: list[float]) -> dict[str, int]:
    """Span name -> Spark jobs submitted while a span of that name was
    open (inclusive of its children), given the jobs' submission times
    (epoch seconds)."""
    mine = [s for s in spans if s.op == op]
    out: dict[str, int] = defaultdict(int)
    for t in submitted:
        for name in {s.name for s in mine if s.start <= t <= s.end}:
            out[name] += 1
    return dict(out)


def _union_length(intervals: list[tuple[float, float]], lo: float,
                  hi: float) -> float:
    total, cur_start, cur_end = 0.0, 0.0, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


class SparkStatus:
    """Per-op deltas from Spark's in-process status stores.

    Job, stage and SQL-execution ids only grow, so each :meth:`delta`
    reads the entries newer than the previous call, newest first, and
    stops at the old frontier. Called between ops only: it waits for the
    listener bus to drain so the op's last stage is recorded."""

    STAGE_METRICS = {
        "exec_cpu_s": lambda s: s.executorCpuTime() / 1e9,
        "exec_run_s": lambda s: s.executorRunTime() / 1e3,
        "gc_s": lambda s: s.jvmGcTime() / 1e3,
        "input_bytes": lambda s: s.inputBytes(),
        "output_bytes": lambda s: s.outputBytes(),
        "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
        "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    }

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm  # noqa: SLF001
        self._sc = sc._jsc.sc()  # noqa: SLF001
        self._jsc = sc._jsc  # noqa: SLF001
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
        self._empty = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)  # noqa: SLF001
        self._job, self._stage, self._exec = -1, -1, -1
        self.delta()

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def delta(self) -> dict:
        """Work since the previous call: counts, task metrics, the jobs'
        submission times, Exchange nodes in the executed SQL plans, and
        the persisted-RDD count now."""
        self._drain()
        out: dict = {"jobs": 0, "stages": 0, "tasks": 0, "exchanges": 0,
                     "job_submit_times": []}
        out.update({k: 0.0 for k in self.STAGE_METRICS})

        jobs = self._store.jobsList(self._empty)
        top = self._job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self._job:
                break
            top = max(top, jid)
            out["jobs"] += 1
            sub = j.submissionTime()
            if sub.isDefined():
                out["job_submit_times"].append(sub.get().getTime() / 1e3)
        self._job = top

        stages = self._store.stageList(self._empty, False, False,
                                       self._no_quantiles, self._empty)
        top = self._stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._stage:
                break
            top = max(top, sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            for k, get in self.STAGE_METRICS.items():
                out[k] += get(s)
        self._stage = top

        count = self._sql.executionsCount()
        execs = self._sql.executionsList(max(0, count - 200), 200)
        top = self._exec
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._exec:
                continue
            top = max(top, eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                name = nodes.apply(n).name()
                if "Exchange" in name and not name.startswith("Reused"):
                    out["exchanges"] += 1
        self._exec = top
        out["persisted_rdds"] = self._jsc.getPersistentRDDs().size()
        return out


def plan_ms(df) -> float:
    """Analysis + optimization + planning milliseconds recorded by the
    QueryExecution of a DataFrame the benchmark holds and has executed."""
    phases = df._jdf.queryExecution().tracker().phases()  # noqa: SLF001
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            total += phases.apply(name).durationMs()
    return total
