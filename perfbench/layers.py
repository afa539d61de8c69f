"""Tracing for the benchmark: in-memory spans around calls into the
program's layers, and a parser for Spark's own JSON event log.

Spans are recorded from outside the program: :class:`Tracer` wraps public
functions and ``DataFrame`` methods for the length of a traced run and
restores them afterwards.  The event log is written by Spark itself when
``spark.eventLog.enabled`` is set in the benchmark's session.  Each
operation runs under ``SparkContext.setJobGroup(<op id>)`` so every job,
stage and task in the log is attributed to exactly one operation; jobs
started on other threads (streaming micro-batches carry their own group)
are attributed by submission time to the operation span that contains
them.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import Counter, defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field

# DataFrame methods that run a Spark action and return data to the driver.
COLLECT_METHODS = ("collect", "toPandas", "take", "head", "first", "toArrow",
                   "tail")
# DataFrame methods that run (or may run) a Spark action without returning
# rows.
ACTION_METHODS = ("count", "localCheckpoint", "checkpoint")
CKPT_METHODS = ("localCheckpoint", "checkpoint")
# Spans that own the actions run inside them: such an action opens no
# child span, so its time stays in the owning layer's self time.
OWNING_PREFIXES = ("compat.", "sinks.")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


def union_length(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals."""
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


def clip(intervals, lo: float, hi: float):
    """The parts of ``intervals`` that fall inside ``[lo, hi]``."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(clip(kids[i], s.start, s.end))
        for i, s in enumerate(spans)
    ]


@dataclass
class Tracer:
    """Records spans and counts in memory; nothing is written until the
    caller asks for :meth:`dump`."""

    clock: Callable[[], float] = time.time
    spans: list[Span] = field(default_factory=list)
    op_counts: dict = field(default_factory=lambda: defaultdict(Counter))
    _stack: list[int] = field(default_factory=list)
    _op: str | None = None
    _owned_action: bool = False
    _patched: list = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        if op is not None:
            self._op = op
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, self.clock(), 0.0, parent, self._op))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = self.clock()
            if op is not None:
                self._op = None

    def count(self, key: str, n: int = 1) -> None:
        if self._op is not None:
            self.op_counts[self._op][key] += n

    def inside(self, name: str) -> bool:
        return any(self.spans[i].name == name for i in self._stack)

    def in_action(self) -> bool:
        return self._owned_action or any(
            self.spans[i].name in ("plan.eager", "driver.action")
            for i in self._stack)

    def in_owning_span(self) -> bool:
        return any(self.spans[i].name.startswith(OWNING_PREFIXES)
                   for i in self._stack)

    # -- wrapping -------------------------------------------------------

    def patch(self, owner, attr: str, wrapper_factory) -> None:
        orig = getattr(owner, attr)
        own = attr in vars(owner)
        setattr(owner, attr, functools.wraps(orig)(wrapper_factory(orig)))
        self._patched.append((owner, attr, orig if own else None))

    def span_call(self, owner, attr: str, name: str) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr`` made inside an operation."""
        def factory(orig):
            def wrapper(*a, **kw):
                if self._op is None:
                    return orig(*a, **kw)
                with self.span(name):
                    return orig(*a, **kw)
            return wrapper
        self.patch(owner, attr, factory)

    def counted_call(self, owner, attr: str, key: str) -> None:
        def factory(orig):
            def wrapper(*a, **kw):
                self.count(key)
                return orig(*a, **kw)
            return wrapper
        self.patch(owner, attr, factory)

    def action(self, owner, attr: str) -> None:
        """Wrap a DataFrame action.  The outermost action inside an
        operation is a span: ``plan.eager`` when it runs while the query
        function is still building its plan, ``driver.action`` otherwise.
        Inside a ``compat.*`` or ``sinks.*`` span it opens no span of its
        own, so that layer keeps the time.  Collects count calls and rows
        (outermost only); checkpoints count every call."""
        collects = attr in COLLECT_METHODS

        def factory(orig):
            def wrapper(*a, **kw):
                if self._op is None:
                    return orig(*a, **kw)
                if attr in CKPT_METHODS:
                    self.count("ckpt.calls")
                if self.in_action():
                    return orig(*a, **kw)
                if self.in_owning_span():
                    self._owned_action = True
                    try:
                        out = orig(*a, **kw)
                    finally:
                        self._owned_action = False
                else:
                    name = ("plan.eager" if self.inside("plan.build")
                            else "driver.action")
                    with self.span(name):
                        out = orig(*a, **kw)
                if collects:
                    self.count("driver.collect_calls")
                    self.count("driver.collect_rows", _rows(out))
                return out
            return wrapper
        self.patch(owner, attr, factory)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self) -> list[dict]:
        st = self_times(self.spans)
        return [
            {"name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "op": s.op, "self_s": st[i]}
            for i, s in enumerate(self.spans)
        ]


def _rows(out) -> int:
    if out is None:
        return 0
    if hasattr(out, "num_rows"):
        return int(out.num_rows)
    if isinstance(out, list):
        return len(out)
    try:
        return len(out)
    except TypeError:
        return 1


def install(tracer: Tracer) -> None:
    """Wrap the program's layer boundaries for a traced run."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql.classic.dataframe import DataFrame

    import smartpy_arc_spark.compat as compat
    import smartpy_arc_spark.sinks.snapshot as snapshot
    import smartpy_arc_spark.sinks.write as write
    import smartpy_arc_spark.streaming.stream as stream

    for m in COLLECT_METHODS + ACTION_METHODS:
        tracer.action(DataFrame, m)
    tracer.counted_call(F, "broadcast", "broadcast.hints")
    tracer.span_call(SparkSession, "createDataFrame", "compat.from_pandas")
    tracer.span_call(compat, "arc_to_pandas", "compat.to_pandas")
    for fn in ("write_table", "copy_feats"):
        tracer.span_call(write, fn, "sinks.write")
    tracer.span_call(snapshot, "write_snapshot", "sinks.write")
    # a streaming drain runs its micro-batches inside the query function
    for fn in ("run_stream_to_memory", "run_stream_until_idle"):
        tracer.span_call(stream, fn, "plan.eager")


# -- event log ---------------------------------------------------------

# Per-task metrics summed into per-op totals, by output name.
_TASK_FIELDS = {
    "exec.run_s": ("Executor Run Time", 1e-3),
    "exec.cpu_s": ("Executor CPU Time", 1e-9),
    "exec.gc_s": ("JVM GC Time", 1e-3),
    "spill.disk_bytes": ("Disk Bytes Spilled", 1),
}


def read_event_log(path: str):
    """Yield the JSON events of one application's (non-rolling) log."""
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def _python_node_rows_ids(plan: dict, out: set) -> None:
    """Accumulator ids of ``number of output rows`` on plan nodes that run
    Python workers (those carrying a ``time to run Python workers``
    metric)."""
    names = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if "time to run Python workers" in names and "number of output rows" in names:
        out.add(names["number of output rows"])
    for c in plan.get("children", []):
        _python_node_rows_ids(c, out)


def parse_event_log(events, op_windows: dict[str, tuple[float, float]]):
    """Per-op Spark metrics from an event log.

    ``op_windows`` maps op id -> (start, end) epoch seconds of the op's
    traced span.  A job belongs to the op named by its job group, or
    else to the op whose window contains its submission time; jobs that
    match neither are counted under ``None``.
    Returns ``(per_op, jobs)`` where ``per_op[op]`` is a Counter of metric
    totals and ``jobs[op]`` lists each job's (submit, end) seconds."""
    per_op: dict = defaultdict(Counter)
    jobs: dict = defaultdict(list)
    job_op, job_submit, stage_op = {}, {}, {}
    py_rows_ids: set = set()
    blocks: dict = {}
    storage_now = 0
    storage_base: dict = {}  # op -> stored bytes when its first job began
    active_jobs: dict = {}

    def op_at(t_ms: float):
        t = t_ms / 1000.0
        for op, (s, e) in op_windows.items():
            if s <= t <= e:
                return op
        return None

    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            op = group if group in op_windows else op_at(ev["Submission Time"])
            jid = ev["Job ID"]
            job_op[jid] = op
            job_submit[jid] = ev["Submission Time"]
            active_jobs[jid] = op
            storage_base.setdefault(op, storage_now)
            for sid in ev.get("Stage IDs", []):
                stage_op[sid] = op
            per_op[op]["spark.jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            op = job_op.get(jid)
            active_jobs.pop(jid, None)
            jobs[op].append((job_submit.get(jid, ev["Completion Time"]) / 1000.0,
                             ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            op = stage_op.get(info["Stage ID"])
            per_op[op]["spark.stages"] += 1
            for acc in info.get("Accumulables", []):
                name, val = acc.get("Name"), acc.get("Value")
                try:
                    val = float(val)
                except (TypeError, ValueError):
                    continue
                if name == "time to run Python workers":
                    per_op[op]["python.run_s"] += val / 1000.0
                elif name == "data sent to Python workers":
                    per_op[op]["python.bytes_sent"] += val
                elif acc.get("ID") in py_rows_ids:
                    per_op[op]["python.rows_received"] += val
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev["Stage ID"])
            c = per_op[op]
            c["spark.tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                c["spark.tasks_failed"] += 1
            m = ev.get("Task Metrics") or {}
            for out, (key, scale) in _TASK_FIELDS.items():
                c[out] += m.get(key, 0) * scale
            inp = m.get("Input Metrics") or {}
            c["scan.bytes_read"] += inp.get("Bytes Read", 0)
            c["scan.rows_read"] += inp.get("Records Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle.read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            c["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            c["sinks.bytes_written"] += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
        elif kind == "SparkListenerBlockUpdated":
            info = ev["Block Updated Info"]
            bid = info["Block ID"]
            size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
            storage_now += size - blocks.get(bid, 0)
            blocks[bid] = size
            for op in set(active_jobs.values()):
                per_op[op]["storage.peak_block_bytes"] = max(
                    per_op[op]["storage.peak_block_bytes"],
                    storage_now - storage_base[op])
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            _python_node_rows_ids(ev.get("sparkPlanInfo") or {}, py_rows_ids)
    return per_op, jobs


def op_layers(spans: list[dict], per_op: dict, jobs: dict) -> dict:
    """Combine spans and event-log totals into one metric table per op.

    Self times of the spans under an op account for its whole traced
    wall: ``trace.unattributed_s`` is the op span's own self time, the
    part no layer span covers."""
    out: dict = {}
    roots = {i: s for i, s in enumerate(spans) if s["parent"] is None
             and s["name"] == "op"}
    for s in spans:
        op = s["op"]
        if op is None:
            continue
        row = out.setdefault(op, Counter())
        if s["name"] == "op":
            row["wall_s"] += s["end"] - s["start"]
            row["trace.unattributed_s"] += s["self_s"]
        else:
            row[s["name"] + "_s"] += s["self_s"]
    for i, root in roots.items():
        op = root["op"]
        busy = union_length(clip(jobs.get(op, []), root["start"], root["end"]))
        out[op]["spark.driver_only_s"] += (root["end"] - root["start"]) - busy
        out[op].update(per_op.get(op, Counter()))
    return out
