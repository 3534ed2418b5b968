"""Per-layer tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own files, around its calls into
each layer's public functions (the program itself carries no spans). A
span also labels the Spark jobs its thread submits with a job group of
the layer's name. Spark's event log then supplies the task counts, and
each completed stage is attributed to one layer:

1. a stage of the build path that runs a document scan belongs to
   `corpus`, one that runs a `Generate` (the explode of the single-pass
   extraction) to `extract`, and one that reads an extract stage's
   shuffle to `dedup` (a later stage that re-reads the cached result
   reads no shuffle data and is not dedup). These three layers only build lazy plans when
   called; their work runs inside the first action downstream, so their
   stages are picked out by the operators they run;
2. otherwise a stage belongs to the layer named by its job group;
3. a job with no group (the layout writes `materialize_graph` submits
   from its own threads) belongs to the innermost span open when the
   job was submitted.

A layer's self time is the time during which it is the innermost
active interval; time inside an operation that no layer covers is
reported as unattributed.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = "op"
LAYERS = (
    "corpus",
    "extract",
    "dedup",
    "materialize.fingerprint",
    "materialize.write",
    "scan",
    "ntriples.encode",
    "ntriples.decode",
    "bgp.closure",
)
BUILD_LAYERS = frozenset(LAYERS[:5])
GENERIC = (
    "wall_s",
    "self_s",
    "jobs",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "cpu_s",
    "run_s",
    "gc_s",
    "python_s",
)


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    depth: int
    tags: dict = field(default_factory=dict)


class Tracer:
    """Records spans in memory; `sc` (a SparkContext) is optional so the
    arithmetic can be tested without Spark."""

    def __init__(self, sc=None):
        self.spans: list[Span] = []
        self._sc = sc
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **tags):
        stack = self._local.__dict__.setdefault("stack", [])
        prev = None
        if self._sc is not None:
            prev = self._sc.getLocalProperty("spark.jobGroup.id")
            self._sc.setJobGroup(name, name)
        stack.append(name)
        start = time.time()
        try:
            yield tags
        finally:
            end = time.time()
            stack.pop()
            if self._sc is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", prev)
                self._sc.setLocalProperty("spark.job.description", prev)
            with self._lock:
                self.spans.append(Span(name, start, end, len(stack), tags))

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced


@contextmanager
def patched(tracer: Tracer, targets):
    """Replace `module.attr` by a span-recording wrapper for each
    (module, attr, layer) in `targets`; restore on exit."""
    saved = []
    try:
        for module, attr, layer in targets:
            fn = getattr(module, attr)
            saved.append((module, attr, fn))
            setattr(module, attr, tracer.wrap(fn, layer))
        yield
    finally:
        for module, attr, fn in reversed(saved):
            setattr(module, attr, fn)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Stage:
    id: int
    job: int = -1
    group: str | None = None
    submit: float = 0.0  # epoch seconds
    complete: float = 0.0
    scopes: frozenset = frozenset()
    parents: tuple = ()
    tasks: int = 0
    run_ms: list = field(default_factory=list)
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    accums: dict = field(default_factory=dict)  # accumulator id -> sum
    layer: str | None = None
    by_rule: bool = False


@dataclass
class EventLog:
    stages: dict  # stage id -> Stage
    jobs: dict  # job id -> (group, submit s, end s, execution id)
    metric_names: dict  # accumulator id -> (node name, metric name)
    driver_accums: dict  # execution id -> {accumulator id: sum}
    scopes: dict = field(default_factory=dict)  # any stage id -> scope names


def _scopes(stage_info: dict) -> frozenset:
    """Operator scope names of a stage's RDDs (e.g. 'Generate')."""
    names = set()
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            names.add(json.loads(scope).get("name", ""))
    return frozenset(names)


def _walk_plan(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
    for child in info.get("children", []):
        _walk_plan(child, out)


def _num(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def parse_event_log(lines) -> EventLog:
    """Fold Spark's JSON event log (an iterable of lines) into stages,
    jobs and SQL metric names."""
    stages: dict[int, Stage] = {}
    jobs: dict[int, tuple] = {}
    names: dict[int, tuple] = {}
    driver: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    known_scopes: dict[int, frozenset] = {}

    def stage(sid: int) -> Stage:
        if sid not in stages:
            stages[sid] = Stage(sid)
        return stages[sid]

    for line in lines:
        line = line.strip()
        if not line:
            continue
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            # "Stage Infos" also describes the stages the job skips
            # because an earlier job already ran them: a parent link can
            # point at such a copy
            for info in e.get("Stage Infos", []):
                known_scopes[info["Stage ID"]] = _scopes(info)
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            jobs[e["Job ID"]] = [
                props.get("spark.jobGroup.id"),
                e["Submission Time"] / 1000.0,
                None,
                int(exec_id) if exec_id is not None else None,
            ]
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]][2] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            s = stage(info["Stage ID"])
            s.submit = info.get("Submission Time", 0) / 1000.0
            s.complete = info.get("Completion Time", 0) / 1000.0
            s.parents = tuple(info.get("Parent IDs", []))
            s.scopes = _scopes(info)
        elif kind == "SparkListenerTaskEnd":
            s = stage(e["Stage ID"])
            m = e.get("Task Metrics") or {}
            s.tasks += 1
            s.run_ms.append(m.get("Executor Run Time", 0))
            s.cpu_ns += m.get("Executor CPU Time", 0)
            s.gc_ms += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            s.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            s.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            s.spill += m.get("Disk Bytes Spilled", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                aid = acc.get("ID")
                s.accums[aid] = s.accums.get(aid, 0) + _num(acc.get("Update"))
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(e.get("sparkPlanInfo") or {}, names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            acc = driver.setdefault(e["executionId"], {})
            for aid, v in e.get("accumUpdates", []):
                acc[aid] = acc.get(aid, 0) + _num(v)

    for sid, s in stages.items():
        jid = stage_job.get(sid, -1)
        s.job = jid
        if jid in jobs:
            s.group = jobs[jid][0]
    return EventLog(
        stages={k: v for k, v in stages.items() if v.tasks or v.complete},
        jobs={k: tuple(v) for k, v in jobs.items()},
        metric_names=names,
        driver_accums=driver,
        scopes=known_scopes,
    )


def read_event_log(path: str) -> EventLog:
    with open(path) as f:
        return parse_event_log(f)


# ---------------------------------------------------------------------------
# attribution and self time
# ---------------------------------------------------------------------------


def _innermost(spans: list[Span], t: float) -> Span | None:
    best = None
    for sp in spans:
        if sp.start <= t <= sp.end and (
            best is None or (sp.depth, sp.start) > (best.depth, best.start)
        ):
            best = sp
    return best


def attribute(log: EventLog, spans: list[Span]) -> None:
    """Set `layer` on every stage (rules in the module docstring)."""
    known = set(LAYERS) | {ROOT}
    for s in log.stages.values():
        group = s.group if s.group in known else None
        if group is None:
            job = log.jobs.get(s.job)
            t = job[1] if job else s.submit
            sp = _innermost(spans, t)
            group = sp.name if sp is not None else None
        s.layer = group
    for s in log.stages.values():
        if s.layer not in BUILD_LAYERS:
            continue
        if any(sc.startswith("Scan ") for sc in s.scopes):
            s.layer, s.by_rule = "corpus", True
        elif "Generate" in s.scopes:
            s.layer, s.by_rule = "extract", True
        elif s.shuffle_read and any(
            "Generate" in log.scopes.get(p, ()) for p in s.parents
        ):
            s.layer, s.by_rule = "dedup", True


def union_length(intervals) -> float:
    total = 0.0
    cur_s = cur_e = None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(intervals) -> dict[str, float]:
    """`intervals` are (name, start, end, depth). Each instant is charged
    to the deepest interval covering it (the latest-started one among
    equals), so a parent's self time is its duration minus the union
    of its children, however the children overlap each other."""
    cuts = sorted({t for _, a, b, _ in intervals for t in (a, b)})
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        if b <= a:
            continue
        best = None
        for name, s, e, d in intervals:
            if s <= a and e >= b and (best is None or (d, s) > (best[3], best[1])):
                best = (name, s, e, d)
        if best is not None:
            out[best[0]] = out.get(best[0], 0.0) + (b - a)
    return out


def _containing_depth(spans: list[Span], a: float, b: float) -> int:
    d = -1
    for sp in spans:
        if sp.start <= a and sp.end >= b:
            d = max(d, sp.depth)
    return d


def layer_intervals(log: EventLog, spans: list[Span]) -> list[tuple]:
    """Spans plus the rule-attributed stages, as (name, start, end,
    depth) with a rule stage one level below its enclosing span."""
    out = [(sp.name, sp.start, sp.end, sp.depth) for sp in spans]
    for s in log.stages.values():
        if s.by_rule and s.complete >= s.submit > 0:
            out.append(
                (s.layer, s.submit, s.complete,
                 _containing_depth(spans, s.submit, s.complete) + 1)
            )
    return out


def node_metric(log: EventLog, layer: str, node_prefix: str, metric: str) -> int:
    """Sum of one SQL metric over the stages of `layer`, for plan nodes
    whose name starts with `node_prefix`."""
    ids = {
        aid
        for aid, (node, name) in log.metric_names.items()
        if node.startswith(node_prefix) and name == metric
    }
    total = 0
    for s in log.stages.values():
        if s.layer == layer:
            total += sum(v for aid, v in s.accums.items() if aid in ids)
    return total


def driver_metric(log: EventLog, layer: str, node_prefix: str, metric: str) -> int:
    """Sum of a driver-side SQL metric (e.g. files read by a scan) over
    the SQL executions whose jobs ran in `layer`."""
    ids = {
        aid
        for aid, (node, name) in log.metric_names.items()
        if node.startswith(node_prefix) and name == metric
    }
    execs = {
        log.jobs[s.job][3]
        for s in log.stages.values()
        if s.layer == layer and s.job in log.jobs
    }
    total = 0
    for ex in execs:
        for aid, v in log.driver_accums.get(ex, {}).items():
            if aid in ids:
                total += v
    return total


def python_ms(log: EventLog, stage: Stage) -> int:
    ids = {
        aid
        for aid, (_, name) in log.metric_names.items()
        if name == "time to run Python workers"
    }
    return sum(v for aid, v in stage.accums.items() if aid in ids)


def layer_table(log: EventLog, spans: list[Span]) -> dict[str, dict]:
    """{layer: {generic metric: value}} for every layer in LAYERS, plus
    `unattributed_s` (time inside operations no layer covers)."""
    attribute(log, spans)
    ivs = layer_intervals(log, spans)
    selfs = self_times(ivs)
    table: dict[str, dict] = {}
    for layer in LAYERS:
        stages = [s for s in log.stages.values() if s.layer == layer]
        row = dict.fromkeys(GENERIC, 0.0)
        row["wall_s"] = union_length([(a, b) for n, a, b, _ in ivs if n == layer])
        row["self_s"] = selfs.get(layer, 0.0)
        row["jobs"] = len({s.job for s in stages})
        row["tasks"] = sum(s.tasks for s in stages)
        row["shuffle_read_bytes"] = sum(s.shuffle_read for s in stages)
        row["shuffle_write_bytes"] = sum(s.shuffle_write for s in stages)
        row["spill_bytes"] = sum(s.spill for s in stages)
        row["cpu_s"] = sum(s.cpu_ns for s in stages) / 1e9
        row["run_s"] = sum(sum(s.run_ms) for s in stages) / 1e3
        row["gc_s"] = sum(s.gc_ms for s in stages) / 1e3
        row["python_s"] = sum(python_ms(log, s) for s in stages) / 1e3
        table[layer] = row
    table["unattributed_s"] = selfs.get(ROOT, 0.0)
    return table


def write_skew(log: EventLog, layer: str = "materialize.write") -> float:
    """Max over the layer's multi-task stages of max/median task run
    time (1.0 when every stage ran one task)."""
    worst = 1.0
    for s in log.stages.values():
        if s.layer != layer or len(s.run_ms) < 2:
            continue
        med = statistics.median(s.run_ms)
        if med > 0:
            worst = max(worst, max(s.run_ms) / med)
    return worst


def driver_gap(log: EventLog, spans: list[Span], layer: str) -> float:
    """Total time inside `layer`'s spans not covered by any of its jobs."""
    jobs = {
        s.job for s in log.stages.values() if s.layer == layer and s.job in log.jobs
    }
    job_ivs = [
        (log.jobs[j][1], log.jobs[j][2]) for j in jobs if log.jobs[j][2] is not None
    ]
    gap = 0.0
    for sp in spans:
        if sp.name != layer:
            continue
        inside = [(max(a, sp.start), min(b, sp.end)) for a, b in job_ivs]
        inside = [(a, b) for a, b in inside if b > a]
        gap += (sp.end - sp.start) - union_length(inside)
    return gap
