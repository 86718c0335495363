"""Per-layer attribution from a Spark event log.

The benchmark wraps each call into a layer in a *span* and sets the span
id as the Spark job group, so every job submitted inside a span carries
it. Spark also records the Python line that issued each action as
``callSite.short`` (``collect at .../operators/uniqueness.py:88``).
Inside a coarse span (a whole ``report()``), a job whose call site lies
in a layer's module is attributed to that layer; a job without a call
site (most writes) counts toward the span's own layer.

The log is read from Spark's rolling layout
``eventlog_v2_<app>/events_<n>_<app>`` (uncompressed, one JSON event per
line). Nothing here needs Spark, so the tests run it on a saved log.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

# module path (relative to the package) -> layer name, most specific first
CALLSITE_LAYERS: Tuple[Tuple[str, str], ...] = (
    ("operators/uniqueness.py", "uniqueness"),
    ("operators/referential.py", "referential"),
    ("operators/drift.py", "drift"),
    ("operators/dedup.py", "dedup"),
    ("operators/similarity.py", "similarity"),
    ("sources/catalog.py", "catalog"),
    ("sources/", "sources"),
    ("quality/", "quality"),
    ("compiler/", "compiler"),
    ("contracts/", "contracts"),
    ("checkpoint.py", "checkpoint"),
    ("engine.py", "engine"),
)
PACKAGE = "data_contract_engine_spark/"

_CALLSITE_RE = re.compile(r"^\S+ at (?P<path>.+?):(?P<line>\d+)$")


def callsite_layer(callsite: Optional[str]) -> Optional[str]:
    """Layer owning the module a job's ``callSite.short`` points into, or
    None when the call site is absent or outside the engine package."""
    if not callsite:
        return None
    m = _CALLSITE_RE.match(callsite.strip())
    if not m:
        return None
    path = m.group("path").replace(os.sep, "/")
    i = path.rfind(PACKAGE)
    if i < 0:
        return None
    rel = path[i + len(PACKAGE):]
    for prefix, layer in CALLSITE_LAYERS:
        if rel.startswith(prefix) or rel == prefix:
            return layer
    return None


@dataclass
class Stage:
    stage_id: int
    tasks: List[Tuple[int, int]] = field(default_factory=list)  # (launch, finish) ms
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_records: int = 0
    spill_bytes: int = 0
    records_read: int = 0
    bytes_written: int = 0
    records_written: int = 0

    def task_skew(self) -> float:
        """max/median task duration (1.0 for fewer than two tasks)."""
        durs = [f - s for s, f in self.tasks]
        if len(durs) < 2:
            return 1.0
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 1.0


@dataclass
class Job:
    job_id: int
    group: Optional[str]
    callsite: Optional[str]
    start_ms: int
    end_ms: int = 0
    stage_ids: List[int] = field(default_factory=list)
    stages: List[Stage] = field(default_factory=list)

    def total(self, attr: str) -> int:
        return sum(getattr(s, attr) for s in self.stages)


def find_event_files(log_dir: str) -> List[str]:
    """Event files of every application under ``log_dir``, in write order."""
    files = []
    for app_dir in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = glob.glob(os.path.join(app_dir, "events_*"))

        def seq(p):
            m = re.match(r"events_(\d+)_", os.path.basename(p))
            return int(m.group(1)) if m else 0

        files += sorted(parts, key=seq)
    return files


def read_events(paths: Iterable[str]) -> Iterable[dict]:
    for p in paths:
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def parse_jobs(events: Iterable[dict]) -> List[Job]:
    """Jobs with their stages' task metrics folded in. A stage shared by
    several jobs (a reused shuffle) belongs to the first job listing it."""
    jobs: Dict[int, Job] = {}
    stage_owner: Dict[int, int] = {}
    stages: Dict[int, Stage] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            j = Job(
                job_id=e["Job ID"],
                group=props.get("spark.jobGroup.id"),
                callsite=props.get("callSite.short"),
                start_ms=e["Submission Time"],
                stage_ids=list(e.get("Stage IDs") or []),
            )
            jobs[j.job_id] = j
            for sid in j.stage_ids:
                stage_owner.setdefault(sid, j.job_id)
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            info = e.get("Task Info") or {}
            if not m:
                continue
            s = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
            s.tasks.append((info.get("Launch Time", 0), info.get("Finish Time", 0)))
            s.cpu_ns += m.get("Executor CPU Time", 0)
            s.gc_ms += m.get("JVM GC Time", 0)
            s.spill_bytes += m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            s.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            s.shuffle_read_records += sr.get("Total Records Read", 0)
            inp = m.get("Input Metrics") or {}
            s.records_read += inp.get("Records Read", 0)
            out = m.get("Output Metrics") or {}
            s.bytes_written += out.get("Bytes Written", 0)
            s.records_written += out.get("Records Written", 0)
    for sid, s in stages.items():
        owner = stage_owner.get(sid)
        if owner is not None:
            jobs[owner].stages.append(s)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def union_length(intervals: Iterable[Tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
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


@dataclass
class Span:
    """One timed call into a layer. ``start``/``end`` are epoch seconds;
    ``parent`` is the id of the enclosing span (None at the top)."""

    span_id: str
    layer: str
    start: float
    end: float
    parent: Optional[str] = None
    op: Optional[int] = None
    # a coarse call (the engine's report, a resumable run) whose jobs are
    # split further by call site; other spans keep all their jobs
    refine: bool = False

    @property
    def wall(self) -> float:
        return self.end - self.start


def self_time(span: Span, spans: Sequence[Span]) -> float:
    """Span wall minus the part of it its child spans cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.span_id]
    return span.wall - union_length(kids)


def job_layer(job: Job, spans_by_id: Dict[str, Span]) -> Optional[str]:
    """The job group's span layer; inside a refined span, the call site's
    layer when the call site names one."""
    span = spans_by_id.get(job.group or "")
    if span is None:
        return None
    if span.refine:
        return callsite_layer(job.callsite) or span.layer
    return span.layer


@dataclass
class LayerTotals:
    jobs: int = 0
    wall_s: float = 0.0     # union of the layer's job intervals
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    records_read: int = 0
    bytes_written: int = 0
    records_written: int = 0
    task_skew: float = 1.0  # of the layer's largest shuffle-reading stage


def attribute(
    jobs: Sequence[Job], spans: Sequence[Span], span_ids: Iterable[str]
) -> Dict[str, LayerTotals]:
    """Per-layer totals over the jobs submitted inside ``span_ids``
    (a span and its descendants, typically one timed operation)."""
    by_id = {s.span_id: s for s in spans}
    wanted = set(span_ids)
    per: Dict[str, List[Job]] = {}
    for j in jobs:
        if j.group in wanted:
            layer = job_layer(j, by_id)
            if layer:
                per.setdefault(layer, []).append(j)
    out: Dict[str, LayerTotals] = {}
    for layer, js in per.items():
        t = LayerTotals(jobs=len(js))
        t.wall_s = union_length((j.start_ms, j.end_ms) for j in js) / 1000.0
        t.cpu_s = sum(j.total("cpu_ns") for j in js) / 1e9
        t.gc_s = sum(j.total("gc_ms") for j in js) / 1000.0
        t.shuffle_bytes = sum(j.total("shuffle_write_bytes") for j in js)
        t.spill_bytes = sum(j.total("spill_bytes") for j in js)
        t.records_read = sum(j.total("records_read") for j in js)
        t.bytes_written = sum(j.total("bytes_written") for j in js)
        t.records_written = sum(j.total("records_written") for j in js)
        reduce_stages = [
            s for j in js for s in j.stages
            if s.shuffle_read_records > 0 and len(s.tasks) > 1
        ]
        if reduce_stages:
            big = max(reduce_stages, key=lambda s: sum(f - a for a, f in s.tasks))
            t.task_skew = big.task_skew()
        out[layer] = t
    return out


def descendants(root: str, spans: Sequence[Span]) -> List[str]:
    """``root`` and the ids of every span nested under it."""
    kids: Dict[str, List[str]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.span_id)
    out, todo = [], [root]
    while todo:
        sid = todo.pop()
        out.append(sid)
        todo += kids.get(sid, [])
    return out


def jobs_in(jobs: Sequence[Job], span_ids: Iterable[str]) -> List[Job]:
    wanted = set(span_ids)
    return [j for j in jobs if j.group in wanted]
