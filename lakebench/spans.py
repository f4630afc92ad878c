"""Spans, layer rebinding and Spark event-log attribution for the traced run.

The benchmark measures each layer from outside: it opens a span around
every call it makes into a layer, and during the traced run it rebinds the
public names the ``pipeline`` and ``streaming.sinks`` entry points call
internally, so their inner calls get spans too.  Nothing in the package is
edited; the original names are restored when the traced pass ends.

Spark work is attributed after the session stops, from its event log: each
job belongs to the innermost span open at the job's submission time.  The
client is one thread making sequential calls, so submission time also
catches jobs Spark starts on the change-feed side pool or on streaming
threads, which job groups would miss (local properties do not follow those
threads).  Files written under the pass's table roots are attributed the
same way, by modification time.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

# span-name prefix -> layer; longest prefix wins
LAYERS = (
    "session",
    "pipeline",
    "sources.readers",
    "sinks.writer",
    "catalog",
    "sinks.merge",
    "streaming",
    "sinks.versioned",
    "sources.versioned_stream",
    "queries",
)

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def layer_of(name: str) -> str | None:
    best = None
    for layer in LAYERS:
        if (name == layer or name.startswith(layer + ".")) and (best is None or len(layer) > len(best)):
            best = layer
    return best


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float  # epoch ms
    end: float | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder.  One stack for the whole process: the
    client makes one call at a time, and a streaming ``foreachBatch``
    callback runs while the client thread waits inside the enclosing
    span, so its spans nest there."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # time spent recording spans
        self._stack: list[Span] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        with self._lock:
            parent = self._stack[-1].id if self._stack else None
            s = Span(len(self.spans), parent, name, time.time() * 1000.0, attrs=dict(attrs))
            self.spans.append(s)
            self._stack.append(s)
            self.overhead_s += time.perf_counter() - t
        try:
            yield s
        finally:
            t = time.perf_counter()
            with self._lock:
                s.end = time.time() * 1000.0
                self._stack.remove(s)
                self.overhead_s += time.perf_counter() - t

    def wrap(self, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if s is not None and on_result is not None:
                    on_result(s, out)
                return out

        return traced


def _reader_result(s: Span, handle) -> None:
    s.attrs["failed"] = handle is None
    s.attrs["rows"] = 0 if handle is None else handle.row_count


def _merge_result(s: Span, result: dict) -> None:
    s.attrs["strategy"] = result.get("strategy")


def rebind_targets(pkg: str) -> list[tuple[object, str, str, object]]:
    """(owner, attribute, span name, result hook) for every internal call
    the traced run wraps."""
    import importlib

    pipeline = importlib.import_module(f"{pkg}.pipeline")
    readers = importlib.import_module(f"{pkg}.sources.readers")
    catalog = importlib.import_module(f"{pkg}.catalog")
    merge = importlib.import_module(f"{pkg}.sinks.merge")
    versioned = importlib.import_module(f"{pkg}.sinks.versioned")
    out = [
        (pipeline, "load_all_sources", "sources.readers.load_all_sources", None),
        (pipeline, "write_tables", "sinks.writer.write_tables", None),
        (pipeline, "verify_tables", "sinks.writer.verify_tables", None),
        (merge.TableMerger, "merge_table", "sinks.merge.merge_table", _merge_result),
        # the streaming versioned sink imports this name when it starts
        (versioned, "versioned_write_txn", "sinks.versioned.versioned_write_txn", None),
    ]
    for fmt in ("json", "csv", "parquet", "text"):
        out.append((readers, f"read_{fmt}", f"sources.readers.read_{fmt}", _reader_result))
    for meth in ("create_database", "drop_database", "list_tables", "table_exists", "table"):
        out.append((catalog.CatalogManager, meth, f"catalog.{meth}", None))
    return out


@contextmanager
def rebind(tracer: Tracer, pkg: str):
    """Wrap the internal entry points in spans for the duration of the
    block, then restore the originals."""
    saved = []
    try:
        for owner, attr, name, hook in rebind_targets(pkg):
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, tracer.wrap(name, orig, hook))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


# ------------------------------------------------------------- event log


@dataclass
class Job:
    id: int
    submit: float
    end: float | None
    stage_ids: list[int]
    tasks: int = 0
    stages: int = 0
    executor_run_ms: int = 0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    py_sent: int = 0
    py_recv: int = 0


@dataclass
class SqlExec:
    """One SQL execution's start time and the files/bytes its write
    command reported (the ``number of written files`` / ``written output``
    SQL metrics)."""

    id: int
    start: float
    files_written: int = 0
    bytes_written: int = 0


WRITE_METRICS = {"number of written files": "files_written", "written output": "bytes_written"}


def _plan_metrics(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        if m.get("name") in WRITE_METRICS:
            out[m["accumulatorId"]] = WRITE_METRICS[m["name"]]
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _event_files(log: Path) -> list[Path]:
    if log.is_file():
        return [log]
    return sorted(
        (p for p in log.rglob("*") if p.is_file() and not p.name.startswith((".", "appstatus"))),
        key=lambda p: (p.parent.name, int(p.name.split("_")[1]) if p.name.startswith("events_") else 0),
    )


def parse_event_log(log: Path) -> tuple[list[Job], list[SqlExec]]:
    """Jobs with the task metrics of the stages they ran, and SQL
    executions with their write metrics.  A stage that several jobs list
    (shuffle reuse) belongs to the latest job submitted at or before the
    stage itself."""
    jobs: dict[int, Job] = {}
    execs: dict[int, SqlExec] = {}
    accum_field: dict[int, str] = {}
    stage_submit: dict[int, float] = {}
    completed: list[int] = []
    stage_sums: dict[int, dict] = defaultdict(lambda: defaultdict(int))
    for f in _event_files(log):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                e = json.loads(line)
                kind = e.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = Job(e["Job ID"], float(e["Submission Time"]), None, list(e["Stage IDs"]))
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end = float(e["Completion Time"])
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    stage_submit[info["Stage ID"]] = float(info.get("Submission Time") or 0)
                elif kind == "SparkListenerStageCompleted":
                    completed.append(e["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stage_sums[e["Stage ID"]], e)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    execs[e["executionId"]] = SqlExec(e["executionId"], float(e["time"]))
                    _plan_metrics(e.get("sparkPlanInfo") or {}, accum_field)
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _plan_metrics(e.get("sparkPlanInfo") or {}, accum_field)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    x = execs.get(e["executionId"])
                    for acc_id, value in e.get("accumUpdates", []):
                        if x is not None and acc_id in accum_field:
                            name = accum_field[acc_id]
                            setattr(x, name, getattr(x, name) + int(value))
    by_time = sorted(jobs.values(), key=lambda j: (j.submit, j.id))
    owner: dict[int, Job] = {}
    for sid, t in stage_submit.items():
        cands = [j for j in by_time if sid in j.stage_ids and j.submit <= t]
        if cands:
            owner[sid] = cands[-1]
    for sid in completed:
        if sid in owner:
            owner[sid].stages += 1
    for sid, sums in stage_sums.items():
        j = owner.get(sid)
        if j is None:
            continue
        for k, v in sums.items():
            setattr(j, k, getattr(j, k) + v)
    return by_time, sorted(execs.values(), key=lambda x: x.start)


def _add_task(acc: dict, e: dict) -> None:
    m = e.get("Task Metrics") or {}
    acc["tasks"] += 1
    acc["executor_run_ms"] += m.get("Executor Run Time", 0)
    acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for a in (e.get("Task Info") or {}).get("Accumulables", []):
        if a.get("Name") == PY_SENT:
            acc["py_sent"] += int(a.get("Update") or 0)
        elif a.get("Name") == PY_RECV:
            acc["py_recv"] += int(a.get("Update") or 0)


# ------------------------------------------------------------ attribution


def innermost(spans: list[Span], t: float) -> Span | None:
    """The open span with the latest start at time ``t`` (spans nest)."""
    best = None
    for s in spans:
        if s.start <= t <= (s.end if s.end is not None else float("inf")):
            if best is None or s.start >= best.start:
                best = s
    return best


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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover (ms)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered = _union([(max(c.start, s.start), min(c.end, s.end)) for c in kids[s.id]
                          if c.end is not None and c.end > s.start and c.start < s.end])
        out[s.id] = (s.end - s.start) - covered
    return out


def subtree(spans: list[Span], root: Span) -> list[Span]:
    ids = {root.id}
    out = [root]
    for s in spans:  # spans are recorded in start order, parents first
        if s.parent in ids and s.id not in ids:
            ids.add(s.id)
            out.append(s)
    return out


@dataclass
class Attribution:
    spans: list[Span]
    jobs: list[Job]
    job_span: dict[int, Span]  # job id -> innermost span
    self_ms: dict[int, float]
    execs: list[tuple[SqlExec, Span]] = field(default_factory=list)

    def jobs_under(self, roots: list[Span]) -> list[Job]:
        ids = set()
        for r in roots:
            ids.update(s.id for s in subtree(self.spans, r))
        return [j for j in self.jobs if j.id in self.job_span and self.job_span[j.id].id in ids]

    def jobs_in_layer(self, layer: str) -> list[Job]:
        return [j for j in self.jobs if j.id in self.job_span and layer_of(self.job_span[j.id].name) == layer]

    def layer_self_s(self, layer: str) -> float:
        return sum(self.self_ms[s.id] for s in self.spans if layer_of(s.name) == layer) / 1000.0


def attribute(spans: list[Span], jobs: list[Job], root: Span, execs: list[SqlExec] = ()) -> Attribution:
    """Restrict to ``root``'s subtree and the jobs and SQL executions
    started inside it; each goes to the innermost span open at its start."""
    inside = subtree(spans, root)
    mine = [j for j in jobs if root.start <= j.submit <= root.end]
    job_span = {}
    for j in mine:
        s = innermost(inside, j.submit)
        if s is not None:
            job_span[j.id] = s
    placed = []
    for x in execs:
        s = innermost(inside, x.start) if root.start <= x.start <= root.end else None
        if s is not None:
            placed.append((x, s))
    return Attribution(inside, mine, job_span, self_times(inside), placed)


def attribute_files(spans: list[Span], files: list[tuple[Path, float, int]]) -> dict[int, list[tuple[Path, int]]]:
    """Span id -> (path, bytes) of the files whose mtime (epoch ms) falls in it."""
    out: dict[int, list[tuple[Path, int]]] = defaultdict(list)
    for p, mtime, size in files:
        s = innermost(spans, mtime)
        if s is not None:
            out[s.id].append((p, size))
    return out


def list_files(roots: list[Path]) -> list[tuple[Path, float, int]]:
    out = []
    for r in roots:
        if not r.exists():
            continue
        for p in r.rglob("*"):
            if p.is_file() and not p.name.endswith(".crc"):
                st = p.stat()
                out.append((p, st.st_mtime_ns / 1e6, st.st_size))
    return out


def is_data_file(p: Path, root: Path) -> bool:
    """A table data file under ``root``: parquet, outside the top-level
    ``_``-named metadata, change-feed and deletion-vector dirs (bucket and
    partition dirs below the data dir may start with ``_``)."""
    rel = p.relative_to(root)
    return (p.suffix == ".parquet" and not p.name.startswith(("_", "."))
            and not (len(rel.parts) > 1 and rel.parts[0].startswith(("_", "."))))


def spark_totals(jobs: list[Job]) -> dict[str, float]:
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(j.stages for j in jobs),
        "spark.tasks": sum(j.tasks for j in jobs),
        "spark.input_bytes": sum(j.input_bytes for j in jobs),
        "spark.shuffle_read_bytes": sum(j.shuffle_read_bytes for j in jobs),
        "spark.shuffle_write_bytes": sum(j.shuffle_write_bytes for j in jobs),
        "spark.spill_bytes": sum(j.spill_bytes for j in jobs),
        "spark.executor_run_s": sum(j.executor_run_ms for j in jobs) / 1000.0,
        "spark.busy_s": _union([(j.submit, j.end) for j in jobs if j.end is not None]) / 1000.0,
        "arrow.bytes_to_python": sum(j.py_sent for j in jobs),
        "arrow.bytes_from_python": sum(j.py_recv for j in jobs),
    }
