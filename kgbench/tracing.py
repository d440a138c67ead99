"""Spans around the benchmark's calls into the program, and the per-layer
numbers read back from a Spark event log.

A span is opened around each call into a layer.  While it is the
innermost open span, every Spark job started from the driver thread
carries the span's job group (``spark.jobGroup.id``), so after the run
the event log says which tasks each span caused.  Nothing here reads
the Spark UI or the network: the log is a local JSON-lines file.

Self time of a span is its duration minus the part covered by its
child spans; the self times of a run's spans add up to the run's wall
time by construction, and what the named layers leave uncovered is the
root span's self time.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from typing import Iterable, Iterator

from rex_spark.io.stages import StageStore

# StageStore.run names used by run_pipeline -> span names
STAGE_SPANS = {
    "docs": "textplane.docs",
    "sentences": "textplane.sentences",
    "triples": "extraction.triples",
    "mentions": "extraction.mentions",
    "surfaces": "canonical.surfaces",
    "entities": "canonical.entities",
    "edges": "canonical.edges",
}

ROOT = "job"
LINEAGE = "stages.lineage"

# SQL metric names of the Python exec nodes (PythonSQLMetrics)
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
# "time to initialize Python workers" is not read: a reused worker stamps
# its start when it finishes its previous task, so for reused workers
# that figure is mostly the time the worker sat idle in the pool
_SQL_NAMES = (PY_SENT, PY_RECEIVED, PY_RUN, PY_START)


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    # counts recorded at the boundary by the code that opened the span
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; tags Spark jobs with the innermost one.

    ``sc`` is a SparkContext, or None to record spans only."""

    def __init__(self, sc=None, prefix: str = "kgb"):
        self.sc = sc
        self.prefix = prefix
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def group(self, span: Span) -> str:
        return f"{self.prefix}-{span.span_id}"

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), name, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                "spark.jobGroup.id", None if s is None else self.group(s)
            )

    def report(self) -> list[dict]:
        """(name, start, end, parent) per span, seconds from the first."""
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "id": s.span_id,
                "name": s.name,
                "parent": s.parent,
                "start": round(s.start - t0, 6),
                "end": round(s.end - t0, 6),
                **s.counts,
            }
            for s in self.spans
        ]


def span(tracer: Tracer | None, name: str):
    """``tracer.span(name)``, or a no-op when tracing is off."""
    return nullcontext() if tracer is None else tracer.span(name)


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the durations of its direct children."""
    out = {s.span_id: s.duration for s in spans}
    for s in spans:
        if s.parent is not None:
            out[s.parent] -= s.duration
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class GroupStats:
    """Task-level totals of every stage run by one job group."""

    cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    bytes_written: int = 0
    records_written: int = 0
    sql: dict = field(default_factory=dict)  # SQL metric name -> summed update
    # stage id -> executor run time (ms) of each task
    task_ms: dict = field(default_factory=dict)

    def add(self, other: "GroupStats") -> None:
        self.cpu_ns += other.cpu_ns
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        self.bytes_written += other.bytes_written
        self.records_written += other.records_written
        for k, v in other.sql.items():
            self.sql[k] = self.sql.get(k, 0) + v
        for sid, durs in other.task_ms.items():
            self.task_ms.setdefault(sid, []).extend(durs)


def parse_event_log(lines: Iterable[str]) -> dict[str, GroupStats]:
    """job group -> GroupStats, from the JSON lines of a Spark event log.

    A stage belongs to the group of the first job that lists it; a
    task to its stage.  Jobs outside any group are dropped."""
    stage_group: dict[int, str] = {}
    stats: dict[str, GroupStats] = {}
    for line in lines:
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            group = (event.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                for sid in event.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(event.get("Stage ID"))
            if group is None:
                continue
            g = stats.setdefault(group, GroupStats())
            m = event.get("Task Metrics") or {}
            g.cpu_ns += m.get("Executor CPU Time", 0)
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            out = m.get("Output Metrics") or {}
            g.bytes_written += out.get("Bytes Written", 0)
            g.records_written += out.get("Records Written", 0)
            g.task_ms.setdefault(event["Stage ID"], []).append(
                m.get("Executor Run Time", 0)
            )
            for acc in (event.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name in _SQL_NAMES:
                    g.sql[name] = g.sql.get(name, 0) + int(acc.get("Update", 0))
    return stats


def stage_skew(task_ms: dict) -> float:
    """max/median task run time of the stage with the most task time
    (1.0 when there is no stage)."""
    if not task_ms:
        return 1.0
    durs = max(task_ms.values(), key=sum)
    return max(durs) / max(statistics.median(durs), 1)


# per-span metrics, in report order
SPAN_METRICS = (
    "wall_s",
    "cpu_s",
    "py_run_s",
    "py_start_s",
    "arrow_out_mb",
    "arrow_in_mb",
    "rows_out",
    "shuffle_write_mb",
    "spill_mb",
    "task_skew",
)


def layer_metrics(tracer: Tracer, stats: dict[str, GroupStats]) -> dict[str, dict]:
    """span name -> SPAN_METRICS values (plus ``written_mb``), summed over
    the span's instances (a name can be opened several times in a run)."""
    selfs = self_times(tracer.spans)
    by_name: dict[str, list[Span]] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)
    out = {}
    for name, spans in by_name.items():
        g = GroupStats()
        for s in spans:
            g.add(stats.get(tracer.group(s), GroupStats()))
        counted = [s.counts["rows"] for s in spans if "rows" in s.counts]
        out[name] = {
            "wall_s": sum(selfs[s.span_id] for s in spans),
            "cpu_s": g.cpu_ns / 1e9,
            "py_run_s": g.sql.get(PY_RUN, 0) / 1e3,
            "py_start_s": g.sql.get(PY_START, 0) / 1e3,
            "arrow_out_mb": g.sql.get(PY_SENT, 0) / 1e6,
            "arrow_in_mb": g.sql.get(PY_RECEIVED, 0) / 1e6,
            "rows_out": sum(counted) if counted else g.records_written,
            "shuffle_write_mb": g.shuffle_write_bytes / 1e6,
            "spill_mb": g.spill_bytes / 1e6,
            "task_skew": stage_skew(g.task_ms),
            "written_mb": g.bytes_written / 1e6,
        }
    return out


# ---------------------------------------------------------------------------
# hooks into the program's public seams
# ---------------------------------------------------------------------------


class TracedStageStore(StageStore):
    """Parquet StageStore whose ``run`` calls (one per pipeline stage)
    and lineage writes each open a span."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer

    def run(self, name, compute, partition_by=None, force=False):
        with self.tracer.span(STAGE_SPANS.get(name, f"stages.{name}")):
            return super().run(name, compute, partition_by=partition_by, force=force)

    def _write_lineage(self, name, df):
        with self.tracer.span(LINEAGE):
            super()._write_lineage(name, df)


@contextmanager
def traced_canonicalization(tracer: Tracer | None) -> Iterator[None]:
    """Open a span around each public sub-call that canonicalize_surfaces
    makes, for the duration of the block (a no-op when tracing is off).

    The sub-calls return lazy DataFrames, so each wrapper persists and
    counts its result inside its span: the work is then done (and
    counted) by the layer that owns it instead of by whichever later
    call first touches it.  This costs one count job per sub-call; it
    is part of the traced run's overhead."""
    if tracer is None:
        yield
        return
    from rex_spark.operators import canonical

    names = ("surface_nodes", "similarity_edges", "connected_components")
    orig = {n: getattr(canonical, n) for n in names}
    held = []

    def keep(span: Span, df):
        df = df.persist()
        span.counts["rows"] = df.count()
        held.append(df)
        return df

    def surface_nodes(mentions):
        with tracer.span("canonical.surface_nodes") as s:
            return keep(s, orig["surface_nodes"](mentions))

    def similarity_edges(spark, nodes):
        with tracer.span("canonical.similarity_edges") as s:
            return keep(s, orig["similarity_edges"](spark, nodes))

    def connected_components(edges, *args, **kwargs):
        with tracer.span("canonical.connected_components") as s:
            comp, iterations = orig["connected_components"](edges, *args, **kwargs)
            return keep(s, comp), iterations

    canonical.surface_nodes = surface_nodes
    canonical.similarity_edges = similarity_edges
    canonical.connected_components = connected_components
    try:
        yield
    finally:
        for n, fn in orig.items():
            setattr(canonical, n, fn)
        for df in held:
            df.unpersist()
