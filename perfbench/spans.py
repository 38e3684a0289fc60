"""Span recorder and layer wrappers for the traced run.

Spans are recorded from outside the program: `install_audit_layers` and
`install_catalog_layers` replace the public functions of each layer module
(and every alias the package imported by name) with a wrapper that opens a
span around the call. Each span has a name, start, end, parent span and
trace id (one per audit or catalog query). Spans stay in memory until the
run ends, when `dump` writes them.

Self time of a span is its duration minus the part of that interval its
child spans cover. Children of one span run on the span's own thread, one
after another, so that part is the sum of their durations.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path

PACKAGE = "seo_audit_etl_actor_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    trace: str = ""
    attrs: dict = field(default_factory=dict)
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Recorder:
    """In-memory span store; one open-span stack per thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
            self._local.trace = ""
        return self._local.stack

    def set_trace(self, trace_id: str) -> None:
        self._stack()
        self._local.trace = trace_id

    def begin(self, name: str) -> int:
        stack = self._stack()
        span = Span(name, time.perf_counter(), parent=stack[-1] if stack else None, trace=self._local.trace)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        stack.append(idx)
        return idx

    def end(self, idx: int, **attrs) -> None:
        span = self.spans[idx]
        span.end = time.perf_counter()
        span.attrs.update(attrs)
        stack = self._stack()
        stack.pop()
        if span.parent is not None:
            self.spans[span.parent].child_s += span.dur

    @contextmanager
    def span(self, name: str):
        idx = self.begin(name)
        try:
            yield
        finally:
            self.end(idx)

    # ------------------------------------------------------------ wrapping
    def wrap(self, module, attr: str, name: str, measure=None) -> None:
        """Replace `module.attr` and every by-name import of it inside the
        package with a span-recording wrapper. `measure(args, result)`
        returns extra span attributes (rows, bytes, ...)."""
        orig = getattr(module, attr, None)
        if orig is None or not callable(orig):
            return
        rec = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            idx = rec.begin(name)
            attrs = {}
            try:
                result = orig(*args, **kwargs)
                if measure is not None:
                    attrs = measure(args, result)
                return result
            finally:
                rec.end(idx, **attrs)

        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapper)
                    self._restore.append((mod, key, orig))

    def wrap_public(self, module, prefix: str) -> None:
        """Wrap every public function defined in `module` under one layer."""
        for attr, val in list(vars(module).items()):
            if attr.startswith("_") or not inspect.isfunction(val) or val.__module__ != module.__name__:
                continue
            self.wrap(module, attr, prefix)

    def uninstall(self) -> None:
        for mod, key, orig in reversed(self._restore):
            setattr(mod, key, orig)
        self._restore.clear()

    # ------------------------------------------------------------- results
    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for i, s in enumerate(self.spans):
                rec = {"id": i, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "trace": s.trace}
                if s.attrs:
                    rec["attrs"] = s.attrs
                f.write(json.dumps(rec) + "\n")

    def select(self, trace_prefix: str = "") -> list[int]:
        """Indices of the spans whose trace id starts with `trace_prefix`."""
        return [i for i, s in enumerate(self.spans) if s.trace.startswith(trace_prefix)]

    def _nested_in_same(self, idx: int) -> bool:
        name, p = self.spans[idx].name, self.spans[idx].parent
        while p is not None:
            if self.spans[p].name == name:
                return True
            p = self.spans[p].parent
        return False

    def total(self, name: str, key: str | None = None, trace_prefix: str = "") -> float:
        """Busy seconds (key=None) or the sum of one span attribute over the
        spans called `name`, leaving out spans nested in a span of the same
        name so a layer's recursion is not counted twice."""
        out = 0.0
        for i in self.select(trace_prefix):
            s = self.spans[i]
            if s.name != name or self._nested_in_same(i):
                continue
            out += s.dur if key is None else s.attrs.get(key, 0)
        return out

    def count(self, name: str, trace_prefix: str = "") -> int:
        return sum(1 for i in self.select(trace_prefix) if self.spans[i].name == name)

    def self_time(self, name: str, trace_prefix: str = "") -> float:
        return sum(self.spans[i].self_s for i in self.select(trace_prefix) if self.spans[i].name == name)


def install_audit_layers(rec: Recorder) -> None:
    """Wrap the audit pipeline's layer boundaries."""
    from seo_audit_etl_actor_spark.pipeline import document, run, scoring, stanzas
    from seo_audit_etl_actor_spark.sources import csv_smart, zip_io

    def nbytes(args, result):
        return {"bytes": len(args[0]) if args and isinstance(args[0], (bytes, bytearray)) else 0}

    def entry_bytes(args, result):
        return {"bytes": len(result) if result is not None else 0}

    def parsed(args, result):
        attempts = rec._local.__dict__.pop("parse_attempts", 0)
        return {"rows": len(result.rows), "bytes": len(args[0]), "first_try": int(attempts == 1)}

    def frame_rows(args, result):
        return {"rows": len(args[1].rows) if len(args) > 1 else 0}

    def written(args, result):
        return {"bytes": sum(Path(p).stat().st_size for p in result.values())}

    rec.wrap(zip_io, "open_zip", "zip_io", nbytes)
    rec.wrap(zip_io, "open_nested_zip", "zip_io", nbytes)
    rec.wrap(zip_io, "read_entry", "zip_io", entry_bytes)

    # Decode/parse attempts of one parse call, counted on the calling
    # thread: one attempt means the file was accepted on the first try.
    parse_text = getattr(csv_smart, "_parse_text", None)
    if parse_text is not None:

        @functools.wraps(parse_text)
        def counting(*args, **kwargs):
            rec._local.parse_attempts = rec._local.__dict__.get("parse_attempts", 0) + 1
            return parse_text(*args, **kwargs)

        csv_smart._parse_text = counting
        rec._restore.append((csv_smart, "_parse_text", parse_text))
    rec.wrap(csv_smart, "parse_csv_smart_rows", "csv_smart.parse", parsed)
    rec.wrap(csv_smart, "to_dataframe", "csv_smart.to_dataframe", frame_rows)
    rec.wrap_public(stanzas, "stanzas")
    rec.wrap(scoring, "compute_scores", "scoring.compute_scores")
    rec.wrap(document, "to_reference_json", "output.write")
    rec.wrap(run, "write_outputs", "output.write", written)
    rec.wrap(run, "process_zip", "run.process_zip")


def install_catalog_layers(rec: Recorder) -> None:
    from seo_audit_etl_actor_spark import session

    rec.wrap(session, "load_table", "session.load_table")


class Tracer:
    """What a workload wraps around each operation and each of its phases
    in a traced run: a trace id and a Spark job group per operation, whose
    (jobs, tasks, failed tasks) land in `counts` under that trace id."""

    def __init__(self, rec: Recorder, spark) -> None:
        self.rec = rec
        self.counter = SparkCounter(spark)
        self.counts: dict[str, tuple[int, int, int]] = {}

    @contextmanager
    def op(self, trace_id: str):
        self.rec.set_trace(trace_id)
        self.counter.set_group(trace_id)
        try:
            yield
        finally:
            self.counter.clear_group()
        self.counter.drain()
        self.counts[trace_id] = self.counter.counts(trace_id)

    def span(self, name: str):
        return self.rec.span(name)

    def spark_totals(self, trace_prefix: str) -> tuple[int, int, int]:
        """Summed counts of the operations whose trace id has this prefix."""
        picked = [c for t, c in self.counts.items() if t.startswith(trace_prefix)]
        return tuple(sum(c[i] for c in picked) for i in range(3))


class NoTracer:
    """The untraced run's stand-in for `Tracer`: every call does nothing."""

    def op(self, trace_id: str):
        return nullcontext()

    def span(self, name: str):
        return nullcontext()


class SparkCounter:
    """Jobs / tasks per operation from job groups and SparkStatusTracker."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def drain(self) -> None:
        """Wait for the listener bus, so finished jobs are in the tracker."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # not reachable through py4j: give it a moment
            time.sleep(0.5)

    def counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, tasks run, tasks failed) of one job group."""
        tracker = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            jobs += 1
            for stage_id in info.stageIds:
                st = tracker.getStageInfo(stage_id)
                if st is not None:
                    tasks += st.numCompletedTasks + st.numFailedTasks
                    failed += st.numFailedTasks
        return jobs, tasks, failed
