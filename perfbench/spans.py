"""Spans around the benchmark's calls into the engine's layers.

A :class:`Tracer` records one span per call: name, start, end, parent
span and the benchmark phase it ran in.  While a span is open its Spark
job group is set, so afterwards Spark's public ``statusTracker()`` yields
the jobs, stages, tasks and failed tasks each span caused.  Spans stay in
memory and are written out once, when the run ends.

:class:`NullTracer` has the same interface and records nothing; the
untraced runs use it, so both kinds of run execute the same code.

:func:`patched` swaps module attributes for span-wrapped versions for the
length of a ``with`` block; it is how the traced run sees calls made
*inside* an engine entry point (for example ``runner.run_glue_task``'s
calls to ``fit_text_classifier``) without editing the engine.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

COUNTS = ("jobs", "stages", "tasks", "failed_tasks")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    phase: str
    group: str
    start: float
    end: float = 0.0
    own: dict[str, int] = field(default_factory=dict)
    total: dict[str, int] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Records nothing; ``span`` is a no-op context manager."""

    enabled = False

    def __init__(self) -> None:
        self.phase = "setup"

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        yield

    def resolve(self) -> None:
        pass


class Tracer(NullTracer):
    """In-memory span recorder backed by Spark job groups."""

    enabled = True

    def __init__(self) -> None:
        super().__init__()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._sc: Any = None
        self._resolved = 0

    def bind(self, sc: Any) -> None:
        """Attach the SparkContext whose job groups the spans set."""
        self._sc = sc

    def _set_group(self, group: str | None, description: str = "") -> None:
        if self._sc is None:
            return
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, description)

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        s = Span(
            id=sid,
            name=name,
            parent=parent.id if parent else None,
            phase=self.phase,
            group=f"perfbench-span-{sid}",
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.group, name)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._set_group(parent.group, parent.name)
            else:
                self._set_group(None)

    def resolve(self) -> None:
        """Fill job/stage/task counts for spans closed since the last call.

        Counts are read per job group from ``statusTracker()``; a span's
        ``total`` adds its descendants' ``own`` counts.  Call between
        passes (outside timed regions): the listener bus is asynchronous,
        so a short settle lets the last job's events land first."""
        pending = [s for s in self.spans[self._resolved :] if s.end]
        if not pending or self._sc is None:
            return
        time.sleep(0.3)
        st = self._sc.statusTracker()
        for s in pending:
            own = dict.fromkeys(COUNTS, 0)
            for jid in st.getJobIdsForGroup(s.group):
                own["jobs"] += 1
                job = st.getJobInfo(jid)
                for sid in job.stageIds if job else ():
                    stage = st.getStageInfo(sid)
                    if stage is None:
                        continue
                    ran = stage.numCompletedTasks + stage.numFailedTasks
                    if ran:  # skipped stages (reused shuffle output) ran nothing
                        own["stages"] += 1
                    own["tasks"] += stage.numCompletedTasks
                    own["failed_tasks"] += stage.numFailedTasks
            s.own = own
        by_id = {s.id: s for s in pending}
        for s in pending:
            s.total = dict(s.own)
        for s in sorted(pending, key=lambda x: -x.id):  # children before parents
            if s.parent in by_id:
                for k in COUNTS:
                    by_id[s.parent].total[k] += s.total[k]
        self._resolved = len(self.spans)

    def dump(self, path: str, extra: dict | None = None) -> None:
        """Write every span and its counts to one JSON file."""
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "phase": s.phase,
                "start_s": round(s.start - t0, 6),
                "end_s": round(s.end - t0, 6),
                "counts": s.total,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, **(extra or {})}, f, indent=1)


def span_stats(spans: list[Span], phases: list[str]) -> dict[str, dict[str, list[float]]]:
    """name -> {"seconds": [...], <count>: [...]}: per-phase totals of each
    span name, one list entry per phase in ``phases`` that ran it."""
    out: dict[str, dict[str, list[float]]] = {}
    for phase in phases:
        acc: dict[str, dict[str, float]] = {}
        for s in spans:
            if s.phase != phase:
                continue
            a = acc.setdefault(s.name, {"seconds": 0.0, **dict.fromkeys(COUNTS, 0)})
            a["seconds"] += s.seconds
            for k in COUNTS:
                a[k] += s.total.get(k, 0)
        for name, a in acc.items():
            d = out.setdefault(name, {k: [] for k in ("seconds", *COUNTS)})
            for k, v in a.items():
                d[k].append(v)
    return out


def wrap(tracer: NullTracer, name: str | Callable[..., str], fn: Callable) -> Callable:
    """``fn`` inside a span; ``name`` may be a function of the call's
    arguments (for spans named after a parameter such as a recipe)."""

    @functools.wraps(fn)
    def traced(*args: Any, **kwargs: Any) -> Any:
        with tracer.span(name(*args, **kwargs) if callable(name) else name):
            return fn(*args, **kwargs)

    return traced


@contextlib.contextmanager
def patched(tracer: NullTracer, targets: list[tuple[Any, str, str | Callable[..., str]]]) -> Iterator[None]:
    """Replace ``module.attr`` with a span-wrapped version for the block.

    ``targets`` holds (module, attribute, span name) triples.  With a
    disabled tracer nothing is replaced."""
    if not tracer.enabled:
        yield
        return
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
    try:
        for (mod, attr, name), (_, _, orig) in zip(targets, saved):
            setattr(mod, attr, wrap(tracer, name, orig))
        yield
    finally:
        for mod, attr, orig in saved:
            setattr(mod, attr, orig)
