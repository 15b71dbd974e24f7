"""Spans around the benchmark's calls into the engine's layers.

A span is one call into a public function of one layer, recorded from
the benchmark's side: layer, name, start, duration and the span that
caused it. Each span runs under its own Spark job group, so the jobs,
stages and tasks it launched can be read back from the status tracker
once the run is over (a group id is never reused: the tracker's
``getJobIdsForGroup`` accumulates across reuse of one id). A disabled
tracer costs one attribute test per call and sets no job group.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    name: str
    parent: int | None
    group: str | None
    start: float = 0.0
    dur: float = 0.0
    child_dur: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    extra: dict = field(default_factory=dict)

    @property
    def self_time(self) -> float:
        return self.dur - self.child_dur


class Tracer:
    """Records spans in memory while ``enabled``; ``resolve`` attaches
    Spark work to them after the run."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = None
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def bind(self, sc) -> None:
        self.sc = sc

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{len(self.spans)}" if self.sc is not None else None
        sp = Span(layer, name, parent, group)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._set_group(group)
        self._stack.append(idx)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.dur = time.perf_counter() - sp.start
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_dur += sp.dur
            self._set_group(self.spans[parent].group if parent is not None else None)

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def resolve(self, timeout_s: float = 30.0) -> None:
        """Attach jobs/stages/tasks to every span from its job group.
        Waits (bounded) for the listener bus to report every job of the
        group as finished, so task counts are final."""
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        deadline = time.monotonic() + timeout_s
        for sp in self.spans:
            if sp.group is None:
                continue
            job_ids = tracker.getJobIdsForGroup(sp.group)
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                while (
                    info is not None
                    and info.status not in ("SUCCEEDED", "FAILED")
                    and time.monotonic() < deadline
                ):
                    time.sleep(0.05)
                    info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                sp.jobs += 1
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is None:
                        continue
                    ran = st.numCompletedTasks + st.numFailedTasks
                    if ran:
                        sp.stages += 1
                    sp.tasks += ran
                    sp.tasks_failed += st.numFailedTasks

    def of(self, layer: str, name: str | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.layer == layer and (name is None or s.name == name)
        ]

    def self_seconds(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.self_time
        return out
