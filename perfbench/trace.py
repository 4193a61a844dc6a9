"""Per-layer tracing from outside the package.

:class:`Tracer` replaces public entry points of the package's layers with
wrappers that open a *span*: wall time plus a Spark job group, so every job
a call launches is attributed to the innermost open span. Spans nest (a
``store.read`` inside ``robots.refresh`` is a child of it); a span's *self*
time is its duration minus the time covered by its children, so the self
times of all spans in a round plus the round's unattributed time add up to
the round wall.

Job counts, shuffle and spill per group, and executor run/CPU time of the
stages that cross the Arrow boundary, are read after the run from Spark's
status store, which is populated with the UI disabled. Nothing in the
package is edited; :meth:`Tracer.close` restores every wrapped attribute.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PROP = "spark.jobGroup.id"
# plan nodes that move rows across the JVM↔Python Arrow boundary
ARROW_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
               "FlatMapGroupsInPandas", "MapInArrow")


@dataclass
class LayerStats:
    total_s: float = 0.0  # inclusive wall
    self_s: float = 0.0  # wall not covered by child spans
    jobs: int = 0
    shuffle_bytes: int = 0  # shuffle read + write
    spill_bytes: int = 0  # memory + disk spill


@dataclass
class _Open:
    group: str
    start: float
    child_s: float = 0.0


@dataclass
class Tracer:
    """Span recorder over a live SparkContext. ``scope`` is a label mixed
    into every job group (e.g. the crawl round), set with :meth:`set_scope`."""

    sc: object
    scope: str = "run"
    paused: bool = False  # wrapped calls pass straight through
    bookkeeping_s: float = 0.0
    layers: dict = field(default_factory=lambda: defaultdict(LayerStats))
    # (scope, layer) → self seconds; lets a round be split by layer
    scoped_self: dict = field(default_factory=lambda: defaultdict(float))
    groups: dict = field(default_factory=dict)  # group id → (scope, layer)
    _stack: list = field(default_factory=list)
    _patched: list = field(default_factory=list)

    # -- job groups --------------------------------------------------------
    def _group(self, layer: str) -> str:
        g = f"{self.scope}|{layer}"
        self.groups[g] = (self.scope, layer)
        return g

    def set_scope(self, scope: str) -> None:
        """Start a new scope; jobs outside any span go to ``<scope>|-``."""
        t = time.perf_counter()
        self.scope = scope
        if not self._stack:
            self.sc.setLocalProperty(GROUP_PROP, self._group("-"))
        self.bookkeeping_s += time.perf_counter() - t

    @contextmanager
    def span(self, layer: str):
        t = time.perf_counter()
        sp = _Open(self._group(layer), 0.0)
        self._stack.append(sp)
        self.sc.setLocalProperty(GROUP_PROP, sp.group)
        sp.start = time.perf_counter()
        self.bookkeeping_s += sp.start - t
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            dur = end - sp.start
            st = self.layers[layer]
            st.total_s += dur
            st.self_s += dur - sp.child_s
            self.scoped_self[(self.scope, layer)] += dur - sp.child_s
            if self._stack:
                self._stack[-1].child_s += dur
                self.sc.setLocalProperty(GROUP_PROP, self._stack[-1].group)
            else:
                self.sc.setLocalProperty(GROUP_PROP, self._group("-"))
            self.bookkeeping_s += time.perf_counter() - end

    # -- wrapping ----------------------------------------------------------
    def wrap(self, owner, attr: str, layer: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper (restored by close)."""
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer.paused:
                return original(*args, **kwargs)
            with tracer.span(layer):
                return original(*args, **kwargs)

        wrapper.__wrapped__ = original
        self._patched.append((owner, attr, owner.__dict__.get(attr, original)))
        setattr(owner, attr, wrapper)

    def close(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()
        self.sc.setLocalProperty(GROUP_PROP, None)

    # -- status store harvest ----------------------------------------------
    def harvest(self) -> dict:
        """Fill per-layer job/stage metrics from the status store and return
        ``{"jobs_by_scope": {scope: n_jobs}, "arrow": (stages, run_s, cpu_s)}``
        for the stages whose plan crosses the Arrow boundary.

        Call once, after the traced work, outside any timed window."""
        t = time.perf_counter()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jobs_by_scope: dict[str, int] = defaultdict(int)
        arrow = [0, 0.0, 0.0]
        counted: set[int] = set()
        for group, (scope, layer) in self.groups.items():
            job_ids = tracker.getJobIdsForGroup(group)
            jobs_by_scope[scope] += len(job_ids)
            st = self.layers[layer]
            st.jobs += len(job_ids)
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    if sid in counted:
                        continue
                    counted.add(sid)
                    m = _stage_metrics(store, sid)
                    if m is None:
                        continue
                    run_s, cpu_s, shuffle, spill, is_arrow = m
                    st.shuffle_bytes += shuffle
                    st.spill_bytes += spill
                    if is_arrow:
                        arrow = [arrow[0] + 1, arrow[1] + run_s, arrow[2] + cpu_s]
        self.bookkeeping_s += time.perf_counter() - t
        return {"jobs_by_scope": dict(jobs_by_scope), "arrow": tuple(arrow)}


def _stage_metrics(store, stage_id: int):
    """(run_s, cpu_s, shuffle_bytes, spill_bytes, crosses_arrow) of a
    stage's first attempt, or None if the stage never ran."""
    from py4j.protocol import Py4JJavaError

    try:
        sd = store.stageAttempt(stage_id, 0, False, None, False, None)
    except Py4JJavaError:  # skipped stages are never submitted
        return None
    d = sd._1()
    if d.numCompleteTasks() == 0:
        return None
    run_s = d.executorRunTime() / 1e3
    cpu_s = d.executorCpuTime() / 1e9
    shuffle = d.shuffleReadBytes() + d.shuffleWriteBytes()
    spill = d.memoryBytesSpilled() + d.diskBytesSpilled()
    return run_s, cpu_s, shuffle, spill, _crosses_arrow(store, stage_id)


def _crosses_arrow(store, stage_id: int) -> bool:
    todo = [store.operationGraphForStage(stage_id).rootCluster()]
    while todo:
        c = todo.pop()
        if c.name().startswith(ARROW_NODES):
            return True
        it = c.childClusters().iterator()
        while it.hasNext():
            todo.append(it.next())
    return False
