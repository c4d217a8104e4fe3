"""Span tracer for the traced benchmark run.

The tracer wraps the engine's public functions from outside (module and
class attributes are swapped for timing wrappers; nothing in the package
changes) and records one span per call: name, start, end, parent and the
id of the benchmark verb it ran under. Spans live in memory for the whole
run.

Spark jobs are attributed to the innermost open span: entering a span sets
the thread's ``spark.jobGroup.id`` to the span id, leaving it restores the
parent's. After each verb the jobs and stages the status store gained are
read back and folded into per-span execution figures (jobs, stages, tasks,
run/CPU/GC time, shuffle, spill, input rows, wall time covered by jobs).

Span times are read from a clock that stops while the tracer does its own
work (py4j property calls, status-store reads, directory sizing), so no
span contains tracer work. That stopped time is the tracing overhead: what
the traced run pays on top of the untraced one for the same calls.
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager

IDLE_GROUP = "perfbench-idle"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _seq(java_seq):
    it = java_seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


def _covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


class Span:
    __slots__ = ("id", "name", "parent", "verb", "start", "end", "wall", "info", "children")

    def __init__(self, sid: int, name: str, parent: int | None, verb: int | None):
        self.id = sid
        self.name = name
        self.parent = parent
        self.verb = verb
        self.start = 0.0  # tracer clock
        self.end = 0.0
        self.wall = [0.0, 0.0]  # epoch ms, the clock Spark stamps jobs with
        self.info: dict = {}
        self.children: list[int] = []

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.verb_id: int | None = None
        self.overhead_s = 0.0  # tracer work; the span clock stops during it
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.unattributed_jobs: list[int] = []
        self._set_group(IDLE_GROUP)
        # jobs that ran before tracing began (session set-up) belong to no span
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        for j in _seq(self.store.jobsList(None)):
            self.jobs[j.jobId()] = {"span": None, "submit_ms": None, "end_ms": None, "stage_ids": []}

    # -- spans ---------------------------------------------------------------

    def _set_group(self, group: str) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def now(self) -> float:
        """The span clock: wall time minus tracer work so far."""
        return time.perf_counter() - self.overhead_s

    def _paused(self, t_in: float) -> None:
        self.overhead_s += time.perf_counter() - t_in

    @contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, self.verb_id)
        if parent is not None:
            parent.children.append(sp.id)
        self.spans.append(sp)
        self.stack.append(sp)
        self._set_group(f"perfbench-span-{sp.id}")
        sp.wall[0] = time.time() * 1e3
        self._paused(t_in)
        sp.start = self.now()
        try:
            yield sp
        finally:
            sp.end = self.now()
            t_out = time.perf_counter()
            sp.wall[1] = time.time() * 1e3
            self.stack.pop()
            self._set_group(f"perfbench-span-{self.stack[-1].id}" if self.stack else IDLE_GROUP)
            self._paused(t_out)

    @contextmanager
    def verb(self, kind: str):
        """Top-level span of one benchmark operation."""
        assert not self.stack, "verbs do not nest"
        self.verb_id = len(self.spans)
        try:
            with self.span(f"verb.{kind}") as sp:
                yield sp
        finally:
            self.verb_id = None
            self.harvest()

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. ``after``
        (span, args, kwargs, result) runs once the call returns, with the
        span clock stopped: its time is tracing overhead and lies in no
        span. Measurements that run Spark jobs go into ``info["aux"]``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if self.verb_id is None:  # preparation outside any verb is not traced
                return orig(*args, **kwargs)
            with self.span(name) as sp:
                try:
                    result = orig(*args, **kwargs)
                except BaseException as e:
                    sp.info["error"] = type(e).__name__
                    raise
            if after is not None:
                t = time.perf_counter()
                after(sp, args, kwargs, result)
                self._paused(t)
            return result

        setattr(owner, attr, wrapper)

    def resolve(self, verb: Span) -> None:
        """Run the deferred measurements (``info["aux"]`` callables set by
        ``after`` hooks) of one finished verb. They may run Spark jobs; those
        run under the idle group, outside every span. Their time is tracing
        overhead."""
        t = time.perf_counter()
        for sp in self.subtree(verb):
            aux = sp.info.pop("aux", None)
            if aux is not None:
                sp.info.update(aux())
        self._paused(t)

    # -- Spark status store ----------------------------------------------------

    def harvest(self) -> None:
        """Fold jobs/stages finished since the last harvest into the record."""
        t = time.perf_counter()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        new_jobs = []
        for j in _seq(self.store.jobsList(None)):
            jid = j.jobId()
            if jid in self.jobs:
                continue
            g = j.jobGroup()
            group = g.get() if g.isDefined() else None
            span_id = None
            if group and group.startswith("perfbench-span-"):
                span_id = int(group.rsplit("-", 1)[1])
            elif group != IDLE_GROUP:
                self.unattributed_jobs.append(jid)
            rec = {
                "span": span_id,
                "submit_ms": _opt_ms(j.submissionTime()),
                "end_ms": _opt_ms(j.completionTime()),
                "stage_ids": [int(s) for s in _seq(j.stageIds())],
            }
            self.jobs[jid] = rec
            new_jobs.append(rec)
        if new_jobs:
            arr = self.sc._gateway.new_array(self.sc._jvm.double, 0)
            for s in _seq(self.store.stageList(None, False, False, arr, None)):
                sid = s.stageId()
                key = (sid, s.attemptId())
                if sid in self.stages and key in self.stages[sid]["attempts"]:
                    continue
                st = self.stages.setdefault(sid, {"attempts": set(), "ran": False, "tasks": 0,
                                                  "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                                                  "input_rows": 0, "shuffle_read": 0,
                                                  "shuffle_write": 0, "spill": 0})
                st["attempts"].add(key)
                if str(s.status()) == "SKIPPED":
                    continue
                st["ran"] = True
                st["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                st["run_ms"] += s.executorRunTime()
                st["cpu_ns"] += s.executorCpuTime()
                st["gc_ms"] += s.jvmGcTime()
                st["input_rows"] += s.inputRecords()
                st["shuffle_read"] += s.shuffleReadBytes()
                st["shuffle_write"] += s.shuffleWriteBytes()
                st["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self.overhead_s += time.perf_counter() - t

    # -- per-span figures ------------------------------------------------------

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.spans[c] for c in s.children)
        return out

    def self_s(self, sp: Span) -> float:
        """The span's time not covered by any child span (children clipped
        to the span)."""
        kids = [self.spans[c] for c in sp.children]
        return sp.dur - _covered(
            (max(k.start, sp.start), min(k.end, sp.end)) for k in kids if k.end > sp.start and k.start < sp.end
        )

    def spark_figures(self, spans: list[Span]) -> dict:
        """Execution figures of the jobs attributed to ``spans``."""
        ids = {s.id for s in spans}
        jobs = [j for j in self.jobs.values() if j["span"] in ids]
        seen_stages: set[int] = set()
        fig = {"jobs": len(jobs), "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
               "gc_s": 0.0, "input_rows": 0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
        intervals = []
        for j in jobs:
            if j["submit_ms"] is not None and j["end_ms"] is not None:
                intervals.append((j["submit_ms"], j["end_ms"]))
            for sid in j["stage_ids"]:
                st = self.stages.get(sid)
                if st is None or sid in seen_stages or not st["ran"]:
                    continue
                seen_stages.add(sid)
                fig["stages"] += 1
                fig["tasks"] += st["tasks"]
                fig["run_s"] += st["run_ms"] / 1e3
                fig["cpu_s"] += st["cpu_ns"] / 1e9
                fig["gc_s"] += st["gc_ms"] / 1e3
                fig["input_rows"] += st["input_rows"]
                fig["shuffle_read"] += st["shuffle_read"]
                fig["shuffle_write"] += st["shuffle_write"]
                fig["spill"] += st["spill"]
        fig["exec_s"] = _covered(intervals) / 1e3
        return fig

    # -- layer checks ------------------------------------------------------------

    def check(self, required_names: set[str]) -> list[str]:
        """Problems with the record: required span names never seen, spans
        outside their parent, self times that do not add up to the verb
        span (overlapping or escaping children), jobs submitted during a
        verb but credited elsewhere or to no span, and jobs credited to a
        verb but submitted outside it."""
        problems = []
        names = {s.name for s in self.spans}
        missing = sorted(required_names - names)
        if missing:
            problems.append(f"spans never recorded: {missing}")
        eps = 1e-6
        for sp in self.spans:
            if sp.parent is not None:
                p = self.spans[sp.parent]
                if sp.start < p.start - eps or sp.end > p.end + eps:
                    problems.append(f"span {sp.name}#{sp.id} lies outside its parent {p.name}")
            if self.self_s(sp) < -eps:
                problems.append(f"span {sp.name}#{sp.id} has negative self time")
        for sp in self.spans:
            if sp.parent is None:
                tree = self.subtree(sp)
                total = sum(self.self_s(s) for s in tree)
                if abs(total - sp.dur) > eps * max(1.0, sp.dur):
                    problems.append(
                        f"verb {sp.name}#{sp.id}: self times sum to {total:.6f}s, "
                        f"verb span is {sp.dur:.6f}s"
                    )
                ids = {s.id for s in tree}
                credited = {jid for jid, j in self.jobs.items() if j["span"] in ids}
                # Spark stamps whole milliseconds; allow one either side
                lo, hi = sp.wall[0] - 1, sp.wall[1] + 1
                during = {jid for jid, j in self.jobs.items()
                          if j["submit_ms"] is not None and lo <= j["submit_ms"] <= hi}
                if credited != during:
                    problems.append(
                        f"verb {sp.name}#{sp.id}: jobs submitted during it {sorted(during - credited)[:5]} "
                        f"are not credited to its spans, or credited jobs {sorted(credited - during)[:5]} "
                        f"were submitted outside it"
                    )
        if self.unattributed_jobs:
            problems.append(f"jobs outside any span: {self.unattributed_jobs[:10]}")
        return problems
