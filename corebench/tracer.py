"""Spans recorded from outside the program, and Spark stage attribution.

A span has a name, start, end, parent and op id; spans stay in memory and
the harness writes them into the run's sidecar when the run ends. Each
span also records the Spark stage- and job-id counters at entry and exit:
ids are allocated in submission order, so the stages a call launched —
from any thread, inside or outside the caller's job group — are the ids
in ``[s0, s1)``. Per-stage numbers
come from the in-process status store after the listener bus drains; no
event log is needed.

Layers are traced by wrapping a module's public function or an injected
seam for the length of the traced run (:meth:`Tracer.wrap`), and restored
afterwards (:meth:`Tracer.unwrap_all`). The untraced run wraps nothing.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op: tuple[int, int] | None = None  # (op id, root span id)
        self._op_ids = itertools.count(1)
        self._undo: list[tuple[object, str, object]] = []
        self._stages: dict[int, dict | None] = {}
        self._jobs: dict[int, dict | None] = {}

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _counters(self) -> tuple[int, int]:
        return int(self._dag.nextStageId()), int(self._dag.nextJobId())

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        # a span opened on a thread with no open span (the service's agent
        # worker) hangs under the op's root span
        parent = stack[-1] if stack else (self._op[1] if self._op else None)
        sid = next(self._ids)
        s0, j0 = self._counters()
        rec = {"id": sid, "name": name, "parent": parent,
               "op": self._op[0] if self._op else None,
               "start": time.time(), "s0": s0, "j0": j0, **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            rec["s1"], rec["j1"] = self._counters()
            self.spans.append(rec)

    @contextmanager
    def op(self, name: str, **attrs):
        """Root span of one unit operation; spans opened on other threads
        while it is open belong to it (one client, closed loop). The
        calling thread runs the op under its own job group, as a client
        that may cancel it would; jobs launched from threads that do not
        inherit the group count as ungrouped."""
        op_id = next(self._op_ids)
        self._sc.setJobGroup(f"corebench-op-{op_id}", name)
        with self.span(name, **attrs) as rec:
            rec["op"] = op_id
            self._op = (op_id, rec["id"])
            try:
                yield rec
            finally:
                self._op = None
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, owner, attr: str, name: str, *, when=None, after=None):
        """Replace ``owner.attr`` with a version that runs inside span
        ``name``. ``when(args, kwargs)`` limits spanning to some calls;
        ``after(rec, result, args, kwargs)`` adds attributes."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if when is not None and not when(args, kwargs):
                return orig(*args, **kwargs)
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(rec, out, args, kwargs)
                return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- queries over recorded spans -------------------------------------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def self_time(self, name: str) -> float:
        """Sum over spans ``name`` of duration minus the part covered by
        their direct children."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out = 0.0
        for s in self.named(name):
            covered = _union(
                [(c["start"], c["end"]) for c in kids.get(s["id"], [])],
                s["start"], s["end"],
            )
            out += (s["end"] - s["start"]) - covered
        return out

    # -- Spark attribution -----------------------------------------------

    def drain(self, timeout_ms: int = 30_000) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the final numbers of every stage."""
        self._jsc.listenerBus().waitUntilEmpty(timeout_ms)

    def _stage(self, sid: int) -> dict | None:
        if sid not in self._stages:
            try:
                sd = self._jsc.statusStore().lastStageAttempt(sid)
            except Exception:  # evicted or never registered
                self._stages[sid] = None
                return None
            sub, comp = sd.submissionTime(), sd.completionTime()
            self._stages[sid] = None if not sub.isDefined() else {
                "start": sub.get().getTime() / 1000.0,
                "end": (comp.get().getTime() / 1000.0
                        if comp.isDefined() else None),
                "tasks": int(sd.numTasks()),
                "exec_run_s": sd.executorRunTime() / 1000.0,
                "exec_cpu_s": sd.executorCpuTime() / 1e9,
                "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
                "shuffle_read_bytes": int(sd.shuffleReadBytes()),
                "spill_bytes": int(sd.memoryBytesSpilled()
                                   + sd.diskBytesSpilled()),
                "input_bytes": int(sd.inputBytes()),
            }
        return self._stages[sid]

    def _job(self, jid: int) -> dict | None:
        if jid not in self._jobs:
            try:
                jd = self._jsc.statusStore().job(jid)
            except Exception:
                self._jobs[jid] = None
                return None
            grp = jd.jobGroup()
            ids = jd.stageIds()
            self._jobs[jid] = {
                "group": grp.get() if grp.isDefined() else None,
                "stages": [int(ids.apply(i)) for i in range(ids.size())],
            }
        return self._jobs[jid]

    def spark_stats(self, rec: dict) -> dict:
        """Stage/job numbers for the ids a span allocated. Stages that
        never ran (skipped, shuffle reuse) count toward nothing."""
        ran = {sid: st for sid in range(rec["s0"], rec["s1"])
               if (st := self._stage(sid)) is not None}
        grouped: set[int] = set()
        for jid in range(rec["j0"], rec["j1"]):
            jd = self._job(jid)
            if jd is not None and jd["group"]:
                grouped.update(jd["stages"])
        out = {
            "jobs": rec["j1"] - rec["j0"],
            "stages": len(ran),
            "ungrouped_stages": sum(1 for sid in ran if sid not in grouped),
        }
        for k in ("tasks", "exec_run_s", "exec_cpu_s", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "input_bytes"):
            out[k] = sum(st[k] for st in ran.values())
        busy = _union(
            [(st["start"], st["end"] or rec["end"]) for st in ran.values()],
            rec["start"], rec["end"],
        )
        out["driver_gap_s"] = max(0.0, (rec["end"] - rec["start"]) - busy)
        return out

    def window_escapes(self, rec: dict, slack_s: float = 0.05) -> int:
        """Stages the id window and the wall-clock window disagree on: a
        stage id inside ``[s0, s1)`` submitted outside the span, or a stage
        submitted inside the span with an id outside the window. Zero means
        every stage the call launched, pool threads included, landed in
        its window."""
        lo, hi = rec["start"] - slack_s, rec["end"] + slack_s
        bad = 0
        for sid in range(rec["s0"], rec["s1"]):
            st = self._stage(sid)
            if st is not None and not lo <= st["start"] <= hi:
                bad += 1
        for sid in list(range(max(0, rec["s0"] - 64), rec["s0"])) + list(
            range(rec["s1"], rec["s1"] + 64)
        ):
            st = self._stage(sid)
            if st is not None and rec["start"] < st["start"] < rec["end"]:
                bad += 1
        return bad


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
