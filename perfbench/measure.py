"""Measurement plumbing for the benchmark: spans, Spark status-store
attribution, py4j round-trip counting, process-tree memory and the
host-speed probe.

Nothing here is imported by the engine.  Spans are recorded around
calls into the engine's public layer functions by temporarily
rebinding those functions (and a few pyspark sink methods) in the
modules that call them; every rebinding is undone when the traced
operation ends.
"""

from __future__ import annotations

import contextlib
import functools
import os
import statistics
import sys
import threading
import time
from collections import defaultdict


# ---------------------------------------------------------------------------
# process tree: peak resident memory, and waiting for children to end
# ---------------------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of the process tree (this process, the
    driver JVM, Python workers): the largest total, over polls every
    250 ms, of the live processes' proportional set sizes.  PSS splits
    each shared page between the processes that map it, so the pages a
    forked Python worker shares with the daemon that forked it count
    once, and a worker that has exited no longer counts."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self._peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            me = os.getpid()
            total = sum(_pss_kb(p) for p in [me, *descendants(me)])
            self._peak_kb = max(self._peak_kb, total)
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self._peak_kb / 1024.0


def wait_gone(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for processes this run started (directly or through the
    JVM) to exit; kill what is still alive after ``timeout_s``."""
    deadline = time.time() + timeout_s
    alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        with contextlib.suppress(OSError):
            os.kill(p, 9)


def host_probe(items: int = 600) -> float:
    """Host speed in items/s: the numpy sine kernel of
    ``bench._control_work`` run single-threaded in this process.  A
    diagnostic that tells host drift apart from an engine change."""
    from bench import _control_work

    t0 = time.perf_counter()
    _control_work(items)
    return items / (time.perf_counter() - t0)


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------
def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class StageStats:
    """Per-job-group sums over completed stages, read from the
    in-process ``AppStatusStore`` (works with the UI disabled)."""

    KEYS = ("jobs", "tasks", "run_s", "shuffle_bytes", "spill_bytes", "gc_s")

    def __init__(self):
        self.by_group: dict[str, dict[str, float]] = defaultdict(
            lambda: dict.fromkeys(self.KEYS, 0.0))
        self.skew: list[float] = []
        self._seen_jobs: set[tuple[str, int]] = set()
        self._seen_stages: set[tuple[str, int]] = set()

    def harvest(self, sc, groups: set[str]) -> None:
        """Fold in every not-yet-seen job whose group is in ``groups``.
        Must run before the SparkContext stops (its store goes with
        it)."""
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30000)
        store = jsc.statusStore()
        app = sc.applicationId
        for job in _seq(store.jobsList(None)):
            g = job.jobGroup()
            if not g.isDefined() or g.get() not in groups:
                continue
            key = (app, job.jobId())
            if key in self._seen_jobs:
                continue
            self._seen_jobs.add(key)
            acc = self.by_group[g.get()]
            acc["jobs"] += 1
            for sid in _seq(job.stageIds()):
                if (app, sid) in self._seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage never submitted (skipped)
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                self._seen_stages.add((app, sid))
                acc["tasks"] += st.numTasks()
                acc["run_s"] += st.executorRunTime() / 1000.0
                acc["shuffle_bytes"] += st.shuffleWriteBytes()
                acc["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                acc["gc_s"] += st.jvmGcTime() / 1000.0
                if st.numTasks() >= 2:
                    runs = []
                    for t in _seq(store.taskList(sid, st.attemptId(), 100000)):
                        m = t.taskMetrics()
                        if m.isDefined():
                            runs.append(m.get().executorRunTime())
                    med = statistics.median(runs) if runs else 0
                    if med > 0:
                        self.skew.append(max(runs) / med)

    def total(self, key: str) -> float:
        return sum(g[key] for g in self.by_group.values())

    def get(self, group: str, key: str) -> float:
        return self.by_group[group][key] if group in self.by_group else 0.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
class Tracer:
    """In-memory span recorder.

    A span is ``(id, name, what, start, end, parent, run_id, py4j)``,
    ``what`` naming the wrapped call and ``py4j`` counting the round
    trips made inside it (once :meth:`count_py4j` is on); spans nest
    through a stack (the benchmark drives Spark from one thread while
    tracing).  Entering a span also sets the Spark job group to the
    span's name, so that executor work started inside it is attributed
    to that layer; the enclosing group is restored on exit."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.captured: dict[str, list] = defaultdict(list)
        self.groups: set[str] = set()
        self._stack: list[int] = []
        self._undo: list = []
        self._py4j_calls = 0

    @contextlib.contextmanager
    def span(self, name: str, *, what: str = "", group: bool = True):
        from pyspark import SparkContext

        sid = len(self.spans)
        rec = {"id": sid, "name": name, "what": what,
               "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "py4j": self._py4j_calls}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = SparkContext._active_spark_context if group else None
        prev = None
        if sc is not None:
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(name, name)
            self.groups.add(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j"] = self._py4j_calls - rec["py4j"]
            self._stack.pop()
            if sc is not None and sc._jsc is not None:
                if prev is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    sc.setJobGroup(prev, prev)

    # -- rebinding engine functions -------------------------------------
    def wrap_function(self, fn, name: str, *, capture: bool = False,
                      group: bool = False, after=None) -> None:
        """Rebind ``fn`` to a span-recording wrapper in every loaded
        engine module that holds it (``from x import fn`` copies the
        binding, so each importer must be patched).  ``after(out)``
        runs on the result, outside the span."""
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, what=fn.__name__, group=group):
                out = fn(*a, **kw)
            if capture:
                self.captured[fn.__name__].append(out)
            if after is not None:
                after(out)
            return out

        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "") or ""
            if not (mname.startswith("jesse_spark") or mname == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, traced)
                    self._undo.append((mod, attr, val))

    def wrap_method(self, cls, attr: str, name_of) -> None:
        """Rebind ``cls.attr``; ``name_of(self, *args)`` names the span
        (or returns None to leave the call unrecorded)."""
        orig = getattr(cls, attr)

        @functools.wraps(orig)
        def traced(obj, *a, **kw):
            name = name_of(obj, *a, **kw)
            if name is None:
                return orig(obj, *a, **kw)
            with self.span(name, what=attr):
                return orig(obj, *a, **kw)

        setattr(cls, attr, traced)
        self._undo.append((cls, attr, orig))

    def patch(self, obj, attr: str, new) -> None:
        self._undo.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, new)

    def count_py4j(self, gateway_client) -> None:
        """Count py4j round trips made from this process."""
        orig = type(gateway_client).send_command

        def counted(obj, *a, **kw):
            self._py4j_calls += 1
            return orig(obj, *a, **kw)

        self.patch(type(gateway_client), "send_command", counted)

    def restore(self) -> None:
        while self._undo:
            obj, attr, val = self._undo.pop()
            setattr(obj, attr, val)

    # -- reading spans ---------------------------------------------------
    def select(self, name: str, what: str | None = None) -> list[dict]:
        """Outermost spans of ``name`` (optionally of one ``what``): a
        span nested in a span of the same name is already covered."""
        by_id = {s["id"]: s for s in self.spans}
        return [s for s in self.spans
                if s["name"] == name and (what is None or s["what"] == what)
                and (s["parent"] is None or by_id[s["parent"]]["name"] != name)]

    def total(self, name: str, what: str | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.select(name, what))

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its direct children
        cover (children of one span never overlap: one thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def top_level_time(self, exclude: str = "trace") -> float:
        """Time covered by outermost spans, less the tracer's own."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] is None and s["name"] != exclude)
