"""In-memory span recorder and the wrappers that place spans around the
calls into each layer of ranger_spark, installed from outside the
package.

A span is (name, start, end, parent, query id). Spans nest per thread;
a span with no parent is a root (one served statement, one builder run,
one Astha poll). Wrappers cost one flag test while tracing is off, so
a run can switch tracing on for part of its window and report the
difference as the tracing overhead.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

from perfbench.stats import self_times


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[list] = []  # [name, start, end, parent, qid]
        self.counts: Counter = Counter()
        self._tls = threading.local()
        self._lock = threading.Lock()
        # perf_counter → epoch seconds, to line spans up with Spark's
        # job timestamps
        self.epoch_offset = time.time() - time.perf_counter()

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def current(self) -> int | None:
        st = self._stack()
        return st[-1] if st else None

    def begin(self, name: str, qid: str | None = None) -> int:
        st = self._stack()
        rec = [name, time.perf_counter(), None, st[-1] if st else None, qid]
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        st.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def set_qid(self, qid: str) -> None:
        """Tag the current root span (and so its statement) with ``qid``."""
        st = self._stack()
        if st:
            self.spans[st[0]][4] = qid

    def record(self, name: str, start: float, end: float) -> None:
        """A finished child span of the current span."""
        with self._lock:
            self.spans.append([name, start, end, self.current(), None])

    @contextmanager
    def span(self, name: str, qid: str | None = None):
        if not self.enabled:
            yield
            return
        idx = self.begin(name, qid)
        try:
            yield
        finally:
            self.end(idx)

    def add(self, name: str, v: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += v

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span
        ``name``; ``after(result, args, kwargs)`` sees each result."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **k):
            if not tracer.enabled:
                return orig(*a, **k)
            idx = tracer.begin(name)
            try:
                r = orig(*a, **k)
            finally:
                tracer.end(idx)
            if after is not None:
                after(r, a, k)
            return r

        setattr(owner, attr, wrapper)

    # ------------------------------------------------------------ reports
    def finished(self) -> list[list]:
        return [s for s in self.spans if s[2] is not None]

    def layer_report(self, root_prefix: str) -> dict:
        """Self time per span name over the finished spans, plus the
        accounting of roots whose name starts with ``root_prefix``: the
        share of root wall covered by the self time of the layers below
        it, and the root's own self time as the unaccounted rest."""
        # an unfinished span (a statement still running at report time)
        # counts as zero-length so parent indexes stay valid
        spans = list(self.spans)
        tuples = [(s[1], s[1] if s[2] is None else s[2], s[3]) for s in spans]
        selfs = self_times(tuples)
        by_name: dict[str, float] = defaultdict(float)
        calls: Counter = Counter()
        for s, st in zip(spans, selfs):
            if s[2] is None:
                continue
            by_name[s[0]] += st
            calls[s[0]] += 1
        root_wall = root_self = 0.0
        n_roots = 0
        for i, s in enumerate(spans):
            if s[3] is None and s[2] is not None and s[0].startswith(root_prefix):
                n_roots += 1
                root_wall += s[2] - s[1]
                root_self += selfs[i]
        return {
            "self_s": dict(by_name),
            "calls": dict(calls),
            "roots": n_roots,
            "root_wall_s": root_wall,
            "unaccounted_s": root_self,
            "accounted_ratio": (
                (root_wall - root_self) / root_wall if root_wall else None
            ),
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.finished():
                f.write(json.dumps(s) + "\n")


class TimedLock:
    """Stand-in for the engine's statement RLock that records how long
    each outermost acquire waited and how long the lock was then held."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer
        self._tls = threading.local()

    def __enter__(self):
        depth = getattr(self._tls, "depth", 0)
        if depth == 0 and self._tracer.enabled:
            t0 = time.perf_counter()
            self._inner.acquire()
            self._tracer.record("engine.lock_wait", t0, time.perf_counter())
            self._tls.hold = self._tracer.begin("engine.lock_hold")
        else:
            self._inner.acquire()
            if depth == 0:
                self._tls.hold = None
        self._tls.depth = depth + 1
        return self

    def __exit__(self, *exc):
        self._tls.depth -= 1
        if self._tls.depth == 0 and self._tls.hold is not None:
            self._tracer.end(self._tls.hold)
            self._tls.hold = None
        self._inner.release()
        return False

    def acquire(self, *a, **k):
        return self._inner.acquire(*a, **k)

    def release(self):
        return self._inner.release()


# ---------------------------------------------------------------- spark
def spark_phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) recorded on a DataFrame's
    QueryExecution; phases not run yet are absent."""
    out = {}
    try:
        ph = df._jdf.queryExecution().tracker().phases()
    except Exception:
        return out
    for k in ("analysis", "optimization", "planning"):
        try:
            out[k] = float(ph.apply(k).durationMs())
        except Exception:
            pass
    return out


def spark_job_metrics(spark, groups: list[str]) -> dict:
    """Jobs, stages, tasks, job wall and executor metrics for the Spark
    jobs run under the given job groups, read from the status tracker
    and the application status store. Job walls are also returned as
    epoch intervals so callers can subtract them from their spans."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    tot = Counter()
    intervals: dict[str, list[tuple[float, float]]] = defaultdict(list)
    seen_stages = set()
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            try:
                jd = store.job(jid)
            except Exception:
                continue
            tot["jobs"] += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                s = sub.get().getTime() / 1000.0
                e = done.get().getTime() / 1000.0
                tot["job_wall_ms"] += (e - s) * 1000.0
                intervals[g].append((s, e))
            it = jd.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numCompleteTasks()
                tot["executor_run_ms"] += sd.executorRunTime()
                tot["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                tot["input_bytes"] += sd.inputBytes()
    return {"totals": dict(tot), "intervals": dict(intervals)}


def overlap_s(span: tuple[float, float], intervals) -> float:
    """Seconds of ``span`` covered by the union of ``intervals``."""
    s0, e0 = span
    cov = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        s, e = max(s, s0), min(e, e0)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                cov += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        cov += cur_e - cur_s
    return cov
