"""Measurement plumbing for the benchmark: call timing, spans, per-call
Spark counters and process-tree memory. Everything here observes the
program from the outside; nothing is patched into ``vamana_spark``."""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Call:
    """What one timed call produced: its wall and process-tree CPU
    seconds, whether it passed, and in traced mode the Spark jobs /
    stages / tasks it ran."""

    __slots__ = ("seconds", "cpu", "ok", "counts")

    def __init__(self):
        self.seconds = 0.0
        self.cpu = 0.0
        self.ok = True
        self.counts = None


class SparkCounters:
    """Per-call Spark job/stage/task counts read from the status tracker.

    Each call runs in its own job group; after the call the listener bus
    is drained so the tracker has seen every task end, then the group's
    jobs are walked. Stages that ran no task (skipped because an earlier
    job already produced their shuffle output) are not counted."""

    def __init__(self, sc):
        self.sc = sc
        self.n = 0

    def begin(self, name):
        self.n += 1
        gid = f"perfbench-{self.n}"
        self.sc.setJobGroup(gid, name)
        return gid

    def end(self, gid):
        # private but stable JVM API: without it the tracker can lag the
        # task-end events of a job that has just returned
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.sc.setJobGroup("perfbench-glue", "benchmark glue")
        tr = self.sc.statusTracker()
        jobs = tr.getJobIdsForGroup(gid)
        stage_ids = set()
        for j in jobs:
            info = tr.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = failed = 0
        for s in stage_ids:
            si = tr.getStageInfo(s)
            if si is None or (si.numCompletedTasks + si.numFailedTasks) == 0:
                continue
            stages += 1
            tasks += si.numCompletedTasks
            failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


class Recorder:
    """Times every call the benchmark makes into the program and counts
    attempted / failed calls. While ``trace`` is on it also keeps a span
    per call (name, start, end, parent, run id) and the call's Spark
    counts; spans stay in memory until ``write_spans``.

    A call fails if it raises or if its check returns a message."""

    def __init__(self, run_id, cpu_seconds, trace=False):
        self.run_id = run_id
        self.cpu_seconds = cpu_seconds
        self.trace = trace
        self.counters = None
        self.spans = []
        self._stack = []
        self.attempted = 0
        self.failed = 0

    def attach(self, sc):
        self.counters = SparkCounters(sc)

    @contextmanager
    def span(self, name):
        """A span with no failure accounting (the timed phase, benchmark
        glue). A no-op while tracing is off."""
        if not self.trace:
            yield
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def root(self):
        """Index of the most recently opened top-level span."""
        return max(i for i, s in enumerate(self.spans) if s["parent"] is None)

    def call(self, name, fn, check=None):
        """Run ``fn()`` as one timed call into the program, then ``check``
        its result outside the timed interval. Returns (result, Call);
        result is None when the call raised."""
        c = Call()
        self.attempted += 1
        gid = self.counters.begin(name) if (self.trace and self.counters) else None
        result = None
        with self.span(name):
            cpu0 = self.cpu_seconds()
            t0 = time.perf_counter()
            try:
                result = fn()
            except Exception:
                c.ok = False
                traceback.print_exc(file=sys.stderr)
            c.seconds = time.perf_counter() - t0
            c.cpu = self.cpu_seconds() - cpu0
            if gid is not None:
                c.counts = self.counters.end(gid)
        if c.ok and check is not None:
            with self.span("bench.check"):
                try:
                    msg = check(result)
                except Exception as e:  # a malformed output can break a check
                    msg = f"check raised {e!r}"
            if msg:
                c.ok = False
                print(f"check failed in {name}: {msg}", file=sys.stderr)
        if not c.ok:
            self.failed += 1
            result = None
        return result, c

    def self_times(self, root):
        """Self seconds per layer inside span ``root``: each span's
        duration minus the part its children cover, summed by layer. The
        root's own self time is benchmark glue. The values add up to the
        root's duration."""
        kids = {}
        for i, s in enumerate(self.spans):
            kids.setdefault(s["parent"], []).append(i)
        out = {}
        todo = [root]
        while todo:
            i = todo.pop()
            s = self.spans[i]
            child = sum(self.spans[k]["end"] - self.spans[k]["start"] for k in kids.get(i, []))
            layer = "bench" if i == root else layer_of(s["name"])
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child
            todo.extend(kids.get(i, []))
        return out

    def write_spans(self, path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# Layer of each call span that can sit inside a timed loop; any other
# span there (staging inputs, checks) is benchmark glue.
LAYERS = {
    "vamana.search": "vamana.search",
    "dedup.minhash_near_dups": "dedup",
}


def layer_of(span_name):
    return LAYERS.get(span_name, "bench")


class ProcTree:
    """This process and its descendants (the Spark JVM and the Python
    workers it forks), read from /proc. A background thread samples their
    resident memory, keeps the peak of the sum and of each part, and
    keeps every summed sample for ``median_rss``; ``cpu_seconds`` reads
    their CPU time."""

    def __init__(self, period=0.25):
        self.period = period
        self.peak = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "workers": 0.0}
        self.samples = []  # (perf_counter, summed MB)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE") / 2**20
        self._hz = os.sysconf("SC_CLK_TCK")

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self):
        while not self._stop.wait(self.period):
            self.sample()

    def cpu_seconds(self):
        """User + system CPU seconds of the tree so far, including exited
        children that a tree member has reaped. Time the hypervisor steals
        from the VM is not in it, unlike wall time."""
        total = 0
        for p, _ in [(os.getpid(), "")] + self.descendants():
            try:
                with open(f"/proc/{p}/stat") as f:
                    st = f.read()
            except OSError:
                continue
            fields = st[st.rfind(")") + 2 :].split()
            total += sum(int(x) for x in fields[11:15])
        return total / self._hz

    def descendants(self):
        """(pid, command name) of every live descendant of this process."""
        parent, comm = {}, {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    st = f.read()
            except OSError:
                continue
            rp = st.rfind(")")
            comm[int(d)] = st[st.find("(") + 1 : rp]
            parent[int(d)] = int(st[rp + 2 :].split()[1])
        kids = {}
        for p, pp in parent.items():
            kids.setdefault(pp, []).append(p)
        out, todo = [], list(kids.get(os.getpid(), []))
        while todo:
            p = todo.pop()
            out.append((p, comm[p]))
            todo.extend(kids.get(p, []))
        return out

    def sample(self):
        parts = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
        for p, name in [(os.getpid(), "")] + self.descendants():
            try:
                with open(f"/proc/{p}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
            except OSError:
                continue
            if p == os.getpid():
                parts["driver"] += rss
            elif name == "java":
                parts["jvm"] += rss
            else:
                parts["workers"] += rss
        parts["total"] = sum(parts.values())
        self.samples.append((time.perf_counter(), parts["total"]))
        for k, v in parts.items():
            if v > self.peak[k]:
                self.peak[k] = v

    def median_rss(self, t0, t1):
        """Median summed RSS (MB) of the samples taken between t0 and t1."""
        return median([mb for t, mb in self.samples if t0 <= t <= t1])
