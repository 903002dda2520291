"""Closed-loop operation runner, layer spans and Spark counter capture.

One ``Recorder`` per run. Every operation runs inside ``rec.op(...)``
(timed with ``perf_counter``, and charged the CPU time its process
tree spent, read from ``/proc`` before and after the wall timer); every
call into an engine module runs inside ``rec.layer(...)``. Untraced
runs only time operations. Traced runs additionally

* tag each layer call's Spark jobs with
  ``setJobGroup("<workload>:<op id>:<layer>#<n>")``,
* keep a span per layer call (name, start, end, parent, op id) in
  memory, and
* after the operation's timer has stopped, drain the listener bus and
  read the in-process status store (``sc.statusStore()``) for the
  jobs of each group: jobs, stages, tasks, job spans, executor run/CPU
  time, shuffle/input/output/spill bytes.

Nothing is read from the status store inside a timed region.
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

STAGE_FIELDS = (
    ("tasks", "numTasks"),
    ("executor_run_ms", "executorRunTime"),
    ("executor_cpu_ns", "executorCpuTime"),
    ("input_bytes", "inputBytes"),
    ("output_bytes", "outputBytes"),
    ("shuffle_read_bytes", "shuffleReadBytes"),
    ("shuffle_write_bytes", "shuffleWriteBytes"),
    ("spill_bytes", "diskBytesSpilled"),
)


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """CPU time (user + system, steal excluded) of this process and all
    its descendants: the Spark JVM and its Python workers, with the CPU
    of children that already exited."""
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # exited while listing
                continue
            # fields after the command name: [1] ppid, [11:15] utime,
            # stime, cutime, cstime (clock ticks)
            procs[int(pid)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    mine = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _) in procs.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    return sum(procs[p][1] for p in mine if p in procs) / _TICK


class Recorder:
    def __init__(self, spark, workload: str, traced: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.traced = traced
        self.attempted = 0
        self.failed = 0
        self.latency = defaultdict(list)  # op kind -> [seconds]
        self.cpu = defaultdict(list)  # op kind -> [CPU seconds]
        self.spans = []  # dicts: id, parent, op, name, t0, t1
        self.stack = []
        self.op_id = 0
        self.groups = []  # (group, layer) of the current op
        self.group_stack = []
        self.counters = defaultdict(lambda: defaultdict(float))  # layer -> key -> value
        self.gap_s = 0.0
        self.trace_cost_s = 0.0
        self._seq = 0

    # ------------------------------------------------------------ timing

    @contextmanager
    def op(self, kind: str, name: str | None = None):
        """One closed-loop operation. An exception fails the operation
        (counted, traceback on stderr) and the loop goes on."""
        self.op_id += 1
        self.attempted += 1
        self.groups = []
        name = name or kind
        span = None
        if self.traced:
            span = self._open(f"op.{kind}")
            self._push_group(f"op.{kind}")
        state = {"ok": True}
        c0 = cpu_seconds()
        t0 = time.perf_counter()
        try:
            yield state
        except Exception:
            state["ok"] = False
            print(f"[perfbench] op {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
        wall = time.perf_counter() - t0
        self.cpu[kind].append(cpu_seconds() - c0)
        if span is not None:
            self._close(span)
            self.group_stack.pop()
            self.sc.setJobGroup(f"{self.workload}:idle", "")
        if state["ok"]:
            self.latency[kind].append(wall)
        else:
            self.failed += 1
        gc.collect()
        if self.traced:
            self._capture(wall)

    def check(self, ok: bool, what: str) -> None:
        """Record an output check as its own operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[perfbench] check failed: {what}", file=sys.stderr)

    @contextmanager
    def layer(self, name: str):
        """One call into an engine module (a no-op when untraced, and
        outside operations, i.e. during set-up)."""
        if not (self.traced and self.group_stack):
            yield
            return
        c0 = time.perf_counter()
        self._push_group(name)
        span = self._open(name)
        self.trace_cost_s += time.perf_counter() - c0
        try:
            yield
        finally:
            c1 = time.perf_counter()
            self._close(span)
            self.group_stack.pop()
            self.sc.setJobGroup(self.group_stack[-1], "")
            self.trace_cost_s += time.perf_counter() - c1

    def attribute_group(self, group: str, layer: str) -> None:
        """Attribute jobs that run under a job group Spark set itself
        (a streaming query tags its micro-batch jobs with its runId)."""
        if self.traced:
            self.groups.append((group, layer))

    def _push_group(self, layer: str) -> None:
        self._seq += 1
        group = f"{self.workload}:{self.op_id}:{layer}#{self._seq}"
        self.groups.append((group, layer))
        self.group_stack.append(group)
        self.sc.setJobGroup(group, layer)

    def _open(self, name: str) -> dict:
        span = {
            "id": len(self.spans),
            "parent": self.stack[-1]["id"] if self.stack else None,
            "op": self.op_id,
            "name": name,
            "t0": time.perf_counter(),
            "t1": None,
        }
        self.spans.append(span)
        self.stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["t1"] = time.perf_counter()
        self.stack.pop()

    # ---------------------------------------------------------- counters

    def _capture(self, wall: float) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        jvm = self.sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        spans_ms = []
        for group, layer in self.groups:
            c = self.counters[layer]
            for job_id in tracker.getJobIdsForGroup(group):
                job = store.job(job_id)
                c["jobs"] += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    a, b = sub.get().getTime(), done.get().getTime()
                    spans_ms.append((a, b))
                    c["job_s"] += (b - a) / 1000.0
                it = job.stageIds().iterator()
                while it.hasNext():
                    attempts = store.stageData(it.next(), False, no_status, False, no_quantiles)
                    for i in range(attempts.size()):
                        st = attempts.apply(i)
                        if st.status().toString() == "SKIPPED":
                            continue
                        c["stages"] += 1
                        for key, getter in STAGE_FIELDS:
                            c[key] += getattr(st, getter)()
        # driver gap: the op's wall minus the union of its job spans
        # (job times are epoch ms; op wall is measured in-process)
        busy, end = 0, None
        for a, b in sorted(spans_ms):
            if end is None or a > end:
                busy += b - a
                end = b
            elif b > end:
                busy += b - end
                end = b
        self.gap_s += max(0.0, wall - busy / 1000.0)

    # ----------------------------------------------------------- reports

    def p50(self, kind: str) -> float:
        return statistics.median(self.latency[kind])

    def self_times(self) -> dict:
        """Per span name: total and self time (span minus its
        children), summed over the run."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["t1"] - s["t0"]
        out = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        for s in self.spans:
            d = s["t1"] - s["t0"]
            row = out[s["name"]]
            row["calls"] += 1
            row["total_s"] += d
            row["self_s"] += d - child[s["id"]]
        return dict(out)

    def total(self, prefix: str, key: str) -> float:
        return sum(c[key] for layer, c in self.counters.items() if layer.startswith(prefix))

    def span_total(self, prefix: str) -> float:
        return sum(s["t1"] - s["t0"] for s in self.spans if s["name"].startswith(prefix))

    def span_calls(self, prefix: str) -> int:
        return sum(1 for s in self.spans if s["name"].startswith(prefix))
