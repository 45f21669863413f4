"""Tracing for the benchmark's ``--trace 1`` runs.

A ``Tracer`` records a span (id, name, op, parent span, start, end)
around every call the client makes into a layer's public function
(``Tracer.call``) and, once ``instrument`` has run, around the inner
public functions of the storage layers as well, so nested spans show
where an op's time goes. Spans of one op share its ``op`` id. With tracing off,
``call`` is a plain function call and nothing is patched: the untraced
run measures the program alone.

Per-op counters that only the traced run collects:

- Spark jobs / stages / tasks, attributed through a job group per op
  and read back from Spark's status store at the end of the run;
- driver time with no Spark job running (op window minus the union of
  its jobs' submission-to-completion intervals, same store);
- CPU seconds of the JVM and of the Python workers, from ``/proc``
  (the JVM is a child of this process; Python workers descend from it);
- resident memory of the whole process tree.
"""

from __future__ import annotations

import functools
import json
import os
import time

_CLK = os.sysconf("SC_CLK_TCK")


# --- /proc process tree ---------------------------------------------------


def _read_stat(pid: int) -> tuple[int, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces: split after the closing parenthesis
    rest = raw[raw.rindex(")") + 2:].split()
    return int(rest[1]), rest  # ppid, fields from 'state' on


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _read_stat(int(d))
            if st is not None:
                kids.setdefault(st[0], []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _cpu_s(fields: list[str], children: bool) -> float:
    # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
    ticks = int(fields[11]) + int(fields[12])
    if children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / _CLK


def cpu_split() -> tuple[float, float]:
    """(JVM CPU seconds, Python-worker CPU seconds) so far. Worker CPU
    includes reaped workers through their parent's cutime/cstime."""
    jvm = pyw = 0.0
    kids = _children_map()
    for child in kids.get(os.getpid(), []):
        if "java" not in _cmdline(child):
            continue
        st = _read_stat(child)
        if st is not None:
            jvm += _cpu_s(st[1], children=False)
        todo = list(kids.get(child, []))
        while todo:
            p = todo.pop()
            todo.extend(kids.get(p, []))
            st = _read_stat(p)
            if st is not None:
                pyw += _cpu_s(st[1], children=True)
    return jvm, pyw


def tree_rss_mb() -> float:
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1024.0


# --- Spark status store -------------------------------------------------


def job_groups(spark) -> dict[str, dict]:
    """Per job group: job intervals (epoch ms) and the stages and tasks
    that ran, from Spark's status store (the data its UI shows), read
    through the JVM gateway while the session is up. Unlike an event
    log it costs nothing while ops run."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    groups: dict[str, dict] = {}
    it = sc.statusStore().jobsList(None).iterator()
    while it.hasNext():
        job = it.next()
        group = job.jobGroup()
        if group.isEmpty():
            continue
        sub, end = job.submissionTime(), job.completionTime()
        rec = groups.setdefault(group.get(), {"jobs": [], "stages": 0, "tasks": 0})
        rec["jobs"].append([sub.get().getTime() if sub.isDefined() else None,
                            end.get().getTime() if end.isDefined() else None])
        rec["stages"] += job.numCompletedStages()
        rec["tasks"] += job.numCompletedTasks()
    return groups


def busy_ms(intervals: list[list], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    spans = sorted((max(a if a is not None else lo, lo),
                    min(b if b is not None else hi, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
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


# --- spans ----------------------------------------------------------------


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []  # ids of the open spans
        self.overhead_s = 0.0  # tracer bookkeeping between ops

    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        span = {"id": len(self.spans), "name": name, "op": self.op,
                "parent": self._stack[-1] if self._stack else None,
                "depth": len(self._stack), "start": time.time()}
        self.spans.append(span)
        self._stack.append(span["id"])
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            span["end"] = time.time()

    def instrument(self, module, prefix: str, names: list[str]) -> None:
        """Route calls to ``module.<name>`` through ``call`` (traced
        runs only). Same-module callers look globals up at call time,
        so internal calls get spans too."""
        if not self.enabled:
            return
        for name in names:
            setattr(module, name,
                    self._wrap(f"{prefix}.{name}", getattr(module, name)))

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            return self.call(name, fn, *args, **kwargs)

        return wrapped

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
