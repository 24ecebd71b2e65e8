"""Outside-in tracer: spans around public module attributes, Spark job
groups per span, per-stage metrics from the JVM status store, and Python
worker CPU/RSS from /proc.

Nothing inside ``outbreak_kg_spark`` is edited. ``Tracer.wrap`` swaps a
module (or class) attribute for a timing wrapper and ``Tracer.close``
puts the original back. Only the outermost span of a call chain sets a
job group, so every Spark job an op triggers lands in exactly one group;
inner spans (``queries.*`` inside an endpoint, ``ground.scan_text``
inside ``get_curie``) record driver wall time only.

Status-store reads are deferred until ``Tracer.collect()``, which the
workloads call after each op, outside its timed window.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")
_GROUP_SEQ = itertools.count(1)  # job groups unique per process


# ---- /proc ---------------------------------------------------------------

def _proc_stat(pid: int):
    """(ppid, utime+stime+cutime+cstime in ticks) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    rest = s[s.rindex(")") + 2:].split()
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def _proc_table() -> dict[int, tuple[int, int]]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _proc_stat(int(d))
            if st is not None:
                out[int(d)] = st
    return out


def _descendants(table, root: int) -> list[int]:
    kids = defaultdict(list)
    for pid, (ppid, _t) in table.items():
        kids[ppid].append(pid)
    out, stack = [], list(kids.get(root, ()))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, ()))
    return out


class ProcTree:
    """CPU seconds of this process tree and of the JVM's Python workers.

    Worker CPU includes ``cutime``/``cstime``, so the time of a worker
    that exited and was reaped by the PySpark daemon is still counted."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.self_pid = os.getpid()

    def cpu_s(self) -> tuple[float, float]:
        """(whole tree, Python workers only)."""
        table = _proc_table()
        tree = [self.self_pid, *_descendants(table, self.self_pid)]
        workers = _descendants(table, self.jvm_pid)
        total = sum(table[p][1] for p in tree if p in table)
        py = sum(table[p][1] for p in workers if p in table)
        return total / _TICK, py / _TICK

    def workers(self) -> list[int]:
        return _descendants(_proc_table(), self.jvm_pid)

    def reset_rss_peaks(self) -> None:
        """Restart every worker's VmHWM from its current RSS."""
        for pid in self.workers():
            with contextlib.suppress(OSError):
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")

    def py_rss_peak_mb(self) -> float:
        """Largest VmHWM among the live Python workers, in MB."""
        peak = 0
        for pid in self.workers():
            with contextlib.suppress(OSError):
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            peak = max(peak, int(line.split()[1]))
                            break
        return peak / 1024.0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


# ---- spans -----------------------------------------------------------------

STAGE_FIELDS = ("wall_s", "exec_cpu_s", "py_cpu_s", "shuffle_mb",
                "spill_mb", "jobs", "tasks", "tasks_failed",
                "stages_skipped")


class Tracer:
    """Per-span accumulator. ``enabled=False`` makes ``wrap`` a no-op, so
    untraced runs execute the library exactly as shipped."""

    def __init__(self, spark, procs: ProcTree, enabled: bool):
        self.sc = spark.sparkContext
        self.procs = procs
        self.enabled = enabled
        self.totals: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self._active: list[str] = []
        self._pending: list[tuple[str, str]] = []
        self._undo: list[tuple[object, str, object]] = []

    # -- patching -------------------------------------------------------------
    def wrap(self, owner, attr: str, name_of) -> None:
        """Replace ``owner.attr`` with a span; ``name_of(args, kwargs)``
        gives the span name (a str, or a fixed str instead of a callable)."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        namer = name_of if callable(name_of) else (lambda a, k: name_of)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(namer(args, kwargs)):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def wrap_module(self, module, prefix: str) -> None:
        """Span every public function defined in ``module``."""
        for attr, val in list(vars(module).items()):
            if (callable(val) and not attr.startswith("_")
                    and getattr(val, "__module__", None) == module.__name__
                    and not isinstance(val, type)):
                self.wrap(module, attr, f"{prefix}.{attr}")

    def close(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- spans ----------------------------------------------------------------
    def _set_group(self, group: str | None, desc: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, desc)

    @contextlib.contextmanager
    def span(self, name: str):
        """Time ``name``; the outermost span also owns a job group."""
        if not self.enabled or name in self._active:
            yield
            return
        outer = not self._active
        if outer:
            group = f"perfbench-{next(_GROUP_SEQ)}"
            self._set_group(group, name)
            _c0, py0 = self.procs.cpu_s()
        self._active.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self._active.pop()
            self.totals[name]["wall_s"] += wall
            if outer:
                _c1, py1 = self.procs.cpu_s()
                self.totals[name]["py_cpu_s"] += py1 - py0
                self._set_group(None, None)
                self._pending.append((name, group))

    def collect(self) -> None:
        """Fold the status-store metrics of finished spans into totals."""
        if not self._pending:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for name, group in self._pending:
            acc = self.totals[name]
            stage_ids = set()
            for jid in tracker.getJobIdsForGroup(group):
                acc["jobs"] += 1
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            for sid in stage_ids:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # evicted from the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    acc["stages_skipped"] += 1
                    continue
                acc["exec_cpu_s"] += sd.executorCpuTime() / 1e9
                acc["shuffle_mb"] += sd.shuffleWriteBytes() / 1e6
                acc["spill_mb"] += (sd.memoryBytesSpilled()
                                    + sd.diskBytesSpilled()) / 1e6
                acc["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                acc["tasks_failed"] += sd.numFailedTasks()
        self._pending.clear()

    def layer(self, names) -> dict[str, float]:
        """Sum of the totals of several span names."""
        out = {f: 0.0 for f in STAGE_FIELDS}
        for n in names:
            for f, v in self.totals.get(n, {}).items():
                out[f] = out.get(f, 0.0) + v
        return out
