"""Spans, Spark job attribution and process memory — measured from outside
the program.

``Tracer`` records a span around each call into a layer: the benchmark's
own calls (one op, one runner phase, one query build) and, in a traced
run, calls into the program that ``Instruments`` wraps for the length
of one traced pass. Entering a span sets the Spark job group of the calling
thread to the span's id, so every job the status store later lists can be
given to the span that submitted it — also on the DagRunner's pool
threads, because the wrapper runs in the thread that calls the layer.

``JobLog`` reads finished jobs and their stages from the status store
(``sc._jsc.sc().statusStore()``), which works with the UI disabled.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from contextlib import contextmanager

from stats import Span

GROUP = "spark.jobGroup.id"

SPARK_COUNTERS = (
    "spark.jobs", "spark.stages", "spark.stages_skipped", "spark.tasks",
    "spark.task_run_s", "spark.task_cpu_s", "spark.task_noncpu_s",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.input_bytes", "spark.output_bytes",
)


class Tracer:
    """In-memory span recorder. One op at a time (closed loop, one
    client); spans opened on other threads while an op runs hang under the
    innermost span open on the op's thread."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stacks: dict[int, list[Span]] = {}
        self._lock = threading.Lock()
        self._op: int | None = None
        self._op_thread: int | None = None

    @contextmanager
    def span(self, name: str):
        ident = threading.get_ident()
        stack = self._stacks.setdefault(ident, [])
        if stack:
            parent = stack[-1].sid
        else:
            home = self._stacks.get(self._op_thread) if self._op_thread else None
            parent = home[-1].sid if home else None
        s = Span(next(self._ids), name, 0.0, 0.0, parent, self._op, ident)
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, f"pb-{s.sid}")
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(GROUP, prev)
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def op(self, name: str):
        self._op = next(self._ids)
        self._op_thread = threading.get_ident()
        try:
            with self.span(name) as s:
                yield s
        finally:
            self._op = self._op_thread = None


def _wrap(tracer: Tracer, fn, name_of):
    @functools.wraps(fn)
    def inner(*args, **kwargs):
        with tracer.span(name_of(*args, **kwargs)):
            return fn(*args, **kwargs)

    return inner


class Instruments:
    """Wraps program callables in spans for one traced pass, then puts
    every original back. Module globals are patched where the calling
    module looks them up; instance methods on the objects the benchmark
    built are shadowed by instance attributes."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list = []

    def module_attr(self, module, attr: str, name_of) -> None:
        orig = getattr(module, attr)
        setattr(module, attr, _wrap(self.tracer, orig, name_of))
        self._undo.append(lambda: setattr(module, attr, orig))

    def method(self, obj, attr: str, name_of) -> None:
        setattr(obj, attr, _wrap(self.tracer, getattr(obj, attr), name_of))
        self._undo.append(lambda: delattr(obj, attr))

    def dict_values(self, d: dict, name_of) -> None:
        orig = dict(d)
        for k, fn in orig.items():
            d[k] = _wrap(self.tracer, fn, functools.partial(name_of, k))
        self._undo.append(lambda: d.update(orig))

    def warehouse(self, wh) -> None:
        self.method(wh, "overwrite", lambda *a, **k: "tableio.write")
        self.method(wh, "append", lambda *a, **k: "tableio.write")
        self.method(wh, "insert_file", lambda *a, **k: "tableio.insert_file")
        self.method(wh, "read", lambda *a, **k: "tableio.read")

    def audit(self, audit) -> None:
        for m in ("start", "success", "failed"):
            self.method(audit, m, lambda *a, **k: "audit.insert")
        self.method(audit, "fetch_last_watermark", lambda *a, **k: "audit.watermark_fetch")

    def pins(self) -> None:
        """Every module-level name in the package bound to
        ``engine.pin.pin`` (modules import it as ``_pin``)."""
        from end_to_end_azure_data_engineering_spark.engine.pin import pin

        for name, mod in list(sys.modules.items()):
            if name.startswith("end_to_end_azure_data_engineering_spark"):
                for attr, value in list(vars(mod).items()):
                    if value is pin:
                        self.module_attr(mod, attr, lambda *a, **k: "pin")

    def undo(self) -> None:
        while self._undo:
            self._undo.pop()()


class JobLog:
    """Finished Spark jobs and their stage metrics, read once each from the
    status store and kept by id."""

    def __init__(self, sc):
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self.jobs: dict[int, tuple[str | None, tuple[int, ...]]] = {}
        self._stages: dict[int, tuple] = {}

    def refresh(self) -> int:
        """Read jobs not seen yet; returns the highest job id known."""
        try:  # let the listener bus deliver every finished job's events
            self._sc.listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 — private API; a short wait instead
            time.sleep(0.2)
        seq = self._store.jobsList(None)
        for i in range(seq.size()):
            j = seq.apply(i)
            jid = j.jobId()
            if jid in self.jobs:
                continue
            g = j.jobGroup()
            sids = j.stageIds()
            self.jobs[jid] = (
                g.get() if g.isDefined() else None,
                tuple(sids.apply(k) for k in range(sids.size())),
            )
        return max(self.jobs, default=-1)

    def _stage(self, sid: int) -> tuple:
        if sid not in self._stages:
            st = self._store.lastStageAttempt(sid)
            self._stages[sid] = (
                st.status().toString() == "SKIPPED",
                st.numCompleteTasks(),
                st.executorRunTime() / 1e3,
                st.executorCpuTime() / 1e9,
                st.shuffleReadBytes(),
                st.shuffleWriteBytes(),
                st.memoryBytesSpilled() + st.diskBytesSpilled(),
                st.inputBytes(),
                st.outputBytes(),
            )
        return self._stages[sid]

    def counters(self, job_ids) -> dict[str, float]:
        """The ``spark.*`` counters summed over the given jobs. A stage
        shared by several jobs counts once."""
        job_ids = [j for j in job_ids if j in self.jobs]
        sids = sorted({s for j in job_ids for s in self.jobs[j][1]})
        tot = dict.fromkeys(SPARK_COUNTERS, 0.0)
        tot["spark.jobs"] = len(job_ids)
        for sid in sids:
            skipped, tasks, run, cpu, sr, sw, spill, inp, outp = self._stage(sid)
            if skipped:
                tot["spark.stages_skipped"] += 1
                continue
            tot["spark.stages"] += 1
            tot["spark.tasks"] += tasks
            tot["spark.task_run_s"] += run
            tot["spark.task_cpu_s"] += cpu
            tot["spark.shuffle_read_bytes"] += sr
            tot["spark.shuffle_write_bytes"] += sw
            tot["spark.spill_bytes"] += spill
            tot["spark.input_bytes"] += inp
            tot["spark.output_bytes"] += outp
        tot["spark.task_noncpu_s"] = tot["spark.task_run_s"] - tot["spark.task_cpu_s"]
        return tot

    def by_group(self, job_ids) -> dict[str, list[int]]:
        out: dict[str, list[int]] = {}
        for j in job_ids:
            g = self.jobs.get(j, (None,))[0]
            if g:
                out.setdefault(g, []).append(j)
        return out


class PeakRss:
    """Peak resident set of the driver JVM plus this Python process, from
    ``VmHWM``; ``reset`` clears the high-water marks (``clear_refs`` 5)."""

    def __init__(self, pids: list[int]):
        self.pids = pids

    def reset(self) -> None:
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")

    def read_mb(self) -> float:
        kb = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        return kb / 1024.0


def jvm_pid(sc) -> int:
    return int(sc._jvm.java.lang.ProcessHandle.current().pid())
