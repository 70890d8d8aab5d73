"""Measurement plumbing for the benchmark: Spark status-store stage deltas,
spans, process-tree memory sampling and host steal time.

Everything here reads state the program already keeps (the JVM status
store, ``/proc``); nothing changes what the measured code does.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

MB = 1024 * 1024

# per-stage fields summed into a delta (name -> StageData accessor)
_STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_read_records": "shuffleReadRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_write_records": "shuffleWriteRecords",
    "spill_bytes": "diskBytesSpilled",
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
}


class StatusStore:
    """Reads stage and job deltas from the Spark status store.

    ``AppStatusStore.stageList`` takes five arguments in Spark 4.1
    (statuses, details, withSummaries, unsortedQuantiles, taskStatus) and
    returns stages newest first, so a delta walks the list only until it
    reaches a stage it has already seen. The status listener runs even with
    the UI disabled; ``settle()`` drains the listener bus so the stages of
    an action that just returned are visible."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._all_tasks = gw.jvm.java.util.ArrayList()
        self._last_stage, self._last_job = self._heads()

    def settle(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _heads(self) -> tuple[int, int]:
        self.settle()
        stages = self._stage_seq()
        jobs = self._store.jobsList(None)
        s = stages.apply(0).stageId() if stages.size() else -1
        j = jobs.apply(0).jobId() if jobs.size() else -1
        return int(s), int(j)

    def _stage_seq(self):
        return self._store.stageList(
            None, False, False, self._no_quantiles, self._all_tasks
        )

    def mark(self) -> None:
        """Forget everything up to now (the next delta starts here)."""
        self._last_stage, self._last_job = self._heads()

    def delta(self) -> dict:
        """Summed metrics of the stages and jobs since the last mark/delta."""
        self.settle()
        out = dict.fromkeys(_STAGE_FIELDS, 0)
        out.update(stages=0, skipped_stages=0, jobs=0)
        stages = self._stage_seq()
        head = self._last_stage
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = int(st.stageId())
            if sid <= self._last_stage:
                break
            head = max(head, sid)
            if st.status().toString() == "SKIPPED":
                out["skipped_stages"] += 1
                continue
            out["stages"] += 1
            for key, attr in _STAGE_FIELDS.items():
                out[key] += int(getattr(st, attr)())
        self._last_stage = head
        jobs = self._store.jobsList(None)
        jhead = self._last_job
        for i in range(jobs.size()):
            jid = int(jobs.apply(i).jobId())
            if jid <= self._last_job:
                break
            jhead = max(jhead, jid)
            out["jobs"] += 1
        self._last_job = jhead
        return out


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    iteration: int | None = None
    stages: dict = field(default_factory=dict)
    bookkeeping: float = 0.0  # tracer time spent inside this span

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def seconds(self) -> float:
        """Wall time less the tracer's own status-store reads."""
        return self.wall - self.bookkeeping


class Tracer:
    """Spans around calls into the engine's layers. Each span carries the
    status-store stage delta of the work that ran inside it; a child span
    takes its own delta first, so the parent's delta is its self part.
    Spans stay in memory until the run writes them out."""

    def __init__(self, store: StatusStore) -> None:
        self.store = store
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.iteration: int | None = None
        self.bookkeeping = 0.0  # total seconds spent reading the store

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_seconds(self, idx: int) -> float:
        sp = self.spans[idx]
        kids = sum(s.seconds for s in self.spans if s.parent == idx)
        return sp.seconds - kids

    def as_records(self) -> list[dict]:
        return [
            {
                "id": i, "name": s.name, "parent": s.parent,
                "iteration": s.iteration, "start": s.start, "end": s.end,
                "seconds": s.seconds, "wall": s.wall, "stages": s.stages,
            }
            for i, s in enumerate(self.spans)
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.t, self.name = tracer, name

    def __enter__(self) -> Span:
        t = self.t
        b0 = time.perf_counter()
        # close the parent's running delta so it holds only its own stages
        if t._stack:
            _add(t.spans[t._stack[-1]].stages, t.store.delta())
        else:
            t.store.mark()
        parent = t._stack[-1] if t._stack else None
        sp = Span(self.name, time.perf_counter(), parent=parent,
                  iteration=t.iteration)
        t.bookkeeping += sp.start - b0
        sp.bookkeeping = -t.bookkeeping  # completed at exit
        t.spans.append(sp)
        t._stack.append(len(t.spans) - 1)
        return sp

    def __exit__(self, *exc) -> None:
        t = self.t
        end = time.perf_counter()
        idx = t._stack.pop()
        sp = t.spans[idx]
        sp.end = end
        sp.bookkeeping += t.bookkeeping
        _add(sp.stages, t.store.delta())
        t.bookkeeping += time.perf_counter() - end


def _add(acc: dict, d: dict) -> None:
    for k, v in d.items():
        acc[k] = acc.get(k, 0) + v


def tree_stage_total(tracer: Tracer, idx: int, key: str) -> int:
    """A stage metric summed over a span and all its descendants."""
    total = tracer.spans[idx].stages.get(key, 0)
    for i, s in enumerate(tracer.spans):
        if s.parent == idx:
            total += tree_stage_total(tracer, i, key)
    return total


# ---------------------------------------------------------------------------
# /proc readers
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> set[int]:
    kids = _children_map()
    out, todo = set(), list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(kids.get(pid, ()))
    return out


def wait_gone(pids: set[int], timeout: float) -> set[int]:
    """Wait until none of ``pids`` is running (zombies count as ended);
    returns those still alive at the timeout."""
    deadline = time.monotonic() + timeout
    alive = set(pids)
    while alive and time.monotonic() < deadline:
        for pid in list(alive):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
            except OSError:
                alive.discard(pid)
                continue
            if stat[stat.rindex(")") + 2] == "Z":
                alive.discard(pid)
        if alive:
            time.sleep(0.1)
    return alive


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes sharing it. Summing RSS instead double-counts the JVM
    whenever it forks a helper (``chmod``) and counts the Python workers'
    copy-on-write pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss(root: int) -> dict[int, int]:
    """PSS bytes of ``root`` and every descendant (driver, JVM, workers)."""
    kids = _children_map()
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        out[pid] = _pss_bytes(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class MemorySampler:
    """Background sampler of the process tree's summed resident memory
    (PSS); keeps the peak and, for diagnosis, the per-process split at the
    peak."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self.peak_split: list[tuple[str, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pss = tree_pss(me)
            total = sum(pss.values())
            if total > self.peak:
                self.peak = total
                self.peak_split = [(_comm(p), b // MB) for p, b in pss.items()]
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return vals[7], sum(vals[:8])


def process_age_seconds() -> float:
    """Seconds since this process started (``/proc/self/stat`` field 22)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker and
    checksum files."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files
