"""In-memory span tracer, Spark stage attribution and process-tree
memory sampling for the benchmark.

Spans are recorded only from the benchmark's own files, around calls
into the library's public functions.  Each span sets a Spark job group,
so the stages a call ran can be read back from Spark's status store
afterwards and attached to it as child spans of layer ``spark``."""

from __future__ import annotations

import contextlib
import os
import threading
import time

#: job group for Spark work outside any span
IDLE_GROUP = "perfbench-idle"

#: StageData accessors summed into each span's ``spark`` counters
STAGE_COUNTERS = {
    "run_s": lambda sd: sd.executorRunTime() / 1e3,
    "cpu_s": lambda sd: sd.executorCpuTime() / 1e9,
    "gc_s": lambda sd: sd.jvmGcTime() / 1e3,
    "tasks": lambda sd: sd.numCompleteTasks() + sd.numFailedTasks(),
    "failed_tasks": lambda sd: sd.numFailedTasks(),
    "shuffle_write_bytes": lambda sd: sd.shuffleWriteBytes(),
    "shuffle_read_bytes": lambda sd: sd.shuffleReadBytes(),
    "result_bytes": lambda sd: sd.resultSize(),
}


class Tracer:
    """Spans kept in memory: name, layer, start, end, parent, op id.

    A disabled tracer records nothing and touches no Spark state, so
    untraced runs pay one no-op context manager per call."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self.bookkeeping_s = 0.0
        self._stack: list[int] = []
        # stage times come from the JVM's wall clock in epoch ms
        self._epoch_offset = time.time() - time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "group": f"perfbench-span-{sid}",
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = t_out = time.perf_counter()
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["group"] if self._stack else IDLE_GROUP
            self.sc.setJobGroup(parent, parent)
            self.bookkeeping_s += time.perf_counter() - t_out

    def attach_stages(self, first_span: int = 0) -> None:
        """Read the stages each span's jobs ran and record them as
        ``spark`` child spans carrying Spark's own counters."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for rec in list(self.spans[first_span:]):
            if rec["layer"] == "spark" or "stages_attached" in rec:
                continue
            rec["stages_attached"] = True
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for stage_id in list(info.stageIds):
                    try:
                        sd = store.lastStageAttempt(int(stage_id))
                    except Exception:  # py4j error: stage evicted or never run
                        continue
                    sub, comp = sd.submissionTime(), sd.completionTime()
                    if not (sub.isDefined() and comp.isDefined()):
                        continue  # skipped stage (reused shuffle output)
                    start = sub.get().getTime() / 1e3 - self._epoch_offset
                    end = comp.get().getTime() / 1e3 - self._epoch_offset
                    self.spans.append(
                        {
                            "id": len(self.spans),
                            "name": f"stage {int(stage_id)}",
                            "layer": "spark",
                            "parent": rec["id"],
                            "op": rec["op"],
                            "stage": int(stage_id),
                            # ms clock resolution: keep the child inside its parent
                            "start": min(max(start, rec["start"]), rec["end"]),
                            "end": min(max(end, rec["start"]), rec["end"]),
                            **{k: f(sd) for k, f in STAGE_COUNTERS.items()},
                        }
                    )


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant, from one scan of /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak resident memory of this process and its descendants (the
    Spark JVM and its Python workers), sampled on a background thread
    inside the ``with`` block."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in process_tree(me))
            self.peak_bytes = max(self.peak_bytes, total)
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False


def contending_processes() -> list[str]:
    """Other ``java`` or ``pytest`` processes on the host that are not
    part of this run: timings taken beside them are not comparable."""
    mine = set(process_tree(os.getpid()))
    found = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) in mine:
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        names = [os.path.basename(a.decode(errors="replace")) for a in argv if a]
        if names and (names[0] == "java" or "pytest" in names):
            found.append(f"{entry}:{names[0]}")
    return found


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs from /proc/stat: on a
    virtual machine, steal is time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)
