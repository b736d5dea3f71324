"""Measurement plumbing: in-memory spans, Spark stage metrics, and the CPU
time and resident memory of the driver JVM with its Python workers, read
from ``/proc``."""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

MB = float(1 << 20)


class Tracer:
    """Spans recorded around calls into the program: name, start, end, the
    enclosing span and the pass they belong to. Kept in memory; ``dump``
    writes them out once the run is over. With a ``StageProbe`` each span
    also gets the Spark stage totals of what ran inside it."""

    def __init__(self, probe: "StageProbe | None" = None) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._probe = probe
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, pass_id: str):
        mark = self._probe.mark() if self._probe else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "pass": pass_id,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._open.pop()
        if self._probe:
            rec["stages"] = self._probe.since(mark)

    @staticmethod
    def dur(span: dict) -> float:
        return span["end"] - span["start"]

    def dump(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {**s, "self": selfs[s["id"]], **({"stages": asdict(s["stages"])} if "stages" in s else {})}
            for s in self.spans
        ]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], reach), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


@dataclass
class StageStats:
    """Totals over the Spark stages one call ran."""

    stages: int = 0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    gc_s: float = 0.0  # CPU time of the JVM's collector threads, see gc_cpu_s
    task_skew: float = 1.0  # max ÷ median task run time of the busiest stage


class StageProbe:
    """Reads Spark's own stage metrics from the status store (works with
    the UI disabled). Stage ids only grow, so the stages a call ran are the
    ones numbered above the mark taken before it. Collector CPU comes from
    the JVM's threads instead: Spark's per-task GC time is whole
    milliseconds of pauses only, and reads 0 for most calls here."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._pid = jvm.java.lang.ProcessHandle.current().pid()
        gw = spark.sparkContext._gateway
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._none = jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def _stages(self):
        return self._store.stageList(self._none, False, False, self._no_quantiles, self._none)

    def mark(self) -> tuple[int, float]:
        st = self._stages()
        return (st.apply(0).stageId() if st.length() else -1), gc_cpu_s(self._pid)

    def since(self, mark: tuple[int, float]) -> StageStats:
        mark, gc0 = mark
        st = self._stages()  # newest first
        out = StageStats(gc_s=gc_cpu_s(self._pid) - gc0)
        busiest, busiest_run = None, -1
        for i in range(st.length()):
            s = st.apply(i)
            if s.stageId() <= mark:
                break
            if str(s.status()) == "SKIPPED":
                continue
            out.stages += 1
            out.shuffle_mb += s.shuffleWriteBytes() / MB
            out.spill_mb += s.diskBytesSpilled() / MB
            if s.executorRunTime() > busiest_run:
                busiest, busiest_run = s, s.executorRunTime()
        if busiest is not None:
            summary = self._store.taskSummary(busiest.stageId(), busiest.attemptId(), self._quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                out.task_skew = run.apply(1) / max(run.apply(0), 1.0)
        return out


def _ppid(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            p = _ppid(d)
            if p is not None:
                kids.setdefault(p, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds used so far by ``root`` and its
    descendants, every thread of each. A child that exited is counted in its parent's total once
    the parent has reaped it (Python workers are reaped by their daemon)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return total / tick


def thread_cpu_s(pid: int, *prefixes: str) -> float:
    """On-CPU seconds so far of the threads of ``pid`` whose name starts
    with one of ``prefixes``, from ``schedstat`` (nanosecond resolution)."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(prefixes):
                    continue
            with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                total += int(f.read().split()[0])
        except (OSError, IndexError, ValueError):
            pass
    return total / 1e9


def jit_cpu_s(pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads: the JVM compiling
    itself, not work of the program."""
    return thread_cpu_s(pid, "C1 Compiler", "C2 Compiler")


def gc_cpu_s(pid: int) -> float:
    """CPU seconds of the JVM's garbage-collector threads (G1's pause
    workers and its concurrent marking, refinement and service threads)."""
    return thread_cpu_s(pid, "GC Thread", "G1 ")


def steal_s() -> float:
    """CPU seconds the hypervisor took from this machine so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def tree_pss_mb(root: int) -> dict[int, float]:
    """Proportional set size in MB of ``root`` and each descendant: pages
    shared between processes (a fork before exec, a pre-forked worker) are
    split among them, so the sum is the tree's real resident footprint."""
    out = {}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1]) * 1024 / MB
                        break
        except (OSError, IndexError, ValueError):
            pass
    return out


class RssSampler:
    """Peak resident memory (PSS) of a process tree, sampled every
    ``interval`` seconds on a background thread between ``start`` and
    ``stop``. ``cpu_s`` is the CPU time that thread has used, so that it can
    be left out of the CPU time of the process it runs in."""

    def __init__(self, root: int, interval: float = 0.1) -> None:
        self._root = root
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.peak_mb = 0.0
        self.at_peak: dict = {}
        self.cpu_s = 0.0

    def _run(self) -> None:
        while True:
            rss = tree_pss_mb(self._root)
            if sum(rss.values()) > self.peak_mb:
                self.peak_mb = sum(rss.values())
                self.at_peak = {"processes": len(rss), "root_mb": rss.get(self._root, 0.0),
                                "mb": sorted(round(v) for v in rss.values())}
            self.cpu_s = time.thread_time()
            if self._stop.wait(self._interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return self.peak_mb
