"""Readers for the counters the traced run publishes: ``/proc`` CPU and
memory of the process tree, and Spark's application status store."""

from __future__ import annotations

import os
import threading

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def proc_stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or ``None``
    when the process has gone.  Index 0 is the state, 1 the parent pid, 2
    the process group, 11–14 are utime, stime, cutime and cstime and 19 the
    start time since boot, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = proc_stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def cpu_s(pid: int, children: bool = False) -> float:
    """CPU seconds of ``pid``; with ``children``, of its reaped children only."""
    st = proc_stat(pid)
    if st is None:
        return 0.0
    fields = st[13:15] if children else st[11:13]
    return sum(int(x) for x in fields) / CLK_TCK


def pyworker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the Python processes under the JVM, live and reaped.

    A finished worker's time moves into the ``cutime`` of whichever process
    reaped it (the worker daemon, or the JVM for a daemon or a directly
    launched worker), so the sum stays whole across worker exits; deltas
    of this reading are what the traced run publishes."""
    total = cpu_s(jvm_pid, children=True)
    for pid in descendants(jvm_pid):
        if "python" in _cmdline(pid):
            total += cpu_s(pid) + cpu_s(pid, children=True)
    return total


def age_s(pid: int) -> float:
    """Wall seconds since ``pid`` started, to the clock tick."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(proc_stat(pid)[19]) / CLK_TCK


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every process below it, live and reaped."""
    return sum(cpu_s(pid) + cpu_s(pid, children=True) for pid in [root, *descendants(root)])


def host_cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` clock ticks of all CPUs from ``/proc/stat``: time the
    hypervisor gave to other guests, out of all time."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the resident memory of a process tree on a thread."""

    def __init__(self, root: int, interval_s: float = 0.5) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))


class JitCpu:
    """CPU seconds of the JVM's JIT compiler threads, sampled on a thread.

    HotSpot starts C2 compiler threads as its compile queue grows and stops
    them once idle, and a stopped thread's time leaves ``/proc/<pid>/task``.
    So every ``interval_s`` the compiler threads are read and the last
    reading of each is kept; what is lost with a stopped thread is its last,
    idle, interval."""

    PREFIXES = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, jvm_pid: int, interval_s: float = 0.1) -> None:
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self._is_jit: dict[str, bool] = {}
        self._ticks: dict[str, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="jit-cpu", daemon=True)

    def _sample(self) -> None:
        task = f"/proc/{self.jvm_pid}/task"
        try:
            tids = os.listdir(task)
        except OSError:
            return
        for tid in tids:
            try:
                if tid not in self._is_jit:
                    with open(f"{task}/{tid}/comm") as f:
                        self._is_jit[tid] = f.read().startswith(self.PREFIXES)
                if self._is_jit[tid]:
                    with open(f"{task}/{tid}/stat") as f:
                        raw = f.read()
                    fields = raw[raw.rindex(")") + 2 :].split()
                    self._ticks[tid] = int(fields[11]) + int(fields[12])
            except OSError:  # the thread ended between listing and reading
                pass

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            with self._lock:
                self._sample()

    def start(self) -> JitCpu:
        with self._lock:
            self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def total_s(self) -> float:
        """JIT CPU seconds since the JVM started, as of now."""
        with self._lock:
            self._sample()
            return sum(self._ticks.values()) / CLK_TCK


def jvm_gc_s(spark) -> float:
    """Collection time of every JVM garbage collector so far, in seconds.
    In local mode the Spark driver and its executors share one JVM."""
    management = spark.sparkContext._jvm.java.lang.management
    beans = management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


# Stage counters published per run; inputBytes is left out because it reads
# near zero for the parquet scans of this data size.
STAGE_FIELDS = {
    "tasks": "numTasks",
    "tasks_failed": "numFailedTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "output_bytes": "outputBytes",
}


def _seq(seq) -> list:
    """A Scala ``Seq`` returned through py4j, as a Python list."""
    return [seq.apply(i) for i in range(seq.size())]


def spark_counters_by_group(spark) -> dict[str, dict[str, float]]:
    """Status-store counters summed per job group.

    ``AppStatusStore.stageList`` takes ``(statuses, details, withSummaries,
    quantiles, taskStatuses)`` in Spark 4.1; empty lists select every stage.
    A stage that several jobs list (a reused shuffle) counts once, for the
    first job; skipped stages ran no tasks and count nowhere."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    stages = {}
    for st in _seq(
        store.stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
    ):
        if st.status().toString() == "SKIPPED":
            continue
        row = {k: float(getattr(st, f)()) for k, f in STAGE_FIELDS.items()}
        row["stages"] = 1.0
        # Several attempts of one stage add up.
        prev = stages.get(st.stageId())
        stages[st.stageId()] = (
            {k: prev[k] + v for k, v in row.items()} if prev else row
        )
    out: dict[str, dict[str, float]] = {}
    seen: set[int] = set()
    jobs = sorted(_seq(store.jobsList(jvm.java.util.ArrayList())), key=lambda j: j.jobId())
    for job in jobs:
        group = job.jobGroup().get() if job.jobGroup().isDefined() else ""
        acc = out.setdefault(group, {"jobs": 0.0})
        acc["jobs"] += 1
        for sid in _seq(job.stageIds()):
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            for k, v in stages[sid].items():
                acc[k] = acc.get(k, 0.0) + v
    return out
