"""Process helpers read from /proc: the run's process tree, its CPU time
and peak RSS, the host's CPU steal, and stopping the JVM and everything
below the run.

CPU time excludes steal (time the hypervisor gave the VM's CPUs to other
guests), so it stays put when a shared host gets busy; wall times of the
same work drifted up to 2x with steal (see README).
"""

from __future__ import annotations

import os
import signal
import sys
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def process_tree() -> dict[int, list[int]]:
    """Parent pid -> child pids."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def host_cpu() -> list[int]:
    """The host's summed CPU jiffies: user, nice, system, idle, iowait,
    irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


#: the JVM's JIT compiler threads (comm is cut to 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class TreeSampler(threading.Thread):
    """Samples this process and every process below it, except the load
    generator's tree, every 0.2 s: peak summed RSS, and CPU time.

    ``cpu_s()`` is the CPU (user + system) the tree has used so far, less
    the JVM's JIT compiler threads (reported apart by ``jit_s()``): how
    much compiling is left after warm-up depends on timing, and it made
    the CPU of the same pages vary by 2x. It also leaves out this
    sampler's own thread and, through ``cutime``, this process's reaped
    children (the load generator). Descendants' reaped children count
    (the Python workers the PySpark daemon forks and waits for). A JIT
    thread's last 0.2 s before it exits stays in ``cpu_s()``."""

    def __init__(self, exclude):
        super().__init__(daemon=True)
        self.exclude = exclude  # callable -> pid to leave out, or None
        self.peak_kb = 0
        self._jit: dict[tuple, int] = {}  # (pid, tid, start) -> ticks
        self.series: list[tuple[float, float]] = []  # (time.time(), cpu_s()) per periodic sample
        self._comm: dict[tuple, str] = {}  # (pid, tid) -> thread name
        self._tid = None
        self._lock = threading.Lock()
        self._stop_evt = threading.Event()

    def _sample(self) -> int:
        """One pass; returns the tree's CPU ticks without JIT threads."""
        kids = process_tree()
        skip = self.exclude()
        me = os.getpid()
        rss, ticks, todo = 0, 0, [me]
        while todo:
            pid = todo.pop()
            if pid == skip:
                continue
            todo.extend(kids.get(pid, ()))
            st = _stat(pid)
            if st is None:
                continue
            rss += _status_kb(pid, "VmRSS:")
            ticks += int(st[11]) + int(st[12]) + (int(st[13]) + int(st[14]) if pid != me else 0)
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                comm = self._comm.get((pid, tid))
                if comm is None:
                    try:
                        with open(f"/proc/{pid}/task/{tid}/comm") as f:
                            comm = f.read().strip()
                    except OSError:
                        continue
                    if comm not in ("java", "python", "python3"):  # named by now
                        self._comm[(pid, tid)] = comm
                if comm in JIT_THREADS:
                    tst = _stat_task(pid, tid)
                    if tst is not None:
                        self._jit[(pid, tid, tst[19])] = int(tst[11]) + int(tst[12])
        if self._tid is not None:
            own = _stat_task(me, self._tid)
            if own is not None:
                ticks -= int(own[11]) + int(own[12])
        self.peak_kb = max(self.peak_kb, rss)
        return ticks - sum(self._jit.values())

    def cpu_s(self) -> float:
        with self._lock:
            return self._sample() / CLK_TCK

    def jit_s(self) -> float:
        with self._lock:
            self._sample()
            return sum(self._jit.values()) / CLK_TCK

    def run(self):
        self._tid = threading.get_native_id()
        while not self._stop_evt.is_set():
            with self._lock:
                self.series.append((time.time(), self._sample() / CLK_TCK))
            self._stop_evt.wait(0.2)

    def stop(self):
        self._stop_evt.set()
        self.join()
        self.cpu_s()


def _stat_task(pid: int, tid) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/task/{tid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _start_time(pid: int) -> str | None:
    """Start time of a live (not zombie) process, or None once it is gone."""
    st = _stat(pid)
    return None if st is None or st[0] in ("Z", "X") else st[19]


def descendants() -> dict[int, str]:
    """Every live process below this one, with its start time (so a
    recycled pid is not mistaken for it)."""
    kids = process_tree()
    out: dict[int, str] = {}
    todo = list(kids.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        st = _start_time(pid)
        if st is not None:
            out[pid] = st
        todo.extend(kids.get(pid, ()))
    return out


def stop_jvm() -> None:
    """Shut the py4j gateway and end its JVM. ``SparkSession.stop`` leaves
    the JVM running until it reads EOF on its stdin, which happens only
    when this process exits, so it would outlive the run."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM is ended below either way
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    try:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on EOF
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 - timed out or pipe already gone
        proc.kill()
        proc.wait()


def reap(procs: dict[int, str], grace_s: float = 15.0) -> list[int]:
    """Wait until each process has ended; SIGTERM after ``grace_s``,
    SIGKILL five seconds later. Returns the pids that would not end."""
    deadline = time.monotonic() + grace_s
    sent: signal.Signals | None = None
    while True:
        alive = [p for p, st in procs.items() if _start_time(p) == st]
        if not alive:
            return []
        now = time.monotonic()
        if now >= deadline:
            if sent == signal.SIGKILL:
                return alive
            sent = signal.SIGTERM if sent is None else signal.SIGKILL
            for p in alive:
                try:
                    os.kill(p, sent)
                except OSError:
                    pass
            deadline = now + 5.0
        try:  # reap any that are this process's own children
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        time.sleep(0.05)
