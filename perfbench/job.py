"""Launch one spark-submit crawl job and measure its whole process tree.

The benchmark process makes itself a child subreaper, so every process the
job starts (JVM, Python driver, pyspark daemon and workers) stays its
descendant even when orphaned. That lets it sum RSS over the tree while the
job runs, count the tree's CPU time through RUSAGE_CHILDREN once every
process is reaped, and make sure nothing outlives the job.
"""

from __future__ import annotations

import ctypes
import os
import resource
import signal
import subprocess
import threading
import time
from dataclasses import dataclass

PR_SET_CHILD_SUBREAPER = 36
PAGE = os.sysconf("SC_PAGE_SIZE")


def set_subreaper(on: bool = True) -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, int(on), 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses; fields follow the last ')'
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in _ppids().items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = set(), [root]
    while stack:
        for c in kids.get(stack.pop(), ()):
            if c not in out:
                out.add(c)
                stack.append(c)
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]; guest
    # time is already counted in user and nice
    return ticks[7], sum(ticks[:8])


@dataclass
class JobResult:
    returncode: int | None  # None: killed at the timeout
    wall_s: float
    cpu_s: float
    peak_rss_bytes: int
    stdout: str
    # share of the machine's CPU time the hypervisor gave to other guests
    # while the job ran: a diagnostic of how far the host's load moved it
    steal_share: float


def run_job(cmd: list[str], env: dict, cwd, log_path, timeout: float) -> JobResult:
    """Run ``cmd`` to completion and measure it from outside."""
    me = os.getpid()
    before = descendants(me)
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    steal0, total0 = _cpu_ticks()
    peak = 0
    done = threading.Event()
    with open(log_path, "w") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=subprocess.PIPE,
                                stderr=log, text=True)

        def sample():
            nonlocal peak
            while not done.wait(0.2):
                pids = descendants(me) - before
                peak = max(peak, sum(_rss(p) for p in pids))

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            out, _ = proc.communicate(timeout=timeout)
            rc = proc.returncode
        except subprocess.TimeoutExpired:
            rc = None
            out = ""
        wall = time.perf_counter() - t0
        steal1, total1 = _cpu_ticks()
        done.set()
        sampler.join()
    stop_descendants(before)
    proc.wait()
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    cpu = (ru1.ru_utime - ru0.ru_utime) + (ru1.ru_stime - ru0.ru_stime)
    steal = (steal1 - steal0) / max(total1 - total0, 1)
    return JobResult(rc, wall, cpu, peak, out or "", steal)


def stop_descendants(keep: set[int] = frozenset()) -> None:
    """Terminate every descendant of this process that is not in ``keep``,
    and reap it. Orphans of a job are reparented here, so a job's survivors
    are exactly the descendants it added."""
    me = os.getpid()

    def left():
        return descendants(me) - keep

    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not left():
            return
        for p in left():
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline and left():
            for pid in left():
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:  # not our child (yet)
                    pass
            time.sleep(0.05)
