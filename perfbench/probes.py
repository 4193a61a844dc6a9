"""Process-tree and host probes read from /proc (Linux)."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import threading
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid`` and all its descendants (JVM, Python
    workers). PSS, not RSS: pages shared between processes count once, so a
    forked or vfork-ed child does not double the JVM's footprint."""
    kids, todo, total = _children(), [pid], 0
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, ()))
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, reaped children included) of ``pid`` and
    its live descendants."""
    kids, todo, total = _children(), [pid], 0
    tick = os.sysconf("SC_CLK_TCK")
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, ()))
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return total / tick


def host_counters() -> tuple[int, int]:
    """(steal ticks, all ticks) from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


class MemorySampler:
    """Samples the process tree's PSS on a thread; ``peak`` in bytes. One
    sample of a 2 GB JVM costs about 15 ms of kernel time."""

    def __init__(self, period: float = 0.5):
        self.peak = 0
        self._stop = threading.Event()
        self._period = period
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
            self._stop.wait(self._period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# --- host pace -----------------------------------------------------------------
# The host's CPUs are shared with other tenants, and their speed drifts by up
# to a factor of two within minutes (the same crawl took 24 s and 69 s of
# wall time in one hour; its CPU seconds moved with it, steal only partly).
# The probe times a fixed integer loop on PACE_PROCS processes at once,
# independent of Spark and of the package, so it slows with the host but
# never with the program under test.
PACE_PROCS = 4
PACE_OPS = 8_000_000  # loop iterations per process: about 1 s on an idle host

# Each probe process starts, says it is ready, waits for a line on stdin, runs
# the loop and prints its result. Plain subprocesses, not a multiprocessing
# pool: a pool leaves multiprocessing's resource-tracker process running
# until the interpreter exits.
_SPIN = """\
import sys
def spin(n):
    x = 0
    for _ in range(n):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
    return x
print("ready", flush=True)
sys.stdin.readline()
print(spin(int(sys.argv[1])), flush=True)
"""


def pace_probe_s() -> float:
    """Wall seconds PACE_PROCS processes take to run PACE_OPS iterations each."""
    procs = [subprocess.Popen([sys.executable, "-c", _SPIN, str(PACE_OPS)],
                              stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
             for _ in range(PACE_PROCS)]
    try:
        for p in procs:
            p.stdout.readline()  # every interpreter is up before the clock starts
        t = time.perf_counter()
        for p in procs:
            p.stdin.write("go\n")
            p.stdin.flush()
        for p in procs:
            if not p.stdout.readline().strip():
                raise RuntimeError("pace probe process ended early")
        return time.perf_counter() - t
    finally:
        for p in procs:
            p.kill()
            p.wait()
            p.stdin.close()
            p.stdout.close()


# --- child processes -----------------------------------------------------------
# Spark's Python daemon is a child of the JVM, and its workers are children of
# the daemon. When the JVM exits first they would be re-parented to init and
# could outlive the run; as a child subreaper this process inherits them
# instead, so it can wait for every one.
PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux)."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace").strip()[:120]
    except OSError:
        return "?"


def reap_children(grace_s: float = 20.0, term_s: float = 10.0) -> list[str]:
    """Wait until this process has no child left. Children get ``grace_s``
    to end by themselves, then SIGTERM, then after ``term_s`` SIGKILL.
    Orphaned grandchildren re-parented here (see adopt_orphans) are waited
    for the same way. Returns the command lines of the processes signalled."""
    me, signalled, sent = os.getpid(), [], {}
    t0 = time.monotonic()
    while True:
        for pid in _children().get(me, []):
            try:
                os.waitpid(pid, os.WNOHANG)  # reaps the ones that have ended
            except ChildProcessError:
                pass
        kids = _children().get(me, [])
        if not kids:
            return signalled
        waited = time.monotonic() - t0
        sig = (signal.SIGKILL if waited >= grace_s + term_s
               else signal.SIGTERM if waited >= grace_s else None)
        for pid in kids:
            if sig is not None and sent.get(pid) != sig:
                signalled.append(f"{sig.name} {pid} {_cmdline(pid)}")
                sent[pid] = sig
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
