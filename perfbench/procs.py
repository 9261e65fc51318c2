"""Process-tree accounting and teardown from ``/proc`` (Linux only).

Every benchmark child is started as the leader of a new session
(``setsid``). PySpark's worker daemon moves itself into its own process
GROUP (``os.setpgid(0, 0)`` in ``pyspark/daemon.py``) but never leaves
the session, so "every process with session id == child pid" is the
whole tree: the Python driver, the JVM, the daemon and its workers.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def become_subreaper() -> None:
    """Make orphaned descendants (the JVM, PySpark's daemon) re-parent
    to this process instead of init, so that ``reap`` can collect them
    and none lingers as a zombie after the run."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap() -> None:
    """Collect every exited child without blocking."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def session_pids(sid: int, zombies: bool = False) -> list[int]:
    """Processes whose session id is ``sid`` (live ones only, unless
    ``zombies``)."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat(int(name))
        # f[0] = state, f[3] = session (stat fields 3 and 6)
        if f is not None and int(f[3]) == sid and (zombies or f[0] != "Z"):
            out.append(int(name))
    return out


def cpu_seconds(pids: list[int], reaped: bool = True) -> float:
    """utime+stime of ``pids``, plus that of their reaped children when
    ``reaped`` (stat fields 14-17)."""
    total = 0
    for pid in pids:
        f = _stat(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15 if reaped else 13])
    return total / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def kill_session(sid: int, grace_s: float = 10.0) -> bool:
    """SIGKILL every process of session ``sid`` and wait until none is
    left, zombies included. Returns True when the session is empty."""
    deadline = time.monotonic() + grace_s
    while True:
        reap()
        pids = session_pids(sid, zombies=True)
        if not pids:
            return True
        if time.monotonic() > deadline:
            return False
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        time.sleep(0.05)


def wait_session_empty(sid: int, timeout_s: float) -> bool:
    """Wait for a session to end on its own, reaping as it goes; True
    if it did."""
    deadline = time.monotonic() + timeout_s
    while True:
        reap()
        if not session_pids(sid, zombies=True):
            return True
        if time.monotonic() > deadline:
            return False
        time.sleep(0.05)
