"""Processes of a run's session, read from ``/proc`` (no psutil)."""

from __future__ import annotations

import os
import signal
import time


def proc_stat(pid: int):
    """(state, session id) of ``pid``, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None
    return fields[0], int(fields[3])


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``."""
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = proc_stat(int(name))
            if st and st[1] == sid and st[0] != "Z":
                pids.append(int(name))
    return pids


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return 0


def die_with_parent() -> None:
    """In a child before exec: have the kernel kill it if the process
    that started it dies, even by SIGKILL.  The engine's JVM and Python
    workers exit once their driver interpreter is gone."""
    import ctypes

    PR_SET_PDEATHSIG = 1
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_PDEATHSIG, signal.SIGKILL)


def stop_session(sid: int, timeout: float = 20.0) -> None:
    """Terminate every process left in session ``sid`` and wait until
    each has ended."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
        if time.monotonic() > deadline - timeout / 2:
            sig = signal.SIGKILL
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} outlived the run")
