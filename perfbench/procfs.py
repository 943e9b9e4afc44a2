"""Session readings from ``/proc``: members, resident memory, CPU.

The measured process leads its own session, and the JVM it launches and
that JVM's Python workers stay in it (the PySpark daemon moves its workers
to a process group of their own, not to a new session). Summing over the
session covers the driver, the JVM and every worker without instrumenting
any of them.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # exited between listdir and open
        return None
    # comm may contain spaces: fields restart after its closing ')'
    return raw[raw.rindex(")") + 2:].split()


def session_stats(sid: int) -> dict[int, list[str]]:
    """pid → ``/proc/<pid>/stat`` fields (from ``state`` on) of every live
    member of session ``sid``."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None and int(f[3]) == sid and f[0] != "Z":
                out[int(name)] = f
    return out


def session_rss_bytes(sid: int) -> int:
    return sum(int(f[21]) for f in session_stats(sid).values()) * _PAGE


def session_cpu_seconds(sid: int) -> float:
    """User+system CPU of the session's live members plus the children they
    already reaped (a reaped worker's time lands in its parent's cutime)."""
    return sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
               for f in session_stats(sid).values()) / _TICK
