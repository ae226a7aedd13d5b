"""Processes of one session, read from ``/proc``."""

from __future__ import annotations

import os
from typing import Iterator


def session_stats(sid: int) -> Iterator[tuple[int, list[str]]]:
    """``(pid, fields)`` of every process in session ``sid``, ``fields``
    being ``/proc/<pid>/stat`` after the command name: ``fields[0]`` is
    the state, ``fields[3]`` the session, ``fields[11:15]`` the user and
    system clock ticks of the process and of its reaped children."""
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        if int(fields[3]) == sid:
            yield int(p), fields
