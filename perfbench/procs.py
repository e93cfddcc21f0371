"""Processes by session id, read from /proc."""

from __future__ import annotations

import os


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes whose session id is `sid`."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(entry))
    return out
