"""Process bookkeeping from ``/proc``: find Spark JVMs, sum peak RSS over a
session's processes, and kill a session (the JVM and its Python workers)."""

from __future__ import annotations

import os
import signal
import time

SPARK_JVM_MARK = b"org.apache.spark.deploy.SparkSubmit"


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def _read(path: str) -> bytes:
    try:
        with open(path, "rb") as f:
            return f.read()
    except OSError:  # the process ended while we looked
        return b""


def session_id(pid: int) -> int | None:
    """Session of a live process; None once it has ended (zombies count as
    ended: they hold no memory and no CPU)."""
    stat = _read(f"/proc/{pid}/stat")
    if not stat:
        return None
    # fields after the parenthesised command: state ppid pgrp session ...
    fields = stat[stat.rfind(b")") + 2:].split()
    if fields[0] in (b"Z", b"X"):
        return None
    return int(fields[3])


def spark_jvms() -> list[int]:
    """Pids of live Spark driver JVMs visible in /proc."""
    return [p for p in _pids() if SPARK_JVM_MARK in _read(f"/proc/{p}/cmdline")]


def session_pids(sid: int) -> list[int]:
    return [p for p in _pids() if session_id(p) == sid]


def peak_rss_mb(sid: int) -> dict[str, float]:
    """VmHWM in MB of every process of session ``sid``, keyed 'pid:command'."""
    out = {}
    for p in session_pids(sid):
        status = _read(f"/proc/{p}/status").splitlines()
        name = next((ln.split()[1].decode() for ln in status if ln.startswith(b"Name:")), "?")
        for line in status:
            if line.startswith(b"VmHWM:"):
                out[f"{p}:{name}"] = int(line.split()[1]) / 1024.0
    return out


def kill_session(sid: int, wait_s: float = 15.0) -> list[int]:
    """SIGKILL every process of session ``sid`` and wait until they are
    gone; returns the pids still alive after ``wait_s``."""
    victims = session_pids(sid)
    for p in victims:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + wait_s
    while time.monotonic() < deadline:
        alive = [p for p in victims if session_id(p) == sid]
        if not alive:
            return []
        time.sleep(0.1)
    return alive
