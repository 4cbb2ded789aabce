"""CPU time and peak memory of the Spark JVM and its descendants, read
from /proc (Linux). The pyspark daemon is the JVM's child and forks the
Python workers, so a worker that has exited and been reaped still counts
through its parent's ``cutime``/``cstime``. ``stop_tree`` ends such a tree
and waits until every process in it has ended."""

from __future__ import annotations

import os
import signal
import subprocess
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu s, reaped children's cpu s), None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return None
    # fields[0] is field 3 (state): ppid=4, utime=14, stime=15, cutime=16, cstime=17
    ppid = int(fields[1])
    own = (int(fields[11]) + int(fields[12])) / _TICK
    reaped = (int(fields[13]) + int(fields[14])) / _TICK
    return ppid, own, reaped


def tree_cpu(root: int) -> tuple[float, float]:
    """(JVM's own cpu s, cpu s of all its descendants, live or reaped)."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                stats[int(entry)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    if root not in stats:
        raise RuntimeError(f"process {root} is not running")
    jvm_own = stats[root][1]
    desc = stats[root][2]
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        _, own, reaped = stats[pid]
        desc += own + reaped
        todo.extend(kids.get(pid, []))
    return jvm_own, desc


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` of ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def descendants(root: int) -> set[int]:
    """Pids of every live process under ``root``."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                kids.setdefault(st[0], []).append(int(entry))
    found, todo = set(), list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        found.add(pid)
        todo.extend(kids.get(pid, []))
    return found


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return False


def stop_tree(proc: subprocess.Popen, grace_s: float = 30.0) -> None:
    """End the Popen ``proc`` and every process under it, and return
    only when all of them have ended. The Spark gateway JVM exits when
    its stdin closes; what is still running after ``grace_s`` is killed."""
    pids = descendants(proc.pid)
    if proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    try:
        proc.wait(grace_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    pids |= descendants(proc.pid)
    deadline = time.monotonic() + grace_s
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            if _alive(pid):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        while any(_alive(p) for p in pids) and (
                sig == signal.SIGKILL or time.monotonic() < deadline):
            time.sleep(0.05)
