"""The run's process tree: this driver, the Spark JVM it started and the
Python worker daemon and workers under the JVM. Read from /proc only."""

from __future__ import annotations

import os


def status(pid: int) -> dict:
    out = {}
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                k, _, v = line.partition(":")
                out[k] = v.strip()
    except OSError:
        pass
    return out


def _stat_fields(pid: int) -> list[str] | None:
    """/proc/<pid>/stat from field 3 (state) on; the command name may hold
    spaces, so split after its closing parenthesis."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def alive(pid: int) -> bool:
    state = status(pid).get("State", "")
    return bool(state) and not state.startswith(("Z", "X"))


def count_named(comm: str) -> int:
    n = 0
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/comm") as f:
                    n += f.read().strip() == comm
            except OSError:
                pass
    return n


def peak_rss_mb(jvm_pid: int) -> dict:
    """VmHWM in MB of this driver, the JVM and every process under it."""

    def hwm(pid):
        return int(status(pid).get("VmHWM", "0 kB").split()[0]) / 1024.0

    workers = [hwm(p) for p in descendants(jvm_pid)]
    return {"driver": hwm(os.getpid()), "jvm": hwm(jvm_pid), "workers": sum(workers),
            "n_workers": len(workers)}
