"""Peak proportional set size (PSS) of a process tree, from /proc.

The tree is this driver, the JVM it launched and the Python worker
daemon the JVM forks workers from, so the sum covers every process
the run starts. PSS splits shared pages between the processes that
map them, so forked workers that share the daemon's pages are not
counted twice.
"""

from __future__ import annotations

import os
import threading


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses; fields resume
    # after the last ')': state, then ppid
    return int(stat[stat.rindex(")") + 2 :].split()[1])


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            ppid = _ppid(int(name))
            if ppid is not None:
                children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def pss_kb(pid: int) -> int:
    """PSS of one process in kB; 0 once it has exited."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace").strip()
    except OSError:
        return ""


class PssSampler:
    """Samples the summed PSS of a process tree on a background thread
    until :meth:`stop`; keeps the peak and the command lines seen."""

    def __init__(self, root: int | None = None, interval_s: float = 0.2) -> None:
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_by_pid: dict[int, int] = {}
        self.samples = 0
        self.seen: dict[int, str] = {}
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="pss-sampler", daemon=True)

    def sample(self) -> int:
        by_pid = {}
        for pid in descendants(self.root):
            # re-read: spark-submit's shell scripts exec into the JVM
            self.seen[pid] = cmdline(pid) or self.seen.get(pid, "")
            by_pid[pid] = pss_kb(pid)
        total = sum(by_pid.values())
        if total > self.peak_kb:
            self.peak_kb, self.peak_by_pid = total, by_pid
        self.samples += 1
        return total

    def peak_breakdown(self) -> dict[str, int]:
        """kB at the peak by program: driver, jvm, python workers."""
        out: dict[str, int] = {}
        for pid, kb in self.peak_by_pid.items():
            cmd = self.seen.get(pid, "")
            kind = "driver" if pid == self.root else "jvm" if "java" in cmd.split(" ")[0] else (
                "python_workers" if "pyspark" in cmd else "other")
            out[kind] = out.get(kind, 0) + kb
        out["processes"] = len(self.peak_by_pid)
        return out

    def _loop(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.interval_s)

    def start(self) -> "PssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling, take one last sample and return the peak in MB
        (10^6 bytes; /proc reports kB of 1024 bytes)."""
        self._halt.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak_kb * 1024 / 1e6
