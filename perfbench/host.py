"""Host stamp, process-tree memory and process lifetime for one run."""

from __future__ import annotations

import os
import subprocess
import threading
import time

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces: ppid follows the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional resident set size: pages shared between processes (the
    python workers Spark forks from one daemon) count once in a sum."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class TreeRssSampler:
    """Peak resident memory (summed PSS) of this process plus all its
    descendants (the JVM and Spark's python workers), sampled every
    `interval` seconds."""

    def __init__(self, interval: float = 2.0) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> int:
        me = os.getpid()
        total = sum(_pss_bytes(p) for p in [me, *descendants(me)])
        self.peak = max(self.peak, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def freeze(self) -> None:
        """Take a last sample and stop; `peak` keeps its value."""
        if not self._stop.is_set():
            self.sample()
            self._stop.set()
            self._t.join(timeout=5.0)

    def __enter__(self):
        self.sample()
        self._t.start()
        return self

    def __exit__(self, *exc):
        self.freeze()
        return False


def wait_for_exit(pids: list[int], timeout: float = 20.0) -> None:
    """Wait until every pid has exited; TERM then KILL stragglers."""
    import signal

    def alive(p: int) -> bool:
        try:
            with open(f"/proc/{p}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + timeout
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for p in pids:
                if alive(p):
                    try:
                        os.kill(p, sig)
                    except OSError:
                        pass
            deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline and any(alive(p) for p in pids):
            time.sleep(0.05)
        if not any(alive(p) for p in pids):
            break


def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def stamp(root: str, steal: dict, load_start: tuple, seed: int) -> dict:
    """Host and input stamp carried in every result."""
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_model": _cpu_model(),
        **steal,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "seed": seed,
        "git_commit": git_commit(root),
    }


def _cpu_model() -> str | None:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return None
