"""Memory and storage probes, taken from outside the program.

- :class:`RssSampler` samples the resident set of every process below
  the benchmark process (the Spark JVM and its Python-worker
  tree) from ``/proc`` on a background thread and keeps two peaks: of
  the whole tree, and of the JVM alone.  The benchmark's own
  interpreter, which holds the generated inputs and the oracle's data,
  is left out.
- :func:`dir_bytes` sums a directory's on-disk file sizes, counting a
  hardlinked file once (the staged pipeline publishes the mention
  partition into the triple table by hardlink).
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name sits in parentheses and may hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


class RssSampler:
    """Peak RSS (MB) of ``root``'s descendant processes (``peak_mb``)
    and of the JVMs among them (``peak_jvm_mb``), sampled every
    ``interval`` seconds until :meth:`stop`."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root = root
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_jvm_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            pids = descendants(self.root)
            sizes = {p: _rss_kb(p) / 1024.0 for p in pids}
            self.peak_mb = max(self.peak_mb, sum(sizes.values()))
            self.peak_jvm_mb = max(self.peak_jvm_mb,
                                   sum(mb for p, mb in sizes.items() if _is_jvm(p)))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb


def dir_bytes(path: str) -> int:
    seen: set[tuple[int, int]] = set()
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            key = (st.st_dev, st.st_ino)
            if key not in seen:
                seen.add(key)
                total += st.st_size
    return total
