"""Host and provenance facts, process age and the process-tree RSS sampler.

Everything here reads /proc or the source tree; nothing starts Spark.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import threading


def process_age_s() -> float:
    """Seconds since this process was started by the kernel (interpreter
    start-up included), from /proc/self/stat and /proc/uptime."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5), counted after ")"
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants() -> list[int]:
    """PIDs of every live descendant of this process."""
    kids = _children_map()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_bytes() -> int:
    """Resident memory of this process plus all its descendants, as the sum
    of their proportional set sizes (Pss in /proc/<pid>/smaps_rollup): a
    page shared by forked Python workers counts once, not once per worker."""
    total = 0
    for p in [os.getpid(), *descendants()]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError, IndexError):
            continue  # exited while sampling
    return total


class RssSampler:
    """Samples the process tree's resident memory on a background thread;
    `peak_bytes` is the largest sample seen between start() and stop()."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes())
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes())


def _meminfo_kb(key: str) -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def _shm_bytes() -> int | None:
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        return None
    return st.f_blocks * st.f_frsize


def source_sha256(root: str, dirs=("kafka_mongo_watcher_spark", "cdcbench")) -> str:
    """Content hash of the engine and benchmark sources (*.py), for checkouts
    that are not git repositories."""
    h = hashlib.sha256()
    for d in dirs:
        for base, subdirs, files in os.walk(os.path.join(root, d)):
            subdirs[:] = sorted(s for s in subdirs if s != "__pycache__")
            for fn in sorted(files):
                if fn.endswith(".py"):
                    p = os.path.join(base, fn)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def git_tree_sha(root: str) -> str | None:
    """`git rev-parse HEAD^{tree}` when `root` is a git work tree, else None."""
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD^{tree}"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat: the share of
    steal over a run is the time a virtual host's CPUs ran someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_block(root: str, spark, master: str) -> dict:
    """The host and provenance block every result carries."""
    mem_kb = _meminfo_kb("MemTotal")
    shm = _shm_bytes()
    return {
        "nproc": nproc(),
        "mem_total_mb": round(mem_kb / 1024) if mem_kb else None,
        "dev_shm_mb": round(shm / 2**20) if shm else None,
        "git_tree_sha": git_tree_sha(root),
        "source_sha256": source_sha256(root),
        "spark_version": spark.version,
        "java_version": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python_version": platform.python_version(),
        "master": master,
        "scaling": "not measured: needs >=8 vCPU",
    }
