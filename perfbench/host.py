"""Host fit, host stamp and the resident-memory sampler.

The Spark session is sized from the host: ``local[N]`` with N the CPUs
this process may run on, and driver memory from the host's memory.
Nothing is pinned to cores."""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import threading
import time

# Fixed-work probe: one child per CPU runs this kernel; the stamp records
# the wall time for all of them, so a slow host shows next to the numbers.
_PROBE_KERNEL = (
    "import numpy as np\n"
    "rng = np.random.default_rng(7)\n"
    "a = rng.random((400, 400)); b = rng.random((400, 400))\n"
    "for _ in range(20): a = 0.5 * (a @ b) / a.max()\n"
)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def driver_memory_gb() -> int:
    """The engine's own default driver memory, 8 GB, capped at half of the
    host's memory so the JVM heap never needs what the host lacks. The
    heap grows only as far as the passes need, so the resident-memory peak
    follows the program's use rather than the cap."""
    return max(1, min(8, _meminfo_kb("MemTotal") // (2 * 1024 * 1024)))


def probe_s() -> float:
    """Wall seconds for ``cpus()`` copies of a fixed numpy kernel."""
    t0 = time.monotonic()
    procs = [subprocess.Popen([sys.executable, "-c", _PROBE_KERNEL],
                              stdout=subprocess.DEVNULL,
                              stderr=subprocess.PIPE)
             for _ in range(cpus())]
    errors = [p.communicate()[1] for p in procs]
    bad = [e.decode(errors="replace")[-200:]
           for p, e in zip(procs, errors) if p.returncode != 0]
    if bad:
        raise RuntimeError("host probe failed: " + "; ".join(bad))
    return time.monotonic() - t0


def cpu_times() -> list[int]:
    """The host's summed CPU times from /proc/stat (user … steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host's CPU time taken by other guests between two
    ``cpu_times`` readings; a run that shows a high share ran slow."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def source_digest(root: str) -> str:
    """Digest of the package sources, so records of a checkout that is not
    a git repository still name the code they measured."""
    h = hashlib.sha1()
    pkg = os.path.join(root, "angola_erp_ocr_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def stamp(root: str, seed: int) -> dict:
    return {
        "cpus": cpus(),
        "mem_total_gb": round(_meminfo_kb("MemTotal") / (1024 * 1024), 1),
        "driver_memory_gb": driver_memory_gb(),
        "loadavg": list(os.getloadavg()),
        "probe_s": round(probe_s(), 4),
        "git_sha": git_sha(root),
        "source_digest": source_digest(root),
        "seed": seed,
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants, from the parent ids in /proc."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    # the command name may hold spaces; fields after ')'
                    fields = f.read().rsplit(")", 1)[1].split()
                parent[int(name)] = int(fields[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out.extend(frontier)
    return out


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_ended(pids: list[int], timeout_s: float) -> None:
    """Wait until every process in ``pids`` has ended, at most
    ``timeout_s`` in all."""
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while _running(pid) and time.monotonic() < deadline:
            time.sleep(0.05)


# The sampler reads resident memory every SAMPLE_S and re-lists the process
# tree every RELIST_S, so it holds the interpreter lock for little of the
# Spark driver's time.
SAMPLE_S = 0.1
RELIST_S = 1.0


class RssSampler:
    """Samples the summed resident memory of a process tree (the JVM and
    its Python workers) in a background thread; ``peak_mb`` is the highest
    sum seen between ``start`` and ``stop``."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pids, listed = [], 0.0
        while not self._stop.is_set():
            if time.monotonic() - listed >= RELIST_S:
                pids, listed = process_tree(self.root_pid), time.monotonic()
            kb = sum(_rss_kb(p) for p in pids)
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(SAMPLE_S)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
