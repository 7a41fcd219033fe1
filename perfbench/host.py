"""Host facts, memory sizing and the storage probe recorded with every run."""

from __future__ import annotations

import os
import statistics
import time


def meminfo_kib() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0])
    return out


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def memory_conf() -> dict[str, str]:
    """Driver heap and off-heap sized from the host, not from the engine's
    fixed session defaults: a fifth of RAM for the heap and a tenth for
    off-heap, each clamped so a small host still starts and a large one
    does not hoard memory other tenants need."""
    ram_mib = meminfo_kib()["MemTotal"] // 1024
    heap = min(max(ram_mib // 5, 1024), 4096)
    off = min(max(ram_mib // 10, 512), 2048)
    return {"spark.driver.memory": f"{heap}m",
            "spark.memory.offHeap.size": f"{off}m"}


def mount_of(path: str) -> dict:
    """The mount holding `path`: longest mount-point prefix in /proc/mounts."""
    path = os.path.realpath(path)
    best = {"mount": "/", "fstype": "unknown", "device": "unknown"}
    with open("/proc/mounts") as f:
        for line in f:
            dev, mnt, fstype = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) \
                    and len(mnt) >= len(best["mount"]):
                best = {"mount": mnt, "fstype": fstype, "device": dev}
    return best


def fsync_probe(directory: str, n: int = 20) -> dict:
    """Median latency of a 4 KiB write + fsync in `directory` (the storage
    control: a drift here explains a drift in commit latency)."""
    path = os.path.join(directory, ".fsync_probe")
    buf = os.urandom(4096)
    lat = []
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    try:
        for _ in range(n):
            t = time.perf_counter()
            os.write(fd, buf)
            os.fsync(fd)
            lat.append(time.perf_counter() - t)
    finally:
        os.close(fd)
        os.unlink(path)
    return {"median_ms": statistics.median(lat) * 1e3,
            "max_ms": max(lat) * 1e3, "n": n}


def shm_free_gib() -> float | None:
    try:
        st = os.statvfs("/dev/shm")
    except OSError:
        return None
    return st.f_bavail * st.f_frsize / 2**30


def facts(work: str) -> dict:
    mi = meminfo_kib()
    return {
        "nproc": cpus(),
        "ram_gib": round(mi["MemTotal"] / 2**20, 2),
        "ram_available_gib": round(mi.get("MemAvailable", 0) / 2**20, 2),
        "shm_free_gib": shm_free_gib(),
        "work_dir_mount": mount_of(work),
    }


def vm_hwm_mib(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")
