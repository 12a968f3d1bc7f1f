"""Environment stamp, contention probe, CPU steal and peak-memory reading.

Nothing here imports numpy or pyspark, so ``run.py`` can set BLAS and
Spark environment variables before either loads.
"""

from __future__ import annotations

import ctypes
import os
import platform
import re
import signal
import subprocess
import sys
import time

# The contention probe is the same spin as bench.py's load_proxy /
# parallel_stretch, so the two tools' figures compare. The nominal is
# bench.py's calibrated idle single-thread time for this loop.
SPIN_ITERS = 2_000_000
SPIN_NOMINAL_S = 0.20
CONTENDED_STRETCH = 1.8
CONTENDED_STEAL = 0.05  # share of CPU time stolen during the run


def spin(n_iter: int) -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(n_iter):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def parallel_spin(procs: int) -> float:
    """Wall time of ``procs`` concurrent spins, one process each, started
    together once every process has loaded. Plain child processes, each
    waited for, rather than a multiprocessing pool: a pool leaves its
    resource-tracker process behind the run."""
    cmd = [sys.executable, os.path.abspath(__file__), str(SPIN_ITERS)]
    kids = [subprocess.Popen(cmd, stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True)
            for _ in range(procs)]
    try:
        for k in kids:
            k.stdout.readline()  # "ready": the interpreter has loaded
        t0 = time.perf_counter()
        for k in kids:
            k.stdin.write("go\n")
            k.stdin.flush()
        for k in kids:
            k.stdout.readline()  # the child's own spin time
        return time.perf_counter() - t0
    finally:
        for k in kids:
            if k.poll() is None:
                k.kill()
            k.wait()
            k.stdin.close()
            k.stdout.close()


def contention_probe() -> dict:
    """Single-thread spin (load_proxy, against bench.py's nominal) and
    ncpu/2 concurrent spin processes (parallel_stretch, their wall over
    the single spin's). A sample is contended when parallel_stretch
    passes its limit; it is then marked, never dropped. load_proxy is
    informational: its nominal was calibrated on another host."""
    single = min(spin(SPIN_ITERS) for _ in range(2))
    ncpu = os.cpu_count() or 2
    procs = min(16, ncpu // 2) if ncpu >= 4 else 0
    stretch = None
    if procs:
        stretch = min(parallel_spin(procs) for _ in range(2)) / single
    load = single / SPIN_NOMINAL_S
    return {
        "load_proxy": round(load, 3),
        "parallel_stretch": None if stretch is None else round(stretch, 3),
        "mt_procs": procs,
        "contended": stretch is not None and stretch > CONTENDED_STRETCH,
    }


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make processes orphaned below this one (Spark's Python daemon, say,
    once the JVM that forked it has exited) its children, so that
    ``reap_children`` can wait for them. Linux only; a no-op elsewhere."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(
            PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def child_pids(pid: int) -> list[int]:
    """Live and zombie children of ``pid``, from /proc."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # ended while listing
            continue
        if int(stat[stat.rindex(")") + 2:].split()[1]) == pid:
            out.append(int(name))
    return out


def reap_children(grace_s: float = 10.0) -> list[int]:
    """Stop every process still below this one and wait until each has
    ended: SIGTERM, then SIGKILL after ``grace_s``. Returns the pids that
    were still running when called (empty after a clean shutdown)."""
    me = os.getpid()
    left = child_pids(me)
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        kids = child_pids(me)
        if not kids:
            return left
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:  # reaped elsewhere
                pass


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks summed over all CPUs since boot, from
    /proc/stat. Steal is time a virtual CPU was runnable but the
    hypervisor ran something else: load from other guests that the spin
    probe, which runs before the benchmark, can miss."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    # user nice system idle iowait irq softirq steal
    return ticks[7], sum(ticks)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def _cmd(args: list[str]) -> str:
    try:
        out = subprocess.run(
            args, capture_output=True, text=True, timeout=30, check=False
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    text = (out.stdout + out.stderr).strip()
    return text.splitlines()[0] if text else "unknown"


def git_commit(root: str) -> str:
    """The checkout's commit, or "unknown" outside a git work tree."""
    if os.path.isdir(os.path.join(root, ".git")):
        rev = _cmd(["git", "-C", root, "rev-parse", "HEAD"])
        if re.fullmatch(r"[0-9a-f]{40}", rev):
            return rev
    return "unknown"


def stamp(root: str) -> dict:
    """Host and toolchain facts a reader needs to compare two results.
    Call after numpy and pyspark are importable (it imports both)."""
    import numpy as np
    import pyspark

    blas = {}
    try:
        cfg = np.show_config(mode="dicts")
        dep = cfg.get("Build Dependencies", {}).get("blas", {})
        blas = {
            "name": dep.get("name"),
            "version": dep.get("version"),
            "config": dep.get("openblas configuration"),
        }
    except (TypeError, AttributeError):
        pass
    return {
        "nproc": os.cpu_count(),
        "omp_num_threads": os.environ.get("OMP_NUM_THREADS"),
        "openblas_num_threads": os.environ.get("OPENBLAS_NUM_THREADS"),
        "blas": blas,
        "numpy": np.__version__,
        "pyspark": pyspark.__version__,
        "java": _cmd(["java", "-version"]),
        "python": platform.python_version(),
        "commit": git_commit(root),
    }


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MiB, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


if __name__ == "__main__":
    # one spin of parallel_spin: report ready, wait for "go", spin, report
    print("ready", flush=True)
    sys.stdin.readline()
    print(spin(int(sys.argv[1])), flush=True)
