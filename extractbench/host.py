"""Process-tree accounting read from /proc (no psutil), host hygiene, and
clean shutdown of the Spark JVM the benchmark starts.

The measured process tree is this Python driver plus every descendant:
the Spark JVM and the Python workers it forks.  CPU of a descendant that
exited during a window is still counted, because its parent's
``cutime``/``cstime`` absorb it when the parent reaps it.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


#: a JVM's JIT compiler threads, by name as /proc shows it (15 characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    """CPU ticks of ``pid``'s live JIT compiler threads."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    total = 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        if raw[raw.index("(") + 1:].startswith(_JIT_THREADS):
            st = raw[raw.rindex(")") + 2:].split()
            total += int(st[11]) + int(st[12])
    return total


def tree_cpu_s(root: int | None = None) -> tuple[float, float]:
    """User+system CPU seconds of the tree, and the part of them spent in
    JIT compiler threads.  For the root only its own time counts (its
    reaped children are unrelated helpers); descendants add their reaped
    children, so exited Python workers are not lost."""
    root = root or os.getpid()
    total = jit = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is None:
            continue
        # fields after comm: state=0 ... utime=11 stime=12 cutime=13 cstime=14
        total += int(st[11]) + int(st[12])
        if pid != root:
            total += int(st[13]) + int(st[14])
            jit += _jit_ticks(pid)
    return total / _TICK, jit / _TICK


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _live_tree(root: int) -> list[int]:
    """The tree without JVM children that still run ``java``: the JVM
    forks before it execs a helper, and such a child shares the JVM's
    pages, which would be counted twice.  (Python workers are forks of
    the PySpark daemon that never exec; they are counted.)"""
    kids = _children_map()
    out, todo = [], [(root, "")]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        if not (exe == parent_exe and os.path.basename(exe) == "java"):
            out.append(pid)
        todo.extend((k, exe) for k in kids.get(pid, ()))
    return out


def reset_peak_rss(root: int | None = None) -> None:
    """Reset every tree process's peak resident set (``VmHWM``)."""
    for pid in _live_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(root: int | None = None) -> float:
    """Sum over the live tree of each process's peak resident set since
    the last ``reset_peak_rss``: exact for the JVM, which dominates, and
    an upper bound for the tree as a whole."""
    total_kb = 0
    for pid in _live_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024


def stray_jvms() -> list[str]:
    """Command lines of running spark-submit or Java processes outside
    this process tree — a second JVM would share the cores being timed."""
    mine = set(tree_pids(os.getpid()))
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) in mine:
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                argv = fh.read().split(b"\0")
        except OSError:
            continue
        if not argv or not argv[0]:
            continue
        cmd = b" ".join(argv).decode(errors="replace")
        if "spark-submit" in cmd or os.path.basename(argv[0]) == b"java":
            found.append(f"{name}: {cmd[:160]}")
    return found


def speed_probe_s(procs: int, n: int = 3_000_000) -> float:
    """Mean CPU seconds that ``procs`` forked processes, one per core,
    each spend on a fixed pure-Python loop: how fast the shared host runs
    code on all the benchmark's cores at this moment."""
    readers = []
    for _ in range(procs):
        r, w = os.pipe()
        pid = os.fork()
        if pid == 0:
            try:
                os.close(r)
                t0, acc = time.thread_time(), 0
                for i in range(n):
                    acc += i
                os.write(w, repr(time.thread_time() - t0).encode())
            finally:
                os._exit(0)
        os.close(w)
        readers.append((pid, r))
    total = 0.0
    for pid, r in readers:
        with os.fdopen(r, "rb") as fh:
            total += float(fh.read())
        os.waitpid(pid, 0)
    return total / procs


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def stop_spark_jvm(timeout_s: float = 60.0) -> None:
    """Stop the active SparkContext, then the gateway JVM this process
    launched and every process under it, and wait until all have exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    pids = [p for p in tree_pids(proc.pid) if p != proc.pid]
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM is killed below either way
        pass
    if proc.stdin is not None:
        proc.stdin.close()   # the gateway exits on stdin EOF
    try:
        proc.wait(timeout=timeout_s / 2)
    except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
        proc.kill()
        proc.wait(timeout=timeout_s / 2)
    deadline = time.time() + timeout_s / 2
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and _stat(pid) is not None \
                and _stat(pid)[0] != "Z":
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.time() + 5
            time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None
