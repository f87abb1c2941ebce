"""Shared helpers: checkout paths, the Spark process environment,
order statistics, and process-tree accounting (RSS, clean shutdown)."""

from __future__ import annotations

import math
import os
import shlex
import signal
import statistics
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = os.path.join(ROOT, "comlake_core_spark")


def program_present() -> bool:
    """The program is built from source in the checkout; without it there
    is nothing to measure."""
    return all(
        os.path.isfile(os.path.join(PACKAGE, f))
        for f in ("__init__.py", "server.py", "serving.py", "session.py")
    )


def ncpu() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_env(work: str) -> dict[str, str]:
    """Environment for every process that starts a JVM or imports the
    package: all scratch (Spark local dirs, JVM and Python temp files)
    stays inside the checkout's work directory, the core count matches
    the machine, and the driver heap is capped so the benchmark stays
    small on a shared host."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = {
        "SPARK_GRAFT_CPUS": str(ncpu()),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
        ),
        "PYTHONPATH": ROOT
        + (os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""),
    }
    for k in ("SPARK_GRAFT_MATERIALIZE", "SPARK_GRAFT_PERIODIC_GC", "SPARK_GRAFT_AQE_ONLY_BROADCAST"):
        env[k] = ""  # program defaults, whatever the caller's shell says
    return env


def apply_env(env: dict[str, str]) -> None:
    for k, v in env.items():
        if v == "":
            os.environ.pop(k, None)
        else:
            os.environ[k] = v
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# ---------------------------------------------------------------------------
# order statistics
# ---------------------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and its
    label.  Below 20 samples that percentile would sit under the median,
    so the maximum is reported instead."""
    v = sorted(values)
    n = len(v)
    if n >= 20:
        k = n - 11
        return float(v[k]), f"p{100.0 * (k + 1) / n:.1f}"
    return float(v[-1]), "max"


def kind_latency_ms(by_kind: dict[str, list[float]]) -> tuple[float, float]:
    """Geometric means, over operation kinds, of each kind's median and
    tail latency (seconds in, milliseconds out).  Each kind is one /find
    tier, one blob size class, one lifecycle step or one query, so its
    latencies form one cluster; a percentile of the pooled mix would fall
    in the gaps between clusters and jump between runs.  A kind with
    fewer than 20 samples has no percentile above its median with ten
    samples beyond it, so its median stands in for its tail."""
    kinds = [v for v in by_kind.values() if v]
    p50 = [median(v) for v in kinds]
    tails = [tail(v)[0] if len(v) >= 20 else m for v, m in zip(kinds, p50)]
    return geomean(p50) * 1e3, geomean(tails) * 1e3


def geomean(values) -> float:
    """Geometric mean of positive values: each contributes the same
    relative weight, whatever its magnitude."""
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


# ---------------------------------------------------------------------------
# Spark accounting
# ---------------------------------------------------------------------------


class SparkWindow:
    """Spark work between ``mark`` and ``stats``, read from Spark's own
    status store: jobs started, and tasks, shuffle writes, spills and task
    GC time of the stages completed since the mark."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.mark()

    def _max_job(self) -> int:
        ids = list(self.sc.statusTracker().getJobIdsForGroup())
        return max(ids) if ids else -1

    def mark(self) -> None:
        self.stage0 = self._max_stage()
        self.job0 = self._max_job()

    def _stages(self):
        arr = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        it = self.store.stageList(None, False, False, arr, None).iterator()
        while it.hasNext():
            yield it.next()

    def _max_stage(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def stats(self) -> dict:
        tasks = shuffle = spill = gc_ms = 0
        for s in self._stages():
            if s.stageId() > self.stage0 and s.status().toString() == "COMPLETE":
                tasks += s.numCompleteTasks()
                shuffle += s.shuffleWriteBytes()
                spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
                gc_ms += s.jvmGcTime()
        return {
            "jobs": self._max_job() - self.job0,
            "tasks": tasks,
            "shuffle_write_bytes": shuffle,
            "spill_bytes": spill,
            "gc_ms": gc_ms,
        }


# ---------------------------------------------------------------------------
# process trees
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces/parens: fields resume after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def peak_rss_mb(root: int) -> float:
    """Sum of each live process's peak resident set (VmHWM) over the tree
    rooted at ``root``: the primary or driver, its JVM, Python workers."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def reset_peak_rss(root: int) -> None:
    """Restart the VmHWM high-water mark of every process in the tree at
    its current RSS, so a later ``peak_rss_mb`` covers only what ran since
    (set-up's peaks do not count against the measured phase)."""
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def tree_cpu_s(root: int) -> dict[int, float]:
    """User + system CPU seconds of every live process in the tree.  CPU
    time, unlike wall time, does not grow when a shared host's hypervisor
    steals the vCPUs, so it stays comparable between runs on a busy box."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[pid] = (int(fields[11]) + int(fields[12])) / tick  # utime, stime
    return out


def cpu_used_s(before: dict[int, float], after: dict[int, float]) -> float:
    return sum(t - before.get(pid, 0.0) for pid, t in after.items())


def cpu_ticks() -> tuple[int, int]:
    """Machine-wide CPU ticks so far: (all states, stolen by the
    hypervisor), from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the machine's CPU time that the hypervisor gave to other
    tenants between two ``cpu_ticks`` readings."""
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def per_cpu_second(count: float, wall_s: float, steal: float) -> float:
    """``count`` per second of wall time, with the wall time shrunk by
    the share of CPU time stolen meanwhile: on a shared host the same
    work takes longer while other tenants run, and this rate is what the
    run would have reached on the CPU time it was actually given."""
    return count / (wall_s * max(1.0 - steal, 0.05))


def kill_tree(proc, timeout: float = 20.0) -> None:
    """Stop a subprocess started with ``start_new_session=True`` and
    everything under it; waits until the leader has exited and no member
    of its process group is left."""
    if proc is None:
        return
    pgid = proc.pid
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if proc.poll() is not None and not _group_alive(pgid):
                return
            time.sleep(0.05)
    proc.wait()


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited (a
    stopped SparkContext alone leaves the gateway process running until
    the interpreter exits)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - shutting down; the wait below decides
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - hung JVM: kill it
            proc.kill()
            proc.wait()
