"""Read-only probes the benchmark takes from outside the engine: the host,
``/proc``, the JVM's management beans and Spark's status store."""

from __future__ import annotations

import os
import platform

CLK_TCK = os.sysconf("SC_CLK_TCK")


def du_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass  # removed while walking
    return total


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return ""


def cpu_ticks() -> dict:
    """Host-wide ``steal`` and ``iowait`` ticks from /proc/stat."""
    fields = _read("/proc/stat").splitlines()[0].split()[1:]
    vals = [int(v) for v in fields] + [0] * 8
    return {"iowait": vals[4], "steal": vals[7]}


def load_avg() -> float:
    return float(_read("/proc/loadavg").split()[0])


def host_block() -> dict:
    """What the numbers were measured on; recorded, never used to drop a run."""
    mem_kb = 0
    for line in _read("/proc/meminfo").splitlines():
        if line.startswith("MemTotal:"):
            mem_kb = int(line.split()[1])
    try:
        import pyspark

        pyspark_version = pyspark.__version__
    except ImportError:
        pyspark_version = "missing"
    return {
        "nproc": os.cpu_count(),
        "sched_cpus": len(os.sched_getaffinity(0)),
        "cgroup_cpu_max": _read("/sys/fs/cgroup/cpu.max") or "unknown",
        "mem_total_mb": mem_kb // 1024,
        "python": platform.python_version(),
        "pyspark": pyspark_version,
    }


def _stat_fields(pid: int) -> list[str] | None:
    raw = _read(f"/proc/{pid}/stat")
    if not raw:
        return None
    # comm may contain spaces; fields resume after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def _tree(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f:
                parent[int(d)] = int(f[1])
    out, frontier = [root], [root]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        out += kids
        frontier = kids
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of a process and every live descendant, plus what the
    already-reaped ones left in their parents' ``cutime``/``cstime``. The
    JVM forks the PySpark worker daemon, so Python UDF time lands here too."""
    ticks = 0
    for pid in _tree(root):
        f = _stat_fields(pid)
        if f:
            ticks += sum(int(v) for v in f[11:15])
    return ticks / CLK_TCK


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def vm_hwm_mb(pid: int) -> float:
    for line in _read(f"/proc/{pid}/status").splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    return 0.0


class Jvm:
    """The driver JVM behind a session: pid, JIT and GC time, status store."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        self._mf = mf
        self.pid = int(mf.getRuntimeMXBean().getPid())
        self._store = self.sc._jsc.sc().statusStore()
        self._tracker = self.sc.statusTracker()

    def cpu_s(self) -> float:
        return tree_cpu_s(self.pid)

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(self.pid)

    def jit_s(self) -> float:
        return self._mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0

    def gc_s(self) -> float:
        beans = self._mf.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def config(self) -> dict:
        conf = self.spark.conf
        return {
            "master": self.sc.master,
            "default_parallelism": self.sc.defaultParallelism,
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": self.sc.getConf().get("spark.driver.memory", "default"),
            "spark": self.sc.version,
            "java": self.sc._jvm.java.lang.System.getProperty("java.runtime.version"),
        }

    def job_ids(self, groups) -> set[int]:
        ids: set[int] = set()
        for g in groups:
            ids.update(self._tracker.getJobIdsForGroup(g))
        return ids

    def exec_metrics(self, job_ids) -> dict:
        """Sum the status store's stage data over ``job_ids``' stages (a
        stage shared by several jobs counts once; skipped stages have no
        attempt and count as nothing)."""
        out = {
            "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        }
        stages: set[int] = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            stages.update(info.stageIds)
        mb = 1024.0 * 1024.0
        for sid in stages:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:
                continue  # skipped stage: never ran
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["run_s"] += sd.executorRunTime() / 1000.0
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / mb
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / mb
            out["spill_mb"] += sd.diskBytesSpilled() / mb
        return out
