"""Measurement plumbing shared by the workloads.

Everything here observes the program from outside: wall clocks around
public calls, Spark job groups read back through ``statusTracker`` and
the application status store, file-system sizes, and process RSS.
Nothing in ``magictables_spark`` is patched.
"""

from __future__ import annotations

import math
import os
import statistics
import time
from contextlib import contextmanager

MB = 1024 * 1024


def median(values):
    return statistics.median(values) if values else 0.0


def geomean(values):
    values = [v for v in values if v > 0]
    if not values:
        return 0.0
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``; 0, 0 when it does not exist."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except FileNotFoundError:  # removed by a concurrent vacuum
                continue
            files += 1
    return total, files


def host_cpu_ticks() -> tuple[int, int]:
    """(stolen, busy) CPU ticks of the whole host so far, from /proc/stat:
    ticks the hypervisor gave to other guests while this one wanted to
    run, and ticks this guest ran (user, system, irq) plus stolen ones."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return steal, user + nice + system + irq + softirq + steal


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Run:
    """One benchmark process: the Spark session, the op ledger and the
    sample store every workload records into.

    ``samples[name]`` holds wall times (seconds) per op kind from
    untraced cycles and ``tsamples[name]`` the same from traced cycles;
    ``counts[name]`` holds one value per traced cycle for a per-layer
    counter. ``tracing`` is true while a traced cycle runs.
    """

    def __init__(self, spark, seed: int, work_dir: str, tiny: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.work_dir = work_dir
        self.tiny = tiny
        self.attempted = 0
        self.failed = 0
        self.known_attempted = 0  # ops that exercise a known defect
        self.known_failed = 0
        self.tracing = False
        self.samples: dict[str, list[float]] = {}
        self.tsamples: dict[str, list[float]] = {}
        self.counts: dict[str, list[float]] = {}
        self.errors: list[str] = []
        self.session_s = 0.0  # get_spark() wall time
        self.gc_s = 0.0  # time spent collecting garbage between cycles
        self.excluded_s = 0.0  # input generation and expected outputs, kept out of setup_s
        self._group_seq = 0
        self._jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    # -- op ledger ----------------------------------------------------------

    def check(self, ok: bool, what: str) -> None:
        """Count one op; a wrong or failed output is a failed op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def check_known_defect(self, ok: bool, what: str) -> None:
        """Count an op that exercises a known, still open defect. It is
        reported in the per-layer ``failed_ratio`` (so its fix shows as a
        drop) but not in the run's ``failed`` count."""
        self.known_attempted += 1
        if not ok:
            self.known_failed += 1
            self.errors.append(f"known defect: {what}")

    def failed_ratio(self) -> float:
        failed = self.failed + self.known_failed
        return failed / max(self.attempted + self.known_attempted, 1)

    def sample(self, name: str, seconds: float) -> None:
        store = self.tsamples if self.tracing else self.samples
        store.setdefault(name, []).append(seconds)

    def count(self, name: str, value: float) -> None:
        """Record a per-layer counter for this cycle (traced cycles only)."""
        if self.tracing:
            self.counts.setdefault(name, []).append(value)

    # -- host ---------------------------------------------------------------

    def gc(self) -> None:
        """Collect garbage in the JVM and in Python, outside timed regions."""
        import gc

        t0 = time.perf_counter()
        self.spark._jvm.java.lang.System.gc()
        gc.collect()
        self.gc_s += time.perf_counter() - t0

    def peak_rss_mb(self) -> float:
        """High-water RSS of this interpreter plus the Spark JVM it started."""
        return (_vm_hwm_kb("self") + _vm_hwm_kb(self._jvm_pid)) / 1024

    # -- Spark job groups (traced cycles only) -----------------------------

    @contextmanager
    def jobs(self, label: str, out: dict):
        """Run the body in a fresh Spark job group and, when it ends, add
        the group's job/stage/task counters to ``out``. A no-op outside a
        traced cycle, so untraced cycles execute exactly as a user's."""
        if not self.tracing:
            yield
            return
        self._group_seq += 1
        gid = f"perfbench-{self._group_seq}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            _add_group_stats(self.sc, gid, out)


def job_kind(call_site: str) -> str:
    """Classify a job by its call site: parquet/json schema inference,
    checkpoint materialisation, or anything else."""
    head = call_site.split(" at ", 1)[0]
    if head in ("parquet", "json"):
        return "schema"
    if head.lower().endswith("checkpoint"):  # checkpoint, localCheckpoint
        return "checkpoint"
    return "other"


def _add_group_stats(sc, gid: str, out: dict) -> None:
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stages = set()
    for jid in sc.statusTracker().getJobIdsForGroup(gid):
        job = store.job(jid)
        kind = job_kind(job.name())
        out["jobs"] = out.get("jobs", 0) + 1
        out[f"jobs_{kind}"] = out.get(f"jobs_{kind}", 0) + 1
        ids = job.stageIds()
        stages.update(ids.apply(i) for i in range(ids.size()))
    for sid in stages:
        st = store.lastStageAttempt(sid)
        out["tasks"] = out.get("tasks", 0) + st.numCompleteTasks()
        out["executor_ms"] = out.get("executor_ms", 0) + st.executorRunTime()
        out["shuffle_mb"] = out.get("shuffle_mb", 0) + (
            st.shuffleReadBytes() + st.shuffleWriteBytes()
        ) / MB
        out["spill_mb"] = out.get("spill_mb", 0) + (
            st.memoryBytesSpilled() + st.diskBytesSpilled()
        ) / MB


class Clock:
    """``with clock: ...`` accumulates wall seconds into ``clock.s``."""

    def __init__(self):
        self.s = 0.0

    def __enter__(self):
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s += time.perf_counter() - self._t0
        return False
