"""Outside-in instruments: spans, Spark status-store reads, the
streaming progress listener and peak memory.

Nothing here patches the engine.  Layer times come from timing calls
into each layer's public functions; executor-side numbers come from
the JVM status store (``sc._jsc.sc().statusStore()``), which Spark
keeps even with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

#: Job-group prefix of every timed operation; setup and checks use
#: other prefixes so the exec numbers cover the timed window only.
OP_GROUP = "perfbench-op"


class Spans:
    """In-memory span log: ``(name, start, end, parent, op)``, with
    times in seconds from the tracer's creation.  Disabled tracers
    record nothing and cost one attribute read per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.rows)
        row = {
            "name": name,
            "start": time.perf_counter() - self.t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
        }
        self.rows.append(row)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            row["end"] = time.perf_counter() - self.t0

    def with_self_time(self) -> list[dict]:
        """Spans with ``self_s`` = duration minus direct children."""
        child = [0.0] * len(self.rows)
        for r in self.rows:
            if r["parent"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        return [
            {**r, "dur_s": r["end"] - r["start"], "self_s": r["end"] - r["start"] - c}
            for r, c in zip(self.rows, child)
        ]

    def total(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.rows if r["name"] == name)


def _opt(v):
    """Scala ``Option`` → Python value or None."""
    return v.get() if v.isDefined() else None


def _ms(date_opt) -> float | None:
    d = _opt(date_opt)
    return None if d is None else float(d.getTime())


def read_status_store(spark) -> dict:
    """Snapshot every job and stage attempt in the status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        sids = j.stageIds()
        jobs.append({
            "id": j.jobId(),
            "group": _opt(j.jobGroup()),
            "submit_ms": _ms(j.submissionTime()),
            "end_ms": _ms(j.completionTime()),
            "stages": [sids.apply(i) for i in range(sids.size())],
        })
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = []
    it = store.stageList(None, False, False, no_quantiles, None).iterator()
    while it.hasNext():
        s = it.next()
        stages.append({
            "id": s.stageId(),
            "attempt": s.attemptId(),
            "status": s.status().toString(),
            "tasks": s.numTasks(),
            "failed_tasks": s.numFailedTasks(),
            "run_ms": s.executorRunTime(),
            "cpu_ns": s.executorCpuTime(),
            "gc_ms": s.jvmGcTime(),
            "input_bytes": s.inputBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.diskBytesSpilled(),
        })
    return {"jobs": jobs, "stages": stages}


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def exec_metrics(snapshot: dict, ops: list[dict], cores: int) -> dict:
    """Executor-side totals over the timed operations' jobs.

    ``ops`` are the timed operation records (``group`` prefix, epoch-ms
    ``t0_ms``/``t1_ms``).  Stage numbers are summed over every attempt
    of every stage a timed job ran (skipped stages, whose shuffle output
    was reused, are left out); ``narrow_stage_s`` is the executor
    time of stages with fewer tasks than cores; ``driver_only_s`` is
    the operation wall time during which none of its jobs ran.
    """
    groups = {op["group"] for op in ops}
    jobs = [j for j in snapshot["jobs"] if j["group"] and j["group"].split(":")[0] in groups]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [
        s for s in snapshot["stages"] if s["id"] in stage_ids and s["status"] != "SKIPPED"
    ]
    run_s = sum(s["run_ms"] for s in stages) / 1e3
    by_group: dict[str, list[tuple[float, float]]] = {}
    for j in jobs:
        if j["submit_ms"] is not None:
            end = j["end_ms"] if j["end_ms"] is not None else j["submit_ms"]
            by_group.setdefault(j["group"].split(":")[0], []).append((j["submit_ms"], end))
    driver_only_ms = sum(
        (op["t1_ms"] - op["t0_ms"])
        - _covered_ms(by_group.get(op["group"], []), op["t0_ms"], op["t1_ms"])
        for op in ops
    )
    wall_s = sum(op["t1_ms"] - op["t0_ms"] for op in ops) / 1e3
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.executor_run_s": run_s,
        "exec.executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "exec.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "exec.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
        "exec.spill_bytes": sum(s["spill_bytes"] for s in stages),
        "exec.core_busy_frac": run_s / (wall_s * cores) if wall_s else 0.0,
        "exec.narrow_stage_s": sum(s["run_ms"] for s in stages if s["tasks"] < cores) / 1e3,
        "exec.driver_only_s": driver_only_ms / 1e3,
        "exec.task_retries": sum(s["failed_tasks"] for s in stages)
        + sum(1 for s in stages if s["attempt"] > 0),
    }


def jobs_in_group(snapshot: dict, group: str) -> int:
    return sum(1 for j in snapshot["jobs"] if j["group"] == group)


def input_bytes_of_groups(snapshot: dict, prefix: str) -> int:
    stage_ids = {
        s for j in snapshot["jobs"] if j["group"] and j["group"].startswith(prefix)
        for s in j["stages"]
    }
    return sum(s["input_bytes"] for s in snapshot["stages"] if s["id"] in stage_ids)


def rdd_disk_bytes(spark) -> int:
    """Bytes on disk held by persisted/checkpointed RDDs right now."""
    return sum(int(r.diskSize()) for r in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def make_progress_listener():
    """A ``StreamingQueryListener`` that accumulates batch progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches = 0
            self.input_rows = 0
            self.state_rows = 0

        def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API name)
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = event.progress
            self.batches += 1
            self.input_rows += int(p.numInputRows)
            state = sum(int(o.numRowsTotal) for o in p.stateOperators)
            self.state_rows = max(self.state_rows, state)

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    return Progress()


def _vm_hwm_kb() -> int:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def memory(spark) -> dict:
    """Peak memory the run used, in MB.

    ``jvm_pools`` is the peak used bytes of every JVM memory pool (heap
    and non-heap), as its ``MemoryPoolMXBean`` reports it; ``python``
    is this process's peak resident set (``VmHWM``).  Used bytes, not
    the JVM's resident set: how much heap G1 reserves and touches
    depends on GC timing, not on what the program keeps live.
    """
    mf = spark._jvm.java.lang.management.ManagementFactory
    pools = {
        p.getName(): p.getPeakUsage().getUsed() / 2**20
        for p in mf.getMemoryPoolMXBeans()
    }
    return {"python": _vm_hwm_kb() / 1024.0, "jvm_pools": pools}


def cpu_ticks() -> list[int]:
    """The machine's cumulative CPU ticks by state (``/proc/stat``)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU ticks between two readings that the hypervisor gave
    to other guests (the ``steal`` state): host noise, not ours."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """``(bytes, files)`` of the files under ``path`` ending in ``suffix``."""
    total = files = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(suffix):
                total += os.path.getsize(os.path.join(dp, f))
                files += 1
    return total, files
