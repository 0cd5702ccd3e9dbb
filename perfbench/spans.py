"""Spans around the program's public calls, Spark's own per-stage metrics for
each span, and host measurements.

A span tags the Spark jobs started inside it with a job group of its own and,
when it closes, reads the in-process status store for that group: job count,
executor run and CPU time, shuffle bytes and output bytes. ``driver_s`` is
the span's wall time minus the time any of its jobs was running. Spans stay
in memory and are written out once, when the run ends.

With tracing off, :class:`Tracer` records nothing, so end-to-end numbers are
measured without job groups or status-store reads.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

STANDARD = (
    "wall_s",
    "jobs",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_bytes",
    "output_bytes",
    "driver_s",
)


class StatusReader:
    """Reads job and stage metrics out of Spark's in-process status store
    (works with ``spark.ui.enabled=false``). Each stage is counted once per
    run, so a shuffle stage reused by a later job is not counted again."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._jvm = self.sc._jvm
        self._seen_stages: set[int] = set()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def _attempts(self, stage_id: int):
        """The stage's attempts (StageData), or none when the store no
        longer holds the stage."""
        from py4j.protocol import Py4JJavaError

        gw = self.sc._gateway
        try:
            it = self._store.stageData(
                stage_id, False, self._jvm.java.util.ArrayList(), False,
                gw.new_array(gw.jvm.double, 0),
            ).iterator()
        except Py4JJavaError:
            return
        while it.hasNext():
            yield it.next()

    def _stage_totals(self, stage_id: int) -> dict:
        out = dict.fromkeys(
            ("executor_run_s", "executor_cpu_s", "shuffle_bytes", "output_bytes",
             "input_bytes"), 0.0
        )
        if stage_id in self._seen_stages:
            return out
        self._seen_stages.add(stage_id)
        for s in self._attempts(stage_id):
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
            out["output_bytes"] += s.outputBytes()
            out["input_bytes"] += s.inputBytes()
        return out

    def jobs(self, ids: list[int]) -> list[dict]:
        """Per job: start/end (epoch seconds), description and stage totals."""
        out = []
        for jid in ids:
            jd = self._store.job(jid)
            start = jd.submissionTime()
            end = jd.completionTime()
            desc = jd.description()
            rec = {
                "start": start.get().getTime() / 1e3 if start.isDefined() else None,
                "end": end.get().getTime() / 1e3 if end.isDefined() else None,
                "description": desc.get() if desc.isDefined() else "",
                "executor_run_s": 0.0,
                "executor_cpu_s": 0.0,
                "shuffle_bytes": 0.0,
                "output_bytes": 0.0,
                "input_bytes": 0.0,
            }
            it = jd.stageIds().iterator()
            while it.hasNext():
                for k, v in self._stage_totals(int(it.next())).items():
                    rec[k] += v
            out.append(rec)
        return out

    def cpu_since(self, first_stage: int) -> float:
        """Executor CPU seconds of every stage with id >= ``first_stage``."""
        return sum(
            s.executorCpuTime() / 1e9
            for sid in range(first_stage, self.next_stage_id())
            for s in self._attempts(sid)
        )

    def next_stage_id(self) -> int:
        """One more than the highest stage id the store holds."""
        stages = self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        if stages.isEmpty():
            return 0
        return max(stages.head().stageId(), stages.last().stageId()) + 1


def summarize_jobs(jobs: list[dict], t0: float, t1: float) -> dict:
    """Standard span metrics (minus ``wall_s``) from the jobs that ran in
    the wall-clock window [t0, t1]."""
    intervals = sorted(
        (max(j["start"], t0), min(j["end"], t1))
        for j in jobs
        if j["start"] is not None and j["end"] is not None
    )
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in intervals:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    out = {"jobs": len(jobs), "driver_s": max(t1 - t0 - busy, 0.0)}
    for k in ("executor_run_s", "executor_cpu_s", "shuffle_bytes",
              "output_bytes", "input_bytes"):
        out[k] = sum(j[k] for j in jobs)
    return out


class Tracer:
    """With ``enabled``, records a span per call; otherwise does nothing.

    ``span(name, op_id)`` yields a dict the caller may add counts to. Spans
    of one load, micro-batch or pass share ``op_id``.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._seq = 0
        self.reader = StatusReader(spark) if enabled else None

    @contextmanager
    def span(self, name: str, op_id: str):
        rec = {"name": name, "op_id": op_id}
        if not self.enabled:
            yield rec
            return
        sc = self.spark.sparkContext
        group = f"perfbench-{self._seq}"
        self._seq += 1
        sc.setJobGroup(group, f"{name} {op_id}")
        t0, p0 = time.time(), time.perf_counter()
        try:
            yield rec
        finally:
            wall = time.perf_counter() - p0
            sc._jsc.clearJobGroup()
            rec["wall_s"] = wall
            jobs = self.reader.jobs(self.reader.job_ids(group))
            rec.update(summarize_jobs(jobs, t0, t0 + wall))
            rec["start"] = t0
            self.spans.append(rec)

    def add(self, rec: dict) -> None:
        """Record a span measured elsewhere (e.g. a streaming micro-batch)."""
        if self.enabled:
            self.spans.append(rec)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def layer_metrics(spans: list[dict], wanted: list[str]) -> dict[str, float]:
    """For each ``<span>.<metric>`` in ``wanted``, the median per call over
    the spans of that name; 0 when no such span ran in this workload."""
    out: dict[str, float] = {}
    for full in wanted:
        name, metric = full.rsplit(".", 1)
        vals = [s[metric] for s in spans if s["name"] == name and metric in s]
        out[full] = float(statistics.median(vals)) if vals else 0.0
    return out


# -- host ------------------------------------------------------------------

def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()[1:]
    vals = [int(x) for x in parts]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def calib_probe() -> float:
    """Wall seconds of a fixed single-threaded integer loop; a slow or
    contended host shows as a larger value."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


def process_cpu_s(pid: int) -> float:
    """User plus system CPU seconds a process has used (steal not included)."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
