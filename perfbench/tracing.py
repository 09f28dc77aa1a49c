"""Per-layer measurement from outside the engine.

Nothing here reaches into the engine's modules: Spark-side work is read
back from Spark's own event log after the session stops, JVM CPU from
``/proc``, and the serving phases by wrapping the public
``PointLookupCursor.lookup`` and pyarrow's ``ParquetFile.read_row_groups``
for the duration of an instrumented round. Spans live in memory and are
written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def child_pids(parent: int) -> list[int]:
    """Direct children of ``parent``, from /proc."""
    out = []
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == parent:
            out.append(int(stat.split("/")[2]))
    return out


def descendant_pids(root: int) -> list[int]:
    found, frontier = [], [root]
    while frontier:
        kids = [c for p in frontier for c in child_pids(p)]
        found.extend(kids)
        frontier = kids
    return found


def process_cpu_s(pid: int) -> float:
    """utime + stime of one process, in seconds (0.0 once it is gone)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK


def find_jvm_pid() -> int | None:
    """The Spark driver JVM: the java process this interpreter launched."""
    for pid in descendant_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


# ---------------------------------------------------------------- event log


def read_event_log(events_dir: str) -> dict:
    """Jobs, stages and per-stage task totals from the event log(s) under
    ``events_dir``: a single file per application, or a rolling-log
    directory of ``events_*`` files."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple, dict] = {}
    for path in sorted(glob.glob(os.path.join(events_dir, "**"), recursive=True)):
        if os.path.isdir(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {"submit_ms": ev["Submission Time"]}
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" not in info or "Completion Time" not in info:
                        continue
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    st = stages.setdefault(key, {"exec_ms": 0, "shuffle_bytes": 0})
                    st["submit_ms"] = info["Submission Time"]
                    st["end_ms"] = info["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    key = (ev["Stage ID"], ev["Stage Attempt ID"])
                    st = stages.setdefault(key, {"exec_ms": 0, "shuffle_bytes": 0})
                    rd = m.get("Shuffle Read Metrics", {})
                    wr = m.get("Shuffle Write Metrics", {})
                    st["exec_ms"] += m.get("Executor Run Time", 0)
                    st["shuffle_bytes"] += (
                        rd.get("Remote Bytes Read", 0)
                        + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
    return {"jobs": jobs, "stages": [s for s in stages.values() if "submit_ms" in s]}


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute_spark_work(call: dict, log: dict) -> dict:
    """Spark work of one call: the job-id range submitted inside the
    call's wall interval (one closed-loop client, so every job in the
    range is this call's, including jobs a streaming query runs on its
    own thread), the stages that ran in it, their task time and shuffle
    bytes, and the driver gap (wall time with no stage running)."""
    lo, hi = call["start_ms"], call["end_ms"]
    job_ids = sorted(j for j, v in log["jobs"].items() if lo <= v["submit_ms"] <= hi)
    ran = [s for s in log["stages"] if lo <= s["submit_ms"] <= hi]
    busy = _union_ms([(max(s["submit_ms"], lo), min(s["end_ms"], hi)) for s in ran])
    return {
        "job_range": [job_ids[0], job_ids[-1]] if job_ids else None,
        "jobs": len(job_ids),
        "stages": len(ran),
        "executor_s": sum(s["exec_ms"] for s in ran) / 1000.0,
        "shuffle_mb": sum(s["shuffle_bytes"] for s in ran) / 1e6,
        "driver_gap_s": max(hi - lo - busy, 0.0) / 1000.0,
    }


# ------------------------------------------------------------ serving phases


class ServingProbe:
    """Times the serving layer's public entry points while active:
    ``PointLookupCursor.lookup`` per table (postings, ranks, docs,
    positions — named by the cursor's directory) and pyarrow
    ``ParquetFile.read_row_groups`` calls. ``take()`` returns and resets
    the totals accumulated since the last call."""

    def __init__(self) -> None:
        self._ms: dict[str, float] = {}
        self._row_groups = 0

    @contextlib.contextmanager
    def active(self):
        import pyarrow.parquet as pq

        from page_rank_hadoop_spark.sources.serving import PointLookupCursor

        orig_lookup = PointLookupCursor.lookup
        orig_read = pq.ParquetFile.read_row_groups
        probe = self

        def lookup(cursor, values):
            t0 = time.perf_counter()
            try:
                return orig_lookup(cursor, values)
            finally:
                table = os.path.basename(os.path.normpath(cursor.path))
                probe._ms[table] = probe._ms.get(table, 0.0) + (time.perf_counter() - t0) * 1e3

        def read_row_groups(pf, *args, **kwargs):
            probe._row_groups += 1
            return orig_read(pf, *args, **kwargs)

        PointLookupCursor.lookup = lookup
        pq.ParquetFile.read_row_groups = read_row_groups
        try:
            yield self
        finally:
            PointLookupCursor.lookup = orig_lookup
            pq.ParquetFile.read_row_groups = orig_read

    def take(self) -> tuple[dict[str, float], int]:
        out = (self._ms, self._row_groups)
        self._ms, self._row_groups = {}, 0
        return out


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
