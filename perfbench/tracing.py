"""Layer attribution for the traced run.

Two sources, both outside the program under test:

- spans the benchmark records around each call it makes into a layer's
  public functions (name, start, end, parent span, op id), kept in memory
  and written out when the run ends;
- Spark's own reporting: the uncompressed event log (jobs are mapped to
  ops by job group), ``statusTracker`` and ``QueryExecution.tracker()``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

#: SQL metric names the event log carries per task (``Task Info`` /
#: ``Accumulables``), mapped to the per-layer metric they feed; the times
#: are milliseconds.
_ACCUMULABLES = {
    "time to start Python workers": ("python.start_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "time to run Python workers": ("python.run_s", 1e-3),
    "data sent to Python workers": ("python.bytes_to", 1.0),
    "data returned from Python workers": ("python.bytes_from", 1.0),
    "scan time": ("executor.scan_s", 1e-3),
}


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def percentile(values: list[float], q: float) -> float:
    """Percentile by linear interpolation between closest ranks (0 for
    no values)."""
    if not values:
        return 0.0
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def op_gmean(recs: list[dict]) -> float:
    """Geometric mean, over the op names, of each op's median latency.
    Unlike a percentile over a mix of fast and slow ops, it does not jump
    when the samples around the percentile change from one op to
    another."""
    by: dict[str, list[float]] = defaultdict(list)
    for r in recs:
        by[r["name"]].append(r["latency_s"])
    return statistics.geometric_mean(
        statistics.median(v) for v in by.values())


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase durations (s) of ``df``'s own QueryExecution.

    The noop write plans a command of its own, so the frame's execution is
    planned here, after the timed action, to read the phases of the same
    logical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        if phases.contains(k):
            out[k] = phases.apply(k).durationMs() / 1e3
    return out


def failed_tasks(sc, group: str) -> int:
    """Failed task attempts of one job group, from ``statusTracker`` (read
    right after the op, before the tracker evicts its jobs)."""
    st = sc.statusTracker()
    failed = 0
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            sinfo = st.getStageInfo(s)
            if sinfo is not None:
                failed += sinfo.numFailedTasks
    return failed


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the newest application log in ``log_dir``: a single
    file, or a rolling log's directory of ``events_<n>_*`` parts."""
    logs = glob.glob(os.path.join(log_dir, "*"))
    if not logs:
        raise RuntimeError(f"no event log under {log_dir}")
    path = max(logs, key=os.path.getmtime)
    parts = [path]
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "events_*")),
                       key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = []
    for part in parts:
        with open(part) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def op_layers(events: list[dict], groups: dict[str, int]) -> dict[int, dict]:
    """Per-op scheduler and executor figures from the event log.

    ``groups`` maps job group id → op id. Returns op id → dict with job
    and stage/task counts, job intervals (epoch s), summed task metrics,
    the SQL accumulables above, and failed/retried/speculative tasks."""
    job_op: dict[int, int] = {}
    stage_op: dict[int, int] = {}
    out: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    jobs: dict[int, list] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group not in groups:
                continue
            op = groups[group]
            jid = ev["Job ID"]
            job_op[jid] = op
            jobs[jid] = [ev["Submission Time"] / 1e3, None]
            for sid in ev.get("Stage IDs", []):
                stage_op.setdefault(sid, op)
            out[op]["jobs"] += 1
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_op:
                out[stage_op[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev["Stage ID"])
            if op is None:
                continue
            rec = out[op]
            info = ev.get("Task Info", {})
            rec["tasks"] += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                rec["failed_tasks"] += 1
            if info.get("Attempt", 0) > 0:
                rec["retried_tasks"] += 1
            if info.get("Speculative"):
                rec["speculative_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            rec["executor.run_s"] += m.get("Executor Run Time", 0) / 1e3
            rec["executor.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            rec["executor.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rec["executor.input_bytes"] += \
                (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            rec["executor.shuffle_write_bytes"] += \
                (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
            rec["executor.fetch_wait_s"] += \
                (m.get("Shuffle Read Metrics") or {}).get(
                    "Fetch Wait Time", 0) / 1e3
            rec["executor.spill_bytes"] += \
                m.get("Memory Bytes Spilled", 0) + \
                m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                hit = _ACCUMULABLES.get(acc.get("Name"))
                if hit is not None:
                    try:
                        rec[hit[0]] += float(acc.get("Update", 0)) * hit[1]
                    except (TypeError, ValueError):
                        pass
    for jid, (s, e) in jobs.items():
        rec = out[job_op[jid]]
        rec.setdefault("intervals", []).append((s, e if e is not None else s))
    return out


def driver_gap(op_start: float, op_end: float,
               intervals: list[tuple[float, float]]) -> float:
    """Op wall time not covered by any of its jobs (s)."""
    clipped = [(max(s, op_start), min(e, op_end)) for s, e in intervals
               if e > op_start and s < op_end]
    return max(0.0, (op_end - op_start) - _union_len(clipped))
