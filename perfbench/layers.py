"""Per-layer metrics of a ``--trace 1`` run.

Counts (jobs, stages, tasks, bytes, files) cover the first timed pass,
whose ops the seed fixes, so they repeat exactly across same-seed runs.
Times are per pass, averaged over the timed passes. A metric of a layer
the workload does not reach reads 0.
"""

from __future__ import annotations

import math
import os
from collections import defaultdict

from tracing import (driver_gap, op_gmean, op_layers, percentile,
                     read_event_log)

#: Commits that publish a version of the main or landing table.
COMMITS = {"append", "merge", "compact"}
TABLE_OPS = ["append", "merge", "compact", "vacuum"]

PER_LAYER = [
    ("suite.build_s", "s"), ("session.sql_s", "s"), ("plan.build_s", "s"),
    ("suite.eager_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.driver_gap_s", "s"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.scan_s", "s"), ("executor.input_bytes", "bytes"),
    ("executor.shuffle_write_bytes", "bytes"),
    ("executor.fetch_wait_s", "s"), ("executor.spill_bytes", "bytes"),
    ("executor.failed_tasks", "count"), ("executor.retried_tasks", "count"),
    ("executor.speculative_tasks", "count"),
    ("python.start_s", "s"), ("python.init_s", "s"), ("python.run_s", "s"),
    ("python.bytes_to", "bytes"), ("python.bytes_from", "bytes"),
    *[(f"table_format.{k}_s", "s") for k in TABLE_OPS + ["read"]],
    ("table_format.commit_s.p50", "s"),
    ("table_format.jobs_per_commit", "count"),
    ("table_format.bytes_written", "bytes"),
    ("table_format.data_bytes_written", "bytes"),
    ("table_format.files_written", "count"),
    ("table_format.read_files_ratio", "ratio"),
    ("table_format.write_amp", "ratio"), ("table_format.space_amp", "ratio"),
    ("incremental_view.refresh_s", "s"),
    ("incremental_view.refresh_jobs", "count"),
    ("incremental_view.incremental_ratio", "ratio"),
    ("table_stream.pass_s", "s"), ("table_stream.jobs_per_pass", "count"),
    ("trace.op_s.gmean", "s"), ("trace.ops_per_s", "1/s"),
]

#: Sums over the count window (deterministic); everything else in
#: ``_PER_PASS`` is a per-pass mean over all traced passes.
_COUNTED = ["scheduler.jobs", "scheduler.stages", "scheduler.tasks",
            "executor.input_bytes", "executor.shuffle_write_bytes",
            "executor.spill_bytes", "python.bytes_to", "python.bytes_from"]
_PER_PASS = ["executor.run_s", "executor.cpu_s", "executor.gc_s",
             "executor.scan_s", "executor.fetch_wait_s", "python.start_s",
             "python.init_s", "python.run_s"]


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class WriteProbe:
    """Files and bytes each op adds under the table roots, and the
    space held at the end of the count window."""

    def __init__(self, state: dict):
        self.state = state
        self.space_amp = 0.0

    def before(self):
        root = self.state.get("root")
        return _files(root) if root else None

    def after(self, rec: dict, before) -> None:
        if before is None:
            return
        now = _files(self.state["root"])
        new = [p for p in now if p not in before]
        rec["files_written"] = len(new)
        rec["bytes_written"] = sum(now[p] for p in new)
        rec["data_bytes_written"] = sum(now[p] for p in new
                                        if p.endswith(".parquet"))

    def window_end(self) -> None:
        root = self.state.get("root")
        if not root:
            return
        main = self.state["main"]
        m = main._manifest()
        head = sum(os.path.getsize(os.path.join(main.path, f))
                   for f in m["files"])
        disk = sum(_files(main.path).values())
        self.space_amp = disk / head if head else 0.0


def per_layer(runner, recs: list[dict], passes: int, timed_s: float,
              probe: WriteProbe, work: str):
    """Per-layer metrics of a traced run's timed phase, which took
    ``timed_s`` of wall time: (metrics, info)."""
    spans_out = os.path.join(os.path.dirname(work),
                             f"spans-{runner.args.workload}"
                             f"-s{runner.args.seed}.json")
    runner.tracer.dump(spans_out)
    runner.spark.stop()          # finishes the event log
    runner.spark = None

    groups = {f"pb-{r['op']}": r["op"] for r in recs}
    for r in recs:
        groups.update({g: r["op"] for g in r.get("groups", [])})
    layers = op_layers(read_event_log(os.path.join(work, "eventlog")),
                       groups)
    window = [r for r in recs if r["pass"] == 1]
    spans = runner.tracer.spans
    action_start = {s["op"]: s["start"] for s in spans
                    if s["name"] == "action"}
    m: dict[str, float] = defaultdict(float)

    for r in window:
        lay = layers.get(r["op"], {})
        for k in _COUNTED:
            key = k.split(".", 1)[1] if k.startswith("scheduler.") else k
            m[k] += lay.get(key, 0)
        cut = action_start.get(r["op"], math.inf)
        m["suite.eager_jobs"] += sum(
            1 for s, _ in lay.get("intervals", []) if s < cut)

    for r in recs:
        lay = layers.get(r["op"], {})
        for k in _PER_PASS:
            m[k] += lay.get(k, 0) / passes
        for k in ("failed_tasks", "retried_tasks", "speculative_tasks"):
            m[f"executor.{k}"] += lay.get(k, 0)
        m["scheduler.driver_gap_s"] += driver_gap(
            r["start"], r["end"], lay.get("intervals", [])) / passes
        for phase, t in r.get("catalyst", {}).items():
            m[f"catalyst.{phase}_s"] += t / passes
    timed_ops = {r["op"] for r in recs}
    for s in spans:
        if s["op"] in timed_ops and s["name"] in (
                "suite.build", "session.sql", "plan.build"):
            m[s["name"] + "_s"] += (s["end"] - s["start"]) / passes

    by_name = defaultdict(list)
    for r in recs:
        by_name[r["name"]].append(r["latency_s"])
    for k in TABLE_OPS:
        m[f"table_format.{k}_s"] = percentile(by_name.get(k, []), 0.5)
    m["table_format.read_s"] = percentile(
        [x for n, xs in by_name.items() if n.startswith("read_")
         for x in xs], 0.5)
    commits = [r for r in recs if r["name"] in COMMITS]
    m["table_format.commit_s.p50"] = percentile(
        [r["latency_s"] for r in commits], 0.5)
    wc = [r for r in window if r["name"] in COMMITS]
    if wc:
        m["table_format.jobs_per_commit"] = sum(
            layers.get(r["op"], {}).get("jobs", 0) for r in wc) / len(wc)
    m["table_format.bytes_written"] = sum(
        r.get("bytes_written", 0) for r in window)
    m["table_format.data_bytes_written"] = sum(
        r.get("data_bytes_written", 0) for r in window)
    m["table_format.files_written"] = sum(
        r.get("files_written", 0) for r in window)
    user = sum(r.get("user_rows", 0) for r in window) * \
        runner.ctx.state.get("bytes_per_row", 0)
    m["table_format.write_amp"] = \
        m["table_format.bytes_written"] / user if user else 0.0
    m["table_format.space_amp"] = probe.space_amp
    live = sum(r.get("files_live", 0) for r in window)
    m["table_format.read_files_ratio"] = \
        sum(r.get("files_read", 0) for r in window) / live if live else 0.0

    refresh = [r for r in window if r["name"] == "view_refresh"]
    m["incremental_view.refresh_s"] = percentile(
        by_name.get("view_refresh", []), 0.5)
    if refresh:
        m["incremental_view.refresh_jobs"] = sum(
            layers.get(r["op"], {}).get("jobs", 0)
            for r in refresh) / len(refresh)
        m["incremental_view.incremental_ratio"] = sum(
            r.get("mode") == "incremental" for r in refresh) / len(refresh)
    streams = [r for r in window if r["name"] == "stream_pass"]
    m["table_stream.pass_s"] = percentile(
        by_name.get("stream_pass", []), 0.5)
    if streams:
        m["table_stream.jobs_per_pass"] = sum(
            layers.get(r["op"], {}).get("jobs", 0)
            for r in streams) / len(streams)

    lat = [r["latency_s"] for r in recs]
    m["trace.op_s.gmean"] = op_gmean(recs)
    m["trace.ops_per_s"] = len(recs) / timed_s

    metrics = {k: {"value": float(m.get(k, 0.0)), "unit": u}
               for k, u in PER_LAYER}
    info = {"traced_ops": len(recs), "traced_passes": passes,
            "spans": len(spans), "spans_file": spans_out}
    return metrics, info
