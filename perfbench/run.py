#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 8 \\
        --trace 0

Run from the repository root. It generates the inputs from ``--seed``,
starts Spark on ``local[<nproc>]``, and runs the workload closed loop with
one client on the main thread:

1. set-up (``setup_s``): launch the JVM and start the SparkSession,
   generate and register (or, for ``pipeline``, create) the inputs,
   and run one warm-up op;
2. an untimed verify pass: every op once, each query's result compared
   with its DuckDB oracle, each commit and table read with a replay of
   the same seeded ops;
3. the timed phase: whole passes over the op list while less than
   ``--seconds`` has elapsed, and at least the workload's minimum (five
   ``analytics`` passes, one ``pipeline`` pass); a query is timed from the
   call into the program to the end of its ``noop``-sink action.

``--trace 1`` runs the same phases with Spark's event log on and spans
recorded around every call into the program, and reports the per-layer
metrics instead; its own op latency is reported too
(``trace.op_s.gmean``), so the tracing overhead is its ratio to the
untraced run's ``op_s.gmean``.
See README.md.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

import datagen
from layers import WriteProbe, per_layer
from tracing import Tracer, catalyst_phases, failed_tasks, op_gmean
from workloads import WORKLOADS, Ctx, oracle_mismatch, oracle_results

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Scale factor of the generated inputs (orders = 1.5M x SF rows).
SF = 0.01

#: Environment variable every process the run starts inherits; its value
#: is unique to the run, so the processes left at the end can be found.
RUN_MARK = "PERFBENCH_RUN"


def _nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _environment(work: str) -> int:
    """Make the run self-contained: Python workers import the program
    from the checkout, and Spark's scratch lives in the work dir."""
    paths = [ROOT] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    n = _nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    return n


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests while this machine's
    CPUs were ready to run, summed over CPUs, since boot (``/proc/stat``)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _rss_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Runner:
    """One run: the session, the workload, and the count of ops attempted
    and failed."""

    def __init__(self, args, work: str, nproc: int):
        self.args = args
        self.work = work
        self.nproc = nproc
        self.workload = WORKLOADS[args.workload]()
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.ctx = None
        self.next_op = 0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # -- session ----------------------------------------------------------

    def start(self) -> None:
        """The session, a MuraSession, the seeded inputs and the prepared
        workload."""
        from mura_spark.session import MuraSession, get_spark
        # the JVM's temp files and perf-data file stay in the work dir
        conf = {"spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.eventLog.enabled": "false",
                "spark.driver.extraJavaOptions":
                    "-XX:-UsePerfData -Djava.io.tmpdir="
                    + os.environ["TMPDIR"]}
        if self.args.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + log_dir,
                         "spark.eventLog.compress": "false"})
        self.spark = get_spark("perfbench", master=f"local[{self.nproc}]",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        data = os.path.join(self.work, "inputs")
        datagen.write(self.args.seed, SF, data)
        self.ctx = Ctx(self.spark, MuraSession(self.spark), data, self.work,
                       self.args.seed)
        self.workload.prepare(self.ctx)

    # -- one op -------------------------------------------------------------

    def run_op(self, op, verify: bool, pass_no: int) -> dict:
        sc = self.spark.sparkContext
        op_id = self.next_op
        self.next_op += 1
        group = f"pb-{op_id}"
        sc.setJobGroup(group, f"perfbench:{op.name}", False)
        tr = self.tracer
        err, out, result = None, None, None
        start = time.time()
        p0 = time.perf_counter()
        try:
            with tr.span(op.name, op_id):
                with tr.span(op.layer, op_id):
                    out = op.call(self.ctx)
                if op.kind == "query":
                    with tr.span("action", op_id):
                        if verify:
                            result = out.toPandas()
                        else:
                            out.write.mode("overwrite").format("noop").save()
                else:
                    result = out
        except Exception as e:  # an op failure is a result, not a crash
            traceback.print_exc(file=sys.stderr)
            err = f"{type(e).__name__}: {str(e)[:200]}"
        latency = time.perf_counter() - p0
        end = time.time()
        check = op.check if (op.kind == "commit" or verify) else None
        if err is None and check is not None:
            try:
                err = check(self.ctx, result)
            except Exception as e:
                traceback.print_exc(file=sys.stderr)
                err = f"check raised {type(e).__name__}: {str(e)[:200]}"
        rec = {"op": op_id, "name": op.name, "kind": op.kind,
               "layer": op.layer, "pass": pass_no, "latency_s": latency,
               "start": start, "end": end, "error": err,
               "failed_tasks": failed_tasks(sc, group),
               **self.ctx.state.pop("rec_extra", {})}
        if verify and op.oracle:
            rec["result"] = result
        if tr.enabled and op.kind == "query" and err is None:
            rec["catalyst"] = catalyst_phases(out)
            if op.name == "read_lookup":
                rec["files_read"] = len(out.inputFiles())
                rec["files_live"] = len(
                    self.ctx.state["main"]._manifest()["files"])
        self.attempted += 1
        if err is not None:
            self.failed += 1
            self.errors.append(f"{op.name}: {err}")
        return rec

    # -- phases -------------------------------------------------------------

    def setup(self) -> float:
        t0 = time.perf_counter()
        self.start()
        self.run_op(self.workload.warm_op(), False, -1)
        return time.perf_counter() - t0

    def verify_pass(self) -> list[dict]:
        """Every op once, checked. DuckDB then computes the oracle results
        in this process, and each query's result is compared with its
        oracle."""
        ops = self.workload.pass_ops(self.ctx, 0)
        recs = [self.run_op(op, True, 0) for op in ops]
        sqls = {op.name: op.oracle for op in ops if op.oracle}
        want = oracle_results(self.ctx.data_dir, sqls) if sqls else {}
        for rec in recs:
            result = rec.pop("result", None)
            if rec["error"] is None and rec["name"] in want:
                err = oracle_mismatch(result, want[rec["name"]])
                if err is not None:
                    rec["error"] = err
                    self.failed += 1
                    self.errors.append(f"{rec['name']}: {err}")
        return recs

    def timed(self, seconds: float, probe=None) -> tuple[list[dict], int]:
        """Whole passes, from pass 1, while less than ``seconds`` has
        elapsed, and at least the workload's ``min_passes``; returns the
        op records and the pass count. ``probe`` (traced run) is called
        around every op and at the end of the first pass."""
        recs: list[dict] = []
        t0 = time.perf_counter()
        i = 1
        while (i <= self.workload.min_passes
               or time.perf_counter() - t0 < seconds):
            for op in self.workload.pass_ops(self.ctx, i):
                before = probe.before() if probe else None
                rec = self.run_op(op, False, i)
                if probe:
                    probe.after(rec, before)
                recs.append(rec)
            if probe and i == 1:
                probe.window_end()
            i += 1
        return recs, i - 1

    def final_check(self) -> None:
        for e in self.workload.final_check(self.ctx):
            self.failed += 1
            self.attempted += 1
            self.errors.append(f"final check: {e}")

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext
        jvm = SparkContext._gateway.proc.pid
        return (_rss_kb("self") + _rss_kb(jvm)) / 1024.0

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers) to exit."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def _run_pids(mark: str) -> list[int]:
    """Live processes, other than this one, that carry the run's mark in
    their environment."""
    needle = f"{RUN_MARK}={mark}".encode()
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as fh:
                if needle not in fh.read().split(b"\0"):
                    continue
            with open(f"/proc/{d}/stat") as fh:
                if fh.read().rsplit(")", 1)[1].split()[0] in "ZX":
                    continue
        except (OSError, IndexError):
            continue
        pids.append(int(d))
    return pids


def _reap() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0] > 0:
            pass
    except ChildProcessError:
        pass


def stop_run_processes(mark: str, grace: float = 15.0) -> list[int]:
    """Wait for every process the run started (the JVM's children too)
    to end: first ``grace`` seconds on their own, then after SIGTERM,
    then after SIGKILL. Returns the pids that had to be signalled."""
    signalled: list[int] = []
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        pids = _run_pids(mark)
        if not pids:
            break
        if sig is not None:
            signalled += [p for p in pids if p not in signalled]
            for p in pids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + grace
        while pids and time.monotonic() < deadline:
            time.sleep(0.05)
            _reap()
            pids = _run_pids(mark)
    _reap()
    return signalled


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def _medians(recs: list[dict]) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for r in recs:
        by.setdefault(r["name"], []).append(r["latency_s"])
    return {n: round(statistics.median(v), 3) for n, v in by.items()}


def end_to_end(recs: list[dict], setup: float, timed_s: float) -> dict:
    return {
        "setup_s": {"value": setup, "unit": "s"},
        "op_s.gmean": {"value": op_gmean(recs), "unit": "s"},
        "ops_per_s": {"value": len(recs) / timed_s, "unit": "1/s"},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "mura_spark")):
        print(f"perfbench: no mura_spark package under {ROOT}; run from "
              f"a checkout of the repository", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, _on_sigterm)
    mark = f"{os.getpid()}-{time.time_ns()}"
    os.environ[RUN_MARK] = mark
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    nproc = _environment(work)
    import pyarrow
    import pyspark
    print(f"perfbench: workload={args.workload} seed={args.seed} "
          f"trace={args.trace} nproc={nproc} spark={pyspark.__version__} "
          f"pyarrow={pyarrow.__version__} sf={SF}", flush=True)

    runner = Runner(args, work, nproc)
    try:
        result = _run(runner, args, work)
    finally:
        try:
            runner.shutdown()
        finally:
            stray = stop_run_processes(mark)
            if stray:
                print(f"perfbench: stopped processes left running: "
                      f"{stray}", file=sys.stderr)
            shutil.rmtree(work, ignore_errors=True)
    for e in runner.errors:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    print(json.dumps(result))
    return 0


def _run(runner: Runner, args, work: str) -> dict:
    setup = runner.setup()
    sc = runner.spark.sparkContext
    print(f"perfbench: master={sc.master} "
          f"default_parallelism={sc.defaultParallelism} "
          f"setup_s={setup:.3f}", flush=True)
    t0 = time.perf_counter()
    vrecs = runner.verify_pass()
    t1 = time.perf_counter()
    probe = None
    if args.trace:
        probe = WriteProbe(runner.ctx.state)
    steal = _steal_s()
    recs, passes = runner.timed(args.seconds, probe)
    t2 = time.perf_counter()
    steal = _steal_s() - steal
    runner.final_check()
    info = {"ops": len(recs), "passes": passes, "verify_s": t1 - t0,
            "timed_s": t2 - t1, "check_s": time.perf_counter() - t2,
            "timed_steal_s": round(steal, 2),
            "failed_tasks": sum(r["failed_tasks"] for r in vrecs + recs),
            "verify_op_s": {r["name"]: round(r["latency_s"], 3)
                            for r in vrecs},
            "timed_op_s": _medians(recs)}
    if not args.trace:
        info["peak_rss_mb"] = runner.peak_rss_mb()
        metrics = end_to_end(recs, setup, t2 - t1)
    else:
        metrics, extra = per_layer(runner, recs, passes, t2 - t1, probe,
                                   work)
        info.update(extra)
    print("perfbench: " + json.dumps(info), flush=True)
    return {"correct": runner.failed == 0, "attempted": runner.attempted,
            "failed": runner.failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
