"""Spark plumbing for the benchmark process: environment, in-process
CLI runs, JVM shutdown and event-log parsing.

The CLIs run unchanged inside the benchmark process (``runpy``), so the
span wrappers of the traced run see every call they make. Each CLI
opens its session through ``session.get_spark``; the first one in a run
also launches the JVM.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import runpy
import shlex
import statistics
import sys
import time


class CliError(RuntimeError):
    pass


def configure(root: str, work: str, cores: int,
              event_log: str | None = None) -> None:
    """Point Spark's scratch space, temp files and Python workers at the
    checkout, before the JVM starts. Session confs stay the program's
    own (``session.get_spark``); the event log, when asked for, is
    enabled through the launcher arguments."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    args = ["--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{event_log}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def run_cli(root: str, script: str, argv: list[str], rec=None,
            span: str | None = None) -> tuple[float, list[dict]]:
    """Run ``script`` as ``__main__`` with ``argv``; returns its wall
    seconds and the JSON objects it printed. A nonzero exit raises."""
    buf = io.StringIO()
    old = sys.argv
    sys.argv = [script] + list(argv)
    idx = rec.begin(span or "cli") if rec is not None else None
    t0 = time.perf_counter()
    try:
        with contextlib.redirect_stdout(buf):
            runpy.run_path(os.path.join(root, script), run_name="__main__")
    except SystemExit as e:
        if e.code not in (None, 0):
            raise CliError(f"{script} {' '.join(argv)}: exit {e.code}")
    finally:
        wall = time.perf_counter() - t0
        if idx is not None:
            rec.end(idx)
        sys.argv = old
    out = []
    for line in buf.getvalue().splitlines():
        if line.startswith("{"):
            out.append(json.loads(line))
    return wall, out


@contextlib.contextmanager
def one_application():
    """Keep one Spark application across several CLI runs: their
    ``spark.stop()`` at exit is deferred to ``shutdown``, so later CLIs
    get the running session from ``getOrCreate`` (as jobs submitted to
    a long-running driver do) instead of starting a new context."""
    from pyspark.sql import SparkSession

    stop = SparkSession.stop
    SparkSession.stop = lambda self: None
    try:
        yield
    finally:
        SparkSession.stop = stop


def shutdown(timeout: float = 60.0) -> None:
    """Stop the active SparkContext and the JVM behind it, and wait for
    the JVM to exit (it exits when its stdin closes)."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    with contextlib.suppress(Exception):
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except Exception:
        proc.kill()
        proc.wait(timeout=timeout)


# ---- event log -------------------------------------------------------

def _events(event_dir: str):
    """Events of every application logged under ``event_dir`` (Spark 4
    writes rolling logs: one directory per application)."""
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(event_dir)
                   for f in fs)
    for path in paths:
        with open(path) as f:
            for line in f:
                with contextlib.suppress(ValueError):
                    yield json.loads(line)


def spark_counters(event_dir: str, calls: list[tuple[str, float, float]]
                   ) -> dict[str, dict]:
    """Per-call Spark counters. ``calls`` are (name, start, end) in epoch
    seconds; each job goes to the innermost call whose interval holds
    its submission time. Returns name -> {jobs, stages, shuffle_write_mb,
    spill_mb, task_cpu_s, gc_s, task_skew}; task_skew is max/median
    task time in the call's longest stage."""
    job_call: dict[int, str] = {}
    stage_call: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    for ev in _events(event_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            owner = None
            for name, t0, t1 in calls:
                if t0 <= t <= t1 and (owner is None or t0 >= owner[1]):
                    owner = (name, t0)
            if owner is None:
                continue
            job_call[ev["Job ID"]] = owner[0]
            for sid in ev.get("Stage IDs", []):
                stage_call[sid] = owner[0]
        elif kind == "SparkListenerTaskEnd":
            tasks.setdefault(ev["Stage ID"], []).append(ev)
    out: dict[str, dict] = {}
    for job, name in job_call.items():
        out.setdefault(name, {"jobs": 0, "stages": 0, "shuffle_write_mb": 0.0,
                              "spill_mb": 0.0, "task_cpu_s": 0.0,
                              "gc_s": 0.0, "task_skew": 1.0,
                              "_longest": 0.0})["jobs"] += 1
    for sid, name in stage_call.items():
        c = out[name]
        evs = tasks.get(sid, [])
        if not evs:
            continue  # skipped stage (shuffle reuse)
        c["stages"] += 1
        durs = []
        t_lo, t_hi = float("inf"), 0.0
        for ev in evs:
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            c["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            c["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / 2**20
            lt, ft = info.get("Launch Time", 0), info.get("Finish Time", 0)
            durs.append(max(ft - lt, 0))
            t_lo, t_hi = min(t_lo, lt), max(t_hi, ft)
        if t_hi - t_lo > c["_longest"]:
            c["_longest"] = t_hi - t_lo
            med = statistics.median(durs)
            c["task_skew"] = max(durs) / med if med > 0 else 1.0
    for c in out.values():
        c.pop("_longest")
    return out
