"""Measurement plumbing shared by every workload.

Session set-up, closed-loop timing, peak-RSS sampling from /proc,
in-memory trace spans, and the Spark event-log reader for the traced
run. Nothing here knows about a particular workload.
"""

from __future__ import annotations

import ctypes
import json
import os
import signal
import statistics
import subprocess
import threading
import time
import uuid
from contextlib import contextmanager

DRIVER_MEMORY = "2g"
# local property that tags the Spark jobs of a traced call or probe
LABEL_KEY = "perfbench.call"
PR_SET_CHILD_SUBREAPER = 36  # linux/prctl.h


def host_cores() -> int:
    """Cores this process may run on, capped at 4 (the benchmark host)."""
    return max(1, min(4, len(os.sched_getaffinity(0))))


def spark_cores() -> int:
    """Task slots of the benchmark session: one core fewer than the host,
    so the JVM's own threads (Arrow transfer, shuffle, scheduling) do not
    preempt the Python workers. With every core given to tasks, call
    times varied by +-15% from run to run on the 4-core host; with one
    left free, by about 3%."""
    return max(1, host_cores() - 1)


def loadavg() -> str:
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def configure_env(root: str, work: str) -> dict:
    """Process environment for the benchmark session; returns what was set.

    session.py defaults the driver heap to 24g, more than the host has,
    so the heap is pinned here. Spark's scratch space, the JVM temp dir
    and Python's tempfile all point inside the work dir, and the Python
    workers import the package from the checkout root.
    """
    local_dirs = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local_dirs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local_dirs,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)
    return env


def start_session(work: str, extra_conf: dict | None = None):
    from cadastral_map_ocr_system_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap is committed and touched up front, so the JVM's RSS
        # does not drift with GC heap sizing and peak_rss_mb follows
        # the off-heap and Python-worker memory that code changes move;
        # no perf-data file, which the JVM would write under /tmp
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        **(extra_conf or {}),
    }
    return get_spark(
        app_name="perfbench", master=f"local[{spark_cores()}]", extra_conf=conf
    )


def event_log_conf(log_dir: str) -> dict:
    """Uncompressed, single-file event log (Spark 4.1 defaults to a
    zstd-compressed rolling directory)."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def median(xs: list[float]) -> float:
    return statistics.median(xs)


# ------------------------------------------------------- processes
def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants, so a
    process that outlives its parent (a Python worker of the JVM, say)
    is still below this one and `stop_processes` can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _alive(pids: list[int]) -> list[int]:
    out = []
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state != "Z":
            out.append(p)
    return out


def stop_processes(timeout_s: float = 30.0) -> None:
    """Stop every process this one started and wait until each has
    ended: the Spark JVM (PySpark leaves it running after
    `spark.stop()` and it would exit only after this process), the
    multiprocessing resource tracker, and anything left below them."""
    from multiprocessing import resource_tracker

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    resource_tracker._resource_tracker._stop()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        _reap()
        left = _alive(descendants(os.getpid()))
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        t_end = time.monotonic() + timeout_s / 3
        while left and time.monotonic() < t_end:
            time.sleep(0.1)
            _reap()
            left = _alive(descendants(os.getpid()))
        if not left:
            return


# ------------------------------------------------------------- RSS
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
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    """Every process below pid (the JVM and its Python workers)."""
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_by_command(pids: list[int]) -> dict[str, int]:
    """RSS of `pids`, summed per command name."""
    page = os.sysconf("SC_PAGE_SIZE")
    total: dict[str, int] = {}
    for p in pids:
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{p}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue  # exited since the tree was listed
        total[comm] = total.get(comm, 0) + rss
    return total


class RssSampler:
    """Background sampler of the summed RSS of this process's
    descendants; `peak` holds the maximum seen while running. The
    process tree is re-listed once a second, which keeps each sample
    cheap. Used as a context manager around the timed calls."""

    def __init__(self, interval_s: float = 0.1, relist_every: int = 10):
        self.interval_s = interval_s
        self.relist_every = relist_every
        self.peak = 0
        self.peak_by_command: dict[str, int] = {}
        self._pids: list[int] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self, relist: bool) -> None:
        if relist:
            self._pids = descendants(os.getpid())
        by_command = rss_by_command(self._pids)
        self.peak = max(self.peak, sum(by_command.values()))
        for k, v in by_command.items():
            self.peak_by_command[k] = max(self.peak_by_command.get(k, 0), v)

    def _run(self) -> None:
        i = 0
        while True:
            self._sample(relist=i % self.relist_every == 0)
            i += 1
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> RssSampler:
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample(relist=True)


# ---------------------------------------------------------- timing
def timed_loop(call, seconds: float, on_start=None, min_calls: int = 1) -> list[float]:
    """Closed loop: run `call` one at a time until `seconds` have passed
    and at least `min_calls` ran. Returns each call's wall time;
    `on_start(i)` runs untimed before call i."""
    walls: list[float] = []
    t_end = time.perf_counter() + seconds
    while len(walls) < min_calls or time.perf_counter() < t_end:
        if on_start is not None:
            on_start(len(walls))
        t0 = time.perf_counter()
        call()
        walls.append(time.perf_counter() - t0)
    return walls


# ---------------------------------------------------------- tracing
class Tracer:
    """In-memory spans (name, start, end, parent) under one trace id;
    written out once when the run ends."""

    def __init__(self, trace_id: str | None = None):
        self.trace_id = trace_id or uuid.uuid4().hex[:16]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "trace_id": self.trace_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start_s": time.perf_counter() - self.t0,
            "end_s": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end_s"] = time.perf_counter() - self.t0

    def write(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"trace_id": self.trace_id, "spans": self.spans, **(extra or {})},
                f,
                indent=1,
            )


# ------------------------------------------------------- event log
@contextmanager
def labelled(spark, label: str):
    """Tag the Spark jobs run inside the block with `label`."""
    sc = spark.sparkContext
    sc.setLocalProperty(LABEL_KEY, label)
    try:
        yield
    finally:
        sc.setLocalProperty(LABEL_KEY, None)


def jobs_labelled(events: list[dict], label: str) -> int:
    return sum(
        e.get("Event") == "SparkListenerJobStart"
        and (e.get("Properties") or {}).get(LABEL_KEY) == label
        for e in events
    )


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the single finished application log in log_dir."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}: {names}")
    with open(os.path.join(log_dir, names[0])) as f:
        return [json.loads(line) for line in f if line.strip()]


def spark_call_metrics(events: list[dict], calls: list[dict]) -> dict:
    """Per-call Spark execution metrics, as medians over `calls`.

    Jobs carry the local property LABEL_KEY naming the call they ran
    under; `calls` holds {"label", "wall_s"} per timed call. Task
    metrics come from SparkListenerTaskEnd, job intervals from
    JobStart/JobEnd, stage membership from JobStart's stage ids.
    """
    job_label: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_label: dict[int, str] = {}
    for e in events:
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            label = (e.get("Properties") or {}).get(LABEL_KEY)
            if label is None:
                continue
            jid = e["Job ID"]
            job_label[jid] = label
            job_span[jid] = [e["Submission Time"] / 1000.0, None]
            for sid in e["Stage IDs"]:
                stage_label[sid] = label
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in job_span:
            job_span[e["Job ID"]][1] = e["Completion Time"] / 1000.0

    per: dict[str, dict] = {
        c["label"]: {
            "jobs": 0, "stages": set(), "tasks": 0, "task_failures": 0,
            "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "sw": 0, "sr": 0, "spill": 0,
            "stage_task_ms": {},
        }
        for c in calls
    }
    for jid, label in job_label.items():
        if label in per:
            per[label]["jobs"] += 1
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        label = stage_label.get(e["Stage ID"])
        if label not in per:
            continue
        p = per[label]
        p["stages"].add((e["Stage ID"], e["Stage Attempt ID"]))
        p["tasks"] += 1
        if e["Task End Reason"]["Reason"] != "Success":
            p["task_failures"] += 1
        info = e["Task Info"]
        p["stage_task_ms"].setdefault(e["Stage ID"], []).append(
            info["Finish Time"] - info["Launch Time"]
        )
        m = e.get("Task Metrics") or {}
        p["run_ms"] += m.get("Executor Run Time", 0)
        p["cpu_ns"] += m.get("Executor CPU Time", 0)
        p["gc_ms"] += m.get("JVM GC Time", 0)
        p["sw"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        p["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        p["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)

    rows = []
    for c in calls:
        p = per[c["label"]]
        # the heaviest stage by summed task time: the span stage on the
        # extract workloads
        heavy = max(p["stage_task_ms"].values(), key=sum, default=[1])
        intervals = sorted(
            (s, e) for j, (s, e) in job_span.items()
            if job_label[j] == c["label"] and e is not None
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in intervals:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        rows.append(
            {
                "spark.jobs": p["jobs"],
                "spark.stages": len(p["stages"]),
                "spark.tasks": p["tasks"],
                "spark.task_failures": p["task_failures"],
                "spark.executor_run_s": p["run_ms"] / 1e3,
                "spark.executor_cpu_s": p["cpu_ns"] / 1e9,
                "spark.gc_s": p["gc_ms"] / 1e3,
                "spark.shuffle_write_bytes": p["sw"],
                "spark.shuffle_read_bytes": p["sr"],
                "spark.spill_bytes": p["spill"],
                "spark.task_skew": max(heavy) / max(statistics.median(heavy), 1),
                "spark.driver_gap_s": c["wall_s"] - covered,
            }
        )
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}
