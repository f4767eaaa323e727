"""Shared machinery of the benchmark: host-fitted Spark sessions, the
repeated set-up, percentiles, spans and self time, and the Spark event
log reader.

Nothing here starts a thread, a process or a JVM at import time; the
workload modules call these functions from `run.py`.
"""

from __future__ import annotations

import contextlib
import gc
import json
import math
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"

# percentiles a timing may be reported at, lowest first
_PERCENTILES = (50.0, 90.0, 99.0, 99.9)


# ---------------------------------------------------------------------------
# host fit
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class HostSettings:
    cpus: int  # master width and shuffle width
    driver_memory: str

    def describe(self) -> str:
        return (
            f"spark master=local[{self.cpus}] shuffle_partitions={self.cpus}"
            f" driver_memory={self.driver_memory}"
        )


def host_settings() -> HostSettings:
    """Spark width from the cores this process may run on, and a heap of a
    quarter of the host's memory, between 1 and 4 GiB (the engine's own
    default of 16g does not fit a 15 GB host)."""
    cpus = len(os.sched_getaffinity(0))
    mem_kib = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kib = int(line.split()[1])
                break
    heap_gib = max(1, min(4, mem_kib // (4 * 1024 * 1024)))
    return HostSettings(cpus=cpus, driver_memory=f"{heap_gib}g")


def prepare_environment(work: Path, host: HostSettings) -> None:
    """Point every scratch location of Spark and Python inside `work`, and
    pass the host fit through the engine's own variables. Must run before
    the first session starts the JVM."""
    for sub in ("tmp", "local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host.cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = host.driver_memory
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)


def start_spark(work: Path, host: HostSettings, event_log: Path | None = None):
    from blueflood_spark.session import get_spark

    confs = {
        # keep the JVM's scratch inside the work directory (no /tmp/hsperfdata_*)
        "spark__driver__extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        # every micro-batch's progress stays readable after the run
        "spark__sql__streaming__numRecentProgressUpdates": "5000",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        confs["spark__eventLog__enabled"] = "true"
        confs["spark__eventLog__dir"] = event_log.as_uri()
        confs["spark__eventLog__compress"] = "false"
    return get_spark("perfbench", shuffle_partitions=host.cpus, **confs)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # the JVM ignored EOF on stdin
            proc.kill()
            proc.wait(timeout=30)


def full_gc(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def highest_supported_percentile(n: int) -> float | None:
    """The highest reportable percentile that leaves at least ten samples
    beyond it, or None when not even the median does."""
    best = None
    for q in _PERCENTILES:
        if n * (100.0 - q) >= 1000 - 1e-6:
            best = q
    return best


def timing_summary(values_ms) -> dict:
    values_ms = list(values_ms)
    top = highest_supported_percentile(len(values_ms))
    out = {"n": len(values_ms), "highest_supported_percentile": top}
    if values_ms:
        out["p50"] = percentile(values_ms, 50)
        if top is not None:
            out[f"p{top:g}"] = percentile(values_ms, top)
    return out


# ---------------------------------------------------------------------------
# repeated set-up
# ---------------------------------------------------------------------------

SETUP_REPEATS = 3


@dataclass
class SetupTimes:
    get_spark_ms: list = field(default_factory=list)
    generate_ms: list = field(default_factory=list)
    warmup_ms: list = field(default_factory=list)
    total_s: list = field(default_factory=list)

    def metrics(self) -> dict:
        return {
            "setup_s": statistics.median(self.total_s),
            "session.get_spark_ms": statistics.median(self.get_spark_ms),
            "setup.generate_ms": statistics.median(self.generate_ms),
            "setup.warmup_ms": statistics.median(self.warmup_ms),
        }


def repeated_setup(work: Path, host: HostSettings, generate, start, event_log: Path | None):
    """Set up SETUP_REPEATS times, each from a fresh session into fresh
    directories: session start, generation, an explicit GC, then the
    workload's warm-up, a fixed amount of its own load (`start` returns a
    pass; its `warm` does the work). Earlier repeats are stopped; the last
    goes on into its timed region. The median of the repeats is the run's
    set-up time. Only the first repeat launches the JVM: later sessions
    start in the same JVM, so the median leaves the JVM launch out.
    Returns (spark, state, warmed-up pass, SetupTimes)."""
    times = SetupTimes()
    spark = running = None
    for i in range(SETUP_REPEATS):
        if running is not None:
            running.stop()
            spark.stop()
            shutil.rmtree(work / f"setup{i - 1}", ignore_errors=True)
        t0 = time.perf_counter()
        spark = start_spark(work, host, event_log if i == SETUP_REPEATS - 1 else None)
        t1 = time.perf_counter()
        state = generate(spark, fresh_dir(work / f"setup{i}"))
        t2 = time.perf_counter()
        full_gc(spark)
        running = start(spark, state)
        running.warm()
        t3 = time.perf_counter()
        times.get_spark_ms.append((t1 - t0) * 1e3)
        times.generate_ms.append((t2 - t1) * 1e3)
        times.warmup_ms.append((t3 - t2) * 1e3)
        times.total_s.append(t3 - t0)
    return spark, state, running, times


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    rid: str | None
    sid: int = -1
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (children clipped to the parent's interval)."""
    children: dict[int, list] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        kids = [
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in children.get(sp.sid, [])
            if c.end > sp.start and c.start < sp.end
        ]
        out[sp.sid] = sp.duration - covered(kids)
    return out


class Tracer:
    """In-memory span recorder. Spans nest per thread; a root span carries
    the request id that its descendants inherit."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if rid is None and parent is not None:
            rid = parent.rid
        sp = Span(name, time.time(), 0.0, parent.sid if parent else None, rid, attrs=attrs)
        with self._lock:
            sp.sid = len(self.spans)
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()

    def wrap(self, module, attr: str, name: str, keep_result: bool = False):
        """Replace module.attr by a wrapper recording a span per call.
        Returns a function that restores the original."""
        orig = getattr(module, attr)

        def wrapped(*args, **kwargs):
            with self.span(name) as sp:
                result = orig(*args, **kwargs)
                if keep_result:
                    sp.attrs["result"] = result
                return result

        setattr(module, attr, wrapped)
        return lambda: setattr(module, attr, orig)

    def resolve_frames(self) -> None:
        """Replace each kept DataFrame result by its Catalyst phase times;
        must run while the session is alive."""
        for sp in self.spans:
            frame = sp.attrs.pop("result", None)
            if frame is not None:
                sp.attrs["phases"] = catalyst_phases(frame)

    def dump(self, path: Path) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            for sp in self.spans:
                rec = {
                    "sid": sp.sid, "name": sp.name, "start": sp.start, "end": sp.end,
                    "parent": sp.parent, "rid": sp.rid, "self_s": selfs[sp.sid],
                }
                rec.update(sp.attrs)
                fh.write(json.dumps(rec) + "\n")


def catalyst_phases(df) -> dict[str, tuple[float, float]]:
    """(start, end) in epoch seconds of each QueryExecutionTracker phase
    (analysis, optimization, planning) of a DataFrame's own execution."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = (kv._2().startTimeMs() / 1e3, kv._2().endTimeMs() / 1e3)
    return out


def unaccounted_share(spans, root_name: str) -> list[float]:
    """Per root span: the share of its wall time that no child span covers."""
    selfs = self_times(spans)
    return [selfs[sp.sid] / sp.duration for sp in spans if sp.name == root_name and sp.duration > 0]


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_PYTHON_SCOPES = ("InPandas", "EvalPython", "InArrow", "PythonUDF", "PythonRunner")


@dataclass
class StageStats:
    python: bool = False
    tasks: int = 0
    cpu_ms: float = 0.0
    run_ms: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0


@dataclass
class EventLog:
    """Per-job facts read back from one application's JSON event log."""

    job_props: dict = field(default_factory=dict)  # job id -> properties
    stage_job: dict = field(default_factory=dict)  # stage id -> first job
    stages: dict = field(default_factory=dict)  # stage id -> StageStats
    exec_driver_metrics: dict = field(default_factory=dict)  # exec id -> {metric name: sum}

    def jobs_where(self, key: str) -> dict[str, list[int]]:
        """Jobs grouped by the value of one local property."""
        out: dict[str, list[int]] = {}
        for job, props in self.job_props.items():
            v = props.get(key)
            if v is not None:
                out.setdefault(v, []).append(job)
        return out

    def totals(self, jobs) -> dict:
        jobs = set(jobs)
        t = {"jobs": len(jobs), "stages": 0, "tasks": 0, "task_cpu_ms": 0.0,
             "input_bytes": 0, "shuffle_bytes": 0, "python_task_ms": 0.0,
             "files_read": 0, "output_files": 0}
        for sid, st in self.stages.items():
            if self.stage_job.get(sid) not in jobs or st.tasks == 0:
                continue
            t["stages"] += 1
            t["tasks"] += st.tasks
            t["task_cpu_ms"] += st.cpu_ms
            t["input_bytes"] += st.input_bytes
            t["shuffle_bytes"] += st.shuffle_bytes
            if st.python:
                t["python_task_ms"] += st.run_ms
        execs = {self.job_props[j].get("spark.sql.execution.id") for j in jobs}
        for ex in execs:
            m = self.exec_driver_metrics.get(ex, {})
            t["files_read"] += m.get("number of files read", 0)
            t["output_files"] += m.get("number of written files", 0)
        return t


def _plan_metric_ids(info: dict, names: tuple[str, ...], out: dict) -> None:
    for m in info.get("metrics", []):
        if m.get("name") in names:
            out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metric_ids(child, names, out)


def _event_lines(log_dir: Path):
    """Lines of the one application log under `log_dir`, whether written
    as a single file or as a rolling `eventlog_v2_*` directory."""
    files = [p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith((".", "appstatus"))]
    if any(p.name.endswith(".inprogress") for p in files):
        raise RuntimeError(f"event log in {log_dir} is unfinished")
    files.sort(key=lambda p: int(p.name.split("_")[1]) if p.name.startswith("events_") else 0)
    for p in files:
        with open(p) as fh:
            yield from fh


def read_event_log(log_dir: Path) -> EventLog:
    log = EventLog()
    wanted = ("number of files read", "number of written files")
    acc_name: dict[int, str] = {}
    acc_exec: dict[int, str] = {}
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            log.job_props[job] = ev.get("Properties", {}) or {}
            for sid in ev["Stage IDs"]:
                log.stage_job.setdefault(sid, job)
            for info in ev.get("Stage Infos", []):
                st = log.stages.setdefault(info["Stage ID"], StageStats())
                for rdd in info.get("RDD Info", []):
                    scope = rdd.get("Scope", "") + rdd.get("Name", "")
                    if any(s in scope for s in _PYTHON_SCOPES):
                        st.python = True
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(ev["Stage ID"], StageStats())
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
            st.run_ms += m.get("Executor Run Time", 0)
            st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            ids: dict[int, str] = {}
            _plan_metric_ids(ev.get("sparkPlanInfo", {}), wanted, ids)
            for acc, name in ids.items():
                acc_name[acc] = name
                acc_exec[acc] = str(ev["executionId"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            ex = str(ev["executionId"])
            for acc, value in ev.get("accumUpdates", []):
                name = acc_name.get(acc)
                if name is not None:
                    d = log.exec_driver_metrics.setdefault(acc_exec.get(acc, ex), {})
                    d[name] = d.get(name, 0) + value
    return log


# ---------------------------------------------------------------------------
# result line
# ---------------------------------------------------------------------------


def result_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
    )
