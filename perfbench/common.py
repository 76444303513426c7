"""Shared harness pieces: paths, Spark set-up, spans, the micro-batch
listener, the Spark event-log summary, the engine CPU clock and the memory
sampler."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import sys
import threading
import time
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".bench_work")
#: Driver JVM heap.
DRIVER_MEMORY = "2g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return float(s[k])


def median(values) -> float:
    return float(statistics.median(values))


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, run id) recorded
    around the benchmark's own calls into each layer; written out once,
    at the end. A disabled tracer records nothing and costs one branch."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id, self.enabled = run_id, enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)


# ---------------------------------------------------------------------------
# Spark session set-up
# ---------------------------------------------------------------------------


def session_conf(work: str, event_log: bool = False) -> dict[str, str]:
    """Extra session settings that keep every file Spark writes inside
    the run's work directory; ``event_log`` turns on the JSON event log
    the traced run parses."""
    conf = {
        # Read when the first session launches the JVM. A fixed,
        # pre-touched heap (its size is spark.driver.memory) keeps the
        # JVM's footprint off G1's resizing decisions, which follow GC
        # pause times and with them the host's load; heap pressure shows
        # as GC CPU in CpuClock readings instead. Compiler threads that
        # never exit keep JIT time out of those readings (see CpuClock).
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
            " -XX:-UseDynamicNumberOfCompilerThreads"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.ui.enabled": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if event_log:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": ev,
                     "spark.eventLog.compress": "false"})
    return conf


def isolate_env(work: str) -> None:
    """Point every temp-file user (Python, the JVM launcher, Spark's
    scratch space) at the work directory before Spark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = tmp


def start_session(work: str, tracer: Tracer, event_log: bool = False):
    """SparkSession on ``local[cores]`` plus warmed Python workers,
    timed as the ``session`` layer. Returns (spark, start_s, warm_s)."""
    from kafka_go_streamer_spark.session import get_spark, warm_python_workers

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark("perfbench", cpus=cores(),
                          extra_conf=session_conf(work, event_log))
    t1 = time.perf_counter()
    with tracer.span("session.worker_warm"):
        warm_python_workers(spark)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


# ---------------------------------------------------------------------------
# Micro-batch listener
# ---------------------------------------------------------------------------


def batch_listener():
    """A StreamingQueryListener that keeps every progress event (the
    query's own ``recentProgress`` keeps only the last ~100)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Recorder(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.events.append({
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "name": p.name or "",
                # trigger start, epoch seconds
                "start": datetime.fromisoformat(
                    p.timestamp.replace("Z", "+00:00")).timestamp(),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Recorder()


def batch_phases(events: list[dict]) -> dict[str, float]:
    """Per-batch medians of the listener's ``durationMs`` phases, for
    batches that read rows."""
    ev = [e for e in events if e["rows"] > 0]
    if not ev:
        return {"streaming.batches": 0, "streaming.rows_per_batch": 0.0,
                "streaming.trigger_ms": 0.0, "streaming.latest_offset_ms": 0.0,
                "streaming.planning_ms": 0.0, "streaming.add_batch_ms": 0.0,
                "streaming.commit_ms": 0.0}

    def ph(e, k):
        return float(e["duration_ms"].get(k, 0))

    return {
        "streaming.batches": len(ev),
        "streaming.rows_per_batch": median([e["rows"] for e in ev]),
        "streaming.trigger_ms": median([ph(e, "triggerExecution") for e in ev]),
        "streaming.latest_offset_ms": median([ph(e, "latestOffset") for e in ev]),
        "streaming.planning_ms": median([ph(e, "queryPlanning") for e in ev]),
        "streaming.add_batch_ms": median([ph(e, "addBatch") for e in ev]),
        "streaming.commit_ms": median(
            [ph(e, "walCommit") + ph(e, "commitOffsets") for e in ev]),
    }


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def event_log_summary(ev_dir: str, t_from_ms: float, t_to_ms: float) -> dict:
    """Task metrics summed over tasks launched inside [t_from, t_to]
    (epoch ms), from the session's JSON event log (read after the
    session stops). ``spark.task_skew`` is max / median task time in the
    stage with the most task time."""
    tot = {"spark.shuffle_write_bytes": 0, "spark.shuffle_read_bytes": 0,
           "spark.spill_bytes": 0, "spark.gc_ms": 0,
           "spark.executor_cpu_s": 0.0, "spark.tasks": 0}
    per_stage: dict[tuple, list[float]] = {}
    # Spark 4 writes a rolling log: a directory of event files per app
    for path in sorted(glob.glob(os.path.join(ev_dir, "**", "events_*"),
                                 recursive=True)):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                e = json.loads(line)
                info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
                if not t_from_ms <= info.get("Launch Time", 0) <= t_to_ms:
                    continue
                sw = m.get("Shuffle Write Metrics", {})
                sr = m.get("Shuffle Read Metrics", {})
                tot["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                tot["spark.shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
                tot["spark.spill_bytes"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
                tot["spark.gc_ms"] += m.get("JVM GC Time", 0)
                tot["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                tot["spark.tasks"] += 1
                key = (e.get("Stage ID"), e.get("Stage Attempt ID"))
                per_stage.setdefault(key, []).append(
                    info.get("Finish Time", 0) - info.get("Launch Time", 0))
    skew = 0.0
    if per_stage:
        longest = max(per_stage.values(), key=sum)
        med = median(longest)
        skew = max(longest) / med if med > 0 else 1.0
    tot["spark.task_skew"] = skew
    return tot


# ---------------------------------------------------------------------------
# Memory
# ---------------------------------------------------------------------------


def _tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="utf-8") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime (its threads) + cutime + cstime (its reaped
    children) of one process."""
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            return sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[11:15])
    except (OSError, ValueError):
        return 0


def _jit_ticks(pid: int) -> int:
    """utime + stime of the JVM's JIT compiler threads."""
    tot, base = 0, f"/proc/{pid}/task"
    for tid in os.listdir(base):
        try:
            with open(f"{base}/{tid}/stat", encoding="utf-8") as fh:
                txt = fh.read()
        except OSError:
            continue
        head, tail = txt.rsplit(")", 1)
        if head.split("(", 1)[1].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            f = tail.split()
            tot += int(f[11]) + int(f[12])
    return tot


class CpuClock:
    """CPU seconds the Spark engine spends running the work: the driver
    JVM (every thread; in local mode the executors run inside it) plus
    the Python worker daemon and its workers below it, read from /proc
    in clock ticks, less the JVM's JIT compiler threads.

    Counting CPU time instead of wall time leaves out the time the
    engine waited for a CPU (other tenants' load, hypervisor steal), so
    a reading moves when the engine does more or less work, not when the
    host gets busier. JIT compilation is left out because in a JVM's
    first minutes it is 30-60% of the CPU and lands on whichever
    operation happens to be running while a method gets hot; it is
    warm-up, not the steady cost of an operation. Garbage collection
    stays in: it is what an operation's allocations cost. The compiler
    threads are kept alive for the whole run (session_conf) so their
    time never leaves the count. A process of the tree that exits is
    reaped by its parent, also in the tree, whose children's time then
    carries it, so a difference of two readings counts it once."""

    def __init__(self):
        from pyspark import SparkContext

        self.root = SparkContext._gateway.proc.pid  # the launcher execs into the JVM

    def read(self) -> float:
        total = sum(_cpu_ticks(p) for p in _tree(self.root))
        return (total - _jit_ticks(self.root)) * _TICK_S

    def start(self) -> float:
        """Collect the JVM's garbage, then read. Without it, a concurrent
        collection of what earlier operations left on the heap runs
        during, and is charged to, whichever operation comes next."""
        from pyspark import SparkContext

        SparkContext._jvm.java.lang.System.gc()
        return self.read()


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident memory with each page shared
    between processes split among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


class MemSampler:
    """Peak summed PSS of this process and all its descendants (the
    driver JVM, the Python worker daemon and its workers), sampled every
    ``period`` s. PSS, not RSS: a forked Python worker shares most of
    its pages with the daemon, and a child the JVM forks to run a shell
    command shares all of the JVM's until it execs; summed RSS counts
    those pages once per process and jumps whenever a sample lands on
    such a fork."""

    def __init__(self, period: float = 0.25):
        self.period, self.peak_kb = period, 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_pss_kb(p) for p in _tree(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period)

    def start(self):
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join()
        return self.peak_kb / 1024.0
