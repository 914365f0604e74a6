"""Shared machinery of the benchmark: tracing, Spark counters, memory
sampling, host fingerprint, session set-up and output digests.

Nothing here changes what the program does.  Every layer is timed from
outside, around calls into its public functions; Spark's own counters
are read through py4j from the status stores after each action.
"""

from __future__ import annotations

import json
import os
import platform
import re
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# small statistics helpers
# ---------------------------------------------------------------------------


def median(xs):
    return statistics.median(xs) if xs else 0.0


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def pin_to_cores(n: int) -> list[int]:
    """``taskset -c 0-(n-1)`` for this process and every child it starts
    (the JVM and its Python workers inherit the affinity mask)."""
    cores = sorted(os.sched_getaffinity(0))[:n]
    os.sched_setaffinity(0, cores)
    return cores


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """Spans around the benchmark's calls into the program's layers.

    A span holds name, start, end, parent and run id (plus free-form
    attributes such as Spark counters).  Spans stay in memory and are
    written out once, as one JSON file, when the run ends.  With
    ``enabled=False`` every call is a no-op, so the untraced run pays
    for nothing but a function call per boundary.
    """

    def __init__(self, run_id: str, enabled: bool, spark_counters=None):
        self.run_id = run_id
        self.enabled = enabled
        self.counters = spark_counters
        self.spans: list[dict] = []
        self._stack: list[int] = []
        #: wall time spent in the tracer's own bookkeeping and counter
        #: harvesting (the part of tracing overhead it can see itself)
        self.self_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": 0.0,
            "end": 0.0,
            "attrs": dict(attrs),
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        self.self_s += time.perf_counter() - t_in
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def action(self, name: str, spark, **attrs):
        """A span around one Spark action; its counters are harvested
        right after the action returns, inside a child span of its own
        (``trace.harvest``) so the harvest shows as overhead, not as
        the action's self time."""
        if not self.enabled:
            yield None
            return
        with self.span(name, **attrs) as sp:
            before = self.counters.mark(spark)
            yield sp
            t0 = time.perf_counter()
            with self.span("trace.harvest"):
                c = self.counters.harvest(spark, before)
                c["plan_ms"] = sp["attrs"].pop("plan_ms", 0.0)
                sp["attrs"]["spark"] = c
            self.self_s += time.perf_counter() - t0

    def note_plan(self, sp, df) -> None:
        """Plan ``df`` now and record its planning phases on ``sp``.  An
        action on ``df`` itself (collect, toPandas) reuses this plan; a
        write plans again, which is part of the tracing overhead."""
        if not self.enabled:
            return
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        ms, it = 0.0, qe.tracker().phases().iterator()
        while it.hasNext():
            ms += float(it.next()._2().durationMs())
        sp["attrs"]["plan_ms"] = ms

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            dict(s, start=s["start"] - t0, end=s["end"] - t0, self_s=selfs[s["id"]])
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": spans, **extra}, f, default=str)


# ---------------------------------------------------------------------------
# Spark counters, read from the status stores after each action
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6}


def _parse_sql_metric(kind: str, text: str) -> float:
    """Total of one SQL metric from its UI string.

    ``size`` and ``timing`` metrics read
    ``"total (min, med, max ...)\\n<total> <unit> (...)"``; ``sum``
    metrics are a plain comma-grouped integer.  The UI rounds sizes and
    times to one decimal, which is the resolution these counters get.
    """
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if kind == "size":
        return v * _SIZE.get(unit, 1)
    if kind in ("timing", "nsTiming"):
        return v * _TIME_MS.get(unit, 1.0)
    return v


#: SQL metric name -> counter it feeds
_SQL_METRICS = {
    "time to run Python workers": "python_exec_ms",
    "data sent to Python workers": "arrow_bytes_to_python",
    "data returned from Python workers": "arrow_bytes_from_python",
}


class SparkCounters:
    """Engine counters for one action, as deltas of Spark's own stores.

    - core ``AppStatusStore``: tasks, shuffle write bytes/records,
      spill, peak execution memory and per-task durations of every
      stage the action's jobs ran (found through a per-action job
      group);
    - ``SQLAppStatusStore``: Python worker time and Arrow bytes of the
      SQL executions the action started;
    - ``QueryExecution.tracker().phases()``: planning time (recorded
      by :meth:`Tracer.note_plan`);
    - ``CodegenMetrics``: Janino compile count and time.
    """

    def __init__(self):
        self._seq = 0

    @staticmethod
    def _codegen(spark):
        h = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        return h.getCount(), float(sum(h.getSnapshot().getValues()))

    def mark(self, spark) -> dict:
        self._seq += 1
        group = f"perfbench-{self._seq}"
        spark.sparkContext.setJobGroup(group, group)
        sq = spark._jsparkSession.sharedState().statusStore()
        return {
            "group": group,
            "codegen": self._codegen(spark),
            "n_exec": sq.executionsCount(),
        }

    def harvest(self, spark, before: dict) -> dict:
        sc = spark.sparkContext
        sc.setJobGroup("perfbench-idle", "perfbench-idle")
        st = sc._jsc.sc().statusStore()
        out = {
            "tasks": 0, "shuffle_write_bytes": 0, "shuffle_records": 0,
            "spill_bytes": 0, "peak_exec_memory_bytes": 0,
            "python_exec_ms": 0.0, "arrow_bytes_to_python": 0.0,
            "arrow_bytes_from_python": 0.0,
            "longest_stage_ms": 0, "longest_stage_skew": 1.0,
        }
        stage_ids = set()
        for jid in sc.statusTracker().getJobIdsForGroup(before["group"]):
            info = sc.statusTracker().getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            try:
                s = st.lastStageAttempt(sid)
            except Exception:  # stage skipped or evicted: nothing ran
                continue
            if s.status().toString() != "COMPLETE":
                continue
            out["tasks"] += s.numCompleteTasks()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_records"] += s.shuffleWriteRecords()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["peak_exec_memory_bytes"] = max(
                out["peak_exec_memory_bytes"], s.peakExecutionMemory())
            run_ms = s.executorRunTime()
            if run_ms > out["longest_stage_ms"]:
                out["longest_stage_ms"] = run_ms
                out["longest_stage_skew"] = self._skew(st, s)
        sq = spark._jsparkSession.sharedState().statusStore()
        n_exec = sq.executionsCount()
        if n_exec > before["n_exec"]:
            execs = sq.executionsList(before["n_exec"], n_exec - before["n_exec"])
            it = execs.iterator()
            while it.hasNext():
                self._add_sql_metrics(sq, it.next(), out)
        n0, ms0 = before["codegen"]
        n1, ms1 = self._codegen(spark)
        out["codegen_compiles"] = n1 - n0
        out["codegen_ms"] = ms1 - ms0
        return out

    @staticmethod
    def _skew(st, stage) -> float:
        durs = []
        it = st.taskList(stage.stageId(), stage.attemptId(), 100000).iterator()
        while it.hasNext():
            d = it.next().duration()
            if d.isDefined():
                durs.append(float(d.get()))
        med = median(durs)
        return max(durs) / med if durs and med > 0 else 1.0

    @staticmethod
    def _add_sql_metrics(sq, ex, out: dict) -> None:
        kinds = {}
        it = ex.metrics().iterator()
        while it.hasNext():
            m = it.next()
            if m.name() in _SQL_METRICS:
                kinds[m.accumulatorId()] = (_SQL_METRICS[m.name()], m.metricType())
        if not kinds:
            return
        it = sq.executionMetrics(ex.executionId()).iterator()
        while it.hasNext():
            kv = it.next()
            hit = kinds.get(int(kv._1()))
            if hit is not None:
                out[hit[0]] += _parse_sql_metric(hit[1], str(kv._2()))


def sum_counters(spans: list[dict]) -> dict:
    """Totals of the counters attached to ``spans`` (action spans)."""
    tot: dict = {}
    longest = (0, 1.0)
    for s in spans:
        c = s["attrs"].get("spark")
        if not c:
            continue
        for k, v in c.items():
            if k == "peak_exec_memory_bytes":
                tot[k] = max(tot.get(k, 0), v)
            elif k not in ("longest_stage_ms", "longest_stage_skew"):
                tot[k] = tot.get(k, 0) + v
        if c["longest_stage_ms"] > longest[0]:
            longest = (c["longest_stage_ms"], c["longest_stage_skew"])
    tot["task_skew"] = longest[1]
    return tot


# ---------------------------------------------------------------------------
# peak RSS of the Spark process tree, sampled from /proc
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers it forks), sampled every ``interval`` seconds on
    a background thread between :meth:`start` and :meth:`stop`.  The
    peaks of the JVM alone and of the workers alone are kept too."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = self.peak_jvm = self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = None

    def sample(self) -> int:
        kids = _children_map()
        jvm = sum(_rss_bytes(p) for p in kids.get(os.getpid(), []))
        todo, workers = [k for p in kids.get(os.getpid(), []) for k in kids.get(p, [])], 0
        while todo:
            p = todo.pop()
            workers += _rss_bytes(p)
            todo.extend(kids.get(p, []))
        self.peak = max(self.peak, jvm + workers)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_workers = max(self.peak_workers, workers)
        return jvm + workers

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self):
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        if self._stop.is_set():
            return
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()


# ---------------------------------------------------------------------------
# host fingerprint
# ---------------------------------------------------------------------------


def membw_canary(mb: int = 256, reps: int = 3) -> float:
    """Best-of-``reps`` copy bandwidth in GB/s (read + write), taken the
    same way as ``bench.py``'s canary: a contended host shows here
    before it shows as a slower workload."""
    import numpy as np

    a = np.ones(mb * 1024 * 1024 // 8, dtype=np.float64)
    b = np.empty_like(a)
    np.copyto(b, a)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(b, a)
        best = min(best, time.perf_counter() - t0)
    return 2 * mb / 1024 / best


def cpu_canary(reps: int = 3) -> float:
    """Best-of-``reps`` seconds of a fixed pure-Python loop: a slow or
    contended core shows here."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        best = min(best, time.perf_counter() - t0)
    return best


def host_fingerprint(cores: list[int]) -> dict:
    import pandas
    import pyarrow
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True,
                              text=True, timeout=30).stderr.splitlines()[0]
    except (OSError, subprocess.SubprocessError, IndexError):
        java = "unknown"
    return {
        "nproc": nproc(),
        "pinned_cores": cores,
        "mem_total_kb": mem_kb,
        "machine": platform.machine(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "java": java,
    }


# ---------------------------------------------------------------------------
# session set-up
# ---------------------------------------------------------------------------


def session_conf(work: str) -> dict:
    """Keep everything Spark writes inside the benchmark's work dir.

    This moves shuffle and spill from the program's own ``spark.local.dir``
    (tmpfs under ``/dev/shm``) to the disk the checkout is on.  On a
    4-core host with a virtio disk, four interleaved pairs of
    ``flagship_batch`` runs on an 800k-turn input showed no difference in
    ``warm_s`` beyond the run-to-run spread: medians 2.97 s on disk and
    3.08 s on tmpfs; a shuffle of ~13 MB per pass stays in the page cache.
    """
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the host's /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }


def start_session(tracer: Tracer, work: str, cores: int, master: str | None = None):
    """``get_spark`` + ``ensure_shipped``; returns (spark, get_s, ship_s)."""
    from ocr_spark.deploy import ensure_shipped
    from ocr_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(
            app_name="perfbench",
            master=master or f"local[{cores}]",
            extra_conf=session_conf(work),
        )
    t1 = time.perf_counter()
    with tracer.span("deploy.ensure_shipped"):
        ensure_shipped(spark)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (the Python workers are its children and go with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# sink and output digests
# ---------------------------------------------------------------------------


def noop(df) -> None:
    """Run ``df`` to Spark's noop sink (the job runs, nothing is kept)."""
    df.write.format("noop").mode("overwrite").save()


def digest(df) -> tuple[int, str]:
    """(row count, order-insensitive digest) of a DataFrame: the sum of
    one 64-bit hash per row, over every column."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(r["n"]), str(r["h"])
