"""Session set-up, output digests, spans and the Spark event-log reader."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

from pyspark.sql import DataFrame, functions as F


# ------------------------------------------------------------ session

class Session:
    """One Spark session on local[cores], created through the engine's
    `conf.session_builder`. Set-up is timed as two parts: the session
    start (SparkContext + SparkSession) and the engine's worker prewarm.
    `restart()` stops the session and starts a new one in the same JVM;
    `event_log` turns on Spark's local JSON event log for the next start."""

    def __init__(self, work: str, cores: int):
        self.work, self.cores = work, cores
        self.spark = None
        self.event_log_dir: str | None = None
        self.starts: list[tuple[float, float]] = []  # (session_start_s, prewarm_s)

    def start(self, event_log: bool = False) -> None:
        from eggopress import conf

        builder = conf.session_builder("perfbench", cores=self.cores) \
            .config("spark.ui.enabled", "false") \
            .config("spark.ui.showConsoleProgress", "false") \
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse")) \
            .config("spark.driver.extraJavaOptions",
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
        if event_log:
            self.event_log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_log_dir, exist_ok=True)
            builder = builder.config("spark.eventLog.enabled", "true") \
                .config("spark.eventLog.dir", "file://" + self.event_log_dir) \
                .config("spark.eventLog.compress", "false") \
                .config("spark.eventLog.rolling.enabled", "false")
        else:
            builder = builder.config("spark.eventLog.enabled", "false")
        os.environ["EGGOPRESS_PREWARM"] = "0"
        t0 = time.perf_counter()
        self.spark = builder.getOrCreate()
        t1 = time.perf_counter()
        os.environ["EGGOPRESS_PREWARM"] = "1"
        conf.prewarm_python_workers(self.spark)
        t2 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.starts.append((t1 - t0, t2 - t1))

    def restart(self, event_log: bool = False) -> None:
        self.spark.stop()
        self.start(event_log)

    def close(self) -> None:
        """Stop the session, then the JVM it ran in, and wait for both."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            with contextlib.suppress(Exception):
                gw.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


# ------------------------------------------------------------ digests

def digests(df: DataFrame, parts: dict) -> dict[str, tuple[int, int, int]]:
    """Order-independent digests of several projections/filters of df in
    one pass. `parts` maps a name to (columns, row condition or None); each
    digest is the row count and the sums of two independent row hashes.
    Computing it forces every listed value of every row to be
    materialized, so no read can short-cut its decode."""
    aggs = []
    for name, (cols, cond) in parts.items():
        c = [F.col(x) for x in cols]
        keep = (lambda e: e) if cond is None else (lambda e, cond=cond: F.when(cond, e))
        aggs += [F.count(keep(F.lit(1))).alias(f"{name}_n"),
                 F.sum(keep(F.xxhash64(*c).cast("decimal(38,0)"))).alias(f"{name}_x"),
                 F.sum(keep(F.hash(*c).cast("long"))).alias(f"{name}_m")]
    row = df.agg(*aggs).collect()[0]
    return {name: (int(row[f"{name}_n"]), int(row[f"{name}_x"] or 0), int(row[f"{name}_m"] or 0))
            for name in parts}


def digest(df: DataFrame) -> tuple[int, int, int]:
    return digests(df, {"all": (df.columns, None)})["all"]


def row_hashes(df: DataFrame, key: str) -> dict:
    """key -> 64-bit hash of the whole row, collected to the driver."""
    h = F.xxhash64(*[F.col(c) for c in df.columns]).alias("h")
    return {r[0]: r[1] for r in df.select(key, h).collect()}


# ------------------------------------------------------------ process stats

def peak_rss_mb() -> float:
    """Peak resident set of this process's tree (the Python driver, the
    Spark JVM and its Python workers), from /proc. A child that has
    already exited is not counted."""
    me = os.getpid()
    parents: dict[int, int] = {}
    for st in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            parents[int(st.split("/")[2])] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    total_kb = 0
    for pid in parents:
        p = pid
        while p in parents and p != me and p > 1:
            p = parents[p]
        if p != me:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest order statistic that leaves at
    least ten samples above it (the median when there are fewer than 20)."""
    xs = sorted(samples)
    if len(xs) < 20:
        return 50.0, statistics.median(xs)
    k = len(xs) - 11
    return 100.0 * (k + 1) / len(xs), xs[k]


# ------------------------------------------------------------ spans

class Tracer:
    """Spans recorded around calls into each layer (name, start, end,
    parent, run id), kept in memory. With `jobs=True` each span also sets
    a Spark job group, so the event log's stages can be attributed to it."""

    def __init__(self, run_id: str, spark=None, jobs: bool = False):
        self.run_id, self.spark, self.jobs = run_id, spark, jobs
        self.spans: list[dict] = []
        self.stack: list[int] = []

    def add(self, name: str, start: float, end: float) -> None:
        """A finished root span timed elsewhere (e.g. session set-up)."""
        self.spans.append({"id": len(self.spans), "name": name, "run": self.run_id,
                           "parent": None, "start": start, "end": end})

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self.stack[-1] if self.stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self.stack.append(sid)
        sc = self.spark.sparkContext if self.jobs else None
        if sc is not None:
            sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            if sc is not None:
                if self.stack:
                    parent = self.spans[self.stack[-1]]
                    sc.setJobGroup(f"span-{parent['id']}", parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)

    def self_seconds(self) -> list[float]:
        """Per span: its duration minus the time its child spans cover."""
        out = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out


# ------------------------------------------------------------ event log

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per Spark job group: jobs, tasks, input records and bytes, shuffle
    and spill bytes,
    executor CPU and GC seconds, Python-boundary bytes, and the task skew
    (max / median task run time) of the group's widest stage."""
    stage_group: dict[tuple[str, int], str] = {}
    groups: dict[str, dict] = {}
    stage_tasks: dict[tuple[str, int], list[float]] = {}

    def grp(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": 0, "tasks": 0, "input_bytes": 0, "input_records": 0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "executor_cpu_s": 0.0,
            "gc_s": 0.0, "python_bytes": 0, "python_bytes_seen": False,
            "task_skew": 0.0, "widest_stage_tasks": 0})

    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        app = os.path.basename(path)
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    grp(g)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[(app, sid)] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get((app, ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    r = grp(g)
                    r["tasks"] += 1
                    r["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    r["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
                    sr = m.get("Shuffle Read Metrics", {})
                    r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + \
                        sr.get("Local Bytes Read", 0)
                    r["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}) \
                        .get("Shuffle Bytes Written", 0)
                    r["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + \
                        m.get("Disk Bytes Spilled", 0)
                    r["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    r["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    stage_tasks.setdefault((app, ev["Stage ID"]), []).append(
                        m.get("Executor Run Time", 0) / 1e3)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") in (_PY_SENT, _PY_RECV):
                            r["python_bytes_seen"] = True
                            r["python_bytes"] += int(acc.get("Update") or 0)
    for key, times in stage_tasks.items():
        r = groups[stage_group[key]]
        if len(times) > r["widest_stage_tasks"]:
            med = statistics.median(times)
            r["widest_stage_tasks"] = len(times)
            r["task_skew"] = max(times) / med if med > 0 else 1.0
    return groups
