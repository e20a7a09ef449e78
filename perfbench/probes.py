"""Probes the benchmark runs from outside the engine: Spark job/task counts
per job group, the final AQE plan's exchange metrics, Python worker peak
RSS, a counting wrapper for ``io.load`` and a bare single-core SSTable
decode.  None of them changes what the engine computes."""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


# ------------------------------------------------------------ job groups

@contextmanager
def job_group(sc, name: str):
    """Tag every Spark job started in the block with ``name`` and restore
    the enclosing group afterwards (groups nest: an ``io.load`` inside a
    query build gets its own)."""
    prev = sc.getLocalProperty(_GROUP)
    sc.setLocalProperty(_GROUP, name)
    try:
        yield
    finally:
        sc.setLocalProperty(_GROUP, prev)


def group_jobs(sc, name: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(name))


def group_tasks(sc, name: str) -> int:
    """Completed tasks of the group's jobs; a stage shared by several jobs
    counts once, a skipped stage completes no task."""
    st = sc.statusTracker()
    stages = set()
    for jid in group_jobs(sc, name):
        info = st.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    total = 0
    for sid in stages:
        info = st.getStageInfo(sid)
        if info is not None:
            total += info.numCompletedTasks
    return total


# ------------------------------------------------------------ final plan

def _seq(jseq) -> list:
    it = jseq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _metric(node, name: str) -> int:
    m = node.metrics()
    return int(m.apply(name).value()) if m.contains(name) else 0


def plan_stats(df) -> dict[str, int]:
    """Exchange count and bytes from the final (post-AQE) physical plan of
    a DataFrame that has been executed.  Reused exchanges count once."""
    out = {"exchanges": 0, "shuffle_bytes": 0, "broadcast_bytes": 0, "spill_bytes": 0}
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        if cls.endswith("ShuffleExchangeExec"):
            out["exchanges"] += 1
            out["shuffle_bytes"] += _metric(node, "shuffleBytesWritten")
        elif cls.endswith("BroadcastExchangeExec"):
            out["exchanges"] += 1
            out["broadcast_bytes"] += _metric(node, "dataSize")
        out["spill_bytes"] += _metric(node, "spillSize")
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return out


# ------------------------------------------------------------ io.load

class LoadTracer:
    """Wraps ``io.load`` (install before the registry is imported, so
    ``from ...io import load`` binds the wrapper).  Counts only while
    ``on``; each call runs in its own job group so its schema-inference
    jobs are counted apart from the query build around it."""

    def __init__(self, sc):
        self.on = False
        self.calls = 0
        self.seconds = 0.0
        self.jobs = 0
        self._sc = sc

    def install(self, io_module) -> None:
        inner = io_module.load

        def load(spark, sf_dir, name):
            if not self.on:
                return inner(spark, sf_dir, name)
            sc = self._sc
            group = f"io-{self.calls}-{time.monotonic_ns()}"
            t0 = time.perf_counter()
            with job_group(sc, group):
                df = inner(spark, sf_dir, name)
            self.seconds += time.perf_counter() - t0
            self.calls += 1
            self.jobs += len(group_jobs(sc, group))
            return df

        io_module.load = load


# ------------------------------------------------------------ worker RSS

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _worker_pids() -> list[int]:
    """PySpark daemon + worker processes descended from this process."""
    kids = _children_map()
    todo, found = [os.getpid()], []
    while todo:
        for child in kids.get(todo.pop(), ()):
            todo.append(child)
            try:
                with open(f"/proc/{child}/cmdline", "rb") as fh:
                    if b"pyspark.daemon" in fh.read():
                        found.append(child)
            except OSError:
                pass
    return found


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRss:
    """Peak RSS (MB) of any single Python worker, sampled in a thread.
    ``reset`` clears the kernel's high-water marks (``clear_refs`` 5) so a
    peak belongs to the operation that follows it."""

    def __init__(self, interval: float = 0.1):
        self._interval = interval
        self._peak_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        peak = max((_hwm_kb(p) for p in _worker_pids()), default=0)
        with self._lock:
            self._peak_kb = max(self._peak_kb, peak)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def start(self) -> "WorkerRss":
        self._thread.start()
        return self

    def reset(self) -> None:
        for pid in _worker_pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass
        with self._lock:
            self._peak_kb = 0

    def peak_mb(self) -> float:
        self._sample()
        with self._lock:
            return self._peak_kb / 1024.0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------ bare decode

def bare_decode(path: str, schema_cql: str) -> dict:
    """Decode one ``na`` Data.db on one core with the engine's own codec
    calls, outside Spark: verify its checksums, then parse every row."""
    from cassandra_snap_to_hadoop_spark.sources import sstable_na
    from cassandra_snap_to_hadoop_spark.sources.snapshot import parse_table_meta

    meta = parse_table_meta(schema_cql)
    with open(path, "rb") as fh:
        raw = fh.read()
    t0 = time.perf_counter()
    sstable_na.verify_na_integrity(path, raw)
    t1 = time.perf_counter()
    stats, _ = sstable_na.read_na_stats_db(sstable_na.stats_path_for(path))
    n = sum(1 for _ in sstable_na.parse_na_data_db(raw, meta, stats))
    t2 = time.perf_counter()
    return {"bytes": len(raw), "rows": n, "checksum_s": t1 - t0, "parse_s": t2 - t1}
