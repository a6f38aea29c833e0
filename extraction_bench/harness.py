"""Measurement plumbing shared by the workloads: spans with Spark job
groups, the event-log fold, plan-shape counts, cache ownership checks and
the process-tree RSS sampler. Nothing here knows about a workload."""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

MB = 1024 * 1024
OUTSIDE_SPANS = "bench"  # job group of work the benchmark does between spans
INSPECT = "bench.inspect"  # spans of the benchmark's own plan inspection


# ------------------------------------------------------------ process RSS --


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def descendants(root_pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Summed resident set of `root_pid` and all its descendants."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's RSS every `period` seconds on a daemon
    thread while a `window()` is open; `peak_mb` is the largest sample."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_bytes = 0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    @contextmanager
    def window(self):
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.period):
            if self._active.is_set():
                self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(pid))

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / MB

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------------ spans --


class Tracer:
    """Spans (name, start, end, parent, run id) around calls into a
    layer. Each span tags the Spark jobs it runs with a job group
    `<span id>:<layer>`, so the event log can be folded per layer."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        sc.setJobGroup(OUTSIDE_SPANS, OUTSIDE_SPANS)

    @contextmanager
    def span(self, layer: str, call: str = ""):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "layer": layer, "name": call or layer,
               "parent": parent["id"] if parent else None, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(self.group(rec), rec["name"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            back = self.group(parent) if parent else OUTSIDE_SPANS
            self.sc.setJobGroup(back, back)

    @staticmethod
    def group(rec: dict) -> str:
        return f"{rec['id']}:{rec['layer']}"

    def self_s(self) -> dict[str, float]:
        """Per layer: summed span time minus the time child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def wall_s(self, layer: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["layer"] == layer)


# -------------------------------------------------------------- event log --


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per layer (from the `<span id>:<layer>` job group): summed task
    time, shuffle bytes written, spill, and the max/median task time of
    the layer's dominant stage (the one with the most task time)."""
    (path,) = [p for p in glob.glob(f"{log_dir}/*") if not p.endswith(".crc")]
    stage_layer: dict[int, str] = {}
    tasks: dict[int, list[tuple[int, int, int, int]]] = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                layer = group.split(":", 1)[1] if ":" in group else OUTSIDE_SPANS
                for sid in ev["Stage IDs"]:
                    stage_layer[sid] = layer
            elif kind == "SparkListenerTaskEnd":
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks[ev["Stage ID"]].append((
                    info["Finish Time"] - info["Launch Time"],
                    tm.get("Executor Run Time", 0),
                    (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    tm.get("Disk Bytes Spilled", 0),
                ))
    by_layer: dict[str, list[list]] = defaultdict(list)
    for sid, ts in tasks.items():
        by_layer[stage_layer.get(sid, OUTSIDE_SPANS)].append(ts)
    out = {}
    for layer, stages in by_layer.items():
        flat = [t for ts in stages for t in ts]
        dominant = max(stages, key=lambda ts: sum(t[0] for t in ts))
        durs = [t[0] for t in dominant]
        med = statistics.median(durs)
        out[layer] = {
            "task_s": sum(t[1] for t in flat) / 1000.0,
            "shuffle_write_mb": sum(t[2] for t in flat) / MB,
            "spill_mb": sum(t[3] for t in flat) / MB,
            "task_skew": max(durs) / med if med > 0 else 1.0,
            "stages": len(stages),
            "tasks": len(flat),
        }
    return out


# ------------------------------------------------------------- plan shape --

def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def plan_counts(df, include_cached: bool) -> Counter:
    """Count the nodes of each kind (Sort, Window, Exchange,
    InMemoryTableScan, ...) in the physical plan `df` has before its
    action (as the repo's plan-shape tests read it), walking the plan
    tree rather than its printout: an
    adaptive plan prints its stages at an indentation of their own, so
    the text does not show which nodes belong to a cached relation.
    Adaptive plans and query stages hold their plan outside `children`.

    include_cached=False counts the plan's own nodes, not the fill plans
    of the caches it scans; True counts each distinct cached plan once,
    however many times it is scanned. Take the counts before `persist()`,
    or the plan collapses to a scan of its own cache."""
    counts: Counter = Counter()
    seen: set[int] = set()

    def walk(node) -> None:
        name = node.nodeName()
        counts[name] += 1
        if name == "InMemoryTableScan":
            cached = node.relation().cachedPlan()
            if include_cached and cached.id() not in seen:
                seen.add(cached.id())
                walk(cached)
            return
        if name == "AdaptiveSparkPlan":
            inner = [node.executedPlan()]
        elif name.endswith("QueryStage"):
            inner = [node.plan()]
        else:
            inner = _seq(node.children()) + _seq(node.innerChildren())
        for child in inner:
            walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return counts


# ------------------------------------------------------- cache ownership --


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / MB


def is_cold(spark) -> bool:
    """No persisted RDD and no cached plan registered."""
    return (persisted_rdds(spark) == 0
            and spark._jsparkSession.sharedState().cacheManager().isEmpty())


def release_caches(spark) -> None:
    from pdf_plumber_util_spark.contract import clear_shared_lines

    clear_shared_lines()
    spark.catalog.clearCache()


def materialise(df):
    """Persist and fill the cache with a full-output write (no count);
    returns the cached frame and its row count, observed on the write."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = df.persist()
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return df, obs.get["n"]
