"""In-memory spans and Spark counters for the traced benchmark run.

Spans are recorded around the benchmark's own calls into the engine
(name, start, end, parent, run id) and written out once, at the end of the
run. Counters come from Spark's SQL status store: each timed action runs under
its own job group, and the SQL executions that ran the group's jobs give
job counts, rows and bytes scanned, and the metrics of the Python runners
(bytes to and from Python workers, worker start, init and run time).
Peak resident memory of the JVM and its Python workers is read from /proc.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

# SQL metric names of the Python runner plan nodes (PythonSQLMetrics)
PY_METRICS = {
    "data sent to Python workers": "bytes_to_python",
    "data returned from Python workers": "bytes_from_python",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "time to run Python workers": "run_s",
}


class Tracer:
    """Spans of one run. Disabled tracers time nothing and keep nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover
        (children of a span never overlap: one thread, one job at a time)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child[s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class JobGroups:
    """Runs actions under fresh job groups and reads their counters back
    from Spark's SQL status store. Disabled groups set nothing."""

    def __init__(self, spark, prefix: str, enabled: bool = True):
        self.spark = spark
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.enabled = enabled
        self.n = 0
        self._first: dict[str, int] = {}  # executions recorded before each group

    @contextmanager
    def group(self, label: str):
        if not self.enabled:
            yield None
            return
        self.n += 1
        gid = f"{self.prefix}-{self.n}-{label}"
        self._first[gid] = self.spark._jsparkSession.sharedState().statusStore().executionsCount()
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setJobGroup(f"{self.prefix}-idle", "idle")

    def stats(self, gid: str) -> dict:
        """Counters of the SQL executions that ran jobs of group `gid`:
        jobs, rows and bytes read by parquet scans of data (not of the
        pipeline's own _checkpoints/_metrics tables), rows out of
        mapInArrow, and the Python-runner metrics. Each execution's plan
        graph is read as one DOT text with its metric values, which costs
        three calls into the JVM instead of several per plan node."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(gid))
        out = {"jobs": len(job_ids), "scan_rows": 0, "scan_bytes": 0, "arrow_rows": 0}
        out.update({v: 0 for v in PY_METRICS.values()})
        first = min(self._first.get(gid, 0), store.executionsCount())
        execs = store.executionsList(first, store.executionsCount() - first)
        for i in range(execs.length()):
            ex = execs.apply(i)
            if not job_ids & {int(j) for j in _JOB_KEY.findall(ex.jobs().toString())}:
                continue
            eid = ex.executionId()
            dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
            for name, tooltip, metrics in _dot_nodes(dot):
                is_scan = name.startswith("Scan parquet") and not (
                    "_checkpoints" in tooltip or "_metrics" in tooltip
                )
                for metric, text in metrics.items():
                    key = PY_METRICS.get(metric)
                    if key is None and is_scan:
                        key = {"number of output rows": "scan_rows",
                               "size of files read": "scan_bytes"}.get(metric)
                    if key is None and name == "MapInArrow" and metric == "number of output rows":
                        key = "arrow_rows"
                    if key is not None:
                        out[key] += parse_metric(text)
        return out


_JOB_KEY = re.compile(r"(\d+) ->")
_DOT_NODE = re.compile(
    r'^\s*\d+ \[id="node\d+" labelType="html" label="(.*?)" tooltip="(.*)"\];$', re.M
)
_TOTAL = " total (min, med, max"


def _dot_nodes(dot: str):
    """(name, tooltip, {metric: value text}) of each plan node in a DOT
    graph from SparkPlanGraph.makeDotFile."""
    for label, tooltip in _DOT_NODE.findall(dot):
        parts = [p for p in label.split("<br>") if p]
        name = re.sub(r"<.*?>", "", parts[0]).strip()
        metrics, i = {}, 1
        while i < len(parts):
            if _TOTAL in parts[i] and i + 1 < len(parts):
                metrics[parts[i].split(_TOTAL)[0]] = parts[i + 1]
                i += 2
                continue
            if ": " in parts[i]:
                k, v = parts[i].split(": ", 1)
                metrics[k] = v
            i += 1
        yield name, tooltip, metrics


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """Total of a status-store metric value, in bytes, seconds or rows:
    '1,992', '8.5 MiB' or '18.3 s (4.5 s, 4.6 s, 4.8 s (stage 1.0: task 2))'."""
    head = text.split(" (")[0].replace(",", "").split()
    return float(head[0]) * (_UNITS[head[1]] if len(head) > 1 else 1)


def descendants(pid: int) -> list[int]:
    """Pids of every live process below `pid`, read from /proc."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parent[int(name)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def peak_rss_mb(pid: int) -> dict[str, float]:
    """VmHWM (peak resident set) in MB of each process below `pid` (the
    Spark JVM and its Python workers), keyed by "pid:command"."""
    out = {}
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[f"{p}:{comm}"] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            continue
    return out
