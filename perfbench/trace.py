"""Tracing from outside the program: spans, seam proxies, Spark's event log.

Nothing here edits or patches ``tablecloth_time_spark``. Layers are seen
through three windows:

- ``Spans``: the benchmark brackets every public call it makes. Spans live
  in memory and are written out once, at the end of the run.
- ``TracedTierStore`` / ``TracedSnapshotTable``: proxies passed to
  ``ContinuousAggregate(source=..., store=...)``. They add a span around
  each seam call and delegate everything else unchanged.
- ``EventLog``: Spark's own event log (``spark.eventLog.enabled``), parsed
  after the session stops. SQL-metric accumulators and task metrics are
  summed per plan node, and each SQL execution is attributed to the
  innermost span open when it started.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Spans:
    """In-memory span recorder: name, start, end and parent per span."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "t0": time.time(),
            "t1": None,
            "attrs": dict(attrs),
        }
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            s["t1"] = time.time()
            self._stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["t1"] is not None]

    def innermost_at(self, t: float) -> dict | None:
        """Innermost span open at time ``t`` (spans nest, so it is the
        latest-started span containing ``t``)."""
        best = None
        for s in self.spans:
            end = s["t1"] if s["t1"] is not None else float("inf")
            if s["t0"] <= t <= end and (best is None or s["t0"] >= best["t0"]):
                best = s
        return best

    def lineage(self, s: dict | None) -> list[dict]:
        out = []
        while s is not None:
            out.append(s)
            s = self.spans[s["parent"]] if s["parent"] is not None else None
        return out

    def self_time(self, s: dict) -> float:
        """Duration minus the part covered by direct children."""
        kids = sorted(
            (c["t0"], c["t1"]) for c in self.spans
            if c["parent"] == s["id"] and c["t1"] is not None
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (s["t1"] - s["t0"]) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class TracedTierStore:
    """TierStore proxy: a span around each seam call, nothing else."""

    def __init__(self, inner, spans: Spans):
        self.inner = inner
        self.spans = spans

    def tier_exists(self, tier):
        return self.inner.tier_exists(tier)

    def read_state(self, tier):
        with self.spans.span("tier_store.read_state", tier=tier):
            return self.inner.read_state(tier)

    def stage(self, tier, merged, dirty, run_id):
        with self.spans.span("tier_store.stage", tier=tier):
            return self.inner.stage(tier, merged, dirty, run_id)

    def commit(self, tier, info):
        with self.spans.span("tier_store.commit", tier=tier):
            return self.inner.commit(tier, info)

    def list_partitions(self, tier):
        return self.inner.list_partitions(tier)

    def drop_partitions(self, tier, partitions):
        with self.spans.span("tier_store.drop_partitions", tier=tier):
            return self.inner.drop_partitions(tier, partitions)

    def write_blocks(self, tier, blocks):
        with self.spans.span("tier_store.write_blocks", tier=tier):
            return self.inner.write_blocks(tier, blocks)

    def read_blocks(self, tier):
        return self.inner.read_blocks(tier)


class TracedSnapshotTable:
    """SnapshotTable proxy: spans around append / read_incremental."""

    def __init__(self, inner, spans: Spans):
        self.inner = inner
        self.spans = spans

    def __getattr__(self, name):
        return getattr(self.inner, name)

    def append(self, df):
        with self.spans.span("snapshots.append"):
            return self.inner.append(df)

    def read_incremental(self, after_snapshot, until_snapshot=None):
        with self.spans.span("snapshots.read_incremental") as s:
            df = self.inner.read_incremental(after_snapshot, until_snapshot)
            s["attrs"]["files"] = 0 if df is None else len(df.inputFiles())
            return df


# -- Spark event log -----------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


class EventLog:
    """SQL executions, their plan-node metrics, jobs and tasks."""

    def __init__(self, directory: str):
        self.execs: dict[int, dict] = {}
        self.accums: dict[int, dict] = {}  # accumulator id -> plan node
        self.values: dict[int, dict[int, int]] = defaultdict(lambda: defaultdict(int))
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        for path in sorted(glob.glob(os.path.join(directory, "*"))):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _walk(self, node: dict, parent: str | None) -> None:
        meta = node.get("metadata") or {}
        for m in node.get("metrics", []):
            self.accums[m["accumulatorId"]] = {
                "node": node["nodeName"].strip(),
                "metric": m["name"],
                "type": m["metricType"],
                "simple": node.get("simpleString", ""),
                "parent": parent,
                "location": meta.get("Location", ""),
            }
        for c in node.get("children", []):
            self._walk(c, node["nodeName"].strip())

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == _SQL + "SparkListenerSQLExecutionStart":
            self.execs[e["executionId"]] = {
                "start": e["time"] / 1000.0,
                "plan": e["physicalPlanDescription"],
            }
            self._walk(e["sparkPlanInfo"], None)
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            x = self.execs.get(e["executionId"])
            if x is not None:
                x["plan"] = e["physicalPlanDescription"]
            self._walk(e["sparkPlanInfo"], None)
        elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
            for m in e["sqlPlanMetrics"]:
                self.accums.setdefault(m["accumulatorId"], {
                    "node": "?", "metric": m["name"], "type": m["metricType"],
                    "simple": "", "parent": None, "location": "",
                })
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for aid, v in e["accumUpdates"]:
                self.values[e["executionId"]][aid] += v
        elif kind == "SparkListenerJobStart":
            exec_id = (e.get("Properties") or {}).get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "exec": int(exec_id) if exec_id is not None else None,
                "time": e["Submission Time"] / 1000.0,
                "tasks": 0,
            }
            for sid in e["Stage IDs"]:
                self.stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerTaskEnd":
            job = self.stage_job.get(e["Stage ID"])
            exec_id = self.jobs[job]["exec"] if job is not None else None
            if job is not None:
                self.jobs[job]["tasks"] += 1
            tm = e.get("Task Metrics") or {}
            self.tasks.append({
                "job": job,
                "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
            })
            if exec_id is None:
                return
            for a in e["Task Info"].get("Accumulables", []):
                if a["ID"] in self.accums and "Update" in a:
                    # SQL metrics are logged as strings, task metrics as ints
                    self.values[exec_id][a["ID"]] += int(a["Update"])

    # -- per-execution sums ----------------------------------------------------

    def node_sum(self, exec_id: int, node_re: str, metric: str,
                 where=lambda info: True) -> float:
        """Sum of one metric over the plan nodes of one execution whose
        name matches ``node_re``; timings come back in seconds."""
        total = 0.0
        for aid, v in self.values.get(exec_id, {}).items():
            info = self.accums[aid]
            if (info["metric"] == metric and re.fullmatch(node_re, info["node"])
                    and where(info)):
                if info["type"] == "timing":
                    v = v / 1000.0
                elif info["type"] == "nsTiming":
                    v = v / 1e9
                total += v
        return total

    def node_count(self, exec_id: int, node_re: str, metric: str,
                   where=lambda info: True) -> int:
        """Plan nodes of one execution whose ``metric`` is non-zero."""
        return sum(
            1 for aid, v in self.values.get(exec_id, {}).items()
            if v and self.accums[aid]["metric"] == metric
            and re.fullmatch(node_re, self.accums[aid]["node"])
            and where(self.accums[aid])
        )


class Attribution:
    """SQL executions and jobs, each assigned to the innermost span open
    when it started."""

    def __init__(self, log: EventLog, spans: Spans):
        self.log = log
        self.spans = spans
        self.exec_span: dict[int, dict | None] = {
            i: spans.innermost_at(x["start"]) for i, x in log.execs.items()
        }

    def execs_within(self, name_re: str) -> list[int]:
        """Executions whose span or one of its ancestors matches."""
        out = []
        for i, s in self.exec_span.items():
            if any(re.fullmatch(name_re, a["name"]) for a in self.spans.lineage(s)):
                out.append(i)
        return sorted(out)

    def jobs_within(self, spans: list[dict]) -> list[int]:
        return [
            j for j, info in self.log.jobs.items()
            if any(s["t0"] <= info["time"] <= s["t1"] for s in spans)
        ]

    def plan_guard(self, span_name: str, rules: list[tuple[str, str]]) -> list[str]:
        """For every ``span_name`` span, each (label, regex) rule must match
        the executed plan of at least one execution inside it. Returns
        the failed labels, one per span and rule."""
        failures = []
        for s in self.spans.named(span_name):
            plans = [
                self.log.execs[i]["plan"] for i, sp in self.exec_span.items()
                if sp is not None and any(a["id"] == s["id"] for a in self.spans.lineage(sp))
            ]
            for label, rx in rules:
                if not any(re.search(rx, p) for p in plans):
                    failures.append(f"{span_name}#{s['id']}: {label}")
        return failures


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# -- Spark WARN lines ------------------------------------------------------------

WARN_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d WARN (\S+): (.*)$")
WARN_CLASSES = {
    "task_of_very_large_size": re.compile(r"task of very large size"),
    "no_partition_defined_for_window": re.compile(r"No Partition Defined for Window"),
}


def warn_counts(log_path: str, offset: int) -> tuple[dict[str, int], dict[str, int]]:
    """(named class -> count, other 'Logger: first words' -> count) for the
    WARN lines written after byte ``offset`` of the captured Spark log."""
    named = {k: 0 for k in WARN_CLASSES}
    other: dict[str, int] = defaultdict(int)
    with open(log_path, "rb") as f:
        f.seek(offset)
        for raw in f:
            m = WARN_LINE.match(raw.decode("utf-8", "replace").rstrip())
            if not m:
                continue
            for k, rx in WARN_CLASSES.items():
                if rx.search(m.group(2)):
                    named[k] += 1
                    break
            else:
                words = re.sub(r"[\d#:=,()\[\]]+", " ", m.group(2)).split()[:5]
                other[f"{m.group(1)}: {' '.join(words)}"] += 1
    return named, dict(other)


# -- peak memory of the JVM and Python-worker process tree ------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by the descendants of this process (the JVM
    and its Python workers), counting workers that have exited through
    their parents' cutime/cstime. This process is left out: its own CPU
    time includes the memory sampler's reads of /proc."""
    total = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident pages, each shared page
    divided among the processes that share it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class TreeMemory:
    """Samples the summed memory of every descendant of this process (the
    JVM and its Python workers) and keeps the peak. Each process counts
    its PSS, not its RSS: forked Python workers share their parent's pages,
    and a process the JVM is spawning shares the whole JVM until it execs,
    so summed RSS would count those pages several times."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_pss(p) for p in descendants(me)))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
