"""In-memory spans around calls into the engine's modules, plus Spark's own
status-store counters for the jobs each span started.

Nothing here edits the package: ``Tracer.install`` swaps module and class
attributes for timing wrappers for the life of one traced run. Every wrapped
call also tags the Spark jobs it starts, through the thread's job group (one
per top-level operation) and job description (``<op id>|<span path>``), so
``SQLAppStatusStore`` executions and stage metrics can be attributed to the
layer that issued them.
"""

from __future__ import annotations

import contextlib
import functools
import re
import time
from collections import Counter, defaultdict

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value -> bytes, seconds or a plain count.

    Accumulated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    single ones read ``<value>``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple] = []
        # counters per top-level operation id
        self.counts: dict[int, Counter] = defaultdict(Counter)
        self._seen_exec = 0

    # ---------- spans ----------
    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "root": parent["root"] if parent else len(self.spans),
            "name": name,
            "start": time.perf_counter(),
            "epoch": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        path = "/".join(s["name"] for s in self._stack)
        self.sc.setLocalProperty("spark.jobGroup.id", f"op-{rec['root']}")
        self.sc.setLocalProperty("spark.job.description", f"{rec['root']}|{path}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = "/".join(s["name"] for s in self._stack)
                self.sc.setLocalProperty(
                    "spark.job.description", f"{rec['root']}|{outer}"
                )
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def count(self, name: str, n: float = 1) -> None:
        if self._stack:
            self.counts[self._stack[-1]["root"]][name] += n

    # ---------- wrappers ----------
    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def timed(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, timed)
        self._patches.append((owner, attr, orig))

    def count_calls(self, owner, attr: str, name: str, nbytes=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def counted(*a, **kw):
            tracer.count(name)
            if nbytes is not None:
                tracer.count(name + "_bytes", nbytes(*a, **kw))
            return orig(*a, **kw)

        setattr(owner, attr, counted)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        """Wrap the public entry points of the layers this benchmark traces."""
        from tg_data_connector_spark.cdc import metrics, replay
        from tg_data_connector_spark.lake import fs, maintain, merge, table
        from tg_data_connector_spark.sources import files

        self.wrap(replay.ReplayEngine, "apply_batch", "cdc.replay.apply_batch")
        self.wrap(replay, "winner_filter", "cdc.dedup.winner_filter")
        self.wrap(replay, "merge_upsert", "lake.merge.merge_upsert")
        self.wrap(merge, "delta_append", "lake.merge.delta_append")
        self.wrap(table.LakeTable, "write_data_files", "lake.table.write")
        self.wrap(table.LakeTable, "commit", "lake.table.commit")
        self.wrap(table.LakeTable, "append", "lake.table.append")
        self.wrap(table.LakeTable, "lookup", "lake.table.lookup")
        self.wrap(table.LakeTable, "read", "lake.table.read")
        self.wrap(maintain, "compact", "lake.maintain.compact")
        self.wrap(metrics.LineageLog, "record_batch", "cdc.metrics.record_batch")
        self.wrap(metrics.LineageLog, "flush", "cdc.metrics.flush")
        self.wrap(files, "read_typed_csv", "sources.files.read_typed_csv")
        L = fs.LocalTableFS
        self.count_calls(L, "write_text_excl", "fs.mutations",
                         nbytes=lambda _s, _p, content: len(content))
        self.count_calls(L, "remove", "fs.mutations")
        self.count_calls(L, "rmtree", "fs.mutations")
        self.count_calls(L, "makedirs", "fs.mutations")
        self._wrap_atomic(L)

    def _wrap_atomic(self, cls) -> None:
        """Count the atomic pointer swaps and the bytes written through them."""
        orig = cls.write_text_atomic
        tracer = self

        @functools.wraps(orig)
        def counted(fs, path):
            tracer.count("fs.mutations")
            return _CountedWrite(orig(fs, path), tracer)

        cls.write_text_atomic = counted
        self._patches.append((cls, "write_text_atomic", orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---------- Spark status store ----------
    def spark_counters(self) -> dict[int, dict]:
        """Per top-level operation: its stages and SQL plan-node metrics."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        app = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out: dict[int, dict] = {}
        roots = sorted({s["root"] for s in self.spans})
        for root in roots:
            stages = []
            jobs = tracker.getJobIdsForGroup(f"op-{root}")
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is None:
                    continue
                for sid in info.stageIds:
                    sd = app.lastStageAttempt(sid)
                    if sd.status().toString() != "COMPLETE":
                        continue
                    desc = sd.description()
                    stages.append({
                        "desc": desc.get() if desc.isDefined() else "",
                        "run_s": sd.executorRunTime() / 1e3,
                        "cpu_s": sd.executorCpuTime() / 1e9,
                        "gc_s": sd.jvmGcTime() / 1e3,
                        "fetch_wait_s": sd.shuffleFetchWaitTime() / 1e3,
                        "shuffle_read_bytes": sd.shuffleReadBytes(),
                        "shuffle_bytes": sd.shuffleWriteBytes(),
                        "shuffle_records": sd.shuffleWriteRecords(),
                        "spill_bytes": sd.memoryBytesSpilled()
                        + sd.diskBytesSpilled(),
                        "submit": sd.submissionTime().get().getTime() / 1e3,
                        "complete": sd.completionTime().get().getTime() / 1e3,
                    })
            out[root] = {"jobs": len(jobs), "stages": stages, "nodes": []}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = sql.executionsCount()
        execs = sql.executionsList(self._seen_exec, total - self._seen_exec)
        self._seen_exec = total
        for i in range(execs.size()):
            e = execs.apply(i)
            desc = e.description() or ""
            root_s, sep, path = desc.partition("|")
            if not sep or not root_s.isdigit() or int(root_s) not in out:
                continue
            graph = sql.planGraph(e.executionId())
            values = sql.executionMetrics(e.executionId())
            nodes = graph.allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                ms = node.metrics()
                vals = {}
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    v = values.get(metric.accumulatorId())
                    if v.isDefined():
                        vals[metric.name()] = parse_metric(v.get())
                if vals:
                    out[int(root_s)]["nodes"].append(
                        {"path": path, "name": node.name(), "metrics": vals}
                    )
        return out


class _CountedWrite:
    """Context manager around an atomic write that counts what it wrote."""

    def __init__(self, inner, tracer: Tracer):
        self.inner, self.tracer = inner, tracer

    def __enter__(self):
        self.f = self.inner.__enter__()
        return self.f

    def __exit__(self, et, ev, tb):
        if et is None:
            self.tracer.count("fs.mutations_bytes", self.f.tell())
        return self.inner.__exit__(et, ev, tb)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its direct children cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
