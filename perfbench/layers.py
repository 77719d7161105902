"""Per-layer metrics of one traced pass, from its spans and Spark counters.

Times and counts are per replay batch unless the name says otherwise;
``sources.files.*`` are per CSV load, the read-layer metrics per read
operation, and ``spark.*`` totals over the timed loop. A layer a workload
does not exercise reports 0.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench.trace import _union_seconds, self_times

# every per-layer metric: name -> unit (BENCHMARK.json lists the same names)
LAYER_UNITS = {
    "cdc.replay.prepass_s": "s",
    "cdc.replay.batch_self_s": "s",
    "cdc.replay.jobs_per_batch": "count",
    "cdc.replay.driver_serial_s": "s",
    "lake.table.commit_s": "s",
    "lake.fs.mutations_per_commit": "count",
    "lake.fs.meta_bytes_per_commit": "B",
    "cdc.metrics.lineage_s": "s",
    "cdc.dedup.agg_build_s": "s",
    "cdc.dedup.broadcast_build_s": "s",
    "cdc.dedup.broadcast_bytes": "B",
    "cdc.dedup.winner_ratio": "ratio",
    "lake.merge.span_s": "s",
    "lake.merge.shuffle_bytes": "B",
    "lake.merge.shuffle_records": "count",
    "lake.merge.fetch_wait_s": "s",
    "lake.merge.spill_bytes": "B",
    "lake.merge.task_s": "s",
    "lake.merge.gc_s": "s",
    "cdc.parse.python_s": "s",
    "cdc.parse.python_start_s": "s",
    "cdc.parse.bytes_to_python": "B",
    "cdc.parse.bytes_from_python": "B",
    "cdc.parse.rows_per_winner": "ratio",
    "cdc.quality.dirty_events": "count",
    "lake.table.write_s": "s",
    "lake.table.files_written": "count",
    "lake.table.bytes_written": "B",
    "lake.table.write_amp": "ratio",
    "lake.maintain.compact_s": "s",
    "lake.maintain.compact_bytes": "B",
    "lake.maintain.compactions": "count",
    "lake.table.read_s": "s",
    "lake.table.lookup_files": "count",
    "lake.table.lookup_bytes": "B",
    "lake.table.delta_depth_max": "count",
    "sources.files.read_s": "s",
    "sources.files.decode_task_s": "s",
    "sources.files.mb_in": "MB",
    "sources.files.mb_out": "MB",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.busy_share": "ratio",
    "trace.unattributed_s": "s",
    "trace.coverage": "ratio",
}

MERGE_SPANS = ("lake.merge.merge_upsert", "lake.merge.delta_append")
COMPACT = "lake.maintain.compact"


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(tracer, counters: dict, ops: list[dict], loop_s: float,
                  lanes: int, depth_max: int) -> dict[str, float]:
    spans = tracer.spans
    selft = self_times(spans)
    by_root = defaultdict(list)
    for s in spans:
        by_root[s["root"]].append(s)

    batches = [o for o in ops if o["kind"] == "batch"]
    loads = [o for o in ops if o["kind"] == "load"]
    lookups = [o for o in ops if o["kind"] == "lookup"]
    reads = [o for o in ops if o["kind"] in ("lookup", "scan")]
    nb = len(batches)

    def dur(s):
        return s["end"] - s["start"]

    def spans_named(op_list, *names, not_under=None):
        out = []
        for o in op_list:
            tree = {s["id"]: s for s in by_root[o["root"]]}
            for s in by_root[o["root"]]:
                if s["name"] not in names:
                    continue
                anc, p = set(), s["parent"]
                while p is not None:
                    anc.add(tree[p]["name"])
                    p = tree[p]["parent"]
                if not_under and not_under in anc:
                    continue
                out.append(s)
        return out

    def stages(op_list, pred=lambda d: True):
        return [st for o in op_list for st in counters[o["root"]]["stages"]
                if pred(st["desc"])]

    def nodes(op_list, names, pred=lambda p: True):
        return [n for o in op_list for n in counters[o["root"]]["nodes"]
                if n["name"].strip() in names and pred(n["path"])]

    def msum(ns, *keys):
        return sum(n["metrics"].get(k, 0.0) for n in ns for k in keys)

    def merge_path(p):
        return any(m in p for m in MERGE_SPANS) and COMPACT not in p

    def write_path(p):
        return "lake.table.write" in p and COMPACT not in p

    m: dict[str, float] = {}
    # ---- replay engine ----
    events = sum(o["events"] for o in batches)
    winners = sum(o["winners"] for o in batches)
    prepass = sum(o["prepass_s"] for o in batches)
    applies = spans_named(batches, "cdc.replay.apply_batch")
    m["cdc.replay.prepass_s"] = _div(prepass, nb)
    m["cdc.replay.batch_self_s"] = _div(
        sum(selft[s["id"]] for s in applies) - prepass, nb)
    m["cdc.replay.jobs_per_batch"] = _div(
        sum(counters[o["root"]]["jobs"] for o in batches), nb)
    serial = 0.0
    for o in batches:
        root = spans[o["root"]]
        lo, hi = root["epoch"], root["epoch"] + dur(root)
        busy = [(max(st["submit"], lo), min(st["complete"], hi))
                for st in counters[o["root"]]["stages"]]
        serial += dur(root) - _union_seconds([b for b in busy if b[1] > b[0]])
    m["cdc.replay.driver_serial_s"] = _div(serial, nb)
    # ---- commit and metadata I/O ----
    commits = spans_named(batches, "lake.table.commit")
    m["lake.table.commit_s"] = _div(sum(map(dur, commits)), nb)
    fs_n = sum(tracer.counts[o["root"]]["fs.mutations"] for o in batches)
    fs_b = sum(tracer.counts[o["root"]]["fs.mutations_bytes"] for o in batches)
    m["lake.fs.mutations_per_commit"] = _div(fs_n, len(commits))
    m["lake.fs.meta_bytes_per_commit"] = _div(fs_b, len(commits))
    lineage = spans_named(batches, "cdc.metrics.record_batch", "cdc.metrics.flush")
    m["cdc.metrics.lineage_s"] = _div(sum(map(dur, lineage)), nb)
    # ---- dedup ----
    aggs = nodes(batches, ("HashAggregate", "ObjectHashAggregate"), merge_path)
    m["cdc.dedup.agg_build_s"] = _div(msum(aggs, "time in aggregation build"),
                                      nb)
    bx = nodes(batches, ("BroadcastExchange",), merge_path)
    m["cdc.dedup.broadcast_build_s"] = _div(
        msum(bx, "time to collect", "time to build", "time to broadcast"),
        nb)
    m["cdc.dedup.broadcast_bytes"] = _div(msum(bx, "data size"), nb)
    m["cdc.dedup.winner_ratio"] = _div(winners, events)
    # ---- merge ----
    merges = spans_named(batches, *MERGE_SPANS)
    m["lake.merge.span_s"] = _div(sum(map(dur, merges)), nb)
    mst = stages(batches, merge_path)
    for name, key in (("shuffle_bytes", "shuffle_bytes"),
                      ("shuffle_records", "shuffle_records"),
                      ("fetch_wait_s", "fetch_wait_s"),
                      ("spill_bytes", "spill_bytes"),
                      ("task_s", "run_s"), ("gc_s", "gc_s")):
        m[f"lake.merge.{name}"] = _div(sum(st[key] for st in mst), nb)
    # ---- decode (Python UDF boundary) ----
    py = nodes(batches, ("ArrowEvalPython",), merge_path)
    m["cdc.parse.python_s"] = _div(msum(py, "time to run Python workers"),
                                   nb)
    m["cdc.parse.python_start_s"] = _div(
        msum(py, "time to start Python workers",
             "time to initialize Python workers"), nb)
    m["cdc.parse.bytes_to_python"] = _div(
        msum(py, "data sent to Python workers"), nb)
    m["cdc.parse.bytes_from_python"] = _div(
        msum(py, "data returned from Python workers"), nb)
    m["cdc.parse.rows_per_winner"] = _div(msum(py, "number of output rows"),
                                          winners)
    m["cdc.quality.dirty_events"] = float(sum(o["dirty"] for o in batches))
    # ---- writes ----
    ws = spans_named(batches, "lake.table.write", not_under=COMPACT)
    m["lake.table.write_s"] = _div(sum(map(dur, ws)), nb)
    ins = nodes(batches, ("Execute InsertIntoHadoopFsRelationCommand",), write_path)
    written = msum(ins, "written output")
    m["lake.table.files_written"] = _div(msum(ins, "number of written files"), nb)
    m["lake.table.bytes_written"] = _div(written, nb)
    applied = sum(o["payload_bytes"] for o in batches)
    m["lake.table.write_amp"] = _div(written, applied)
    # ---- compaction ----
    comp = spans_named(batches, COMPACT)
    cins = nodes(batches, ("Execute InsertIntoHadoopFsRelationCommand",),
                 lambda p: COMPACT in p)
    m["lake.maintain.compact_s"] = _div(sum(map(dur, comp)), len(comp))
    m["lake.maintain.compact_bytes"] = _div(msum(cins, "written output"),
                                            len(comp))
    m["lake.maintain.compactions"] = _div(len(comp), nb)
    # ---- reads ----
    rs = spans_named(reads, "lake.table.lookup", "lake.table.read")
    m["lake.table.read_s"] = _div(
        sum(dur(s) for s in rs if spans[s["parent"]]["parent"] is None),
        len(reads))
    scans = nodes(lookups, ("Scan parquet",))
    m["lake.table.lookup_files"] = _div(msum(scans, "number of files read"),
                                        len(lookups))
    m["lake.table.lookup_bytes"] = _div(msum(scans, "size of files read"),
                                        len(lookups))
    m["lake.table.delta_depth_max"] = float(depth_max)
    # ---- sources ----
    rt = spans_named(loads, "sources.files.read_typed_csv")
    m["sources.files.read_s"] = _div(sum(map(dur, rt)), len(loads))
    m["sources.files.decode_task_s"] = _div(
        sum(st["run_s"] for st in stages(loads)
            if st["shuffle_read_bytes"] == 0), len(loads))
    m["sources.files.mb_in"] = _div(sum(o["mb_in"] for o in loads), len(loads))
    m["sources.files.mb_out"] = _div(sum(o["mb_out"] for o in loads), len(loads))
    # ---- whole loop ----
    allst = stages(ops)
    m["spark.task_s"] = sum(st["run_s"] for st in allst)
    m["spark.cpu_s"] = sum(st["cpu_s"] for st in allst)
    m["spark.gc_s"] = sum(st["gc_s"] for st in allst)
    m["spark.busy_share"] = _div(m["spark.task_s"], loop_s * lanes)
    # ---- span accounting: batch time no wrapped call or prepass covers ----
    unattr = sum(selft[o["root"]] for o in batches) + sum(
        selft[s["id"]] for s in applies) - prepass
    m["trace.unattributed_s"] = _div(unattr, nb)
    m["trace.coverage"] = _div(sum(o["seconds"] for o in ops), loop_s)
    return m
