"""One benchmark run in its own JVM: stage inputs, set up, run the closed
loop, check the outputs against the oracles.

Started by ``perfbench/run.py`` as ``python3 -m perfbench.worker <spec.json>``;
writes the raw samples as JSON to the ``out`` path named in the spec. A traced
run adds two more loops in the same JVM after the untraced one: one with the
tracer installed, then one after restarting Spark at a single lane.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import time
import traceback

T_START = time.perf_counter()

import numpy as np  # noqa: E402

# Workload shapes. Each is a closed loop with one client. A cycle applies one
# change batch through ReplayEngine.apply_batch, loads one set of
# Hadoop-snappy CSV objects into a landing table, then reads the replayed
# table: ``lookups`` point lookups of ``lookup_keys`` keys between two full
# resolved scan aggregates. Cycles come in rounds (see ``Run.loop``); a round
# takes about ``round_s`` seconds on a 4-vCPU VM. ``warm_cycles`` untimed
# batches, each followed by the loop's reads, come before the loop (see
# ``Run.run``).
WORKLOADS = {
    # ~10 events per key per batch, large COW batches: time goes into the
    # scan, winner aggregate, decode of winners, MERGE join and the rewrite
    # of every bucket.
    "bulk_cow": dict(
        merge_mode="cow", compact_after=None, round=1, round_s=5,
        warm_cycles=3, n_docs=10_000, window_events=100_000, windows=3,
    ),
    # small MoR batches over a larger key space, so four times the share of
    # events win as on bulk_cow and the per-batch fixed cost dominates;
    # deltas compact every third batch, and the reader sees the delta depth
    # build up and fold away.
    "tail_mor_reads": dict(
        merge_mode="mor", compact_after=2, round=3, round_s=15,
        warm_cycles=2, n_docs=30_000, window_events=10_000, windows=9,
    ),
}
# The staged log holds ``windows`` batches after the warm-up window; a run
# that gets through them all delivers them again under new batch ids (an
# at-least-once redelivery, which last-writer-wins absorbs). CSV loads lap
# the same way, into a fresh landing table.
COMMON = dict(n_parts=4, n_buckets=4, lookups=5, lookup_keys=100, loads=4,
              files_per_load=4, rows_per_file=5_000)
# Sizes for the smoke tests: same code paths, seconds instead of minutes.
TINY = {
    "bulk_cow": dict(n_docs=2_000, window_events=8_000, windows=2,
                     warm_cycles=1),
    "tail_mor_reads": dict(n_docs=4_000, window_events=2_000, windows=3,
                           warm_cycles=1),
}
TINY_COMMON = dict(lookups=1, lookup_keys=10, loads=2, files_per_load=2,
                   rows_per_file=500)
SETUP_REPS = 3
SHUFFLE_PARTITIONS = 4
CORE = ["doc_id", "tokens", "n_tok", "source"]
SPARK_CONF = {
    "spark.ui.showConsoleProgress": "false",
    # every exchange on the merge path is explicitly partitioned
    "spark.sql.adaptive.enabled": "false",
    # the traced loop reads every job, stage and SQL execution back
    "spark.sql.ui.retainedExecutions": "100000",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}


def shape(workload: str, tiny: bool) -> dict:
    w = {**COMMON, **WORKLOADS[workload]}
    if tiny:
        w.update(TINY_COMMON, **TINY[workload])
    return w


def session(lanes: int):
    from tg_data_connector_spark.session import get_spark

    return get_spark(
        app_name="perfbench", master=f"local[{lanes}]",
        shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=SPARK_CONF,
    )


class Run:
    def __init__(self, spec: dict):
        self.spec = spec
        self.w = shape(spec["workload"], spec.get("tiny", False))
        self.seed = spec["seed"]
        self.rng = np.random.default_rng([spec["seed"], 7])
        self.work = spec["work_dir"]
        self.ops: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.checks: dict = {}
        self.tracer = None
        self.phase = "main"
        self.depth_max = 0
        self.cycle = -1

    # ---------- timing ----------
    def run_op(self, kind: str, fn) -> bool:
        """Time one operation; a raised error counts it as failed."""
        self.attempted += 1
        span = (self.tracer.span("op." + kind) if self.tracer
                else contextlib.nullcontext({}))
        try:
            with span as rec:
                t0 = time.perf_counter()
                extra = fn() or {}
                dt = time.perf_counter() - t0
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return False
        self.ops.append({"phase": self.phase, "kind": kind, "seconds": dt,
                         "root": rec.get("id"), **extra})
        return True

    def check(self, name: str, bad: int, detail) -> None:
        self.attempted += 1
        self.checks[name] = {"mismatches": int(bad), "detail": detail}
        if bad:
            print(f"oracle check {name} failed: {detail}", file=sys.stderr)
            self.failed += 1

    # ---------- phases ----------
    def run(self) -> dict:
        lanes = self.spec["lanes"]
        self.spark = session(lanes)
        jvm_s = time.perf_counter() - T_START
        # Python workers start before staging, so set-up costs the same
        # whether staging generated inputs (which needs them) or reused them
        t0 = time.perf_counter()
        self.warm_pool()
        pool_s = time.perf_counter() - t0
        stage_s, hit = self.stage()
        reps = []
        for rep in range(SETUP_REPS):
            if rep:
                shutil.rmtree(self.table.root, ignore_errors=True)
            t0 = time.perf_counter()
            self.seed_table(f"r{rep}")
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.warm_up()
        # The JIT compiler needs several batches before a batch's time stops
        # falling; untimed batches, with the loop's reads, take the loop past
        # the steepest part on both the write and the read path.
        self.phase = "warm"
        for _ in range(self.w["warm_cycles"]):
            self.cycle += 1
            self.apply()
            self.read_cycle(self.w["lookups"])
        self.phase = "main"
        warm_s = pool_s + time.perf_counter() - t0
        res = {"jvm_s": jvm_s, "warm_s": warm_s, "setup_reps": reps,
               "stage_s": stage_s, "stage_hit": hit, "lanes": lanes,
               "loop_s": {}}
        res["loop_s"]["main"] = self.loop()
        if self.spec.get("trace"):
            from perfbench.layers import layer_metrics
            from perfbench.trace import Tracer
            from tg_data_connector_spark.cdc import ReplayEngine

            self.phase = "traced"
            self.tracer = Tracer(self.spark)
            self.tracer.install()
            try:
                loop_s = self.loop()
                counters = self.tracer.spark_counters()
            finally:
                self.tracer.uninstall()
            traced_ops = [o for o in self.ops if o["phase"] == "traced"]
            res["loop_s"]["traced"] = loop_s
            res["trace"] = {
                "metrics": layer_metrics(self.tracer, counters, traced_ops,
                                         loop_s, lanes, self.depth_max),
                "spans": self.tracer.spans,
            }
            self.tracer = None
            self.phase = "one_lane"
            self.spark.stop()
            self.spark = session(1)
            self.rebind()
            self.eng = ReplayEngine(self.spark, self.table, self.cfg)
            self.warm_pool()
            # one round: at one lane a loop as long as the others would not
            # fit in the run's time limit
            res["loop_s"]["one_lane"] = self.loop(rounds=1)
        t0 = time.perf_counter()
        self.verify()
        res["verify_s"] = time.perf_counter() - t0
        self.spark.stop()
        res.update(attempted=self.attempted, failed=self.failed,
                   checks=self.checks, ops=self.ops,
                   worker_s=time.perf_counter() - T_START)
        return res

    def loop(self, rounds: int | None = None) -> float:
        """A fixed number of whole rounds: by default one per ``round_s``
        of the requested ``--seconds``. A round is the workload's
        compaction period, so every loop holds the same mix of operations;
        the count is fixed rather than timed, so a faster or slower host
        changes how long a loop takes, not what it measures."""
        if rounds is None:
            rounds = max(1, round(self.spec["seconds"] / self.w["round_s"]))
        t0 = time.perf_counter()
        for _ in range(rounds * self.w["round"]):
            self.cycle += 1
            self.apply()
            self.load_next()
            self.read_cycle(self.w["lookups"])
        return time.perf_counter() - t0

    # ---------- inputs ----------
    def stage(self) -> tuple[float, bool]:
        import pyarrow.compute as pc

        from perfbench import inputs, oracle
        from tg_data_connector_spark.sources.files import ColumnEntry

        w = self.w
        # the warm-up window has the loop's size, so the keys-per-event
        # ratio the engine learns from it holds for the loop's batches
        n_events = (1 + w["windows"]) * w["window_events"]
        self.log_dir, _man, log_s, log_hit = inputs.stage_changelog(
            self.spark, self.spec["cache_dir"], self.seed, w["n_docs"],
            n_events, w["n_parts"],
        )
        self.fpl, self.rpf = w["files_per_load"], w["rows_per_file"]
        self.csv_dir, man, csv_s, csv_hit = inputs.stage_csv(
            self.spark, self.spec["cache_dir"], self.seed, w["loads"] + 1,
            self.fpl, self.rpf,
        )
        t0 = time.perf_counter()
        self.log_data = oracle.ChangeLog(f"{self.log_dir}/log")
        per = w["window_events"] // w["n_parts"]
        self.warm_hi = per - 1
        self.windows = [
            (self.warm_hi + 1 + k * per, self.warm_hi + (k + 1) * per)
            for k in range(w["windows"])
        ]
        self.win_keys = [self.log_data.keys_in(lo, hi) for lo, hi in self.windows]
        plen = pc.fill_null(pc.binary_length(self.log_data.t["payload"]), 0)
        plen = plen.to_numpy()
        self.win_bytes = [float(plen[self.log_data.window(lo, hi)].sum())
                          for lo, hi in self.windows]
        self.applied: list[tuple[int, int]] = []
        self.dirty_seen = 0
        self.k = 0
        self.mb_out = man["raw_mb"] / (w["loads"] + 1)
        self.mb_in = man["comp_mb"] / (w["loads"] + 1)
        self.entries = [
            ColumnEntry(type=t, index=i, name=n,
                        format=inputs.CSV_TS_FORMAT if t == "date" else None)
            for i, ((n, _), t) in enumerate(zip(inputs.CSV_FIELDS,
                                                inputs.CSV_TYPES))
        ]
        self.rebind(new_tables=False)
        return (log_s + csv_s + time.perf_counter() - t0), log_hit and csv_hit

    def rebind(self, new_tables: bool = True) -> None:
        """(Re)attach the input frames and tables to the current Spark
        session."""
        from tg_data_connector_spark.cdc import ReplayConfig
        from tg_data_connector_spark.lake import LakeTable

        self.log = self.spark.read.parquet(f"{self.log_dir}/log")
        self.seed_df = self.spark.read.parquet(f"{self.log_dir}/seed")
        self.cfg = ReplayConfig(
            events_per_batch=self.w["window_events"],
            parse_payload=True,
            merge_mode=self.w["merge_mode"],
            mor_compact_after=self.w["compact_after"],
        )
        if new_tables:
            self.table = LakeTable(self.spark, self.table.root)
            self.landing = LakeTable(self.spark, self.landing.root)

    def window_df(self, lo: int, hi: int):
        from pyspark.sql import functions as F

        return self.log.where((F.col("offset") >= lo) & (F.col("offset") <= hi))

    # ---------- set-up ----------
    def new_landing(self, name: str):
        from perfbench import inputs
        from tg_data_connector_spark.lake import LakeTable, TableSchema

        self.landing = LakeTable.create(
            self.spark, f"{self.work}/landing-{name}",
            TableSchema(inputs.CSV_FIELDS), key="doc_id",
            n_buckets=self.w["n_buckets"],
        )
        self.landed: list[int] = []
        self.next_load = 1

    def seed_table(self, name: str) -> None:
        """A replay table holding the seed rows, and its engine."""
        from perfbench import inputs
        from tg_data_connector_spark.cdc import ReplayEngine
        from tg_data_connector_spark.lake import LakeTable, TableSchema

        self.table = LakeTable.create(
            self.spark, f"{self.work}/table-{name}",
            TableSchema(inputs.SEQ_FIELDS), key="doc_id",
            n_buckets=self.w["n_buckets"],
        )
        self.table.append(self.seed_df)
        self.table.lookup([str(k) for k in self.win_keys[0][:10]]).collect()
        self.eng = ReplayEngine(self.spark, self.table, self.cfg)

    def warm_pool(self) -> None:
        """Start every Python worker of the session before anything is timed."""
        from pyspark.sql import functions as F

        from tg_data_connector_spark.cdc.parse import decode_tokens

        lanes = self.spark.sparkContext.defaultParallelism
        (self.spark.range(0, 64 * lanes, 1, lanes)
         .select(F.lit(b"\x00\x00\x00\x01").alias("payload"))
         .select(F.size(decode_tokens("payload")).alias("n"))
         .agg(F.sum("n")).collect())

    def warm_up(self) -> None:
        """The warm-up window's batch and CSV load 0, which stay in the
        tables the oracle checks; the untimed batches and reads that follow
        warm the rest."""
        rep = self.eng.apply_batch(self.window_df(0, self.warm_hi), "warm",
                                   run_id="warm")
        self.eng.lineage.flush(self.spark)
        self.applied.append((0, self.warm_hi))
        self.dirty_seen += rep.dirty
        self.new_landing("0")
        self.load(0)
        self.landed.append(0)

    # ---------- operations ----------
    def apply(self) -> None:
        k = self.cycle % len(self.windows)
        lo, hi = self.windows[k]
        self.k = k

        def batch():
            rep = self.eng.apply_batch(
                self.window_df(lo, hi),
                f"w{k}:lap{self.cycle // len(self.windows)}", run_id="bench",
            )
            self.eng.lineage.flush(self.spark)
            return {"events": rep.events, "dirty": rep.dirty,
                    "winners": rep.deduped_keys,
                    "payload_bytes": self.win_bytes[k],
                    "prepass_s": rep.phases.get("stats", 0.0),
                    "compacted": "compact" in rep.phases}

        if self.run_op("batch", batch):
            self.applied.append((lo, hi))
            self.dirty_seen += self.ops[-1]["dirty"]

    def load(self, k: int) -> dict:
        from tg_data_connector_spark.sources import files

        clean, _dirty = files.read_typed_csv(
            self.spark, f"{self.csv_dir}/load-{k:03d}", self.entries,
            compression="hadoop-snappy",
        )
        self.landing.append(clean)
        return {"rows": self.fpl * self.rpf, "mb_out": self.mb_out,
                "mb_in": self.mb_in}

    def load_next(self) -> None:
        """Loads 1..N in turn; a new lap starts a fresh landing table, so
        every landed row stays unique."""
        if self.next_load > self.w["loads"]:
            shutil.rmtree(self.landing.root, ignore_errors=True)
            self.new_landing(f"lap{self.cycle}")
        k = self.next_load
        self.next_load += 1
        if self.run_op("load", lambda: self.load(k)):
            self.landed.append(k)

    def read_cycle(self, lookups: int) -> None:
        """A scan, ``lookups`` point lookups, then a second scan."""
        from pyspark.sql import functions as F

        table = self.table

        def scan():
            self.note_depth()
            self.run_op("scan", lambda: {"rows": table.read().agg(
                F.count("*").alias("n")).collect()[0]["n"]})

        scan()
        for _ in range(lookups):
            keys = self.pick_keys()
            self.note_depth()
            self.run_op("lookup", lambda: {
                "rows": len(table.lookup(keys).collect())})
        scan()

    def pick_keys(self) -> list[str]:
        """Mostly keys the last batch touched, the rest from anywhere."""
        n = self.w["lookup_keys"]
        n_recent = (n * 4) // 5
        recent = self.rng.choice(self.win_keys[self.k], n_recent)
        anywhere = self.rng.integers(0, self.w["n_docs"], n - n_recent)
        return [str(k) for k in recent] + [f"d{i:08d}" for i in anywhere]

    def note_depth(self) -> None:
        if self.tracer is not None:
            from tg_data_connector_spark.lake.maintain import delta_depths

            depths = delta_depths(self.table.snapshot()).values()
            self.depth_max = max([self.depth_max, *depths])

    # ---------- oracle checks, after the timed loops ----------
    def verify(self) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark.sql import functions as F

        from perfbench import oracle

        expected, dirty_exp = oracle.expected_state(
            self.log_data, f"{self.log_dir}/seed", self.applied
        )
        actual = self.table.read().select(*CORE).toArrow()
        self.check("final_state", oracle.mismatches(actual, expected),
                   {"rows": actual.num_rows, "expected_rows": expected.num_rows})
        self.check("dirty_count", abs(self.dirty_seen - dirty_exp),
                   {"engine": self.dirty_seen, "oracle": dirty_exp})
        keys = self.pick_keys()
        got = self.table.lookup(keys).select(*CORE).toArrow()
        want = expected.filter(pc.is_in(expected["doc_id"], pa.array(keys)))
        self.check("lookup", oracle.mismatches(got, want),
                   {"rows": got.num_rows, "expected_rows": want.num_rows})
        row = self.table.read().agg(F.count("*").alias("n"),
                                    F.sum("n_tok").alias("s")).collect()[0]
        exp = [expected.num_rows, pc.sum(expected["n_tok"]).as_py() or 0]
        got_s = [row["n"], row["s"] or 0]
        self.check("scan", int(got_s != exp), {"got": got_s, "expected": exp})
        landed = oracle.expected_csv(self.seed, self.landed, self.fpl, self.rpf)
        cols = [
            F.date_format(c, "yyyy-MM-dd HH:mm:ss").alias(c)
            if c == "updated_at" else F.col(c) for c in landed.column_names
        ]
        actual = self.landing.read().select(*cols).toArrow()
        self.check("csv_rows", oracle.mismatches(actual, landed),
                   {"rows": actual.num_rows, "expected_rows": landed.num_rows})


def main() -> None:
    with open(sys.argv[1]) as f:
        spec = json.load(f)
    os.makedirs(spec["work_dir"], exist_ok=True)
    res = Run(spec).run()
    with open(spec["out"], "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
