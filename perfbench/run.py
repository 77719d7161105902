#!/usr/bin/env python3
"""CDC engine benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload bulk_cow --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout. The workload runs in a worker process (its
own JVM) with a host-sized environment; this process samples the peak memory
of that process tree. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the loop untraced, traced and at one lane, and prints the
per-layer metrics. The last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
CACHE = os.path.join(ROOT, ".bench_cache")
# a pass that is still running this long after the run started is killed, so
# the whole run exits within its 180 s limit
RUN_BUDGET_S = 170.0

# the gated metrics (BENCHMARK.json's end_to_end)
END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "batch_p50_s": "s",
    "lookup_p50_ms": "ms",
    "scan_s": "s",
    "load_mb_per_s": "MB/s",
    "peak_rss_mb": "MB",
}
# printed beside them, not gated: a run affords about three batches and
# fifteen lookups, too few for a tail that repeats within a bound, and
# failed_share is 0 (the JSON carries it as attempted/failed)
REPORTED = {"batch_tail_s": "s", "lookup_tail_ms": "ms", "failed_share": "ratio"}


def host_env() -> tuple[dict, int]:
    """Spark settings sized to this host, passed to every worker."""
    lanes = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm_tmp = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = dict(os.environ)
    env.update(
        # temporary files stay in the checkout: Python's and the JVM's (the
        # JVM's per-process perf-data file would go to /tmp regardless)
        TMPDIR=tmp,
        **{
            var: " ".join(p for p in (os.environ.get(var), jvm_tmp) if p)
            for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS")
        },
        SPARK_GRAFT_CPUS=str(lanes),
        # the tables are small; a small heap also keeps the JVM's share of
        # peak_rss_mb from swinging with garbage-collection timing
        SPARK_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        # Python workers spawned by Spark import the package by this path
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
    )
    env.pop("SPARK_MASTER", None)
    return env, lanes


def _tree(pid: int) -> list[int]:
    """``pid`` and every process descended from it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _anon_kb(pid: int) -> tuple[int, str]:
    """Anonymous resident memory (heaps, Arrow buffers) of one process, and
    its command name; shared library pages are left out so they count for
    no process."""
    try:
        with open(f"/proc/{pid}/status") as f:
            name, kb = "", 0
            for ln in f:
                if ln.startswith("Name:"):
                    name = ln.split()[1]
                elif ln.startswith("RssAnon:"):
                    kb = int(ln.split()[1])
            return kb, name
    except OSError:
        return 0, ""


class MemSampler(threading.Thread):
    """Peak summed anonymous RSS of the JVM and Python processes in a
    process tree (the worker, its JVM and the JVM's Python workers): every
    100 ms, with the tree re-listed every second so the sampler itself stays
    cheap. Other processes (launcher shells, process-spawn helpers that
    briefly report their parent's memory) are left out. Keeps the
    composition of the peak."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak_kb, self.peak_parts = pid, 0, {}
        self._halt = threading.Event()

    def run(self) -> None:
        tick = 0
        while not self._halt.is_set():
            if tick % 10 == 0:
                pids = _tree(self.pid)
            procs = [_anon_kb(p) for p in pids]
            jvm = sum(kb for kb, name in procs if name == "java")
            py = [kb for kb, name in procs if name.startswith("python")]
            if jvm + sum(py) > self.peak_kb:
                self.peak_kb = jvm + sum(py)
                self.peak_parts = {
                    "jvm_mb": jvm / 1024, "python_mb": sum(py) / 1024,
                    "python_procs": len(py),
                    "other_mb": (sum(kb for kb, _ in procs) - self.peak_kb)
                    / 1024,
                }
            tick += 1
            self._halt.wait(0.1)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _reap_group(pgid: int) -> None:
    """Kill whatever is left of a worker's process group and wait for it."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(200):
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_pass(args, env: dict, lanes: int, deadline: float) -> dict:
    work = os.path.join(WORK, f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "lanes": lanes, "tiny": args.tiny,
        "work_dir": work, "cache_dir": CACHE,
        "out": os.path.join(work, "result.json"),
    }
    spec_path = os.path.join(work, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", spec_path],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        sampler = MemSampler(proc.pid)
        sampler.start()
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            sampler.stop()
            _reap_group(proc.pid)
            proc.wait()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise RuntimeError(
            "worker " + ("timed out" if rc is None else f"exited {rc}")
        )
    with open(spec["out"]) as f:
        res = json.load(f)
    res["peak_rss_mb"] = sampler.peak_kb / 1024
    res["peak_parts"] = sampler.peak_parts
    for name in os.listdir(work):  # keep only the spec, result and log
        if os.path.isdir(os.path.join(work, name)):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    return res


def tail(samples: list[float]) -> tuple[float, int]:
    """(p90, samples beyond it). A run affords tens of samples, not the 110
    that would put ten beyond p90, so the count is reported with it."""
    if len(samples) < 2:
        return max(samples), 0
    p90 = statistics.quantiles(samples, n=10, method="inclusive")[-1]
    return p90, sum(x > p90 for x in samples)


def summarize(res: dict, phase: str) -> tuple[dict, dict, dict]:
    """End-to-end metrics of one loop: the gated ones, the reported ones,
    and what they were computed from."""
    ops = [o for o in res["ops"] if o["phase"] == phase]
    batches = [o for o in ops if o["kind"] == "batch"]
    loads = [o for o in ops if o["kind"] == "load"]
    lookups = [o["seconds"] * 1e3 for o in ops if o["kind"] == "lookup"]
    scans = [o["seconds"] for o in ops if o["kind"] == "scan"]
    bsec = [o["seconds"] for o in batches]
    btail, b_beyond = tail(bsec)
    ltail, l_beyond = tail(lookups)
    m = {
        "setup_s": res["jvm_s"] + res["warm_s"]
        + statistics.median(res["setup_reps"]),
        "events_per_s": sum(o["events"] for o in batches) / sum(bsec),
        "batch_p50_s": statistics.median(bsec),
        "lookup_p50_ms": statistics.median(lookups),
        "scan_s": statistics.median(scans),
        "load_mb_per_s": sum(o["mb_out"] for o in loads)
        / sum(o["seconds"] for o in loads),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    reported = {"batch_tail_s": btail, "lookup_tail_ms": ltail,
                "failed_share": res["failed"] / res["attempted"]}
    basis = {
        "batches": len(bsec), "beyond_batch_tail": b_beyond,
        "loads": len(loads),
        "lookups": len(lookups), "beyond_lookup_tail": l_beyond,
        "scans": len(scans), "loop_s": res["loop_s"][phase],
        "jvm_s": res["jvm_s"], "warm_s": res["warm_s"],
        "setup_reps": res["setup_reps"], "stage_s": res["stage_s"],
        "stage_cache_hit": res["stage_hit"], "verify_s": res["verify_s"],
        "worker_s": res["worker_s"], "peak_parts": res["peak_parts"],
        "checks": res["checks"],
    }
    return m, reported, basis


def main() -> int:
    from perfbench.layers import LAYER_UNITS
    from perfbench.worker import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test sizes (not comparable to real runs)")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "tg_data_connector_spark")):
        print(f"perfbench: no tg_data_connector_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_BUDGET_S
    # a terminated run still reaps its worker (``run_pass``'s finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    env, lanes = host_env()
    res = run_pass(args, env, lanes, deadline)
    metrics, reported, basis = summarize(res, "main")
    out_metrics = metrics
    if args.trace:
        traced = summarize(res, "traced")[0]
        one_lane = summarize(res, "one_lane")[0]
        out_metrics = dict(res["trace"]["metrics"])
        out_metrics["trace.overhead"] = (
            1 - traced["events_per_s"] / metrics["events_per_s"])
        out_metrics["scaling.eff_1to4"] = metrics["events_per_s"] / (
            lanes * one_lane["events_per_s"])
        out_metrics["bench.stage_s"] = res["stage_s"]
        spans_path = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump(res["trace"]["spans"], f)
        basis["spans_file"] = os.path.relpath(spans_path, ROOT)

    units = {**END_TO_END, **LAYER_UNITS, "trace.overhead": "ratio",
             "scaling.eff_1to4": "ratio", "bench.stage_s": "s"}
    print(f"workload {args.workload}  seed {args.seed}  lanes {lanes}  "
          f"seconds {args.seconds:g}  trace {args.trace}")
    for k, v in metrics.items():
        print(f"  {k:<16} {v:14.4f} {END_TO_END[k]}")
    for k, v in reported.items():
        print(f"  {k:<16} {v:14.4f} {REPORTED[k]}  (reported, not gated)")
    print(f"  basis: {json.dumps(basis)}")
    if args.trace:
        for k, v in out_metrics.items():
            print(f"  {k:<34} {v:16.6f} {units[k]}")
    attempted, failed = res["attempted"], res["failed"]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in out_metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
