"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {tile_build,join_batch,join_small} \\
        --seed N --seconds S --trace {0,1} [--size {full,tiny}]

Run from the repository root.  The run starts a ``local[<cores>]``
session sized from the host it runs on, generates its inputs from
``--seed`` (set-up, repeated three times), warms up, then runs ops in a
closed loop with one client for ``--seconds`` and checks every op
against the numpy oracle.
All files go under ``.perfbench_work/`` and are removed at exit.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``; with ``--trace 1`` the session
also writes Spark's event log and the metrics are the per-layer ones
(``eventlog.py``).  Progress and errors go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from bench import ambient_delta, gc_millis, read_proc_stat  # noqa: E402

import eventlog  # noqa: E402
import harness  # noqa: E402
from workloads import WORKLOADS, Sizes  # noqa: E402

SETUP_REPS = 3
OP_TIMEOUT_S = 60.0
RUN_BUDGET_S = 150.0   # no op starts after this much wall time

END_TO_END = [
    ("setup_s", "s"), ("job_s", "s"), ("rows_per_s", "1/s"),
    ("query_p50_s", "s"), ("query_p90_s", "s"),
    ("stored_bytes_per_row", "bytes"), ("peak_rss_mb", "MB"),
    ("ok_ratio", "ratio"),
]


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


class Runner:
    """Runs one workload's ops, timing each and checking its output."""

    def __init__(self, spark, w, work: str, trace: bool):
        self.spark, self.w, self.work, self.trace = spark, w, work, trace
        self.attempted = 0
        self.failed = 0
        self.times: list[float] = []
        self.rows: list[int] = []
        self.measured: list[int] = []
        self.gc_ms: list[float] = []

    def run_op(self, i: int, measured: bool) -> None:
        sc = self.spark.sparkContext
        self.attempted += 1
        before = harness.scratch_usage(self.work)
        gc0 = gc_millis(self.spark) if self.trace else None
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        try:
            t0 = time.perf_counter()
            rows, payload = self.w.op(i)
            dt = time.perf_counter() - t0
        except Exception:
            self.failed += 1
            log(f"op {i} raised (timeout {OP_TIMEOUT_S}s):\n"
                + traceback.format_exc())
            return
        finally:
            timer.cancel()
        gc1 = gc_millis(self.spark) if self.trace else None
        try:
            errors = self.w.verify(i, payload)
        except Exception:
            errors = ["verify raised:\n" + traceback.format_exc()]
        after = harness.scratch_usage(self.work)
        if after[0] > before[0] or after[1] > before[1]:
            errors.append(f"benchmark scratch grew from {before[0]} entries"
                          f" / {before[1]} bytes to {after[0]} / {after[1]}")
        log(f"op {i}: {dt:.3f}s rows={rows}"
            + (" MISMATCH " + "; ".join(errors) if errors else ""))
        # a mismatched op ran to the end: its time still counts, and the
        # failure shows in `failed` and ok_ratio
        self.failed += bool(errors)
        if measured:
            self.measured.append(i)
            self.times.append(dt)
            self.rows.append(rows)
            if gc0 is not None and gc1 is not None:
                self.gc_ms.append(gc1 - gc0)

    def loop(self, seconds: float, deadline: float) -> None:
        w = self.w
        for i in range(w.warmup_ops):
            self.run_op(i, measured=False)
        i = w.warmup_ops
        t0 = time.perf_counter()
        while time.perf_counter() < deadline:
            n = i - w.warmup_ops
            done = (n >= w.min_ops and n % w.op_multiple == 0
                    and time.perf_counter() - t0 >= seconds)
            if done:
                break
            self.run_op(i, measured=True)
            i += 1


def end_to_end(r: Runner, w, start_s: float, setup_t: list[float],
               rss_mb: float) -> dict[str, float]:
    return {
        "setup_s": start_s + statistics.median(setup_t),
        "job_s": statistics.median(r.times),
        # throughput at the median op time: robust to a stalled op
        "rows_per_s": statistics.mean(r.rows) / statistics.median(r.times),
        "query_p50_s": statistics.median(r.times),
        "query_p90_s": (statistics.quantiles(r.times, n=10,
                                             method="inclusive")[8]
                        if len(r.times) > 1 else r.times[0]),
        "stored_bytes_per_row": w.stored_bytes_per_row(),
        "peak_rss_mb": rss_mb,
        "ok_ratio": (r.attempted - r.failed) / r.attempted,
    }


def per_layer(r: Runner, w, start_s: float, ambient: dict,
              work: str) -> dict[str, float]:
    stats, nodes = eventlog.read_event_log(os.path.join(work, "eventlog"))
    reps = [-1 - k for k in range(len(w.setup_spans))]
    out = {name: 0.0 for name, _unit, _b in eventlog.METRICS}
    out.update(eventlog.layer_metrics(stats, nodes, r.measured, reps))

    def mean(key, rows):
        vals = [s[key] for s in rows if key in s]
        return sum(vals) / len(vals) if vals else 0.0

    op_spans = [w.spans[i] for i in r.measured]
    keys = {k for s in op_spans for k in s}
    out.update({k: mean(k, op_spans) for k in keys})
    out["session.start_s"] = start_s
    out["sources.generate_s"] = statistics.median(
        s["sources.generate_s"] for s in w.setup_spans)
    if "calcqts.s" not in keys:   # the joins run calcqts in set-up
        out["calcqts.s"] = statistics.median(
            s["calcqts.s"] for s in w.setup_spans)
        out["calcqts.bytes_out"] = w.qts_bytes
    for j in ("pip", "knn"):
        cand = out[f"spatial_join.{j}.candidates"]
        out[f"spatial_join.{j}.refine_ratio"] = (
            out[f"spatial_join.{j}.rows_out"] / cand if cand else 0.0)
    out["spark.gc_ms"] = (sum(r.gc_ms) / len(r.gc_ms)) if r.gc_ms else 0.0
    out["host.idle_pct"] = ambient.get("idle_pct") or 0.0
    out["host.steal_pct"] = ambient.get("steal_pct") or 0.0
    out["host.system_pct"] = ambient.get("system_pct") or 0.0
    out["trace.job_s"] = statistics.median(r.times)
    return out


def main(argv=None, after_setup=None) -> dict:
    """Run one benchmark and print its result line.  ``after_setup(w)``
    is a hook for the self-test to tamper with the expected outputs."""
    args = parse_args(argv)
    began = time.perf_counter()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    sizes = Sizes.tiny() if args.size == "tiny" else Sizes()
    spark = None
    try:
        spark, start_s = harness.start_session(work, bool(args.trace))
        w = WORKLOADS[args.workload](spark, work, args.seed, sizes)
        setup_t = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            w.setup(rep)
            setup_t.append(time.perf_counter() - t0)
        w.finish_setup()
        if after_setup is not None:
            after_setup(w)
        log(f"session {start_s:.2f}s, set-up {setup_t}")
        r = Runner(spark, w, work, bool(args.trace))
        st0, t0 = read_proc_stat(), time.perf_counter()
        r.loop(args.seconds, began + RUN_BUDGET_S)
        ambient = ambient_delta(st0, read_proc_stat(), None, None,
                                time.perf_counter() - t0)
        rss_mb = harness.peak_rss_mb(harness.jvm_pids(spark))
        w.close()
        harness.stop_session(spark)
        spark = None
        if not r.times:
            raise RuntimeError("no op completed")
        if args.trace:
            metrics = per_layer(r, w, start_s, ambient, work)
            units = {n: u for n, u, _b in eventlog.METRICS}
        else:
            metrics = end_to_end(r, w, start_s, setup_t, rss_mb)
            units = dict(END_TO_END)
    finally:
        if spark is not None:
            harness.stop_session(spark)
        harness.remove_tree(work)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    result = {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return result


if __name__ == "__main__":
    main()
