"""Per-layer metrics from Spark's event log.

A traced run starts its session with the event log on and tags every call
into a layer with a job group plus two local properties,
``perfbench.layer`` and ``perfbench.op`` (see ``harness.layer``).  Local
properties survive the job groups the pipeline sets for its own progress
bars, and Spark copies them onto the jobs that adaptive execution starts
from other threads.  After the session stops, :func:`read_event_log`
attributes every task, every SQL metric update and every job to its
(op, layer), mapping accumulator ids to plan nodes through the
``sparkPlanInfo`` of the SQL execution events.  No engine file is touched.

Inside a ``TilingPipeline`` op the pipeline's own job description
(``stage <name>``) names the stage; the op's other jobs are the
checkpoint layer's bookkeeping (per-file lineage counts, read-backs).
"""

from __future__ import annotations

import json
import os
from collections import Counter, defaultdict

JOIN_NODES = {"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct"}
AGG_NODES = {"HashAggregate", "ObjectHashAggregate", "SortAggregate"}
ROWS = "number of output rows"
PY_INIT = ("time to start Python workers",
           "time to initialize Python workers")
PY_RUN = "time to run Python workers"

# (name, unit, better) of every per-layer metric, in print order
JOINS = ("bbox", "pip", "knn")
METRICS = [
    ("session.start_s", "s", "lower"),
    ("sources.generate_s", "s", "lower"),
    ("calcqts.s", "s", "lower"),
    ("calcqts.task_cpu_s", "s", "lower"),
    ("calcqts.bytes_out", "bytes", "lower"),
    ("tiling.plan_s", "s", "lower"),
    ("tiling.plan_cells", "count", "lower"),
    ("tiling.plan_groups", "count", "lower"),
    ("tiling.assign_s", "s", "lower"),
    ("tiling.broadcast_bytes", "bytes", "lower"),
    ("tiling.shuffle_bytes", "bytes", "lower"),
    ("checkpoint.jobs", "count", "lower"),
    ("checkpoint.files", "count", "lower"),
    ("checkpoint.bytes_written", "bytes", "lower"),
    ("count.s", "s", "lower"),
    *[m for j in JOINS for m in (
        (f"spatial_join.{j}.s", "s", "lower"),
        (f"spatial_join.{j}.jobs", "count", "lower"),
        (f"spatial_join.{j}.rows_out", "count", "higher"))],
    # bbox has no candidates metric: Spark folds its refine predicate into
    # the cover join, so no plan node counts the pairs before the refine
    *[m for j in ("bbox", "pip") for m in (
        (f"spatial_join.{j}.cover_rows", "count", "lower"),)],
    *[m for j in ("pip", "knn") for m in (
        (f"spatial_join.{j}.candidates", "count", "lower"),
        (f"spatial_join.{j}.refine_ratio", "ratio", "higher"))],
    *[m for j in ("pip", "knn") for m in (
        (f"spatial_join.{j}.python_init_ms", "ms", "lower"),
        (f"spatial_join.{j}.python_run_ms", "ms", "lower"))],
    ("spatial_join.knn.hist_s", "s", "lower"),
    ("spatial_join.knn.ring_cells", "count", "lower"),
    ("spark.scan_ms", "ms", "lower"),
    ("spark.exchange_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.scheduler_delay_ms", "ms", "lower"),
    ("host.idle_pct", "%", "higher"),
    ("host.steal_pct", "%", "lower"),
    ("host.system_pct", "%", "lower"),
    ("trace.job_s", "s", "lower"),
]


class LayerStats:
    """Everything one (op, layer) cost, summed over its tasks and jobs."""

    def __init__(self):
        self.jobs = 0
        self.task = Counter()        # task-level metrics
        self.acc = Counter()         # SQL accumulator id -> summed update

    def sql(self, nodes: dict, node_prefix: str, metric: str,
            detail: str = "") -> int:
        """Sum of ``metric`` over the plan nodes whose name starts with
        ``node_prefix`` and whose description contains ``detail``."""
        return sum(v for a, v in self.acc.items()
                   if a in nodes and nodes[a][1] == metric
                   and nodes[a][0].startswith(node_prefix)
                   and detail in nodes[a][2])

    def node_max(self, nodes: dict, node_names: set, metric: str,
                 skip: str | None = None) -> int:
        """Largest ``metric`` of one plan node named in ``node_names``,
        leaving out nodes whose description contains ``skip``."""
        return max((v for a, v in self.acc.items() if a in nodes
                    and nodes[a][1] == metric
                    and nodes[a][0].split(" ")[0] in node_names
                    and not (skip and skip in nodes[a][2])), default=0)


def _walk_plan(plan: dict, nodes: dict) -> None:
    for m in plan.get("metrics", []):
        nodes[m["accumulatorId"]] = (plan["nodeName"], m["name"],
                                     plan.get("simpleString", ""))
    for c in plan.get("children", []):
        _walk_plan(c, nodes)


def _job_key(props: dict) -> tuple[int, str] | None:
    layer = props.get("perfbench.layer")
    if layer is None:
        return None
    if layer == "tile":
        desc = props.get("spark.job.description") or ""
        layer = ("tile." + desc[len("stage "):] if desc.startswith("stage ")
                 else "tile.checkpoint")
    return int(props.get("perfbench.op", "0")), layer


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """-> ({(op, layer): LayerStats},
    {accumulator id: (node name, metric, node description)})."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    stats: dict = defaultdict(LayerStats)
    nodes: dict = {}
    stage_key: dict = {}
    exec_key: dict = {}
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                key = _job_key(e.get("Properties") or {})
                if key is None:
                    continue
                stats[key].jobs += 1
                for sid in e["Stage IDs"]:
                    stage_key[sid] = key
                eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
                if eid is not None:
                    exec_key.setdefault(int(eid), key)
            elif ev.endswith("SQLExecutionStart") or ev.endswith(
                    "SQLAdaptiveExecutionUpdate"):
                _walk_plan(e["sparkPlanInfo"], nodes)
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                key = exec_key.get(int(e["executionId"]))
                if key is not None:
                    for acc_id, value in e["accumUpdates"]:
                        stats[key].acc[acc_id] += int(value)
            elif ev == "SparkListenerTaskEnd":
                key = stage_key.get(e["Stage ID"])
                if key is None:
                    continue
                _add_task(stats[key], e)
    return stats, nodes


def _add_task(s: LayerStats, e: dict) -> None:
    info, tm = e["Task Info"], e.get("Task Metrics") or {}
    for a in info.get("Accumulables", []):
        if a.get("Metadata") == "sql":
            try:
                s.acc[a["ID"]] += int(a["Update"])
            except (KeyError, ValueError):
                pass
    if not tm:
        return
    run = tm.get("Executor Run Time", 0)
    s.task["run_ms"] += run
    s.task["cpu_ns"] += tm.get("Executor CPU Time", 0)
    s.task["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}
                                      ).get("Shuffle Bytes Written", 0)
    s.task["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                              + tm.get("Disk Bytes Spilled", 0))
    s.task["sched_delay_ms"] += max(
        0, info["Finish Time"] - info["Launch Time"] - run
        - tm.get("Executor Deserialize Time", 0)
        - tm.get("Result Serialization Time", 0))


def layer_metrics(stats: dict, nodes: dict, ops: list[int],
                  setup_reps: list[int]) -> dict[str, float]:
    """Per-op means over the measured ``ops`` (and per-rep means over the
    ``setup_reps`` op ids) of the event-log derived per-layer values.
    Keys are per-layer metric names; layers an op never entered are
    averaged over the ops that did."""
    def mean_over(op_ids, layer, fn):
        vals = [fn(stats[(o, layer)]) for o in op_ids
                if (o, layer) in stats]
        return sum(vals) / len(vals) if vals else 0.0

    def per_op(fn, layers):
        return sum(fn(stats[(o, la)]) for o in ops for la in layers
                   if (o, la) in stats) / max(1, len(ops))

    out: dict[str, float] = {}
    tile_layers = ["tile.calcqts", "tile.tileplan", "tile.tiled",
                   "tile.counts", "tile.checkpoint"]
    if any((o, "tile.calcqts") in stats for o in ops):
        out["calcqts.task_cpu_s"] = mean_over(
            ops, "tile.calcqts", lambda s: s.task["cpu_ns"] / 1e9)
    else:
        out["calcqts.task_cpu_s"] = mean_over(
            setup_reps, "setup.calcqts", lambda s: s.task["cpu_ns"] / 1e9)
    # the cell histogram ``prepare_quadtree_tree`` collects is the widest
    # final aggregate of the plan stage (the depth sketch has one row)
    out["tiling.plan_cells"] = mean_over(
        ops, "tile.tileplan",
        lambda s: s.node_max(nodes, AGG_NODES, ROWS, skip="partial_"))
    out["tiling.broadcast_bytes"] = mean_over(
        ops, "tile.tiled",
        lambda s: s.sql(nodes, "BroadcastExchange", "data size"))
    out["tiling.shuffle_bytes"] = per_op(
        lambda s: s.task["shuffle_write_bytes"],
        ["tile.tileplan", "tile.tiled"])
    out["checkpoint.jobs"] = mean_over(ops, "tile.checkpoint",
                                       lambda s: s.jobs)
    for j in JOINS:
        out[f"spatial_join.{j}.jobs"] = mean_over(ops, j, lambda s: s.jobs)
    # (query, cell) pairs the cover stream emits: the replication
    for j in ("bbox", "pip"):
        out[f"spatial_join.{j}.cover_rows"] = mean_over(
            ops, j, lambda s: s.sql(nodes, "MapInPandas", ROWS, "covers("))
    # rows entering the exact refine: PIP's vertex join feeds the refine
    # MapInPandas; kNN's (point, query) pairs feed the distance window
    for j in ("pip", "knn"):
        out[f"spatial_join.{j}.candidates"] = mean_over(
            ops, j, lambda s: s.node_max(nodes, JOIN_NODES, ROWS))
    for j in ("pip", "knn"):
        out[f"spatial_join.{j}.python_init_ms"] = mean_over(
            ops, j, lambda s: sum(s.sql(nodes, "", m) for m in PY_INIT))
        out[f"spatial_join.{j}.python_run_ms"] = mean_over(
            ops, j, lambda s: s.sql(nodes, "", PY_RUN))
    out["spatial_join.knn.ring_cells"] = mean_over(
        ops, "knn", lambda s: s.sql(nodes, "MapInPandas", ROWS, "rings("))
    op_layers = tile_layers + ["result", *JOINS]
    out["spark.scan_ms"] = per_op(
        lambda s: s.sql(nodes, "Scan", "scan time"), op_layers)
    out["spark.exchange_bytes"] = per_op(
        lambda s: s.task["shuffle_write_bytes"], op_layers)
    out["spark.spill_bytes"] = per_op(lambda s: s.task["spill_bytes"],
                                      op_layers)
    out["spark.scheduler_delay_ms"] = per_op(
        lambda s: s.task["sched_delay_ms"], op_layers)
    return out
