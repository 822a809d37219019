"""The benchmark's three workloads, each driving the engine through its
public functions on inputs generated from the run's seed.

A workload has a set-up step (repeated, its median reported as set-up
time), an ``op`` that the runner times, and a ``verify`` that checks the
op's output against the numpy oracle outside the timed region.  ``op``
records its layer spans in ``self.spans[op]``; ``verify`` adds the
per-layer values it reads off the op's outputs.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from osmquadtree_rust_bindings_spark.operators import calcqts as CQ
from osmquadtree_rust_bindings_spark.operators import spatial_join as SJ
from osmquadtree_rust_bindings_spark.plans.pipeline import TilingPipeline
from osmquadtree_rust_bindings_spark.sources import fixtures as FX
from osmquadtree_rust_bindings_spark.sources import images as IM

import oracle as O
from harness import layer, remove_tree


@dataclass(frozen=True)
class Sizes:
    points: int = 100_000
    group_target: int = 2_000    # ~40 tiles, as at 2M rows and 40 000
    boxes: int = 10_000          # join_batch query sets
    polygons: int = 1_000
    knn_queries: int = 1_000
    knn_sample: int = 64         # kNN queries checked by brute force
    small_boxes: int = 20        # join_small query sets
    small_polygons: int = 12
    small_knn: int = 10
    small_pool: int = 16         # join_small query sets per kind

    @classmethod
    def tiny(cls) -> "Sizes":
        return cls(points=5_000, group_target=100, boxes=200, polygons=20, knn_queries=20,
                   knn_sample=8, small_pool=2)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f))
               for f in os.listdir(path) if f.endswith(".parquet"))


class Workload:
    name = ""
    warmup_ops = 1
    min_ops = 3
    op_multiple = 1

    def __init__(self, spark, work: str, seed: int, sizes: Sizes):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sizes = sizes
        self.corpus_path = os.path.join(work, "corpus")
        self.setup_spans: list[dict] = []
        self.spans: dict[int, dict] = {}
        self.pts: O.Points | None = None

    # ------------------------------------------------------------ set-up

    def _generate(self, rep: int) -> None:
        with layer(self.spark, "setup.generate", -1 - rep):
            t0 = time.perf_counter()
            (IM.generate_images(self.spark, self.sizes.points,
                                self.spark.sparkContext.defaultParallelism,
                                seed=self.seed, with_bytes=False)
             .write.mode("overwrite").parquet(self.corpus_path))
            self.setup_spans.append(
                {"sources.generate_s": time.perf_counter() - t0})

    def setup(self, rep: int) -> None:
        self._generate(rep)

    def finish_setup(self) -> None:
        """Untimed: open the inputs and build the oracle."""
        self.pts = O.Points(self.sizes.points, self.seed)

    def stored_bytes_per_row(self) -> float:
        raise NotImplementedError

    def close(self) -> None:
        """Remove the generated inputs."""
        remove_tree(self.corpus_path)


# ------------------------------------------------------------- tile_build

class TileBuild(Workload):
    """Full TilingPipeline runs (calcqts -> tileplan -> tiled -> counts)
    into a fresh workdir per op."""

    name = "tile_build"
    warmup_ops = 3

    def finish_setup(self) -> None:
        super().finish_setup()
        self.corpus = self.spark.read.parquet(self.corpus_path)
        self.first: tuple | None = None
        self._plans: dict[int, tuple] = {}
        self.tiled_bytes: list[int] = []

    def op(self, i: int):
        self.spans.setdefault(i, {})
        wd = os.path.join(self.work, f"tile-op-{i}")
        pipe = TilingPipeline(self.spark, wd, run_id=f"op{i}",
                              group_target=self.sizes.group_target)
        self.group_depth = pipe.group_depth
        with layer(self.spark, "tile", i):
            out = pipe.run(self.corpus)
        with layer(self.spark, "result", i):
            counts = [tuple(r) for r in out["counts"].collect()]
        return self.sizes.points, (wd, counts)

    def verify(self, i: int, payload) -> list[str]:
        wd, counts = payload
        try:
            plan = pd.read_parquet(os.path.join(wd, "stage=tileplan"))
            recs = {r["stage"]: r for r in _lineage(wd)
                    if r.get("status") == "complete"}
            files = sum(1 for r in _lineage(wd)
                        if r.get("status") == "partition")
        finally:
            remove_tree(wd)
        errors = []
        plan = plan.sort_values("tile")
        depth = int(plan["plan_depth"].iloc[0])
        errors += O.plan_depth_errors(self.pts, depth, self.group_depth)
        if depth not in self._plans:
            want_plan = O.tile_plan(self.pts, depth, self.sizes.group_target)
            self._plans[depth] = (want_plan, O.tile_fingerprint(
                self.pts, want_plan["tile"].to_numpy(np.int64)))
        want_plan, want = self._plans[depth]
        have_plan = list(zip(plan["tile"].tolist(), plan["weight"].tolist()))
        if have_plan != list(zip(want_plan["tile"].tolist(),
                                 want_plan["weight"].tolist())):
            errors.append(f"tile plan ({len(have_plan)} tiles) differs "
                          f"from the oracle's ({len(want_plan)} tiles)")
        if sorted(counts) != want:
            errors.append("tile counts differ from the oracle fingerprint")
        weights = dict(have_plan)
        if any(weights.get(t[0]) != t[1] for t in want):
            errors.append("tile plan weights differ from assigned rows")
        if sum(c[1] for c in counts) != self.sizes.points:
            errors.append("tile counts do not sum to the corpus rows")
        outcome = (tuple(have_plan), tuple(sorted(counts)))
        if self.first is None:
            self.first = outcome
        elif outcome != self.first:
            errors.append("tile plan or counts changed between ops")
        self.tiled_bytes.append(recs["tiled"]["output_bytes"])
        self.spans[i].update({
            "calcqts.s": _span(recs["calcqts"]),
            "calcqts.bytes_out": recs["calcqts"]["output_bytes"],
            "tiling.plan_s": _span(recs["tileplan"]),
            "tiling.plan_groups": len(plan),
            "tiling.assign_s": _span(recs["tiled"]),
            "checkpoint.files": files,
            "checkpoint.bytes_written": sum(
                r["output_bytes"] for r in recs.values()),
            "count.s": _span(recs["counts"]),
        })
        return errors

    def stored_bytes_per_row(self) -> float:
        return float(np.median(self.tiled_bytes)) / self.sizes.points


def _lineage(wd: str) -> list[dict]:
    with open(os.path.join(wd, "lineage.jsonl")) as f:
        return [json.loads(line) for line in f if line.strip()]


def _span(rec: dict) -> float:
    return rec["t_end"] - rec["t_start"]


# ------------------------------------------------------------------ joins

def _digest_row(df, qcol):
    """One action that forces the join and returns its order-independent
    digest (see oracle.py)."""
    key = F.shiftleft(qcol.cast("long"), O.KEY_SHIFT) + F.col("pid")
    return df.agg(F.count(F.lit(1)), F.sum(key),
                  F.sum((key * O.MIX) % O.MOD)).collect()[0]


class _Joins(Workload):
    """Shared set-up for the join workloads: the corpus, then the
    materialized qts product the joins read."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.qts_path = os.path.join(self.work, "qts")
        self._want: dict[int, tuple] = {}   # id(query frame) -> oracle

    def setup(self, rep: int) -> None:
        self._generate(rep)
        with layer(self.spark, "setup.calcqts", -1 - rep):
            t0 = time.perf_counter()
            corpus = self.spark.read.parquet(self.corpus_path)
            (CQ.run_calcqts(corpus.drop("bytes"))
             .withColumn("pid", F.substring("image_id", 4, 12).cast("long"))
             .write.mode("overwrite").parquet(self.qts_path))
            self.setup_spans[-1]["calcqts.s"] = time.perf_counter() - t0

    def finish_setup(self) -> None:
        super().finish_setup()
        self.points = self.spark.read.parquet(self.qts_path)
        self.qts_bytes = _dir_bytes(self.qts_path)

    def stored_bytes_per_row(self) -> float:
        return self.qts_bytes / self.sizes.points

    def close(self) -> None:
        super().close()
        remove_tree(self.qts_path)

    def run_join(self, i: int, kind: str, pdf: pd.DataFrame):
        """Run one join over ``pdf`` and return (rows, digest payload).
        The span covers building the query frame, the call (kNN runs its
        density-histogram job here) and the forcing action."""
        spark = self.spark
        with layer(spark, kind, i):
            t0 = time.perf_counter()
            if kind == "bbox":
                out = SJ.bbox_join_batch(self.points,
                                         spark.createDataFrame(pdf),
                                         point_id="pid")
                got = _digest_row(out, F.col("qid"))
            elif kind == "pip":
                out = SJ.pip_join_batch(self.points,
                                        spark.createDataFrame(pdf),
                                        point_id="pid")
                got = _digest_row(out, F.substring("poly_id", 5, 6))
            else:
                q = spark.createDataFrame(pdf)
                t_call = time.perf_counter()
                out = SJ.knn_join_batch(self.points, q, point_id="pid")
                self.spans[i]["spatial_join.knn.hist_s"] = (
                    time.perf_counter() - t_call)
                sample = [int(x) for x in self.knn_sample(pdf)]
                got = out.agg(
                    F.count(F.lit(1)),
                    F.collect_list(F.when(
                        F.col("qid").isin(sample),
                        F.struct("qid", "pid", "dist_m")))).collect()[0]
            dt = time.perf_counter() - t0
        rows = int(got[0])
        self.spans[i][f"spatial_join.{kind}.s"] = dt
        self.spans[i][f"spatial_join.{kind}.rows_out"] = rows
        return rows, got

    def knn_sample(self, pdf: pd.DataFrame) -> np.ndarray:
        qids = pdf["qid"].to_numpy()
        n = min(len(qids), self.sizes.knn_sample)
        return np.random.default_rng(self.seed).choice(qids, n, replace=False)

    def check_join(self, i: int, kind: str, pdf: pd.DataFrame,
                   got) -> list[str]:
        """Compare one join's payload with the oracle, computed once per
        query set."""
        key = id(pdf)
        if key not in self._want:
            self._want[key] = self._expected(kind, pdf)
        want = self._want[key]
        if kind == "knn":
            errors = []
            if int(got[0]) != want:
                errors.append(f"knn rows {got[0]}, want {want}")
            return errors + O.knn_check(self.pts, pdf, list(got[1]),
                                        self.knn_sample(pdf))
        have = tuple(int(x) for x in got)
        return [] if have == want else [
            f"{kind} digest {have}, want {want}"]

    def _expected(self, kind: str, pdf: pd.DataFrame):
        """-> expected digest, or the expected kNN row count."""
        if kind == "knn":
            return O.knn_rows_expected(pdf, self.sizes.points)
        if kind == "bbox":
            return O.bbox_digest(self.pts, pdf)
        return O.pip_digest(self.pts, pdf)


MAKERS = {"bbox": FX.make_bbox_queries_pdf, "pip": FX.make_polygons_pdf,
          "knn": FX.make_knn_queries_pdf}


class JoinBatch(_Joins):
    """Each op: bbox, PIP and kNN batch joins with large query sets."""

    name = "join_batch"
    warmup_ops = 1

    def finish_setup(self) -> None:
        super().finish_setup()
        s = self.sizes
        n = {"bbox": s.boxes, "pip": s.polygons, "knn": s.knn_queries}
        self.queries = {k: MAKERS[k](n[k], self.seed) for k in n}

    def op(self, i: int):
        self.spans.setdefault(i, {})
        rows, got = 0, {}
        for kind, pdf in self.queries.items():
            r, got[kind] = self.run_join(i, kind, pdf)
            rows += r
        return rows, got

    def verify(self, i: int, payload) -> list[str]:
        return [e for kind, pdf in self.queries.items()
                for e in self.check_join(i, kind, pdf, payload[kind])]


class JoinSmall(_Joins):
    """Each op: one small query set — boxes, then polygons, then kNN
    queries — walking through a seeded pool of sets per kind."""

    name = "join_small"
    warmup_ops = 9
    op_multiple = 3  # whole rotations

    KINDS = ("bbox", "pip", "knn")

    def finish_setup(self) -> None:
        super().finish_setup()
        s = self.sizes
        n = {"bbox": s.small_boxes, "pip": s.small_polygons,
             "knn": s.small_knn}
        self.pool = {k: [MAKERS[k](n[k], self.seed * 1000 + j)
                         for j in range(s.small_pool)] for k in self.KINDS}

    def _pick(self, i: int) -> tuple[str, pd.DataFrame]:
        kind = self.KINDS[i % 3]
        return kind, self.pool[kind][(i // 3) % self.sizes.small_pool]

    def op(self, i: int):
        self.spans.setdefault(i, {})
        return self.run_join(i, *self._pick(i))

    def verify(self, i: int, payload) -> list[str]:
        return self.check_join(i, *self._pick(i), payload)


WORKLOADS = {w.name: w for w in (TileBuild, JoinBatch, JoinSmall)}
