"""Staged, checkpoint-resumable pipeline orchestrator.

The full reference lifecycle (SURVEY.md §3) as named, independently
resumable stages:

  calcqts   run_calcqts: lon/lat + bbox/point qt + coarse cell
  tileplan  plan_histogram + find_tree_groups: one bounded histogram job
            picks the depth, a vectorized driver-side planner groups it
            (persisted as a tiny parquet so resume reuses the exact plan)
  tiled     assign_tiles_broadcast over the plan's own histogram (rebuilt
            only when the plan stage was skipped on resume)
  counts    per-tile Count fingerprint (the pipeline checksum, §5.2)

Each stage goes through Lineage.run_stage: skipped when already complete
for the run_id, per-file rows/bytes recorded from the parquet footers,
half-written outputs re-run.  A killed job resumes mid-pipeline by
re-invoking with the same run_id and workdir.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from osmquadtree_rust_bindings_spark.checkpoint import Lineage
from osmquadtree_rust_bindings_spark.operators import calcqts as CQ
from osmquadtree_rust_bindings_spark.operators import count as CNT
from osmquadtree_rust_bindings_spark.operators import tiling as T


class TilingPipeline:
    def __init__(self, spark: SparkSession, workdir: str,
                 run_id: str | None = None, group_target: int = T.GROUP_TARGET,
                 group_depth: int = 17, salt_over: int | None = None):
        self.spark = spark
        self.lineage = Lineage(workdir, run_id)
        self.group_target = group_target
        self.group_depth = group_depth
        self.salt_over = salt_over

    def run(self, images: DataFrame) -> dict[str, DataFrame]:
        spark = self.spark
        lin = self.lineage

        calc = lin.run_stage(
            spark, "calcqts",
            lambda: CQ.run_calcqts(
                images.drop("bytes") if "bytes" in images.columns
                else images))

        planned: dict = {}

        def plan() -> DataFrame:
            depth, cells = T.plan_histogram(calc, "qt", self.group_depth)
            groups = T.find_tree_groups(cells, target=self.group_target)
            planned.update(depth=depth, cells=cells, groups=groups)
            # persist the planning depth with the plan so a resumed run
            # reuses the exact same assignment domain
            return spark.createDataFrame(
                groups.assign(plan_depth=depth).astype(
                    {"tile": np.int64, "weight": np.int64,
                     "plan_depth": np.int64}))

        plan_df = lin.run_stage(spark, "tileplan", plan)
        if not planned:
            # the plan stage was skipped on resume: reload the stored plan
            plan_pdf = plan_df.toPandas().astype(
                {"tile": np.int64, "weight": np.int64})
            planned["groups"] = plan_pdf[["tile", "weight"]]
            if "plan_depth" in plan_pdf.columns and len(plan_pdf):
                planned["depth"] = int(
                    plan_pdf["plan_depth"].astype(np.int64).iloc[0])
            else:
                # plan written by an older version (no persisted depth):
                # re-derive deterministically
                planned["depth"], planned["cells"] = T.plan_histogram(
                    calc, "qt", self.group_depth)

        def assign() -> DataFrame:
            # the cell domain is bounded (plan_histogram keeps it under
            # max_cells), so only a resumed run re-aggregates it;
            # assignment is a broadcast equi-join on the compacted cell key
            depth = planned["depth"]
            cells = planned.get("cells")
            if cells is None:
                cells = T.prepare_quadtree_tree(calc, "qt", depth)
            return T.assign_tiles_broadcast(calc, cells, planned["groups"],
                                            depth, salt_over=self.salt_over)

        tiled = lin.run_stage(spark, "tiled", assign)

        counts = lin.run_stage(
            spark, "counts",
            lambda: CNT.count_fingerprint(
                tiled, group=["tile"], id_col="image_id")
            .orderBy("tile"))

        return {"calcqts": calc, "tileplan": plan_df,
                "tiled": tiled, "counts": counts}
