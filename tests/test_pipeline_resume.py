"""T3: checkpointed pipeline — lineage records, kill-and-resume semantics."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import with_conf
from osmquadtree_rust_bindings_spark.checkpoint import (
    Lineage,
    parquet_file_stats,
)
from osmquadtree_rust_bindings_spark.plans.pipeline import TilingPipeline
from osmquadtree_rust_bindings_spark.sources import images as I

N = 2000


@pytest.fixture(scope="module")
def images(spark):
    return spark.createDataFrame(
        I.make_images_pdf(0, N, with_bytes=False)).cache()


def test_pipeline_end_to_end(spark, images, tmp_path):
    wd = str(tmp_path / "run1")
    pipe = TilingPipeline(spark, wd, run_id="r1", group_target=400)
    # a janino failure in the plan aggregate or the broadcast assign
    # raises instead of silently running interpreted
    with with_conf(spark, {"spark.sql.codegen.fallback": "false"}):
        out = pipe.run(images)
        assert out["tiled"].count() == N
        assert out["counts"].agg(F.sum("num")).collect()[0][0] == N
    # lineage: 4 complete stages + per-partition rows
    recs = pipe.lineage.records()
    stages = [r for r in recs if r.get("status") == "complete"]
    assert [s["stage"] for s in stages] == \
        ["calcqts", "tileplan", "tiled", "counts"]
    for s in stages:
        # one partition record per parquet file, rows from the footers
        path = pipe.lineage.stage_path(s["stage"])
        files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        parts = [r for r in recs if r.get("status") == "partition"
                 and r["stage"] == s["stage"]]
        assert sorted(p["file"] for p in parts) == files
        assert s["num_partitions"] == len(files)
        assert sum(p["rows"] for p in parts) == s["output_rows"] \
            == spark.read.parquet(path).count()
        assert sum(p["bytes"] for p in parts) == s["output_bytes"] > 0
        assert all(p["bytes"] > 0 for p in parts)
    assert stages[0]["output_rows"] == N


def test_parquet_file_stats_partitioned_output(spark, images, tmp_path):
    path = str(tmp_path / "by_w")
    images.write.partitionBy("w").parquet(path)
    stats = parquet_file_stats(path)
    files = [os.path.relpath(os.path.join(root, n), path)
             for root, _dirs, names in os.walk(path)
             for n in names if n.endswith(".parquet")
             and not n.startswith(".")]
    assert sorted(s["file"] for s in stats) == sorted(files)
    assert all(os.sep in s["file"] for s in stats)  # inside w=... dirs
    assert sum(s["rows"] for s in stats) == N
    assert sum(s["bytes"] for s in stats) > 0


def test_pipeline_resume_skips_completed(spark, images, tmp_path):
    wd = str(tmp_path / "run2")
    pipe = TilingPipeline(spark, wd, run_id="r2", group_target=400)
    # simulate a killed job: run only the first stage via the same lineage
    from osmquadtree_rust_bindings_spark.operators import calcqts as CQ
    pipe.lineage.run_stage(spark, "calcqts",
                           lambda: CQ.run_calcqts(images.drop("bytes")))
    mtime = os.path.getmtime(pipe.lineage.stage_path("calcqts"))
    files = sorted(os.listdir(pipe.lineage.stage_path("calcqts")))

    # resume: full pipeline with the same run_id must NOT recompute calcqts
    pipe2 = TilingPipeline(spark, wd, run_id="r2", group_target=400)
    out = pipe2.run(images)
    assert out["tiled"].count() == N
    assert sorted(os.listdir(pipe2.lineage.stage_path("calcqts"))) == files
    assert os.path.getmtime(pipe2.lineage.stage_path("calcqts")) == mtime
    # exactly one 'complete' record per stage across both attempts
    stages = [r["stage"] for r in pipe2.lineage.records()
              if r.get("status") == "complete"]
    assert sorted(stages) == ["calcqts", "counts", "tiled", "tileplan"]


def test_resume_after_plan_reuses_stored_plan(spark, images, tmp_path):
    wd = str(tmp_path / "run5")
    first = TilingPipeline(spark, wd, run_id="r5", group_target=400)
    want = sorted(tuple(r) for r in first.run(images)["counts"].collect())
    plan_mtime = os.path.getmtime(first.lineage.stage_path("tileplan"))
    # simulate a job killed after the plan stage
    keep = [r for r in first.lineage.records()
            if r["stage"] in ("calcqts", "tileplan")]
    with open(first.lineage.path, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in keep)

    pipe = TilingPipeline(spark, wd, run_id="r5", group_target=400)
    out = pipe.run(images)
    assert os.path.getmtime(pipe.lineage.stage_path("tileplan")) \
        == plan_mtime
    assert sorted(tuple(r) for r in out["counts"].collect()) == want


def test_half_written_stage_is_rerun(spark, images, tmp_path):
    wd = str(tmp_path / "run3")
    pipe = TilingPipeline(spark, wd, run_id="r3", group_target=400)
    # fake a crash: lineage says running (never completed), output dir exists
    os.makedirs(pipe.lineage.stage_path("calcqts"), exist_ok=True)
    with open(pipe.lineage.path, "w") as f:
        f.write(json.dumps({"run_id": "r3", "stage": "calcqts",
                            "status": "running", "t_start": 0}) + "\n")
    assert not pipe.lineage.stage_complete("calcqts")
    out = pipe.run(images)
    assert out["tiled"].count() == N
    assert pipe.lineage.stage_complete("calcqts")


def test_different_run_id_recomputes(spark, images, tmp_path):
    wd = str(tmp_path / "run4")
    TilingPipeline(spark, wd, run_id="a", group_target=400).run(images)
    lin_b = Lineage(wd, run_id="b")
    assert not lin_b.stage_complete("calcqts")
