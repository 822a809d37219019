"""North-rule deployment shape: the pipeline ships as a real
``spark-submit --py-files engine.zip`` job.

The job script is COPIED to a temp dir and submitted from there, so the
repo checkout is not on the driver's sys.path — every
``osmquadtree_rust_bindings_spark`` import (driver and executor python
workers) must resolve from the ``--py-files`` zip, exactly as on a
cluster.
"""

import json
import os
import shutil
import subprocess

import pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str:
    found = shutil.which("spark-submit")
    if found:
        return found
    return os.path.join(os.path.dirname(pyspark.__file__), "bin",
                        "spark-submit")


def test_spark_submit_pyfiles_pipeline(tmp_path):
    from osmquadtree_rust_bindings_spark.session import build_pyfiles_zip

    zp = build_pyfiles_zip(str(tmp_path / "engine.zip"))
    job = str(tmp_path / "run_pipeline.py")
    shutil.copy(os.path.join(REPO, "jobs", "run_pipeline.py"), job)

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # nothing but the zip provides the package
    env["SPARK_DRIVER_MEM"] = "4g"
    r = subprocess.run(
        [_spark_submit(), "--master", "local[4]", "--py-files", zp, job,
         "--n", "20000", "--no-bytes",
         "--workdir", str(tmp_path / "wd"), "--run-id", "submit-smoke",
         "--master", "local[4]"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=600)
    assert r.returncode == 0, (r.stdout[-2000:], r.stderr[-4000:])
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("{")][-1]
    out = json.loads(line)
    assert out["rows"] == 20000
    assert out["tiles"] > 0
    assert {s["stage"] for s in out["stages"]} >= {"calcqts", "tileplan",
                                                   "tiled"}


def test_resolve_shuffle_partitions(monkeypatch):
    from osmquadtree_rust_bindings_spark.session import (
        resolve_shuffle_partitions as rsp,
    )

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    assert rsp("local[8]") == 16          # max(16, 2*8)
    assert rsp("local[32]") == 64
    assert rsp("local[2]", explicit=40) == 40  # explicit wins
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "256")
    assert rsp("local[16]") == 256        # env overrides the default
    assert rsp("local[16]", explicit=8) == 8   # but not an explicit arg
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    import os as _os
    assert rsp("local[*]") == max(16, 2 * (_os.cpu_count() or 8))
    assert rsp("not-a-master") == max(16, 2 * (_os.cpu_count() or 8))


def test_default_driver_memory():
    from osmquadtree_rust_bindings_spark.session import (
        default_driver_memory as ddm,
    )

    # half of MemTotal (kB -> MiB), capped at 16g
    assert ddm("MemTotal:       16479424 kB\nMemFree: 1 kB\n") == "8046m"
    assert ddm("MemFree: 1 kB\nMemTotal: 4194304 kB\n") == "2048m"
    assert ddm("MemTotal: 33554432 kB\n") == "16g"
    assert ddm("MemTotal: 134217728 kB\n") == "16g"
    # unreadable or missing MemTotal: the old fixed default
    assert ddm(None) == "16g"
    assert ddm("MemFree: 1 kB\n") == "16g"
