"""Measure the kNN loop-vs-batch crossover over query-set size.

Context: the j10 driver gate times `knn_join_batch` (the single-plan scale
path) since round 4, which at the gate's 10 queries costs ~+0.5s over the
driver-convergence loop — the density histogram is a full point scan that
only amortizes over many queries (README perf rule 17).  This job measures
WHERE the batch form wins: both forms over the sf0.1 point set at growing
query counts, same session, alternating A/B, best of ``reps``.

The loop form's driver cost is O(queries x ring cells) pandas work per
round plus a per-round toPandas of all candidate top-k rows — it is the
small-query contract, not a scale path, so it is skipped above
``LOOP_MAX`` (the point of the measurement is the crossover, not waiting
on the known-quadratic driver loop).

Writes BENCH/knn_crossover.json:
  {"points": N, "counts": {"10": {"batch_sec": ..., "loop_sec": ...,
                                   "rows": ...}, ...}}

Output parity: row counts must match between forms at every measured
count (full-value equality at 10^4 queries is pinned by
tests/test_spatial_join.py; this job re-checks counts so a timing run can
never silently compare different answers).
"""

import json
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COUNTS = [10, 100, 1_000, 10_000, 100_000, 1_000_000]
LOOP_MAX = 10_000
REPS = 2
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "BENCH", "knn_crossover.json")


def make_queries(n: int) -> pd.DataFrame:
    rng = np.random.default_rng(422)
    return pd.DataFrame({
        "qid": np.arange(n),
        "lon": rng.integers(-1_700_000_000, 1_700_000_000, n),
        "lat": rng.integers(-750_000_000, 750_000_000, n),
        "k": np.tile(np.array([1, 5, 20], dtype=np.int64),
                     (n + 2) // 3)[:n],
    })


def main() -> None:
    from osmquadtree_rust_bindings_spark import driver_queries as DQ
    from osmquadtree_rust_bindings_spark.operators import spatial_join as SJ
    from osmquadtree_rust_bindings_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="osmqt-knn-crossover")
    spark.sparkContext.setLogLevel("ERROR")

    pts = DQ._pts_with_qt(spark, sf_dir)
    n_points = pts.count()  # also warms scan + qt codegen

    results = {}
    for count in COUNTS:
        qpdf = make_queries(count)
        row = {}
        rows_by_form = {}
        for rep in range(REPS):
            # alternate forms within the session so neither always pays
            # the colder caches (measurement-discipline rule: A/B
            # in-session, never across sessions)
            for form in (("batch", "loop") if rep % 2 == 0
                         else ("loop", "batch")):
                if form == "loop" and count > LOOP_MAX:
                    continue
                t0 = time.time()
                if form == "batch":
                    out = SJ.knn_join_batch(
                        pts, spark.createDataFrame(
                            qpdf[["qid", "lon", "lat", "k"]]),
                        point_id="rowkey")
                else:
                    # batch_threshold above `count`: force the loop form
                    out = SJ.knn_join(pts, qpdf, point_id="rowkey",
                                      batch_threshold=count + 1)
                n_rows = out.count()
                dt = time.time() - t0
                key = f"{form}_sec"
                row[key] = min(row.get(key, 1e9), round(dt, 2))
                rows_by_form[form] = n_rows
        if len(rows_by_form) == 2 and \
                rows_by_form["batch"] != rows_by_form["loop"]:
            raise AssertionError(
                f"row-count mismatch at {count} queries: {rows_by_form}")
        row["rows"] = rows_by_form["batch"]
        results[str(count)] = row
        print(f"{count:>7} queries: {row}", flush=True)

    payload = {"points": n_points, "sf_dir": sf_dir, "reps": REPS,
               "loop_max": LOOP_MAX, "counts": results}
    with open(OUT, "w") as f:
        json.dump(payload, f, indent=2)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
