"""T2/T3: spatial joins vs brute-force numpy/pandas oracles (SURVEY.md §5)."""

import numpy as np
import pandas as pd
import pytest
from conftest import with_conf

from osmquadtree_rust_bindings_spark import kernels as K
from osmquadtree_rust_bindings_spark.operators import calcqts as CQ
from osmquadtree_rust_bindings_spark.operators import spatial_join as SJ
from osmquadtree_rust_bindings_spark.sources import fixtures as FX
from osmquadtree_rust_bindings_spark.sources import images as I

N = 4000


@pytest.fixture(scope="module")
def images_pdf():
    pdf = I.make_images_pdf(0, N, with_bytes=False)
    lon, lat = K.phash_lonlat(pdf.phash.to_numpy(np.int64))
    return pdf.assign(lon=lon, lat=lat)


@pytest.fixture(scope="module")
def calc(spark, images_pdf):
    sdf = spark.createDataFrame(images_pdf.drop(columns=["lon", "lat"]))
    return CQ.run_calcqts(sdf).select(
        "image_id", "lon", "lat", "qt", "qt_point", "cell").cache()


def _sorted(df, cols):
    return df.sort_values(cols).reset_index(drop=True)


def _bbox_oracle(images_pdf, boxes):
    """Brute-force closed-interval containment: (qid, image_id) pairs."""
    plon = images_pdf.lon.to_numpy(np.int64)
    plat = images_pdf.lat.to_numpy(np.int64)
    ids = images_pdf.image_id.to_numpy()
    qids = boxes.qid.to_numpy()
    exp_q, exp_i = [], []
    CH = 2000
    for lo in range(0, len(boxes), CH):
        hi = min(len(boxes), lo + CH)
        m = ((plon[None, :] >= boxes.minlon.values[lo:hi, None])
             & (plon[None, :] <= boxes.maxlon.values[lo:hi, None])
             & (plat[None, :] >= boxes.minlat.values[lo:hi, None])
             & (plat[None, :] <= boxes.maxlat.values[lo:hi, None]))
        q, j = np.nonzero(m)
        exp_q.extend(qids[q + lo].tolist())
        exp_i.extend(ids[j].tolist())
    return _sorted(pd.DataFrame({"qid": exp_q, "image_id": exp_i}),
                   ["qid", "image_id"])


def _pip_oracle(images_pdf, polys):
    """Ray-crossing kernel over every point: (poly_id, image_id) pairs."""
    plon = images_pdf.lon.to_numpy(np.float64)
    plat = images_pdf.lat.to_numpy(np.float64)
    ids = images_pdf.image_id.to_numpy()
    rows = []
    for p in polys.itertuples(index=False):
        inside = K.points_in_polygon(
            plon, plat, np.asarray(p.verts_lon, np.float64),
            np.asarray(p.verts_lat, np.float64))
        rows.extend((p.poly_id, iid) for iid in ids[inside])
    return _sorted(pd.DataFrame(rows, columns=["poly_id", "image_id"]),
                   ["poly_id", "image_id"])


def _bbox_join(spark, calc, boxes):
    return _sorted(SJ.bbox_join_batch(calc, spark.createDataFrame(
        boxes[["qid", "minlon", "minlat", "maxlon", "maxlat"]])).toPandas(),
        ["qid", "image_id"])


def _pip_join(spark, calc, polys):
    return _sorted(SJ.pip_join_batch(calc, spark.createDataFrame(polys[
        ["poly_id", "verts_lon", "verts_lat",
         "minlon", "minlat", "maxlon", "maxlat"]])).toPandas(),
        ["poly_id", "image_id"])


def test_cover_stream_matches_numpy_oracle(spark):
    # edge cases of the SQL cover, cell for cell against the numpy cover
    # (Spark's sequence() counts down on start > stop, np.arange is
    # empty); codegen fallback off so a janino compile failure raises
    # instead of silently running interpreted
    rng = np.random.default_rng(5)
    n = 400
    cx = rng.integers(-1_800_000_000, 1_800_000_001, n)
    cy = rng.integers(-900_000_000, 900_000_001, n)
    w = rng.integers(0, 150_000_000, n)
    h = rng.integers(0, 150_000_000, n)
    rand = pd.DataFrame({
        "minlon": np.maximum(cx - w, -1_800_000_000),
        "maxlon": np.minimum(cx + w, 1_800_000_000),
        "minlat": np.maximum(cy - h, -900_000_000),
        "maxlat": np.minimum(cy + h, 900_000_000)}).astype(np.float64)
    edge = pd.DataFrame([
        # touching +-180 lon
        (1_790_000_000, 100_000_000, 1_800_000_000, 200_000_000),
        (-1_800_000_000, -200_000_000, -1_790_000_000, -100_000_000),
        (-1_800_000_000, -10_000_000, 1_800_000_000, 10_000_000),
        # at / beyond the mercator limit and exactly +-90 lat
        (0, 850_000_000, 50_000_000, 860_000_000),
        (0, 860_000_000, 50_000_000, 900_000_000),
        (0, -900_000_000, 50_000_000, -860_000_000),
        (0, 900_000_000, 0, 900_000_000),
        (0, -900_000_000, 0, -900_000_000),
        (-1_800_000_000, -900_000_000, 1_800_000_000, 900_000_000),
        # zero-area points, on and off cell edges
        (0, 0, 0, 0),
        (123_456_789, -98_765_432, 123_456_789, -98_765_432),
        # float bounds
        (55.5, 55.5, 200_000_055.5, 100_000_055.5),
        (-300_000_000.5, -55.5, -55.5, 200_000_000.25),
        # inverted across cells: no cover rows
        (200_000_000, 0, 0, 100_000_000),
        (0, 100_000_000, 200_000_000, 0),
    ], columns=["minlon", "minlat", "maxlon", "maxlat"]).astype(np.float64)
    boxes = pd.concat([edge, rand], ignore_index=True)
    boxes.insert(0, "qid", np.arange(len(boxes)))
    with np.errstate(divide="ignore", invalid="ignore"):  # lat = +-90
        cells = K.bbox_cover_cells(
            boxes.minlon.values, boxes.minlat.values, boxes.maxlon.values,
            boxes.maxlat.values, SJ.COVER_DEPTH)
    exp = pd.DataFrame(
        [(int(boxes.qid[i]), c >> (63 - 2 * SJ.COVER_DEPTH))
         for i, c in cells], columns=["qid", "cell_cov"])
    # the shuffle stops Catalyst folding the cover's projections into
    # the local relation, so every cover expression goes through codegen
    frame = spark.createDataFrame(boxes).repartition(3)
    with with_conf(spark, {"spark.sql.codegen.fallback": "false"}):
        cov = SJ._cover_stream(frame, "qid", SJ.COVER_DEPTH).toPandas()
    # id and bounds keep their input types; one row per (box, cell)
    assert cov.minlon.dtype == np.float64
    pd.testing.assert_frame_equal(
        _sorted(cov[["qid", "cell_cov"]], ["qid", "cell_cov"]),
        _sorted(exp, ["qid", "cell_cov"]), check_dtype=False)
    assert not cov.qid.isin([13, 14]).any()  # the inverted boxes
    # the zero-area boxes cover exactly one cell each
    assert (cov.qid.value_counts()[[6, 7, 9, 10]] == 1).all()


def test_bbox_join_runs_no_python(spark, calc):
    boxes = FX.make_bbox_queries_pdf(20)
    plan = _executed_plan(SJ.bbox_join_batch(calc, spark.createDataFrame(
        boxes[["qid", "minlon", "minlat", "maxlon", "maxlat"]])))
    assert "Python" not in plan and "Generate" in plan


def test_bbox_join_exact(spark, calc, images_pdf):
    boxes = FX.make_bbox_queries_pdf(60)
    got = _bbox_join(spark, calc, boxes)
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, _bbox_oracle(images_pdf, boxes),
                                  check_dtype=False)


def test_bbox_join_batch_large_box_set(spark, calc, images_pdf):
    # 2*10^4 boxes (executor-side cover, no driver expansion / forced
    # broadcast) equal the vectorized brute-force oracle
    rng = np.random.default_rng(17)
    nb = 20_000
    w = rng.integers(1_000_000, 200_000_000, nb)
    h = rng.integers(1_000_000, 200_000_000, nb)
    cx = rng.integers(-1_600_000_000, 1_600_000_000, nb)
    cy = rng.integers(-700_000_000, 700_000_000, nb)
    boxes = pd.DataFrame({
        "qid": np.arange(nb),
        "minlon": cx - w, "minlat": cy - h,
        "maxlon": cx + w, "maxlat": cy + h,
    })
    exp = _bbox_oracle(images_pdf, boxes)
    assert len(exp) > 0
    pd.testing.assert_frame_equal(_bbox_join(spark, calc, boxes), exp,
                                  check_dtype=False)


def test_bbox_join_batch_float_bounds(spark, calc, images_pdf):
    # _cover_stream preserves input column types: float bounds must
    # compare as doubles in the refine.  Boxes are anchored 0.5 units
    # past real point coordinates, so truncating bounds to long would
    # wrongly include each box's anchor point — this pins the
    # non-truncating behavior.
    p = images_pdf.iloc[:20]
    boxes = pd.DataFrame({
        "qid": np.arange(20),
        "minlon": p.lon.values + 0.5,
        "minlat": p.lat.values - 50_000_000.0,
        "maxlon": p.lon.values + 200_000_000.5,
        "maxlat": p.lat.values + 50_000_000.5,
    })
    batch = _bbox_join(spark, calc, boxes)
    # every anchor point sits 0.5 below its box's minlon: must be absent
    anchor_pairs = set(zip(range(20), p.image_id))
    assert not (set(zip(batch.qid, batch.image_id)) & anchor_pairs)
    pd.testing.assert_frame_equal(batch, _bbox_oracle(images_pdf, boxes),
                                  check_dtype=False)


def test_pip_join_exact(spark, calc, images_pdf):
    polys = FX.make_polygons_pdf(80)
    got = _pip_join(spark, calc, polys)
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, _pip_oracle(images_pdf, polys))


def test_pip_join_batch_large_polygon_set(spark, calc, images_pdf):
    # 6*10^3 polygons (distributed cover + verts-join refine, no driver
    # vertex broadcast) equal the ray-crossing kernel oracle
    polys = FX.make_polygons_pdf(6_000, seed=31)
    exp = _pip_oracle(images_pdf, polys)
    assert len(exp) > 0
    pd.testing.assert_frame_equal(_pip_join(spark, calc, polys), exp)


def test_knn_join_exact(spark, calc, images_pdf):
    queries = FX.make_knn_queries_pdf(25)
    got = SJ.knn_join(calc, queries).toPandas() \
        .sort_values(["qid", "rank"]).reset_index(drop=True)
    rows = []
    for q in queries.itertuples(index=False):
        d = K.haversine_m(images_pdf.lon.values, images_pdf.lat.values,
                          q.lon, q.lat)
        order = np.lexsort((images_pdf.image_id.values, d))[: q.k]
        rows.extend((q.qid, r + 1, images_pdf.image_id.iloc[j])
                    for r, j in enumerate(order))
    exp = pd.DataFrame(rows, columns=["qid", "rank", "image_id"]) \
        .sort_values(["qid", "rank"]).reset_index(drop=True)
    assert (got.groupby("qid")["rank"].max().sort_index().values
            == queries.sort_values("qid").k.values).all()
    pd.testing.assert_frame_equal(
        got[["qid", "rank", "image_id"]], exp, check_dtype=False)


def test_knn_join_batch_matches_loop_form(spark, calc):
    # the single-plan batch variant must return EXACTLY what the
    # round-looped knn_join returns on the gated fixture
    queries = FX.make_knn_queries_pdf(25)
    a = SJ.knn_join(calc, queries).toPandas() \
        .sort_values(["qid", "rank"]).reset_index(drop=True)
    b = SJ.knn_join_batch(calc, spark.createDataFrame(queries)).toPandas() \
        .sort_values(["qid", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_knn_join_batch_large_query_set(spark, calc, images_pdf):
    # 10^5 queries resolved in one plan, FULL equality vs a vectorized
    # brute-force oracle.  Entry via knn_join: at this size it must
    # auto-dispatch to the batch form (no driver convergence loop).
    rng = np.random.default_rng(99)
    nq = 100_000
    qpdf = pd.DataFrame({
        "qid": np.arange(nq),
        "lon": rng.integers(-1_700_000_000, 1_700_000_000, nq),
        "lat": rng.integers(-750_000_000, 750_000_000, nq),
        "k": rng.choice([1, 3, 5], nq).astype(np.int64),
    })
    got = SJ.knn_join(calc, qpdf).toPandas() \
        .sort_values(["qid", "rank"]).reset_index(drop=True)
    counts = got.groupby("qid")["rank"].max()
    assert len(counts) == nq
    assert (counts.sort_index().values
            == qpdf.sort_values("qid").k.values).all()
    # oracle: image_id is zero-padded ("img{i:012d}") so the engine's
    # (dist asc, image_id asc) tie-break equals (dist asc, index asc) —
    # lexsort on (candidate index, distance) reproduces it exactly.
    plon = images_pdf.lon.to_numpy(np.int64)
    plat = images_pdf.lat.to_numpy(np.int64)
    ids = images_pdf.image_id.to_numpy()
    KW = 16  # candidate width; boundary guard below proves it suffices
    exp_qid, exp_rank, exp_id = [], [], []
    CH = 2000
    for lo in range(0, nq, CH):
        hi = min(nq, lo + CH)
        d = K.haversine_m(plon[None, :], plat[None, :],
                          qpdf.lon.values[lo:hi, None],
                          qpdf.lat.values[lo:hi, None])
        part = np.argpartition(d, KW, axis=1)[:, :KW + 1]
        dsub = np.take_along_axis(d, part, axis=1)
        for r in range(hi - lo):
            k = int(qpdf.k.values[lo + r])
            o = np.lexsort((part[r, :KW], dsub[r, :KW]))[:k]
            # any excluded point is >= the partition boundary value; the
            # kept k-th must be strictly below it or a cross-boundary
            # distance tie could reorder by id
            assert dsub[r][o[-1]] < dsub[r, KW]
            exp_qid.extend([lo + r] * k)
            exp_rank.extend(range(1, k + 1))
            exp_id.extend(ids[part[r, :KW][o]])
    exp = pd.DataFrame({"qid": exp_qid, "rank": exp_rank,
                        "image_id": exp_id})
    pd.testing.assert_frame_equal(
        got[["qid", "rank", "image_id"]], exp, check_dtype=False)


def test_knn_high_latitude_sparse_exact(spark):
    # regression for the latitude-tight ring bounds (README perf rule 18):
    # sparse points confined to |lat| in [75, 84.5] deg force wide rings
    # whose exclusion test is decided by the zonal cross-track term
    # R*asin(cos(lat_q)*sin(dlam)) — the regime where the old linear
    # bound's slack (equator-scale `need`) used to hide its
    # overestimate.  Both forms must equal brute force exactly.
    from osmquadtree_rust_bindings_spark.functions import quadtree as Q

    rng = np.random.default_rng(7)
    npts = 300
    lat_deg = rng.uniform(75.0, 84.5, npts) * rng.choice([-1, 1], npts)
    pdf = pd.DataFrame({
        "pid": [f"p{i:06d}" for i in range(npts)],
        "lon": rng.integers(-1_799_999_999, 1_800_000_000, npts),
        "lat": np.round(lat_deg * 1e7).astype(np.int64),
    })
    pts = Q.with_point_qt(spark.createDataFrame(pdf), "lon", "lat", 18,
                          out="qt_point")
    nq = 40
    qlat = rng.uniform(76.0, 84.0, nq) * rng.choice([-1, 1], nq)
    qpdf = pd.DataFrame({
        "qid": np.arange(nq),
        "lon": rng.integers(-1_799_999_999, 1_800_000_000, nq),
        "lat": np.round(qlat * 1e7).astype(np.int64),
        "k": np.tile(np.array([1, 5, 10], dtype=np.int64),
                     (nq + 2) // 3)[:nq],
    })
    exp_rows = []
    for q in qpdf.itertuples(index=False):
        d = K.haversine_m(pdf.lon.values, pdf.lat.values, q.lon, q.lat)
        order = np.lexsort((pdf.pid.values, d))[: q.k]
        exp_rows.extend((q.qid, r + 1, pdf.pid.iloc[j])
                        for r, j in enumerate(order))
    exp = pd.DataFrame(exp_rows, columns=["qid", "rank", "pid"]) \
        .sort_values(["qid", "rank"]).reset_index(drop=True)
    loop = SJ.knn_join(pts, qpdf, point_id="pid").toPandas() \
        .sort_values(["qid", "rank"]).reset_index(drop=True)
    batch = SJ.knn_join_batch(pts, spark.createDataFrame(qpdf),
                              point_id="pid").toPandas() \
        .sort_values(["qid", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        loop[["qid", "rank", "pid"]], exp, check_dtype=False)
    pd.testing.assert_frame_equal(
        batch[["qid", "rank", "pid"]], exp, check_dtype=False)


def test_knn_empty_region_expands(spark, calc):
    # a query at an extreme corner (few points nearby) must still return k
    q = pd.DataFrame({"qid": [0], "lon": [-1_799_000_000],
                      "lat": [-849_000_000], "k": [5]})
    got = SJ.knn_join(calc, q).toPandas()
    assert len(got) == 5


def test_raster_vector_assign(spark, calc, images_pdf):
    got = SJ.raster_vector_assign(calc).toPandas() \
        .sort_values(["qt_raster", "cell"]).reset_index(drop=True)
    qtp = K.calcqts_point(images_pdf.lon.values, images_pdf.lat.values, 18)
    exp = pd.DataFrame({
        "qt_raster": K.qt_round(qtp, 10),
        "cell": K.qt_round(qtp, 7),
    }).drop_duplicates().sort_values(["qt_raster", "cell"]) \
        .reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)
    # every raster tile maps to exactly one covering cell (nested grids)
    assert got.groupby("qt_raster").size().max() == 1


def test_raster_vector_hilbert_roundtrip(spark, calc):
    from osmquadtree_rust_bindings_spark import cells as C
    got = SJ.raster_vector_hilbert(calc).toPandas()
    # hilbert id decodes back to the morton cell's xy
    ix, iy = C.cell_to_xy(got.cell_hilbert.to_numpy(np.int64), 7)
    qx, qy, _ = K.qt_to_cell(K.qt_round(got.qt_raster.to_numpy(np.int64), 7))
    assert (ix == qx).all() and (iy == qy).all()


def test_hilbert_cells_roundtrip():
    from osmquadtree_rust_bindings_spark import cells as C
    rng = np.random.default_rng(0)
    x = rng.integers(0, 1 << 12, 1000)
    y = rng.integers(0, 1 << 12, 1000)
    d = C.hilbert_d(x, y, 12)
    x2, y2 = C.hilbert_xy(d, 12)
    assert (x2 == x).all() and (y2 == y).all()
    # adjacency: consecutive hilbert ids are grid neighbors
    seq = C.hilbert_xy(np.arange(4 ** 6), 6)
    dist = np.abs(np.diff(seq[0])) + np.abs(np.diff(seq[1]))
    assert (dist == 1).all()


def test_k_ring_covers_block():
    from osmquadtree_rust_bindings_spark import cells as C
    cell = C.cell_from_lonlat(np.array([0]), np.array([0]), 12)
    ring = C.k_ring(cell, 2, 12)
    ids = ring[ring >= 0]
    assert len(np.unique(ids)) == 25


# ---- hot-cell skew fixtures (SURVEY §7 risk 3; VERDICT r04 item 3) ----
# A dense city block at 100TB scale = 10^5+ queries stacked over ONE
# depth-8 cover cell: the cell_cov equi-join key is maximally skewed.
# These pin (a) join output == the brute-force oracle on exactly that shape,
# and (b) that AQE's skew-join split actually engages on the hot cell
# once the cover stream is too big to broadcast (forced here by conf so
# the mechanism is exercised at test scale; thresholds are the knobs a
# 100TB deployment would leave at their defaults of 256MB/64MB).

def _forced_shuffle_skew(spark):
    """Disable broadcast + shrink AQE skew thresholds so the test-scale
    hot cell takes the same code path a cluster-scale one would."""
    return with_conf(spark, {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    })


def _executed_plan(df) -> str:
    """Final adaptive plan — only meaningful AFTER collect() on df."""
    return df._jdf.queryExecution().executedPlan().toString()


def _hot_boxes(images_pdf, nb: int = 100_000) -> pd.DataFrame:
    """nb boxes all overlapping the depth-8 cell of one anchor point."""
    rng = np.random.default_rng(7)
    c = images_pdf.iloc[0]
    w = rng.integers(10_000, 2_500_000, nb)
    h = rng.integers(10_000, 2_500_000, nb)
    jx = rng.integers(-100_000, 100_000, nb)
    jy = rng.integers(-100_000, 100_000, nb)
    return pd.DataFrame({
        "qid": np.arange(nb),
        "minlon": int(c.lon) + jx - w, "minlat": int(c.lat) + jy - h,
        "maxlon": int(c.lon) + jx + w, "maxlat": int(c.lat) + jy + h,
    })


def test_bbox_join_batch_hot_cell_skew(spark, calc, images_pdf):
    boxes = _hot_boxes(images_pdf)
    # the stack really is one hot cell (>95% of cover rows on one key)
    cov = SJ._cover_stream(
        spark.createDataFrame(boxes), "qid", SJ.COVER_DEPTH)
    counts = cov.groupBy("cell_cov").count().toPandas()["count"]
    assert counts.max() / counts.sum() > 0.95

    exp = _bbox_oracle(images_pdf, boxes)
    assert len(exp) > 0
    with _forced_shuffle_skew(spark):
        batch = SJ.bbox_join_batch(
            calc, spark.createDataFrame(boxes))
        got = pd.DataFrame(
            batch.collect(), columns=["qid", "image_id"]) \
            .sort_values(["qid", "image_id"]).reset_index(drop=True)
        plan = _executed_plan(batch)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, "AQE skew split did not engage"
    assert "skewed" in plan  # AQEShuffleRead ... skewed


def test_pip_join_batch_hot_polygon_skew(spark, calc, images_pdf):
    # 2*10^4 small polygons stacked around one anchor point: the
    # candidate equi-join on cell_cov is hot on that point's cell
    rng = np.random.default_rng(11)
    c = images_pdf.iloc[0]
    rows = []
    for j in range(20_000):
        nv = int(rng.integers(4, 9))
        radius = float(rng.uniform(0.001, 0.05)) * 1e7
        cx = int(c.lon) + int(rng.integers(-500_000, 500_000))
        cy = int(c.lat) + int(rng.integers(-500_000, 500_000))
        ang = np.sort(rng.uniform(0, 2 * np.pi, nv))
        vx = np.round(cx + radius * np.cos(ang)).astype(np.int64)
        vy = np.round(cy + radius * np.sin(ang)).astype(np.int64)
        rows.append({
            "poly_id": f"hot{j:06d}",
            "verts_lon": vx.tolist(), "verts_lat": vy.tolist(),
            "minlon": int(vx.min()), "minlat": int(vy.min()),
            "maxlon": int(vx.max()), "maxlat": int(vy.max()),
        })
    polys = pd.DataFrame(rows)

    exp = _pip_oracle(images_pdf, polys)
    assert len(exp) > 0
    with _forced_shuffle_skew(spark):
        batch = SJ.pip_join_batch(
            calc, spark.createDataFrame(polys[
                ["poly_id", "verts_lon", "verts_lat",
                 "minlon", "minlat", "maxlon", "maxlat"]]))
        got = pd.DataFrame(
            batch.collect(), columns=["poly_id", "image_id"]) \
            .sort_values(["poly_id", "image_id"]).reset_index(drop=True)
        plan = _executed_plan(batch)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, "AQE skew split did not engage"
