"""Poly file parser (F2/F4/F5 surface) + X13/X14 formatting codecs."""

import numpy as np
import pandas as pd
import pytest

from osmquadtree_rust_bindings_spark.functions import format as FMT
from osmquadtree_rust_bindings_spark.sources import poly as P

SAMPLE = """test_area
area_1
   -10.0  -5.0
   10.0   -5.0
   10.0   5.0
   -10.0  5.0
   -10.0  -5.0
END
!hole_1
   -2.0  -2.0
   2.0   -2.0
   2.0   2.0
   -2.0  2.0
END
END
"""


def test_parse_poly_rings_and_bounds():
    pdf = P.parse_poly(SAMPLE)
    assert list(pdf.poly_id) == ["test_area/area_1", "test_area/hole_1"]
    assert list(pdf.is_hole) == [False, True]
    # closing vertex dropped on the explicitly-closed ring
    assert len(pdf.verts_lon.iloc[0]) == 4
    assert len(pdf.verts_lon.iloc[1]) == 4
    assert P.bounds(pdf) == (-100_000_000, -50_000_000,
                             100_000_000, 50_000_000)
    assert P.check_box(pdf, 0, 0, 1, 1)
    assert not P.check_box(pdf, 200_000_000, 0, 300_000_000, 10)


def test_parse_poly_errors():
    with pytest.raises(ValueError):
        P.parse_poly("name\nsec\n  1.0 2.0\n  3.0 4.0\nEND\nEND")  # <3 verts
    with pytest.raises(ValueError):
        P.parse_poly("name\nsec\n  1.0 2.0 3.0\nEND\nEND")  # bad vertex


def test_poly_feeds_pip_join(spark):
    from osmquadtree_rust_bindings_spark.operators import spatial_join as SJ

    pdf = P.parse_poly(SAMPLE)
    outer = pdf[~pdf.is_hole].reset_index(drop=True)
    pts = pd.DataFrame({
        "rowkey": [1, 2, 3],
        "lon": [0, 50_000_000, 150_000_000],
        "lat": [0, 0, 0],
    })
    from osmquadtree_rust_bindings_spark.functions import quadtree as Q
    pts_df = Q.with_point_qt(spark.createDataFrame(pts), "lon", "lat", 18,
                             out="qt_point")
    got = SJ.pip_join_batch(pts_df, spark.createDataFrame(outer),
                             point_id="rowkey").toPandas()
    assert sorted(got.rowkey) == [1, 2]  # 150e6 lon is outside


def test_bytes_str_reference_exact():
    assert FMT.bytes_str(-1) == "??"
    assert FMT.bytes_str(100) == "%6db" % 100
    assert FMT.bytes_str(2048) == "%6.1fkb" % 2.0
    assert FMT.bytes_str(3 * 1024 * 1024) == "%6.1fMb" % 3.0
    assert FMT.bytes_str(5 * 1024 ** 3) == "%6.1fGb" % 5.0


def test_min_sec_str_reference_exact():
    assert FMT.min_sec_str(5.25) == "     %4.1fs" % 5.25
    assert FMT.min_sec_str(125.0) == "%4dm%4.1fs" % (2, 5.0)


def test_changetype_codecs(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"ct": ["n", "d", "r", "m", "u", "c", ""]}))
    got = df.select(FMT.changetype_decode(df.ct).alias("full")).toPandas()
    assert list(got.full) == ["normal", "delete", "remove", "modify",
                              "unchanged", "create", "normal"]
    df2 = spark.createDataFrame(pd.DataFrame({"et": ["n", "w", "r"]}))
    got2 = df2.select(FMT.elementtype_decode(df2.et).alias("full")).toPandas()
    assert list(got2.full) == ["node", "way", "relation"]
    back = df2.select(FMT.elementtype_encode(
        FMT.elementtype_decode(df2.et)).alias("b")).toPandas()
    assert list(back.b) == ["n", "w", "r"]


def test_changetype_decode_case_and_unknown(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"ct": ["N", "Delete", "MODIFY", "bogus", "x"]}))
    got = df.select(FMT.changetype_decode(df.ct).alias("full")).toPandas()
    assert list(got.full) == ["normal", "delete", "modify", None, None]
    df2 = spark.createDataFrame(pd.DataFrame({"et": ["Node", "W", "zzz"]}))
    got2 = df2.select(FMT.elementtype_decode(df2.et).alias("full")).toPandas()
    assert list(got2.full) == ["node", "way", None]
    got3 = df2.select(FMT.elementtype_encode(
        FMT.elementtype_decode(df2.et)).alias("b")).toPandas()
    assert list(got3.b) == ["n", "w", None]
