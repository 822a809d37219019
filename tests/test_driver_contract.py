"""T3: replicate the driver's correctness gate — run every queries() entry
and compare row-count + sorted values against its DuckDB oracle at sf0.001.
"""

import duckdb
import numpy as np
import pandas as pd
import pytest
from conftest import with_conf

import __spark_entry__ as entrymod
from osmquadtree_rust_bindings_spark import driver_queries as DQ
from osmquadtree_rust_bindings_spark.operators import count as CNT

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object and len(pdf) and \
                isinstance(pdf[c].iloc[0], (bool, np.bool_)):
            pdf[c] = pdf[c].astype(bool)
        elif str(pdf[c].dtype).startswith(("int", "uint", "Int")):
            pdf[c] = pdf[c].astype(np.int64)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


def test_every_oracle_key_has_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    got = _normalize(QUERIES[name](spark, SF_DIR).toPandas())
    assert len(got) > 0, f"{name} returned no rows"
    if name not in ORACLES:
        pytest.skip(f"{name} is engine-only (rows-only check)")
    exp = _normalize(duck.sql(ORACLES[name]).df())
    assert list(got.columns) == list(exp.columns), \
        f"{name} columns {list(got.columns)} vs {list(exp.columns)}"
    assert len(got) == len(exp), f"{name} rows {len(got)} vs {len(exp)}"
    pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                  check_exact=True)


# ---- a4 split ceiling and x4 scratch path ----

def _a4_row(spark, sf_dir):
    return DQ.q_a4_num_blocks(spark, sf_dir).collect()[0].asDict()


def test_a4_parses_spark_byte_strings(spark):
    # a legal Spark byte string with a multi-letter unit
    with with_conf(spark, {"spark.sql.files.maxPartitionBytes": "128MB"}):
        assert all(_a4_row(spark, SF_DIR).values())


def test_a4_split_ceiling_multi_split_file(spark, tmp_path):
    # a multi-row-group file, split by bytes / defaultParallelism (a small
    # open cost makes that the binding term): more non-empty blocks than
    # ceil(bytes / maxPartitionBytes), still within Spark's real ceiling
    import pyarrow.parquet as pq

    pq.write_table(pq.read_table(f"{SF_DIR}/lineitem.parquet"),
                   tmp_path / "lineitem.parquet", row_group_size=500)
    with with_conf(spark, {"spark.sql.files.openCostInBytes": "16KB"}):
        li = spark.read.parquet(str(tmp_path / "lineitem.parquet"))
        assert CNT.num_blocks(li).collect()[0]["num_blocks"] > 1
        assert all(_a4_row(spark, str(tmp_path)).values())


def test_x4_reuses_one_scratch_path(spark, tmp_path, monkeypatch):
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    first = DQ.q_x4_prefix_range_count(spark, SF_DIR).toPandas()
    entries = sorted(tmp_path.iterdir())
    again = DQ.q_x4_prefix_range_count(spark, SF_DIR).toPandas()
    assert len(entries) == 1 and sorted(tmp_path.iterdir()) == entries
    pd.testing.assert_frame_equal(again, first)
