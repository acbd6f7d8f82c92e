"""Driver-built frames: ``sources.local.local_frame`` and its heaviest user.

``local_frame`` must be a drop-in for ``createDataFrame(list, ddl)`` — same
rows, same schema, for every DDL type the package hands it — while planning
a ``LocalTableScan`` instead of a pickled ``Scan ExistingRDD``.  ``mmr_select``
builds its answer from one pool collect and returns it through the helper.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from remote_shuffle_spark.plans import explain
from remote_shuffle_spark.sources.local import local_frame
from remote_shuffle_spark.sources.tables import load_table
from tests.conftest import jobs_in

ALL_TYPES = "i int, l long, b bigint, f boolean, s string, v array<double>"
ROWS = [
    (1, 2, -3, True, "a", [1.0, 2.5]),
    (None, None, None, None, None, None),
    (-(2**31), 2**62, 0, False, "é", []),
    (7, 0, 2**40, None, "", [None, -0.5]),
]


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_matches_create_dataframe(spark, rows):
    got = local_frame(spark, rows, ALL_TYPES)
    want = spark.createDataFrame(rows, ALL_TYPES)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_accepts_rows_and_struct_types(spark):
    keys = spark.range(3).selectExpr("id AS user_id").collect()
    want = spark.createDataFrame(keys, "user_id long")
    got = local_frame(spark, keys, want.schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_local_frame_plans_a_local_table_scan(spark):
    for rows in (ROWS, []):
        plan = explain.physical_plan(local_frame(spark, rows, ALL_TYPES))
        assert "LocalTableScan" in plan and "Scan ExistingRDD" not in plan, plan


def test_local_frame_int_overflow_raises(spark):
    with pytest.raises(Exception, match="not in range"):
        local_frame(spark, [(2**31,)], "i int").collect()


def test_mmr_select_answer_is_a_local_table_scan(spark, sf_smoke):
    import __spark_entry__ as entrymod

    plan = explain.physical_plan(entrymod.queries()["ext_mmr_select"](spark, sf_smoke))
    assert "LocalTableScan" in plan and "Scan ExistingRDD" not in plan, plan


def test_mmr_select_builds_with_at_most_two_jobs(spark, sf_smoke):
    """One take of the query vector and one pool collect; the pool's
    similarities and the greedy loop are driver math over the collected
    rows (no checkpoint, no pool self-join, no second pool collect)."""
    from remote_shuffle_spark.operators.similarity import mmr_select

    emb = load_table(spark, sf_smoke, "embeddings")
    jobs = jobs_in(
        spark,
        lambda: mmr_select(
            emb.filter(F.col("vec_id") != 0),
            "vec_id",
            "embedding",
            emb.filter(F.col("vec_id") == 0),
            k=4,
            pool=12,
        ),
    )
    assert 1 <= len(jobs) <= 2, jobs


def test_mmr_select_with_no_query_row_is_empty(spark):
    from remote_shuffle_spark.operators.similarity import mmr_select

    df = local_frame(spark, [(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
    out = mmr_select(df, "vec_id", "embedding", df.filter("vec_id < 0"), k=2, pool=3)
    assert out.collect() == []
    assert out.schema.simpleString() == (
        "struct<rank:int,vec_id:bigint,rel:bigint,mmr_score:bigint>"
    )
