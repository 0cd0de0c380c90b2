"""Semantic tests for bucketed-table materialization (operators/bucketed.py)."""

from __future__ import annotations

import shutil

import pandas as pd
import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture()
def frames(spark, tmp_path):
    rows = [(i, f"n{i}") for i in range(1, 41)]
    dim = spark.createDataFrame(pd.DataFrame(rows, columns=["k", "name"]))
    fact_rows = [(i % 40 + 1, float(i)) for i in range(200)]
    fact = spark.createDataFrame(
        pd.DataFrame(fact_rows, columns=["k", "v"])
    )
    return dim, fact


def _bucketize(spark, dim, fact, key_suffix):
    from tdei_extract_load_service_spark.operators.bucketed import (
        bucketed_table,
    )

    bd = bucketed_table(spark, dim, "tdim", ["k"], 4, key_suffix)
    bf = bucketed_table(spark, fact, "tfact", ["k"], 4, key_suffix)
    return bd, bf


def test_bucketed_join_matches_plain_join(spark, frames, request):
    dim, fact = frames
    bd, bf = _bucketize(spark, dim, fact, request.node.name)
    import pyspark.sql.functions as F

    def agg(d, f):
        return {
            (r["k"], r["name"]): (r["n"], r["s"])
            for r in d.join(f, d["k"] == f["k"])
            .groupBy(d["k"], "name")
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
            .collect()
        }

    assert agg(bd, bf) == agg(dim, fact)


def test_bucketed_smj_plan_has_no_hash_exchange(spark, frames, request):
    dim, fact = frames
    bd, bf = _bucketize(spark, dim, fact, request.node.name)
    import pyspark.sql.functions as F

    df = (
        bd.hint("merge")
        .join(bf, bd["k"] == bf["k"])
        .groupBy(bd["k"])
        .agg(F.sum("v").alias("s"))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan


def test_reregistration_from_existing_layout(spark, frames, request):
    # second call with the same content key must hit the catalog (or
    # re-register from disk) and return identical rows
    dim, fact = frames
    bd1, _ = _bucketize(spark, dim, fact, request.node.name)
    bd2, _ = _bucketize(spark, dim, fact, request.node.name)
    assert sorted(r["k"] for r in bd2.collect()) == sorted(
        r["k"] for r in bd1.collect()
    )


def test_join_bucketed_follows_rewritten_customer(spark, tmp_path):
    """Each bucketed side is keyed on its own input file: rewriting only
    customer.parquet must rebuild the customer layout, not serve the
    one built from the old file."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from tdei_extract_load_service_spark.catalog_entries.relational_ext import (
        q_join_bucketed,
    )

    for t in ("customer", "orders"):
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    before = q_join_bucketed(spark, str(tmp_path)).collect()
    cust = pq.read_table(tmp_path / "customer.parquet")
    even = pc.equal(pc.bit_wise_and(cust["c_custkey"], 1), 0)
    pq.write_table(cust.filter(even), tmp_path / "customer.parquet")
    after = q_join_bucketed(spark, str(tmp_path)).collect()
    assert after == [r for r in before if r.c_custkey % 2 == 0]
    assert len(after) < len(before)
