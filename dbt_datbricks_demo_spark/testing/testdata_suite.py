"""Data-quality suite for the driver's testdata tables — the same
generic-test framework that encodes the reference's 54-test suite
(testing/suite.py), applied to a second, unrelated dataset. Declares
key uniqueness, non-nullness, enum domains, referential integrity and
ranges over the TPC-H-ish star schema + documents/embeddings."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_datbricks_demo_spark.testing.generic import (
    column_test,
    relationships,
    value_in_range,
)
from dbt_datbricks_demo_spark.testing.runner import TestSpec


def testdata_suite() -> list[TestSpec]:
    specs: list[TestSpec] = []

    for model, key in [
        ("customer", "c_custkey"), ("orders", "o_orderkey"),
        ("part", "p_partkey"), ("supplier", "s_suppkey"),
        ("nation", "n_nationkey"), ("region", "r_regionkey"),
        ("events", "event_id"), ("documents", "doc_id"),
        ("embeddings", "vec_id"),
    ]:
        specs.append(column_test(model, key, "unique"))
        specs.append(column_test(model, key, "not_null"))

    for model, column, values in [
        ("lineitem", "l_returnflag", ["A", "N", "R"]),
        ("events", "event_type", ["click", "error", "purchase", "signup", "view"]),
        ("documents", "lang", ["en", "de", "es", "fr", "zh"]),
    ]:
        specs.append(column_test(model, column, "accepted_values", values))
    specs.append(
        TestSpec(
            "relationships_orders_custkey", "orders",
            lambda r: relationships(r["orders"], "o_custkey", r["customer"], "c_custkey"),
        )
    )
    specs.append(
        TestSpec(
            "relationships_lineitem_orderkey", "lineitem",
            lambda r: relationships(
                r["lineitem"], "l_orderkey", r["orders"], "o_orderkey"
            ),
        )
    )
    specs.append(
        TestSpec(
            "relationships_lineitem_partkey", "lineitem",
            lambda r: relationships(r["lineitem"], "l_partkey", r["part"], "p_partkey"),
        )
    )
    specs.append(
        TestSpec(
            "value_in_range_lineitem_discount", "lineitem",
            lambda r: value_in_range(r["lineitem"], "l_discount", 0.0, 0.5),
        )
    )
    specs.append(
        TestSpec(
            "embeddings_dim_64", "embeddings",
            lambda r: r["embeddings"].filter(F.size("embedding") != 64),
        )
    )
    return specs
