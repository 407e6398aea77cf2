"""Operator-coverage library for the driver contract (__spark_entry__.py).

Each module exposes ``QUERIES: dict[name, (fn, oracle_sql | None)]`` where
``fn(spark, sf_dir) -> DataFrame`` is the Spark-first implementation and
``oracle_sql`` is the equivalent ANSI SQL DuckDB runs on the same parquet
tables. Names/aliases match exactly on both sides (the driver hashes values
after sorting columns by name).

The ten input tables have one declared Spark schema each (``TABLES``), and
``load`` reads every table with it. Parquet schema inference submits a Spark
job of its own ("parquet at ...") for every read, one-file tables included;
at this engine's small scales that job is a fixed ~0.1 s per table per
query, while a declared read submits none. The declared types are the ones
Spark infers from the tables' parquet: ``int`` for int32 keys, ``bigint``
for int64 ids, ``timestamp_ntz`` for the timezone-less timestamps, every
field nullable (tests/test_schemas.py checks the declaration against the
inferred schema of each table source in the repo).
"""

from __future__ import annotations

TABLES = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz"
    ),
    "events": (
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
        "value double, props string"
    ),
    "documents": (
        "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ),
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


def load(spark, sf_dir: str, name: str):
    return spark.read.schema(TABLES[name]).parquet(f"{sf_dir}/{name}.parquet")
