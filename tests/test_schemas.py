"""The declared table schemas (kgx.ops.TABLES) against the schema Spark
infers from every table source in the repo, and the job-free load they buy."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import _parse_datatype_string

from test_graph import SF  # the sf0.001 driver tables test_graph reads

from kgx.ops import TABLES, load

TESTDATA = [SF, os.path.join(os.path.dirname(SF), "sf0.01")]


@pytest.fixture(scope="module")
def gen_tables(tmp_path_factory):
    """A small perfbench.gen.write_tables output (the benchmark's tables)."""
    from perfbench.gen import write_tables

    d = str(tmp_path_factory.mktemp("gen_tables"))
    write_tables(d, 0.001, 7)
    return d


def _check(spark, sf_dir, name):
    inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
    assert inferred == _parse_datatype_string(TABLES[name]), (sf_dir, name)


@pytest.mark.parametrize("sf_dir", TESTDATA)
@pytest.mark.parametrize("name", sorted(TABLES))
def test_declared_schema_matches_testdata(spark, sf_dir, name):
    _check(spark, sf_dir, name)


def test_declared_schema_matches_generated_tables(spark, gen_tables):
    written = [n for n in sorted(TABLES) if os.path.exists(f"{gen_tables}/{n}.parquet")]
    assert "documents" in written and "embeddings" in written
    for name in written:
        _check(spark, gen_tables, name)


def test_load_submits_no_job(spark):
    """A declared-schema read plans without touching the data: no schema
    inference job (one per table read before the declaration)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    lo = dag.nextJobId()
    frames = [load(spark, TESTDATA[0], name) for name in sorted(TABLES)]
    assert dag.nextJobId() - lo == 0
    assert [f.schema for f in frames] == [
        _parse_datatype_string(TABLES[n]) for n in sorted(TABLES)
    ]
