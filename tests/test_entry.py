"""Driver-contract smoke: entry() runs, queries()/oracle_sql() are consistent."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


def test_oracle_keys_subset_of_queries():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 30
    # q29 is the only deliberate rows-only query (HLL estimates differ between
    # engines by design); t07/t08/s03 gained exact oracles in round 2 via
    # recursive-CTE closure / engine-portable hashing
    assert set(qs) - set(oracles) == {"q29_approx_distinct"}


def test_entry_runs_and_has_stable_schema(spark):
    df = entry_mod.entry(spark)
    assert df.columns == ["doc_id", "cluster_key", "cluster_size", "quality"]
    rows = df.collect()
    assert len(rows) > 0


@pytest.mark.parametrize("name", ["q01_pricing_summary", "t03_lang_id", "s01_cosine_topk"])
def test_spot_queries_return_rows(spark, name):
    fn = entry_mod.queries()[name]
    assert fn(spark, SF).count() > 0


def test_entry_point_runs_outside_the_repository(tmp_path):
    """get_spark puts kgx's parent directory on the Python workers'
    PYTHONPATH, so an entry point runs from any working directory with no
    PYTHONPATH set: t07's signature pass imports kgx on a worker."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "import __spark_entry__ as entry\n"
        "from kgx.session import get_spark\n"
        "spark = get_spark('local[2]')\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        f"print(entry.queries()['t07_minhash_clusters'](spark, {SF!r}).count())\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["KGX_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert int(out.stdout.split()[-1]) > 0
