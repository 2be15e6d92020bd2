"""Value checks for retired catalog entries.

Each entry in ``catalog.RETIRED_SUPERSET`` runs inside a named live
superset entry, so it is left out of ``queries()``; most are strict
subsets, and the sibling configurations are stated in the catalog's
comments.  Retiring an entry must not weaken verification, so this
module runs the same comparison ``tools/check_oracle.py`` makes
(Spark result against the DuckDB oracle: row count, column names,
order-insensitive full value equality) for every retiree at sf0.001
on every pytest run.

COVERAGE.md carries the retiree -> superset map.
"""

from __future__ import annotations

import duckdb
import pytest

from mapreduceimpl_spark import catalog
from mapreduceimpl_spark.sources import TABLES
from tools.check_oracle import compare

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def test_every_retired_entry_names_a_live_superset():
    """The retirement contract: each retiree maps to a registered
    SPECS entry whose lineage composes the retiree's stages, and the
    retiree itself left SPECS, so it is not listed twice."""
    for name, superset in catalog.RETIRED_SUPERSET.items():
        assert superset in catalog.SPECS, (name, superset)
        assert name not in catalog.SPECS, name
        assert name in catalog.RETIRED_SPECS, name
        assert catalog.RETIRED_SPECS[name].oracle is not None, (
            f"{name}: only oracle-backed entries may retire into this "
            "harness — rows-only ops stay in SPECS"
        )


@pytest.mark.parametrize("name", sorted(catalog.RETIRED_SUPERSET))
def test_retired_entry_matches_oracle(name, spark, duck):
    """Driver-equivalent Spark-vs-DuckDB value check at sf0.001."""
    spec = catalog.RETIRED_SPECS[name]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sdf = spec.fn(spark, SF_DIR).toPandas()
    odf = duck.execute(spec.oracle).fetchdf()
    problems = compare(name, sdf, odf)
    assert not problems, f"{name}: {problems}"
    assert len(sdf) > 0, f"{name}: empty result proves nothing"
