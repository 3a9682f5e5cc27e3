"""Mirror of the driver's t2 gate: every catalog key vs its DuckDB oracle.

Runs at sf0.001 by default; PARITY_SF_DIR bumps the scale.
"""

from __future__ import annotations

import pytest

from etl_asana_spark import catalog
from etl_asana_spark.testing import check_query

KEYS = sorted(catalog.queries())


@pytest.mark.parametrize("key", KEYS)
def test_parity(key, spark, duck, sf_dir):
    problems = check_query(spark, duck, key, sf_dir)
    assert not problems, f"{key}: " + "; ".join(problems)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"r_name", "n_name", "n_orders", "revenue"}


def test_every_query_has_callable_and_key_coverage():
    qs = catalog.queries()
    oracles = catalog.oracle_sql()
    assert set(oracles) == set(qs), "every key registers exactly one oracle"
    for key, fn in qs.items():
        assert callable(fn), key
