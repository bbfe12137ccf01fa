"""Every registered query must hash-match its DuckDB oracle (the driver's
t2 gate, replicated locally at sf0.001 for speed)."""

from __future__ import annotations

import pytest

from petfinder_database_distributor_spark.registry import load_all
from tests.conftest import SF_SMALL
from tests.oracle_compare import assert_parity, run_oracle

SPECS = load_all()
NAMES = sorted(SPECS)


@pytest.mark.parametrize("name", NAMES)
def test_oracle_parity(spark, name):
    spec = SPECS[name]
    spark_df = spec.fn(spark, SF_SMALL)
    oracle_pdf = run_oracle(spec.oracle, SF_SMALL)
    assert_parity(spark_df, oracle_pdf, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(e.oracle_sql()) == set(e.queries())


def test_every_query_has_oracle_and_doc():
    """Every registered query carries a DuckDB SELECT oracle and a
    non-empty doc (the registry's only registration path requires both)."""
    assert SPECS
    for name, spec in SPECS.items():
        assert callable(spec.fn), name
        assert isinstance(spec.oracle, str) and "SELECT" in spec.oracle.upper(), name
        assert spec.doc.strip(), f"{name}: doc required"


def test_registry_inventory_lists_every_query():
    """REGISTRY.md's query column is exactly the registry, in registry
    order (regenerate it with ``python tools/registry_inventory.py``)."""
    import os
    import re

    from tests.conftest import REPO_ROOT

    with open(os.path.join(REPO_ROOT, "REGISTRY.md")) as fh:
        listed = re.findall(r"^\| `([^`]+)` \|", fh.read(), re.M)
    assert listed == list(SPECS)


@pytest.mark.sf001
@pytest.mark.parametrize("name", NAMES)
def test_oracle_parity_driver_scale(spark, name):
    """The same hash parity at sf0.01 (select with -m sf001)."""
    from tests.conftest import SF_ORACLE

    spec = SPECS[name]
    assert_parity(spec.fn(spark, SF_ORACLE), run_oracle(spec.oracle, SF_ORACLE), name)
