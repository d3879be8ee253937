"""Run every catalog query with an oracle against DuckDB (the driver's t2
protocol, locally at sf0.01 by default). One parametrized test per query."""

from __future__ import annotations

import pytest

from irio_mapreduce_spark import queries as catalog
from tests.conftest import (
    SF_DIR,
    compare_with_oracle,
    get_query_frame,
    record_plan,
)

_QUERIES = catalog.all_queries()
_ORACLES = catalog.all_oracles()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_query_matches_oracle(name, spark, duck):
    # r13: reuse the frame the conventions sweep already constructed
    # (streaming entries drain during construction — building twice cost
    # ~6-7 min of suite wall-clock); falls back to constructing here.
    df = get_query_frame(name, spark)
    # by-product for the full-catalog plan sweep (tests/test_plans.py):
    # the entry is built here anyway, so its plan is captured for free
    record_plan(name, df)
    compare_with_oracle(df, duck, _ORACLES[name], name=name)


def test_every_query_has_an_oracle():
    """Since round 4 every catalog entry carries a DuckDB oracle — the
    strongest driver check available. A parametrized rows-only smoke used
    to cover oracle-less entries; with the set empty it auto-skipped
    (the full suite's lone 'skipped'), so this asserts the invariant
    directly instead. If a genuinely non-SQL-expressible entry ever
    lands, restore the rows-only smoke for it alongside this allowlist."""
    assert set(_QUERIES) == set(_ORACLES), (
        f"entries without an oracle: {sorted(set(_QUERIES) - set(_ORACLES))}"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
