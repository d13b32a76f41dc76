"""Oracle net: every registered query that has a DuckDB oracle matches
it at the test scale factor, through the same compare as
``tools/check_correctness.py`` (the paper's golden-run check,
``test-mr.sh`` against ``mrsequential``, for every query).  Each case
also runs the declared-type audit of ``tools/audit_oracle_types.py``
on the same query: equal values can still hash differently in the
driver when DuckDB widens a type."""

from __future__ import annotations

import pytest

from audit_oracle_types import type_hazards
from conftest import assert_df_matches_oracle
from mit_6_5840_mapreduce_with_go_spark.registry import ORACLES, QUERIES, load_all

load_all()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    df = QUERIES[name](spark, sf_dir)
    assert type_hazards(name, df, duck.sql(ORACLES[name])) == []
    assert_df_matches_oracle(df, duck, ORACLES[name])
