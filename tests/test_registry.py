"""Registry invariants."""

from mit_6_5840_mapreduce_with_go_spark import registry

registry.load_all()


def test_no_oracle_queries_have_oracle_checked_twins():
    """Rows-only entries are acceptable ONLY with an oracle-checked
    cross-engine twin registered."""
    rows_only = [n for n in registry.QUERIES if n not in registry.ORACLES]
    for n in rows_only:
        twin = f"{n.rsplit('_', 1)[0]}_xengine"
        assert any(
            t in registry.ORACLES for t in (twin, n + "_xengine")
        ), f"{n} has no oracle and no *_xengine twin"
