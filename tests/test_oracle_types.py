"""Enforce the cross-engine output-type invariant over every oracle.

Round-1 lesson: the driver's value hash goes through pandas/Arrow, so a
DuckDB result type that widens past int64 (HUGEINT from ``sum(BIGINT)``
or ``sum(INTEGER)``) hash-mismatches even when the values are identical,
and the stringifying local mirror cannot see it.  This test runs the
declared-type audit over all registered oracles.
"""

from tools.audit_oracle_types import audit


def test_no_oracle_type_hazards():
    problems = audit("/root/testdata/sf0.001")
    assert problems == [], "\n".join(problems)
