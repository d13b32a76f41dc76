"""Cross-engine OUTPUT-TYPE check of a query against its oracle.

The local mirror (tools/check_correctness.py) stringifies values before
comparing, so it is blind to type-level hazards that break the driver's
pandas/Arrow-based value hash — the round-1 failure mode was DuckDB
widening ``sum(BIGINT)`` to HUGEINT (int128), which pandas renders as
object/float while Spark's int64 stays integral.  This check reads the
*declared result types* of the oracle's DuckDB relation and checks them
against the Spark DataFrame schema using a strict allowlist of compatible
(spark, duckdb) type pairs.  Anything outside the allowlist — HUGEINT,
unsigned ints, DECIMAL-vs-double drift, interval/time oddities — is
flagged.

``type_hazards`` is the check for one query: tests/test_oracles.py runs
it in every query's oracle case, and tools/check_correctness.py in every
query it sweeps.
"""

from __future__ import annotations

# Hash-hazard DuckDB types: never acceptable in an oracle output.
FORBIDDEN_DUCK = {"HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER", "USMALLINT", "UTINYINT"}

# spark simpleString category -> acceptable DuckDB type names.
# Integer widths may differ (values hash equal); float must stay float on
# both sides; DECIMAL must stay DECIMAL on both sides (pandas renders
# decimal.Decimal differently from float64).
_ALLOW: dict[str, set[str]] = {
    "int": {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"},
    "bigint": {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"},
    "smallint": {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"},
    "tinyint": {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"},
    "double": {"DOUBLE", "FLOAT"},
    "float": {"DOUBLE", "FLOAT"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "date": {"DATE"},
    "timestamp": {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE"},
    "timestamp_ntz": {"TIMESTAMP"},
}


def _category(spark_type: str, duck_type: str) -> str | None:
    """Return a failure reason, or None if the pair is acceptable."""
    duck = duck_type.upper()
    if duck in FORBIDDEN_DUCK:
        return f"forbidden DuckDB type {duck}"
    s = spark_type.lower()
    if s.startswith("decimal"):
        if duck.startswith("DECIMAL"):
            return None
        return f"spark {s} vs duckdb {duck} (decimal must match both sides)"
    if s.startswith("array") or s.startswith("struct") or s.startswith("map"):
        # Nested outputs are compared element-stringified; require nested
        # on the duck side too.
        if duck.endswith("[]") or duck.startswith("STRUCT") or duck.startswith("MAP"):
            return None
        return f"spark {s} vs duckdb {duck}"
    allowed = _ALLOW.get(s)
    if allowed is None:
        return f"unknown spark type {s} vs duckdb {duck} (extend allowlist)"
    if duck not in allowed:
        return f"spark {s} vs duckdb {duck}"
    return None


def type_hazards(name: str, sdf, rel) -> list[str]:
    """The violations of one query: its Spark DataFrame's schema against
    the declared result types of its oracle's DuckDB relation."""
    duck_types = dict(zip(rel.columns, (str(t) for t in rel.types)))
    spark_types = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    if sorted(duck_types) != sorted(spark_types):
        return [
            f"{name}: column-name mismatch spark={sorted(spark_types)} "
            f"duck={sorted(duck_types)}"
        ]
    problems = []
    for col, stype in spark_types.items():
        reason = _category(stype, duck_types[col])
        if reason is not None:
            problems.append(f"{name}.{col}: {reason}")
    return problems

