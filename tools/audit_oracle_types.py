"""Cross-engine OUTPUT-TYPE audit over every registered oracle.

The local mirror (tools/check_correctness.py) stringifies values before
comparing, so it is blind to type-level hazards that break the driver's
pandas/Arrow-based value hash — the round-1 failure mode was DuckDB
widening ``sum(BIGINT)`` to HUGEINT (int128), which pandas renders as
object/float while Spark's int64 stays integral.  This audit runs each
oracle on DuckDB, reads the *declared result types*, and checks them
against the Spark DataFrame schema using a strict allowlist of compatible
(spark, duckdb) type pairs.  Anything outside the allowlist — HUGEINT,
unsigned ints, DECIMAL-vs-double drift, interval/time oddities — is
flagged.

Usage: python tools/audit_oracle_types.py [sf_dir]
Exit code 0 iff no oracle is flagged.  ``type_hazards`` is the check for
one query; tests/test_oracles.py runs it in every query's oracle case,
so the invariant is enforced in CI.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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


def audit(sf_dir: str = "/root/testdata/sf0.001") -> list[str]:
    """Return a list of human-readable violations (empty == clean)."""
    from mit_6_5840_mapreduce_with_go_spark import registry
    from mit_6_5840_mapreduce_with_go_spark.session import get_spark
    from mit_6_5840_mapreduce_with_go_spark.sources import TABLE_NAMES

    registry.load_all()
    spark = get_spark("audit_oracle_types")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    problems: list[str] = []
    for name, sql in registry.ORACLES.items():
        try:
            rel = con.sql(sql)
        except Exception as exc:  # noqa: BLE001
            problems.append(f"{name}: oracle failed on DuckDB: {exc}")
            continue
        try:
            sdf = registry.QUERIES[name](spark, sf_dir)
        except Exception as exc:  # noqa: BLE001
            problems.append(f"{name}: spark query failed to plan: {exc}")
            continue
        problems += type_hazards(name, sdf, rel)
    return problems


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


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    problems = audit(sf_dir)
    for p in problems:
        print(f"TYPE  {p}")
    print(f"\n{len(problems)} type hazard(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
