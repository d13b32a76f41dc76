"""operators/payloads.py: the shared payload batch loop.

Helper behaviour on a multi-partition frame against a plain Python
loop, plus an AST guard that keeps the copied per-query batch loops
from growing back."""

from __future__ import annotations

import ast
import pathlib

from mit_6_5840_mapreduce_with_go_spark.operators.payloads import (
    decode_payloads,
    synth_payloads,
)

OPERATORS = pathlib.Path(__file__).resolve().parents[1] / (
    "mit_6_5840_mapreduce_with_go_spark/operators"
)


def _docs(spark, n=37):
    return spark.range(0, n, 1, numPartitions=4).withColumnRenamed("id", "doc_id")


def test_helpers_equal_a_python_loop(spark):
    def make(d):
        return bytes([d % 256]) * (1 + d % 5)

    def stats(p):
        return {"n": len(p), "first": p[0], "tag": f"t{len(p)}"}

    mm = synth_payloads(_docs(spark), make)
    assert mm.rdd.getNumPartitions() == 4
    out = decode_payloads(mm, stats, "n long, first long, tag string")
    assert out.columns == ["doc_id", "n", "first", "tag"]
    got = sorted(tuple(r) for r in out.collect())
    want = [(d, *stats(make(d)).values()) for d in range(37)]
    assert got == want


def test_string_payload_column(spark):
    mm = synth_payloads(
        _docs(spark), lambda d: f"<a href='/{d}'>x</a>" * (d % 3), col="html string"
    )
    assert mm.schema.simpleString() == "struct<doc_id:bigint,html:string>"
    out = decode_payloads(
        mm, lambda h: {"n_links": h.count("<a ")}, "n_links long", col="html"
    )
    assert sorted(tuple(r) for r in out.collect()) == [(d, d % 3) for d in range(37)]


def test_several_payload_columns_and_doc_id(spark):
    mm = synth_payloads(
        _docs(spark), lambda d: (bytes([d]), bytes([d, d])), col="a binary, b binary"
    )
    out = decode_payloads(
        mm,
        lambda d, a, b: {"s": int(d) + len(a) + len(b)},
        "s long",
        col="doc_id, a, b",
    )
    assert sorted(tuple(r) for r in out.collect()) == [(d, d + 3) for d in range(37)]


def test_plan_names_the_shared_stages(spark):
    mm = synth_payloads(_docs(spark), lambda d: b"x" * d)
    out = decode_payloads(mm, lambda p: {"n": len(p)}, "n long")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas encode_batches(" in plan
    assert "MapInPandas decode_batches(" in plan


# --- guard: no per-query copies of the batch loop -------------------------


def _is_doc_id_column(node) -> bool:
    return (
        isinstance(node, ast.Subscript)
        and isinstance(node.slice, ast.Constant)
        and node.slice.value == "doc_id"
    )


def _copied_loop(fn: ast.FunctionDef) -> bool:
    """A nested ``decode_batches`` that rebuilds the helper's loop: a
    ``doc_id``-first row dict per ``zip(pdf["doc_id"], ...)`` item, or a
    decoded frame with ``doc_id`` inserted in front."""
    for node in ast.walk(fn):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "insert"
            and len(node.args) >= 2
            and isinstance(node.args[1], ast.Constant)
            and node.args[1].value == "doc_id"
        ):
            return True
        if (
            isinstance(node, ast.For)
            and isinstance(node.iter, ast.Call)
            and getattr(node.iter.func, "id", None) == "zip"
            and node.iter.args
            and _is_doc_id_column(node.iter.args[0])
        ):
            for sub in ast.walk(node):
                if (
                    isinstance(sub, ast.Dict)
                    and sub.keys
                    and isinstance(sub.keys[0], ast.Constant)
                    and sub.keys[0].value == "doc_id"
                ):
                    return True
    return False


def _offenders(source: str, name: str) -> list[str]:
    out = []
    for top in ast.parse(source).body:
        if not isinstance(top, ast.FunctionDef):
            continue
        for node in ast.walk(top):
            if node is top or not isinstance(node, ast.FunctionDef):
                continue
            if node.name == "encode_batches" or (
                node.name == "decode_batches" and _copied_loop(node)
            ):
                out.append(f"{name}:{node.lineno} {top.name}.{node.name}")
    return out


_OLD_SITE = '''
def q(docs):
    def encode_batches(batches):
        for pdf in batches:
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values,
                                "payload": [make(int(d)) for d in pdf["doc_id"]]})

    mm = docs.mapInPandas(encode_batches, schema="doc_id long, payload binary")

    def decode_batches(batches):
        for pdf in batches:
            rows = []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                rows.append({"doc_id": int(did), "n": len(p)})
            yield pd.DataFrame(rows)

    return mm.mapInPandas(decode_batches, "doc_id long, n long")


def r(mm):
    def decode_batches(batches):
        for pdf in batches:
            out = pd.DataFrame([decode(p) for p in pdf["payload"]])
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return mm.mapInPandas(decode_batches, "doc_id long, n long")
'''


def test_guard_flags_the_copied_shapes():
    found = _offenders(_OLD_SITE, "sample")
    assert [f.split()[1] for f in found] == [
        "q.encode_batches",
        "q.decode_batches",
        "r.decode_batches",
    ]


def test_no_operator_copies_the_payload_loop():
    offenders = []
    for path in sorted(OPERATORS.glob("*.py")):
        if path.name != "payloads.py":
            offenders += _offenders(path.read_text(encoding="utf-8"), path.name)
    assert offenders == [], "use operators/payloads.py instead: " + ", ".join(offenders)
