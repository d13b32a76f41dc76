"""The batch loop every decoder query shares.

A decoder query synthesises one payload per document in one
Arrow-batched ``mapInPandas`` stage and decodes it in the next.  As in
the MapReduce contract, where the user writes ``Map`` and the engine
owns the loop around it, a query here writes only the per-document
functions — ``make(doc_id) -> payload`` and ``stats(payload) -> row
dict`` — and these two helpers own the batch loop, the ``doc_id``
carry-through and the schema prefix.

The inner functions are named ``encode_batches`` and ``decode_batches``
on purpose: Spark prints the Python function name in the plan
(``MapInPandas encode_batches(doc_id#1L)#2, ...``), so plan
fingerprints do not depend on which query built the stage.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame


def synth_payloads(
    docs: DataFrame, make: Callable[[int], Any], col: str = "payload binary"
) -> DataFrame:
    """``doc_id`` plus ``make(doc_id)`` for each row of ``docs``.

    ``col`` is the DDL of the payload column; when it lists several
    columns, ``make`` returns one value per column."""
    names = [c.split()[0] for c in col.split(",")]

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [make(int(d)) for d in pdf["doc_id"]]
            if len(names) == 1:
                cols = [payloads]
            else:
                cols = [[p[i] for p in payloads] for i in range(len(names))]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, **dict(zip(names, cols))}
            )

    return docs.mapInPandas(encode_batches, schema="doc_id long, " + col)


def decode_payloads(
    mm: DataFrame,
    stats: Callable[..., dict[str, Any]],
    schema: str,
    col: str = "payload",
) -> DataFrame:
    """One ``{"doc_id": ..., **stats(payload)}`` row per row of ``mm``.

    ``schema`` is the DDL of the columns ``stats`` returns.  ``col``
    names the columns of ``mm`` passed to ``stats``, comma-separated
    and in order (``doc_id`` may be one of them)."""
    cols = [c.strip() for c in col.split(",")]

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [
                    {"doc_id": int(d), **stats(*ps)}
                    for d, *ps in zip(pdf["doc_id"], *(pdf[c] for c in cols))
                ]
            )

    return mm.mapInPandas(decode_batches, "doc_id long, " + schema)
