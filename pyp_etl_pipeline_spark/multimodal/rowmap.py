"""The one per-row Python boundary of the media operators.

Every media operator is a function of one row's ``(media_id, payload)``
that yields zero or more output rows. ``row_map`` owns everything around
that function: the Arrow-batched ``mapInPandas`` loop (map-only,
partition-preserving), building each output frame in schema column
order, exact integer columns, and the ``permissive`` per-row quarantine.
``synth_media`` is the matching source side: it turns a frame of ids
into a ``(media_id, payload)`` frame with an encoder.

Worker functions import the package by plain ``import``: the session
ships it to the Python workers (``session.ship_package``).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import IntegralType, StringType, StructType


def row_map(
    df: DataFrame,
    fn: Callable[[int, bytes | None], Iterable[dict]],
    schema: str,
    permissive: bool = False,
) -> DataFrame:
    """Apply ``fn(media_id, payload)`` to every row of ``df`` and emit the
    row dicts it returns under the DDL ``schema``.

    Output columns that ``df`` also has (``media_id``, and e.g. ``kind``)
    are carried from the input row onto every row ``fn`` returns; ``fn``
    fills the rest, and a key it leaves out is NULL. Integer columns stay
    exact Python ints on the way to Arrow (nullable ``Int64``, never a
    float64 round-trip).

    ``permissive=True`` is the corpus-scale mode: a row whose ``fn``
    raises yields one row of NULL fields plus an ``error`` column
    (``"<ExceptionType>: <message>"``) instead of failing the stage; in
    strict mode the exception fails the stage. Operators that drop or
    null malformed rows by contract catch their own narrow exceptions
    inside ``fn``."""
    out = StructType.fromDDL(schema)
    if permissive:
        out = out.add("error", StringType())
    names = out.fieldNames()
    ints = {f.name for f in out.fields if isinstance(f.dataType, IntegralType)}
    carry = [n for n in names if n in df.columns]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for mid, payload, *kept in zip(pdf["media_id"], pdf["payload"], *(pdf[c] for c in carry)):
                base = dict(zip(carry, kept))
                try:
                    rows.extend([{**base, **r} for r in fn(mid, payload)])
                except Exception as exc:  # noqa: BLE001 — per-row quarantine
                    if not permissive:
                        raise
                    rows.append({**base, "error": f"{type(exc).__name__}: {exc}"})
            cols = {n: [r.get(n) for r in rows] for n in names}
            yield pd.DataFrame(
                {n: pd.array(v, dtype="Int64") if n in ints else v for n, v in cols.items()},
                columns=names,
            )

    return df.mapInPandas(op, out)


def synth_media(df: DataFrame, encode: Callable[..., bytes | None]) -> DataFrame:
    """``(doc_id, *extra)`` -> ``(media_id long, payload binary)``: each row's
    payload is ``encode(doc_id, *extra)`` with ``doc_id`` as a Python int
    (a ``None`` payload is NULL). Test-data synthesis for the media
    queries, Arrow-batched and map-only."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [encode(int(i), *rest) for i, *rest in zip(*(pdf[c] for c in pdf.columns))]
            yield pd.DataFrame({"media_id": pdf.iloc[:, 0], "payload": payloads})

    return df.mapInPandas(op, "media_id long, payload binary")
