"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference has no streaming, but the brief's scale surface calls for
custom stateful operators. This one maintains a per-user running
aggregate with bounded state: cumulative event count / value sum and a
high-water mark, emitting one updated row per user per micro-batch.
State is explicit (GroupState with timeout), so memory is bounded by
live users, not event history — the pattern any custom sessionizer /
anomaly detector at 100 TB/day builds on.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("max_value", DoubleType()),
    ]
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running totals with explicit GroupState (update mode).
    Arrow-batched: each micro-batch group arrives as pandas frames.

    Workers import the package because the session ships it
    (``session.ship_package``), so the state function may live at any
    scope; it is nested here for locality."""

    def update_user_state(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (user_id,) = key
        n, total_micro, peak = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            vals = pdf["value"].astype(float)
            # SQL aggregate null contract: count(*) counts every row,
            # sum/max skip NULLs. A NaN reaching astype('int64') is
            # UNDEFINED (it materializes as int64-min and poisons the
            # running total with -9.2e12 — found by the null-injection
            # sweep, tools/check_nulls.py), so nulls are masked out.
            n += len(pdf)
            vals = vals[vals.notna()]
            # accumulate micro-unit INTEGERS: float accumulation is
            # order-dependent and batch splitting varies with partition
            # layout, flipping the rounded cent between sessions (same
            # scheme as functions/aggregates.exact_sum; the state schema
            # stores the count as double, hence the lossless float carry
            # of an integer < 2^53)
            import numpy as np  # noqa: PLC0415

            x = vals.to_numpy() * 1_000_000.0
            # same single-floor half-up formula as aggregates._micro /
            # _sql_micro — all three implementations must agree bit-wise
            micro = np.floor(x + 0.5).astype("int64")
            total_micro += float(micro.sum())
            if len(vals):
                peak = max(peak, float(vals.max()))
        state.update((n, float(total_micro), float(peak)))
        # integer-space half-away rounding to cents (python round() is
        # banker's and engine round()s disagree on boundary doubles)
        s = int(total_micro)
        cents = (abs(s) + 5000) // 10000
        sum_value = (-cents if s < 0 else cents) / 100.0
        if peak == float("-inf"):
            # no non-null value seen yet: SQL sum/max over zero rows are
            # NULL, not 0/-inf
            sum_value = None
            out_peak = None
        else:
            out_peak = peak
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "n_events": [n],
                "sum_value": [sum_value],
                "max_value": [out_peak],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_user_state,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
