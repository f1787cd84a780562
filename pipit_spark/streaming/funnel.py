"""Stateful streaming funnel — the live twin of
:func:`pipit_spark.operators.relational.funnel`.

Per user, ``applyInPandasWithState`` tracks which funnel step the user
has reached and the timestamp it was reached at; a user's events may
arrive across any number of micro-batches. A completion row is emitted
the moment the final step fires (append mode), so a dashboard sees
conversions live instead of recomputing the batch funnel.

Semantics (same as batch): step k+1 only counts from an event STRICTLY
after the step-k timestamp, steps must fire in order, and the earliest
qualifying event wins (within a batch, events are processed in
timestamp order; cross-batch ordering is the upstream watermark's
responsibility, as with :mod:`pipit_spark.streaming.matching`).

State per user = current step index + its timestamp (constant memory
per user). A user who completes keeps a terminal state row (step =
number of steps), so events of theirs in later micro-batches cannot
restart the funnel: like the batch funnel, one row per user.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

FUNNEL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("completed_at", T.LongType()),
        T.StructField("started_at", T.LongType()),
        T.StructField("n_steps", T.IntegerType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("step", T.IntegerType()),      # steps completed so far
        T.StructField("step_ts", T.LongType()),      # ts of last completed step
        T.StructField("start_ts", T.LongType()),     # ts of step 1
    ]
)


def streaming_funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """events stream → one row per user the moment they complete the
    last funnel step: ``(user_id, completed_at, started_at, n_steps)``."""
    if not steps:
        raise ValueError("steps must be non-empty")
    n_steps = len(steps)

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            step, step_ts, start_ts = state.get
        else:
            step, step_ts, start_ts = 0, 0, 0
        user = int(key[0])

        done = []
        for pdf in pdfs:
            if step >= n_steps:
                break
            pdf = pdf.sort_values(ts_col, kind="mergesort")
            for ts, etype in zip(pdf[ts_col], pdf[type_col]):
                if step >= n_steps:
                    break
                target = steps[step]
                if etype != target:
                    continue
                ts = int(ts)
                if step == 0:
                    step, step_ts, start_ts = 1, ts, ts
                elif ts > step_ts:
                    step, step_ts = step + 1, ts
                if step == n_steps:
                    done.append((user, ts, start_ts, n_steps))

        state.update((step, step_ts, start_ts))
        if done:
            yield pd.DataFrame(
                done, columns=[f.name for f in FUNNEL_OUT_SCHEMA.fields]
            )

    ev = events.select(user_col, type_col, ts_col)
    return ev.groupBy(user_col).applyInPandasWithState(
        fn,
        outputStructType=FUNNEL_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
