"""Stateful streaming Enter/Leave matching.

The batch engine fuses the reference's stack passes into one grouped-map
per location (operators/matching.py). This module is the *streaming*
form: ``applyInPandasWithState`` keeps each (process, thread) location's
open-Enter stack as group state across micro-batches, emitting one
matched interval row per completed call — live trace analysis the
reference (batch pandas, SURVEY §2.7) has no counterpart for.

Semantics per location (same as the batch pass): events are processed in
(timestamp, seq) order; a Leave pops the nearest open Enter with the
same name (unbalanced-trace tolerance, pipit/trace.py:170-186);
inclusive time = leave_ts − enter_ts. Events may arrive across batch
boundaries — the stack survives in state. Late events inside a batch are
ordered by sort; cross-batch reordering is the caller's watermark
responsibility (trace streams are per-location monotone in practice).

State size = open-call depth per location (bounded by call depth, not
trace length).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import schema as S

MATCHED_INTERVAL_SCHEMA = T.StructType(
    [
        T.StructField(S.PROCESS, T.IntegerType()),
        T.StructField("enter_event_id", T.LongType()),
        T.StructField("leave_event_id", T.LongType()),
        T.StructField(S.NAME, T.StringType()),
        T.StructField("enter_ts", T.LongType()),
        T.StructField("leave_ts", T.LongType()),
        T.StructField("time_inc", T.DoubleType()),
        T.StructField("depth", T.IntegerType()),
    ]
)

# state: one row per open Enter — (event_id, name, ts) triples kept as
# parallel lists (state schema must be a flat struct of simple types)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("names", T.ArrayType(T.StringType())),
        T.StructField("tss", T.ArrayType(T.LongType())),
    ]
)


def streaming_match(events: DataFrame) -> DataFrame:
    """events stream → matched-interval stream (one row per completed
    call), state = per-location open-Enter stack, keyed by (process,
    thread) when the stream has a thread column, else by process."""

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ids, names, tss = state.get
            stack = [list(ids), list(names), list(tss)]
        else:
            stack = [[], [], []]
        process = int(key[0])

        out_rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values([S.TIMESTAMP, S.SEQ], kind="mergesort")
            for eid, ts, etype, name in zip(
                pdf[S.EVENT_ID], pdf[S.TIMESTAMP],
                pdf[S.EVENT_TYPE], pdf[S.NAME],
            ):
                if etype in S.ENTER_TYPES:
                    stack[0].append(int(eid))
                    stack[1].append(name)
                    stack[2].append(int(ts))
                elif etype in S.LEAVE_TYPES:
                    for k in range(len(stack[1]) - 1, -1, -1):
                        if stack[1][k] == name:
                            out_rows.append(
                                (
                                    process,
                                    stack[0].pop(k),
                                    int(eid),
                                    stack[1].pop(k),
                                    (ets := stack[2].pop(k)),
                                    int(ts),
                                    float(int(ts) - ets),
                                    k,
                                )
                            )
                            break

        state.update((stack[0], stack[1], stack[2]))
        if out_rows:
            yield pd.DataFrame(
                out_rows,
                columns=[f.name for f in MATCHED_INTERVAL_SCHEMA.fields],
            )

    # state per location: the batch pass's (process[, thread]) key, so
    # the threads of one process never share a stack
    loc = [S.PROCESS] + ([S.THREAD] if S.THREAD in events.columns else [])
    # project to the consumed columns before the worker boundary — extra
    # columns (esp. the MapType attributes, whose Arrow serialization is
    # ~27× the rest of the row) would otherwise ride through Python
    events = events.select(
        *loc, S.EVENT_ID, S.TIMESTAMP, S.SEQ, S.EVENT_TYPE, S.NAME
    )
    return events.groupBy(*loc).applyInPandasWithState(
        fn,
        outputStructType=MATCHED_INTERVAL_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------- #
# live FIFO message matching
# --------------------------------------------------------------------- #
MATCHED_MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("src", T.IntegerType()),
        T.StructField("dst", T.IntegerType()),
        T.StructField("n", T.LongType()),
        T.StructField("send_event_id", T.LongType()),
        T.StructField("recv_event_id", T.LongType()),
        T.StructField("send_ts", T.LongType()),
        T.StructField("recv_ts", T.LongType()),
        T.StructField("latency_ns", T.LongType()),
        T.StructField("msg_length", T.LongType()),
    ]
)

# state: the channel's pending send queue (ts, eid, len), pending recv
# queue (ts, eid), and the running match count — MPI non-overtaking
# order means plain FIFO queues, whose depth is the channel's in-flight
# message count, not the trace length
_MSG_STATE_SCHEMA = T.StructType(
    [
        T.StructField("s_ts", T.ArrayType(T.LongType())),
        T.StructField("s_id", T.ArrayType(T.LongType())),
        T.StructField("s_len", T.ArrayType(T.LongType())),
        T.StructField("r_ts", T.ArrayType(T.LongType())),
        T.StructField("r_id", T.ArrayType(T.LongType())),
        T.StructField("n", T.LongType()),
    ]
)


def streaming_match_messages(events: DataFrame) -> DataFrame:
    """Live FIFO send↔recv pairing: the streaming twin of
    ``operators/comm.py:match_messages`` — one matched-message row
    (with latency) the moment BOTH sides of a message have arrived.
    State per (src, dst) channel = the pending send/recv queues, so a
    matched pair leaves state immediately and the footprint tracks
    in-flight messages, not history. Emits the same row shape as the
    batch op; per channel the nth send pairs with the nth recv exactly
    as in batch (FIFO is insensitive to how the batches slice the
    stream, given per-location arrival order — the same contract as
    :func:`streaming_match`)."""
    from .. import schema as S
    from ..operators.comm import (
        _msg_length_col, _receiver_col, _sender_col,
    )

    inst = events.filter(F.col(S.EVENT_TYPE) == "Instant")
    sends = inst.filter(F.col(S.NAME).isin(*S.SEND_NAMES)).select(
        F.col(S.PROCESS).cast("int").alias("src"),
        _receiver_col(inst).alias("dst"),
        F.col(S.TIMESTAMP).alias("ts"),
        F.col(S.SEQ).alias("sq"),
        F.col(S.EVENT_ID).alias("eid"),
        F.lit(1).alias("kind"),
        _msg_length_col(inst).cast("long").alias("mlen"),
    )
    recvs = inst.filter(F.col(S.NAME).isin(*S.RECV_NAMES)).select(
        _sender_col(inst).alias("src"),
        F.col(S.PROCESS).cast("int").alias("dst"),
        F.col(S.TIMESTAMP).alias("ts"),
        F.col(S.SEQ).alias("sq"),
        F.col(S.EVENT_ID).alias("eid"),
        F.lit(0).alias("kind"),
        F.lit(None).cast("long").alias("mlen"),
    )
    chan = sends.unionByName(recvs)

    def fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            s_ts, s_id, s_len, r_ts, r_id, n = state.get
            sq_ = [list(s_ts), list(s_id), list(s_len)]
            rq = [list(r_ts), list(r_id)]
            n = int(n)
        else:
            sq_, rq, n = [[], [], []], [[], []], 0
        src, dst = int(key[0]), int(key[1])

        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "sq"], kind="mergesort")
            for ts, eid, kind, mlen in zip(
                pdf["ts"], pdf["eid"], pdf["kind"], pdf["mlen"]
            ):
                # recv rows carry no msg_length, which makes the
                # pandas column float64 — a send that ALSO lacks the
                # attribute arrives as NaN; carry it through as NULL
                # exactly like the batch twin (int(NaN) would raise
                # and kill the streaming query)
                mlen = None if pd.isna(mlen) else int(mlen)
                if kind == 1:
                    if rq[0]:
                        n += 1
                        rts, rid = rq[0].pop(0), rq[1].pop(0)
                        out.append(
                            (src, dst, n, int(eid), rid, int(ts), rts,
                             rts - int(ts), mlen)
                        )
                    else:
                        sq_[0].append(int(ts))
                        sq_[1].append(int(eid))
                        sq_[2].append(mlen)
                else:
                    if sq_[0]:
                        n += 1
                        sts = sq_[0].pop(0)
                        sid = sq_[1].pop(0)
                        slen = sq_[2].pop(0)
                        out.append(
                            (src, dst, n, sid, int(eid), sts, int(ts),
                             int(ts) - sts, slen)
                        )
                    else:
                        rq[0].append(int(ts))
                        rq[1].append(int(eid))

        state.update((sq_[0], sq_[1], sq_[2], rq[0], rq[1], n))
        if out:
            yield pd.DataFrame(
                out,
                columns=[f.name for f in MATCHED_MESSAGE_SCHEMA.fields],
            )

    return chan.groupBy("src", "dst").applyInPandasWithState(
        fn,
        outputStructType=MATCHED_MESSAGE_SCHEMA,
        stateStructType=_MSG_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
