"""Property-based check of the fused matching kernel.

Random multi-location event sequences — including unbalanced ones
(Leaves without Enters, Enters never closed) — run through
``_stack_match_multi`` (pure pandas, no Spark session needed) and are
compared against an independent straight-line transcription of the
reference's semantics (pipit/trace.py:154-186 nearest-same-name stack
pop; 240-292 depth/parent over matched rows), plus structural
invariants. Catches regressions in the multi-group boundary handling
that example-based tests might miss.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from pipit_spark import schema as S
from pipit_spark.operators.matching import _stack_match_multi

NAMES = ["a", "b", "c"]


@st.composite
def trace_events(draw):
    n_loc = draw(st.integers(1, 3))
    rows = []
    eid = 0
    for p in range(n_loc):
        n_ev = draw(st.integers(0, 40))
        for i in range(n_ev):
            etype = draw(st.sampled_from(["Enter", "Leave"]))
            name = draw(st.sampled_from(NAMES))
            rows.append((eid, i * 10, i, etype, name, p))
            eid += 1
    return pd.DataFrame(
        rows,
        columns=[S.EVENT_ID, S.TIMESTAMP, S.SEQ, S.EVENT_TYPE, S.NAME, S.PROCESS],
    )


def reference_match(group: pd.DataFrame):
    """Independent transcription of the reference algorithm for ONE
    location: returns {row_pos: matched_row_pos} over the group's
    positional order (already sorted by ts, seq)."""
    match = {}
    stack = []  # positions of open Enters
    evt = list(group[S.EVENT_TYPE])
    names = list(group[S.NAME])
    for i in range(len(group)):
        if evt[i] == "Enter":
            stack.append(i)
        else:
            for k in range(len(stack) - 1, -1, -1):
                if names[stack[k]] == names[i]:
                    j = stack.pop(k)
                    match[i] = j
                    match[j] = i
                    break
    return match


@settings(max_examples=200, deadline=None)
@given(trace_events())
def test_kernel_matches_reference_semantics(pdf):
    out = _stack_match_multi(pdf.copy(), [S.PROCESS], [])
    # kernel output is sorted by (process, ts, seq); compare per location
    for p, g in out.groupby(S.PROCESS, sort=False):
        g = g.reset_index(drop=True)
        expect = reference_match(g)
        for i in range(len(g)):
            got = g[S.MATCHING_EVENT].iloc[i]
            if i in expect:
                j = expect[i]
                assert got == g[S.EVENT_ID].iloc[j], (p, i)
                assert g[S.MATCHING_TS].iloc[i] == g[S.TIMESTAMP].iloc[j]
                assert g[S.NAME].iloc[i] == g[S.NAME].iloc[j]
            else:
                assert pd.isna(got), (p, i)

        # invariants on matched Enter rows
        for i in range(len(g)):
            if i in expect and g[S.EVENT_TYPE].iloc[i] == "Enter":
                j = expect[i]
                assert j > i  # Leave strictly after its Enter
                assert g[S.TIME_INC].iloc[i] == float(
                    g[S.TIMESTAMP].iloc[j] - g[S.TIMESTAMP].iloc[i]
                )
                # depth = number of enclosing matched Enters still open
                depth = 0
                for k in range(i):
                    if (
                        k in expect
                        and g[S.EVENT_TYPE].iloc[k] == "Enter"
                        and expect[k] > i
                    ):
                        depth += 1
                assert g[S.DEPTH].iloc[i] == depth, (p, i)


def _two_locations(threads=(0, 0)):
    """Process 0 then process 1, one Enter/Leave pair each, laid out
    as the kernel's input contract requires."""
    return pd.DataFrame({
        S.EVENT_ID: [1, 2, 3, 4],
        S.TIMESTAMP: [10, 20, 10, 20],
        S.SEQ: [0, 1, 0, 1],
        S.EVENT_TYPE: ["Enter", "Leave", "Enter", "Leave"],
        S.NAME: ["a", "a", "b", "b"],
        S.PROCESS: [0, 0, 1, 1],
        S.THREAD: pd.array(list(threads) * 2, dtype="Int32"),
    })


def test_kernel_rejects_split_location():
    """A location in two non-contiguous runs of one partition is a
    broken input contract: the kernel raises instead of matching each
    run as if it were a whole location."""
    pdf = _two_locations().iloc[[0, 2, 1, 3]]  # 0, 1, 0, 1
    with pytest.raises(ValueError, match="non-contiguous"):
        _stack_match_multi(pdf, [S.PROCESS], [])


@pytest.mark.parametrize(
    "ts, seq", [([20, 10], [0, 1]), ([10, 10], [1, 0])],
    ids=["timestamp", "seq-tiebreak"],
)
def test_kernel_rejects_backwards_location(ts, seq):
    """A descending (timestamp_ns, seq) pair inside one location raises
    (the kernel no longer re-sorts its input)."""
    pdf = _two_locations()
    pdf.loc[:1, S.TIMESTAMP] = ts
    pdf.loc[:1, S.SEQ] = seq
    with pytest.raises(ValueError, match="backwards"):
        _stack_match_multi(pdf, [S.PROCESS], [])


def test_kernel_groups_null_threads():
    """Null threads factorize to one key: a (process, null) location is
    one contiguous run, distinct from the next process's null thread,
    and each matches within itself."""
    out = _stack_match_multi(
        _two_locations(threads=(None, None)), [S.PROCESS, S.THREAD], []
    )
    assert out[S.MATCHING_EVENT].tolist() == [2, 1, 4, 3]
    assert out[S.DEPTH].tolist() == [0, 0, 0, 0]


def test_pack_assignments_invariants(spark):
    """Property check over randomized corpora: offsets stay inside the
    context window, pack ids are dense per shard, and aggregating the
    manifest reproduces pack_sequences exactly."""
    import random

    from pipit_spark.llm.sampling import pack_assignments, pack_sequences

    rng = random.Random(11)
    docs = spark.createDataFrame(
        [
            (i, " ".join("tok" for _ in range(rng.randint(1, 40))))
            for i in range(120)
        ],
        "doc_id long, text string",
    )
    m = pack_assignments(docs, context_len=64, n_shards=8).collect()
    assert all(0 <= r["offset_in_pack"] < 64 for r in m)
    by_shard = {}
    for r in m:
        by_shard.setdefault(r["shard"], set()).add(r["pack_in_shard"])
    for packs in by_shard.values():
        assert packs == set(range(max(packs) + 1))  # dense ids
    agg = {}
    for r in m:
        key = (r["shard"], r["pack_in_shard"])
        n, t = agg.get(key, (0, 0))
        agg[key] = (n + 1, t + r["n_tokens"])
    stats = {
        (r["shard"], r["pack_in_shard"]): (r["n_docs"], r["total_tokens"])
        for r in pack_sequences(docs, context_len=64, n_shards=8).collect()
    }
    assert agg == stats


@settings(max_examples=20, deadline=None)
@given(
    n_tokens=st.integers(min_value=1, max_value=200),
    chunk=st.integers(min_value=2, max_value=64),
    data=st.data(),
)
def test_chunk_documents_tiling_property(spark, n_tokens, chunk, data):
    """For ANY (doc length, window, overlap): chunks tile the token
    stream losslessly (drop-overlap reconstruction), neighbors share
    exactly `overlap` tokens, no chunk exceeds the window, and the
    chunk count matches the ceil formula."""
    import math

    from pipit_spark.llm.sampling import chunk_documents

    overlap = data.draw(st.integers(min_value=0, max_value=chunk - 1))
    toks = [f"w{i}" for i in range(n_tokens)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks))], "doc_id long, text string"
    )
    rows = sorted(
        (r["chunk_idx"], r["chunk_text"].split(" "), r["n_tokens"])
        for r in chunk_documents(
            docs, chunk_tokens=chunk, overlap=overlap
        ).collect()
    )
    stride = chunk - overlap
    expect_n = max(1, math.ceil((n_tokens - overlap) / stride))
    assert [i for i, _, _ in rows] == list(range(expect_n))
    assert all(n <= chunk and n == len(t) for _, t, n in rows)
    for (_, a, _), (_, b, _) in zip(rows, rows[1:]):
        if overlap:
            assert a[-overlap:] == b[:overlap]
    rebuilt = rows[0][1] + [
        tok for _, t, _ in rows[1:] for tok in t[overlap:]
    ]
    assert rebuilt == toks


# --------------------------------------------------------------------- #
# FIFO message-matching property check (operators/comm.match_messages)
# --------------------------------------------------------------------- #
@st.composite
def message_events(draw):
    """Random send/recv interleavings over 3 processes, with colliding
    timestamps and unbalanced channels (more sends than recvs and vice
    versa)."""
    rows = []
    eid = 0
    for p in range(3):
        n_ev = draw(st.integers(0, 12))
        for i in range(n_ev):
            kind = draw(st.sampled_from(["send", "recv"]))
            other = draw(st.sampled_from([q for q in range(3) if q != p]))
            ts = draw(st.integers(0, 5)) * 10  # force ts collisions
            if kind == "send":
                attrs = {"receiver": str(other), "msg_length": "10"}
                name = "MpiSend"
            else:
                attrs = {"sender": str(other), "msg_length": "10"}
                name = "MpiRecv"
            rows.append((eid, ts, i, "Instant", name, p, attrs))
            eid += 1
    return rows


def _fifo_reference(rows):
    """Straight-line FIFO pairing: per channel, nth send ↔ nth recv in
    (ts, seq) order."""
    from collections import defaultdict

    sends, recvs = defaultdict(list), defaultdict(list)
    for eid, ts, seq, _, name, p, attrs in rows:
        if name == "MpiSend":
            sends[(p, int(attrs["receiver"]))].append((ts, seq, eid))
        else:
            recvs[(int(attrs["sender"]), p)].append((ts, seq, eid))
    pairs = set()
    for ch in sends:
        ss = sorted(sends[ch])
        rr = sorted(recvs.get(ch, []))
        for n, (s, r) in enumerate(zip(ss, rr), start=1):
            pairs.add((ch[0], ch[1], n, s[2], r[2], r[0] - s[0]))
    return pairs


@settings(max_examples=12, deadline=None)
@given(message_events())
def test_match_messages_equals_fifo_reference(spark, rows):
    from pipit_spark.operators.comm import match_messages

    if not rows:
        return
    df = spark.createDataFrame(
        rows,
        schema=(
            f"{S.EVENT_ID} long, {S.TIMESTAMP} long, {S.SEQ} long, "
            f"{S.EVENT_TYPE} string, {S.NAME} string, {S.PROCESS} int, "
            f"{S.ATTRIBUTES} map<string,string>"
        ),
    )
    got = {
        (r["src"], r["dst"], r["n"], r["send_event_id"],
         r["recv_event_id"], r["latency_ns"])
        for r in match_messages(df).collect()
    }
    assert got == _fifo_reference(rows)
