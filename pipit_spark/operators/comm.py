"""Communication analysis operators (reference pipit/trace.py:367-512).

All are single-pass filter + groupBy aggregations over Instant send/recv
events — the reference's driver-side numpy accumulation loops
(pipit/trace.py:434-442) disappear into hash aggregations. Results are
long-form DataFrames (sparse); densification to a ranks×ranks matrix is a
display concern done on collect (rank count is small even at 100 TB).

Attribute access: the canonical schema keeps ``attributes`` as
map<string,string>; hot keys (receiver, msg_length) may also be promoted
to typed top-level columns at ingest (SURVEY §4) — these operators use
the promoted column when present, else the map lookup (still columnar,
no UDF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import schema as S


def _receiver_col(df: DataFrame):
    if S.ATTR_RECEIVER in df.columns:
        return F.col(S.ATTR_RECEIVER).cast("int")
    return F.element_at(F.col(S.ATTRIBUTES), S.ATTR_RECEIVER).cast("int")


def _msg_length_col(df: DataFrame):
    if S.ATTR_MSG_LENGTH in df.columns:
        return F.col(S.ATTR_MSG_LENGTH).cast("double")
    return F.element_at(F.col(S.ATTRIBUTES), S.ATTR_MSG_LENGTH).cast("double")


def _sender_col(df: DataFrame):
    if S.ATTR_SENDER in df.columns:
        return F.col(S.ATTR_SENDER).cast("int")
    return F.element_at(F.col(S.ATTRIBUTES), S.ATTR_SENDER).cast("int")


def _channel_ranked(events: DataFrame) -> DataFrame:
    """ONE tagged scan of the send+recv Instants with the FIFO rank
    attached: each row carries its channel (src, dst), role flag
    ``__snd``, and ``n`` — the row's 1-based rank among its OWN role on
    its channel in (timestamp, seq) program order, i.e. exactly the
    ``row_number`` the old two-window formulation computed per side.
    ONE owner of the send/recv definition (event type, name sets,
    attribute columns) so :func:`match_messages` and
    :func:`message_latency`'s side counts can never diverge on what a
    send is.

    The rank is a conditional cumulative count over a single
    (src, dst)-partitioned window: the merged (ts, seq) order restricted
    to one role is that role's own (ts, seq) order, so counting only the
    role's rows up to the current row reproduces ``row_number`` over the
    role-only window bit-for-bit. One scan and ONE exchange replace the
    old shape's two filtered scans + two window exchanges (r13, guide
    §2.4); HashPartitioning(src, dst) also satisfies every downstream
    grouping on (src, dst[, n]), so consumers add no further exchange.

    Non-null ``process`` invariant (all readers emit MPI ranks /
    PE ids): with a null process a send row (src=null) and a recv row
    (dst=null) could collide in one (null, x)/(x, null) group here,
    where the old inner join dropped null keys — the readers never
    produce that row."""
    from pyspark.sql import Window

    inst = events.filter(F.col(S.EVENT_TYPE) == "Instant").filter(
        F.col(S.NAME).isin(*S.SEND_NAMES, *S.RECV_NAMES)
    )
    is_send = F.col(S.NAME).isin(*S.SEND_NAMES)
    tagged = inst.select(
        is_send.alias("__snd"),
        F.when(is_send, F.col(S.PROCESS).cast("int"))
        .otherwise(_sender_col(inst))
        .alias("src"),
        F.when(is_send, _receiver_col(inst))
        .otherwise(F.col(S.PROCESS).cast("int"))
        .alias("dst"),
        F.col(S.TIMESTAMP).alias("__ts"),
        F.col(S.EVENT_ID).alias("__eid"),
        F.when(is_send, _msg_length_col(inst)).cast("long").alias("__len"),
        F.col(S.SEQ).alias("__sq"),
    )
    # program order per channel = (timestamp, per-location seq) — the
    # same total order the matching kernel uses, so ties at equal ts
    # are deterministic
    w = (
        Window.partitionBy("src", "dst")
        .orderBy("__ts", "__sq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.when(
        F.col("__snd"),
        F.count(F.when(F.col("__snd"), F.lit(1))).over(w),
    ).otherwise(F.count(F.when(~F.col("__snd"), F.lit(1))).over(w))
    return tagged.withColumn("n", n.cast("int")).drop("__sq")


def match_messages(events: DataFrame) -> DataFrame:
    """FIFO per-channel send↔recv pairing: the nth send Instant on
    process p addressed to q (``attributes['receiver']``) pairs with the
    nth recv Instant on process q from p (``attributes['sender']``) —
    MPI's non-overtaking guarantee for same-(source, dest, tag) traffic,
    and how trace tools reconstruct message lines when the format
    doesn't record explicit match ids. The reference consumes the same
    send/recv attributes for its process-level views
    (pipit/trace.py:412-428, 453, 485) but never pairs individual
    messages; this is the message-line primitive those views can't give.

    Plan shape (r13, guide §2.4): ONE tagged scan of the Instant rows
    ranks both roles in a single (src, dst)-partitioned window
    (:func:`_channel_ranked` — channel keys have |P|² spread, so a hot
    rank doesn't serialize its traffic through one task), then one hash
    aggregation on (src, dst, n) pairs the roles — a group holds at most
    one send and one recv by construction of the per-role rank, and
    groups missing either side (truncated traces) are filtered, exactly
    the old inner join's rows. Event bodies never move: only (channel,
    ts, event_id, msg_length) columns shuffle, and the aggregation
    reuses the window's exchange, so the whole operator is one scan +
    one exchange (was: two scans + two window exchanges + a sort-merge
    join). :func:`message_latency` surfaces the unmatched imbalance per
    channel.

    Returns one row per matched message:
    (src, dst, n, send_event_id, recv_event_id, send_ts, recv_ts,
    latency_ns, msg_length).
    """
    snd = F.col("__snd")
    return (
        _channel_ranked(events)
        .groupBy("src", "dst", "n")
        .agg(
            F.max(F.when(snd, F.col("__eid"))).alias("send_event_id"),
            F.max(F.when(~snd, F.col("__eid"))).alias("recv_event_id"),
            F.max(F.when(snd, F.col("__ts"))).alias("send_ts"),
            F.max(F.when(~snd, F.col("__ts"))).alias("recv_ts"),
            F.max(F.when(snd, F.col("__len"))).alias("msg_length"),
            F.max(snd.cast("int")).alias("__hs"),
            F.max((~snd).cast("int")).alias("__hr"),
        )
        .filter((F.col("__hs") == 1) & (F.col("__hr") == 1))
        .select(
            "src", "dst", "n", "send_event_id", "recv_event_id",
            "send_ts", "recv_ts",
            (F.col("recv_ts") - F.col("send_ts")).alias("latency_ns"),
            "msg_length",
        )
    )


def message_latency(events: DataFrame) -> DataFrame:
    """Per-channel message-latency profile over the FIFO-matched pairs:
    (src, dst, n_sends, n_recvs, n_matched, total/mean/max latency,
    bytes). The mean is ONE double division over a BIGINT sum — the same
    exact-integer discipline as the flat-profile gates, so the number is
    partition-order-independent. Negative latencies are reported, not
    clamped: a recv stamped before its send is a clock-skew signal the
    analyst wants to SEE (the standard first check before trusting any
    cross-process timing).

    Plan shape (r13, guide §2.4): the old form made FOUR passes over the
    comm source (send scan + recv scan for the match join, then separate
    side-count aggregations stitched with a full-outer join). This form
    derives everything from :func:`_channel_ranked`'s single tagged scan:
    a per-(src, dst, n) aggregate pairs the roles, a per-(src, dst)
    aggregate folds side counts and matched-latency sums together —
    channels with sends or recvs but no matches keep their counts (the
    old full-outer semantics) and their latency sums stay NULL (the old
    left-join semantics). Both aggregates reuse the rank window's
    exchange: one scan + one exchange total."""
    snd = F.col("__snd")
    per_n = (
        _channel_ranked(events)
        .groupBy("src", "dst", "n")
        .agg(
            F.max(snd.cast("int")).alias("__hs"),
            F.max((~snd).cast("int")).alias("__hr"),
            F.max(F.when(snd, F.col("__ts"))).alias("send_ts"),
            F.max(F.when(~snd, F.col("__ts"))).alias("recv_ts"),
            F.max(F.when(snd, F.col("__len"))).alias("msg_length"),
        )
    )
    matched = (F.col("__hs") == 1) & (F.col("__hr") == 1)
    lat = F.col("recv_ts") - F.col("send_ts")
    return (
        per_n.groupBy("src", "dst")
        .agg(
            F.sum("__hs").alias("n_sends"),
            F.sum("__hr").alias("n_recvs"),
            F.sum(F.when(matched, 1).otherwise(0)).alias("n_matched"),
            F.sum(F.when(matched, lat)).alias("total_latency_ns"),
            F.max(F.when(matched, lat)).alias("max_latency_ns"),
            F.sum(F.when(matched, F.col("msg_length"))).alias(
                "total_bytes"
            ),
        )
        .select(
            "src", "dst", "n_sends", "n_recvs", "n_matched",
            "total_latency_ns",
            (
                F.col("total_latency_ns").cast("double")
                / F.col("n_matched")
            ).alias("mean_latency_ns"),
            "max_latency_ns", "total_bytes",
        )
    )


def comm_matrix(events: DataFrame, output: str = "size") -> DataFrame:
    """Long-form P2P communication matrix: (sender, receiver, volume).

    Reference: pipit/trace.py:367-444 — filter to MpiSend/MpiIsend
    Instants, receiver from attributes, volume = msg_length ('size') or
    message count ('count').
    """
    sends = events.filter(F.col(S.NAME).isin(*S.SEND_NAMES))
    proj = sends.select(
        F.col(S.PROCESS).alias("sender"),
        _receiver_col(sends).alias("receiver"),
        _msg_length_col(sends).alias("__len"),
    )
    vol = (F.sum("__len") if output == "size" else F.count(F.lit(1))).cast("double")
    return proj.groupBy("sender", "receiver").agg(vol.alias("volume"))


def comm_matrix_numpy(events: DataFrame, output: str = "size"):
    """Dense ranks×ranks numpy matrix for display parity with the
    reference's return type (pipit/trace.py:434-444)."""
    import numpy as np

    nranks = events.agg(F.max(S.PROCESS)).collect()[0][0] + 1
    mat = np.zeros((nranks, nranks))
    for row in comm_matrix(events, output=output).collect():
        mat[row["sender"], row["receiver"]] = row["volume"]
    return mat


def comm_by_process(events: DataFrame, output: str = "size") -> DataFrame:
    """Total sent/received volume per process (pipit/trace.py:498-512):
    row/col sums of the long-form comm matrix via two aggregations and a
    full-outer join (both sides tiny — one row per rank)."""
    cm = comm_matrix(events, output=output)
    sent = cm.groupBy(F.col("sender").alias(S.PROCESS)).agg(
        F.sum("volume").alias("sent")
    )
    recv = cm.groupBy(F.col("receiver").alias(S.PROCESS)).agg(
        F.sum("volume").alias("received")
    )
    return (
        sent.join(recv, S.PROCESS, "full_outer")
        .select(
            S.PROCESS,
            F.coalesce("sent", F.lit(0.0)).alias("sent"),
            F.coalesce("received", F.lit(0.0)).alias("received"),
        )
    )


def _fixed_width_histogram(
    df: DataFrame,
    value_col,
    bins: int,
    weight_col=None,
    range_df: DataFrame | None = None,
    range_bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """np.histogram semantics (pipit/trace.py:455,487): `bins` equal
    intervals over [min, max] (of `range_bounds` if given, else
    `range_df`, else the values); right-closed last bin. Returns every
    bin (including empty) as (bin_idx, bin_start, bin_end, count).

    Two-job shape: one tiny agg for min/max (collected — 2 scalars), then
    one hash aggregation; the bin table is built with ``spark.range`` and
    broadcast-joined so empty bins appear. ``range_bounds`` (r12) lets
    the caller supply memoized scalars (``Trace.time_stats``) so the
    min/max job is shared across binning operators instead of re-run
    per call.
    """
    spark = df.sparkSession
    if range_bounds is not None:
        lo, hi = range_bounds
    else:
        src = range_df if range_df is not None else df
        lo, hi = src.agg(
            F.min(value_col).cast("double"), F.max(value_col).cast("double")
        ).collect()[0]
    if lo is None or hi is None:
        # no (non-null) values at all — np.histogram([]) semantics:
        # bins over [0, 1], every count 0 (a message-free trace must
        # produce an empty histogram, not a crash)
        lo, hi = 0.0, 1.0
    lo = float(lo)
    hi = float(hi)
    width = (hi - lo) / bins if hi > lo else 1.0

    bucket = F.least(
        F.floor((value_col.cast("double") - F.lit(lo)) / F.lit(width)),
        F.lit(bins - 1),
    ).alias("bin_idx")
    w = F.count(F.lit(1)) if weight_col is None else F.sum(weight_col)
    counts = (
        df.filter(value_col.isNotNull()
                  & (value_col >= F.lit(lo)) & (value_col <= F.lit(hi)))
        .groupBy(bucket)
        .agg(w.cast("double").alias("count"))
    )
    bins_df = spark.range(bins).select(
        F.col("id").alias("bin_idx"),
        (F.lit(lo) + F.col("id") * F.lit(width)).alias("bin_start"),
        (F.lit(lo) + (F.col("id") + 1) * F.lit(width)).alias("bin_end"),
    )
    # broadcast the AGGREGATED side: a left-outer BHJ can only build its
    # right input, and `counts` is ≤ `bins` rows post-aggregation —
    # broadcasting `bins_df` (the preserved side) is rejected by the
    # planner and silently degrades to a shuffle join
    return (
        bins_df
        .join(F.broadcast(counts), "bin_idx", "left")
        .select(
            "bin_idx", "bin_start", "bin_end",
            F.coalesce("count", F.lit(0.0)).alias("count"),
        )
    )


def latency_histogram(events: DataFrame, bins: int = 20) -> DataFrame:
    """Distribution of FIFO-matched message latencies (the p2p health
    view :func:`message_latency`'s per-channel means smooth over —
    bimodal latency means two traffic classes; a long tail means
    contention). Same np.histogram semantics and plan as
    :func:`message_histogram`, over :func:`match_messages` latencies."""
    return _fixed_width_histogram(
        match_messages(events), F.col("latency_ns"), bins
    )


def message_histogram(events: DataFrame, bins: int = 20) -> DataFrame:
    """Histogram of message sizes (pipit/trace.py:446-455)."""
    sends = events.filter(F.col(S.NAME).isin(*S.SEND_NAMES))
    return _fixed_width_histogram(sends, _msg_length_col(sends), bins)


def comm_over_time(
    events: DataFrame,
    output: str = "size",
    message_type: str = "send",
    bins: int = 50,
    range_bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Histogram of communication volume over time
    (pipit/trace.py:457-496). Bin range spans the WHOLE trace's
    [min ts, max ts], matching the reference's ``range=`` argument
    (``range_bounds`` supplies them memoized — ``Trace.time_stats``)."""
    names = S.SEND_NAMES if message_type == "send" else S.RECV_NAMES
    msgs = events.filter(F.col(S.NAME).isin(*names))
    weight = _msg_length_col(msgs) if output == "size" else None
    return _fixed_width_histogram(
        msgs, F.col(S.TIMESTAMP), bins, weight_col=weight, range_df=events,
        range_bounds=range_bounds,
    )


def comm_matrix_over_time(
    events: DataFrame, bins: int = 10, output: str = "size",
    range_bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """Communication-matrix EVOLUTION: the (sender, receiver) volume
    cube per trace-time bin — how the traffic pattern drifts across
    phases (an all-to-all phase and a neighbor-exchange phase average
    into mush in the static matrix; this separates them). Bin edges
    span the whole trace's [min ts, max ts] like
    :func:`comm_over_time`; one conditional projection + hash
    aggregation, same single-exchange shape as :func:`comm_matrix` with
    the bin index riding the group key. Returns
    (bin_idx, sender, receiver, volume) — sparse: only non-empty cells.
    """
    spark = events.sparkSession  # noqa: F841  (parity with helpers)
    if range_bounds is not None:
        lo, hi = range_bounds
    else:
        lo, hi = events.agg(
            F.min(S.TIMESTAMP).cast("double"), F.max(S.TIMESTAMP).cast("double")
        ).collect()[0]
    lo, hi = float(lo), float(hi)
    width = (hi - lo) / bins if hi > lo else 1.0
    sends = events.filter(F.col(S.NAME).isin(*S.SEND_NAMES))
    ts = F.col(S.TIMESTAMP).cast("double")
    proj = sends.filter((ts >= lo) & (ts <= hi)).select(
        F.least(
            F.floor((ts - F.lit(lo)) / F.lit(width)), F.lit(bins - 1)
        ).cast("int").alias("bin_idx"),
        F.col(S.PROCESS).cast("int").alias("sender"),
        _receiver_col(sends).alias("receiver"),
        _msg_length_col(sends).alias("__len"),
    )
    vol = (
        F.sum("__len") if output == "size" else F.count(F.lit(1))
    ).cast("double")
    return proj.groupBy("bin_idx", "sender", "receiver").agg(
        vol.alias("volume")
    )


def comm_by_function(
    matched: DataFrame, output: str = "size", message_type: str = "send"
) -> DataFrame:
    """Communication volume attributed to the CALLING function: which
    functions send (or receive, ``message_type="recv"``) the bytes —
    beyond the reference's process-level views. Requires the matched
    frame — the matching kernel stamps every Instant with its enclosing
    call's name (``parent_name``), so the attribution is a plain filter
    + hash aggregation, no join back to the call rows. Instants outside
    any call group under NULL."""
    names = S.SEND_NAMES if message_type == "send" else S.RECV_NAMES
    msgs = matched.filter(F.col(S.NAME).isin(*names))
    vol = (
        F.sum(_msg_length_col(msgs)) if output == "size"
        else F.count(F.lit(1)).cast("double")
    )
    return (
        msgs.groupBy(F.col(S.PARENT_NAME).alias("function"))
        .agg(vol.cast("double").alias("volume"))
    )


def comm_locality(
    events: DataFrame, block_size: int = 4, output: str = "size"
) -> DataFrame:
    """Topology-mapping health number: what fraction of communication
    volume stays within a ``block_size``-rank block (nodes, NUMA
    domains, racks — whatever the block models). One conditional
    aggregation over the long-form comm matrix; the standard metric a
    rank-reordering exercise optimizes."""
    cm = comm_matrix(events, output=output)
    local = F.floor(F.col("sender") / block_size) == F.floor(
        F.col("receiver") / block_size
    )
    return cm.agg(
        F.sum("volume").cast("double").alias("total_volume"),
        F.sum(F.when(local, F.col("volume")).otherwise(0.0))
        .cast("double")
        .alias("local_volume"),
    ).select(
        "total_volume",
        "local_volume",
        F.round(
            F.try_divide(F.col("local_volume"), F.col("total_volume")), 6
        ).alias("locality"),
    )


def _recv_waits(events: DataFrame, matched: DataFrame) -> DataFrame:
    """``(src, dst, send_ts, recv_enter_ts)`` per FIFO-matched message:
    the recv Instant's ``parent_event_id`` is its enclosing operation's
    Enter (stack top at the instant), whose timestamp is when the
    receiver started waiting. The matched-message frame (ids + channel
    only) joins the matched events twice by event id, so shuffle volume
    is matched-message-sized and event bodies never move."""
    inst = matched.select(
        F.col(S.EVENT_ID).alias("recv_event_id"),
        F.col("parent_event_id").alias("__pe"),
    )
    par = matched.select(
        F.col(S.EVENT_ID).alias("__pe"),
        F.col(S.TIMESTAMP).alias("recv_enter_ts"),
    )
    return (
        match_messages(events)
        .select("src", "dst", "recv_event_id", "send_ts")
        .join(inst, "recv_event_id")
        .join(par, "__pe")
        .select("src", "dst", "send_ts", "recv_enter_ts")
    )


def late_senders(events: DataFrame, matched: DataFrame) -> DataFrame:
    """Scalasca-style late-sender wait states (Geimer et al., "The
    Scalasca performance toolset architecture", 2010 — public
    methodology; the reference has no wait-state analysis) over the
    FIFO-matched messages: a receiver that ENTERED its recv operation
    before the matching send was posted sat blocked for
    ``send_ts − recv_enter_ts``. Per channel: matched count, late
    count + integer-ppm share, total and max blocked ns.

    ``recv_enter_ts`` comes generically from the matching pass
    (:func:`_recv_waits`), so the operator works on any ingested
    format, not just brackets the fixture happens to emit.

    Plan: :func:`_recv_waits`, then one hash aggregation on the
    channel. All-BIGINT waits, no mean column (PLANS.md §14 — emit sums
    and counts, divide at read time)."""
    j = _recv_waits(events, matched)
    wait = F.greatest(
        (F.col("send_ts") - F.col("recv_enter_ts")).cast("long"),
        F.lit(0).cast("long"),
    )
    return (
        j.groupBy("src", "dst")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum(
                (F.col("send_ts") > F.col("recv_enter_ts")).cast("long")
            ).alias("n_late"),
            F.sum(wait).alias("total_wait_ns"),
            F.max(wait).alias("max_wait_ns"),
        )
        .withColumn("late_ppm", F.expr("n_late * 1000000 div n_matched"))
    )


def late_receivers(events: DataFrame, matched: DataFrame) -> DataFrame:
    """The mirror wait state (Scalasca "late receiver"): in rendezvous
    transfers the SENDER blocks until the receiver posts — here
    approximated per message as ``recv_enter_ts − send_ts`` when
    positive (the receiver arrived after the send was posted; eager
    transfers never block, so this is the upper bound a synchronous
    protocol pays). Same plan shape and column conventions as
    :func:`late_senders` — the two read the identical joined frame, so
    a combined dashboard costs one extra aggregation, not a new
    scan."""
    j = _recv_waits(events, matched)
    wait = F.greatest(
        (F.col("recv_enter_ts") - F.col("send_ts")).cast("long"),
        F.lit(0).cast("long"),
    )
    return (
        j.groupBy("src", "dst")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum(
                (F.col("recv_enter_ts") > F.col("send_ts")).cast("long")
            ).alias("n_late"),
            F.sum(wait).alias("total_wait_ns"),
            F.max(wait).alias("max_wait_ns"),
        )
        .withColumn("late_ppm", F.expr("n_late * 1000000 div n_matched"))
    )


def wait_attribution(events: DataFrame, matched: DataFrame) -> DataFrame:
    """Root-cause view of the late-sender waits (the delay-attribution
    idea of Böhme et al., "Identifying the root causes of wait states",
    2010 — one-hop attribution, not full propagation): every blocked
    receive charges its wait to the SENDER process that posted late.
    Per process: ``inflicted_ns`` (waits this process caused others,
    as sender) and ``suffered_ns`` (waits this process sat in, as
    receiver) — the two rankings that tell an engineer which rank to
    fix versus which rank merely looks slow.

    One extra pair of hash aggregations over the same joined frame as
    :func:`late_senders`; a process with traffic in neither direction
    simply doesn't appear."""
    j = _recv_waits(events, matched)
    wait = F.greatest(
        (F.col("send_ts") - F.col("recv_enter_ts")).cast("long"),
        F.lit(0).cast("long"),
    )
    w = j.select("src", "dst", wait.alias("w"))
    inflicted = w.groupBy(F.col("src").alias("process")).agg(
        F.sum("w").alias("inflicted_ns"),
        F.sum((F.col("w") > 0).cast("long")).alias("n_inflicted"),
    )
    suffered = w.groupBy(F.col("dst").alias("process")).agg(
        F.sum("w").alias("suffered_ns"),
        F.sum((F.col("w") > 0).cast("long")).alias("n_suffered"),
    )
    return inflicted.join(suffered, "process", "full").select(
        "process",
        F.coalesce(F.col("inflicted_ns"), F.lit(0)).alias("inflicted_ns"),
        F.coalesce(F.col("n_inflicted"), F.lit(0)).alias("n_inflicted"),
        F.coalesce(F.col("suffered_ns"), F.lit(0)).alias("suffered_ns"),
        F.coalesce(F.col("n_suffered"), F.lit(0)).alias("n_suffered"),
    )
