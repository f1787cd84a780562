"""Calling-context tree as a DataFrame (reference pipit/graph.py:7-98,
pipit/util/cct.py:9-118).

The reference builds an object graph of ``Node``s keyed by callpath
string and stores node references in an object column. Here the CCT is a
small node TABLE (node_id, parent_node_id, depth, name) derived from the
matched frame's hash-chained ``node_id`` — distributed, joinable, and
LCA-computable via path prefixes without any driver-side object graph.
"""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql import DataFrame, functions as F, types as T

from .. import schema as S


def create_cct(matched: DataFrame) -> DataFrame:
    """Distinct calling-context nodes. The matched frame already carries
    ``node_id`` and ``parent_node_id`` (stable md5 hash chain over the
    name path, replacing the reference's dict of callpath strings,
    pipit/util/cct.py:73-93) — a tiny result even for huge traces
    (node count ≪ event count)."""
    # the kernel emits each event's own node id AND its caller's — so the
    # node table is one distinct with map-side partial aggregation (the
    # pre-shuffle combiner reduces every partition to its node set before
    # anything hits the wire); no self-join over the event frame
    return (
        matched.filter(
            F.col(S.EVENT_TYPE).isin(*S.ENTER_TYPES)
            & F.col(S.NODE_ID).isNotNull()
        )
        .select(
            S.NODE_ID,
            F.col(S.PARENT_NODE).alias("parent_node_id"),
            F.col(S.DEPTH).alias("depth"),
            S.NAME,
        )
        .dropDuplicates([S.NODE_ID])
    )


def folded_stacks(trace, metric: str = S.TIME_EXC, sep: str = ";") -> DataFrame:
    """Flamegraph folded-stack export: one row per calling context —
    ``root;child;…;leaf`` path string plus the total of ``metric``
    across every invocation of that context (the exact input
    `flamegraph.pl` / speedscope consume).

    The path strings build on the NODE table, not the event stream: the
    CCT is bounded by distinct call paths (≪ events, thousands even for
    huge traces), so it collects to the driver for a memoized
    parent-walk and broadcasts back as a (node_id, stack) map; the event
    side then pays one broadcast join + one hash aggregation. The
    reference keeps an equivalent object graph driver-side already
    (pipit/graph.py:7-98) — here it is the ONLY driver-side structure,
    and events never leave the cluster.
    """
    nodes = {
        r[S.NODE_ID]: (r["parent_node_id"], r[S.NAME])
        for r in trace.cct.collect()
    }
    paths: dict[int, str] = {}

    def path_of(nid) -> str:
        # iterative ancestor walk: recursion would blow the interpreter
        # stack on deep/recursive call chains (>~1000 frames is routine
        # in HPC codes); a parent missing from the node table (e.g. a
        # time-sliced trace whose enclosing Enter fell outside the
        # window) roots the path at the first known frame
        chain = []
        cur = nid
        while cur is not None and cur not in paths and cur in nodes:
            chain.append(cur)
            cur = nodes[cur][0]
        prefix = paths.get(cur, "") if cur is not None else ""
        for node in reversed(chain):
            name = nodes[node][1]
            prefix = f"{prefix}{sep}{name}" if prefix else name
            paths[node] = prefix
        return paths[nid]

    # an Arrow table becomes a JVM LocalRelation: the broadcast of the
    # map starts no Python-worker task (a Python list would go through
    # parallelize and a pickled RDD scan)
    spark = trace.events.sparkSession
    pmap = spark.createDataFrame(
        pa.table({
            S.NODE_ID: pa.array(list(nodes), pa.int64()),
            "stack": pa.array([path_of(nid) for nid in nodes], pa.string()),
        }),
        T.StructType([
            T.StructField(S.NODE_ID, T.LongType(), True),
            T.StructField("stack", T.StringType(), True),
        ]),
    )
    exc = trace.calc_exc_metrics().filter(
        F.col(S.EVENT_TYPE).isin(*S.ENTER_TYPES)
        & F.col(S.NODE_ID).isNotNull()
    )
    # decimal accumulator: context totals can exceed 2^53 ns, where
    # float summation becomes order-dependent (ulp ≠ hash-stable across
    # engines); the exact decimal sum rounds to double ONCE, same as
    # the oracle's integer sum.  No ROUND(…, 6) on top: it is a no-op at
    # these magnitudes in Spark but DuckDB's double round injects ~1e-4
    # noise above ~1e11 (multiply-by-1e6 leaves the exact-integer range)
    # — caught by the sf0.1 exact-parity sweep.
    return (
        exc.join(F.broadcast(pmap), S.NODE_ID)
        .groupBy("stack")
        .agg(
            F.sum(F.col(metric).cast("decimal(38,6)"))
            .cast("double")
            .alias("value")
        )
    )
