"""Packed-parse driver shared by the binary trace readers (OTF2 batch
and streaming, HPCToolkit).

A reader names its parse units (OTF2 location files, HPCToolkit trace
lines) and a generator that turns one unit into canonical event tuples;
this module does the rest in three parts:

* :func:`group_frame` packs whole units by bytes into core-sized groups,
  one input partition per group (a unit is never split, so every parse
  task emits complete locations — ``match_events_iter``'s input
  contract);
* :func:`parse_units` runs the executor parse as one ``mapInPandas``
  and flushes the tuples in bounded chunks of at most ``_CHUNK_EVENTS``
  rows, so task memory stays chunk-sized however large one unit grows;
* :func:`_rows_pdf` turns a chunk of tuples into the Arrow-bound pandas
  frame, column dtypes taken from the output schema.
"""

from __future__ import annotations

import heapq
from itertools import chain

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# max parsed events buffered per Arrow chunk in the executor parse
# (same bound as the projections reader's _CHUNK_LINES)
_CHUNK_EVENTS = 262_144


def _parse_task_count(spark: SparkSession, total_bytes: int) -> int:
    """Parse tasks for a batch read: enough to fill the cluster, more
    only when the input outgrows ``spark.sql.files.maxPartitionBytes``
    per task (the file scans' own split rule)."""
    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return max(spark.sparkContext.defaultParallelism, -(-total_bytes // max_bytes))


def _pack_locations(locs: list, sizes: list[int], n_groups: int) -> list[list]:
    """Greedy byte balance of whole units into at most ``n_groups``
    non-empty groups: largest first, each into the currently lightest
    group; a group keeps its members in ``locs`` order."""
    heap = [(0, g) for g in range(min(n_groups, len(locs)))]
    members: list[list[int]] = [[] for _ in heap]
    for i in sorted(range(len(locs)), key=lambda i: -sizes[i]):
        load, g = heapq.heappop(heap)
        members[g].append(i)
        heapq.heappush(heap, (load + sizes[i], g))
    return [[locs[i] for i in sorted(m)] for m in members]


def group_frame(
    spark: SparkSession, units: list[tuple], sizes: list[int],
    schema: T.StructType,
) -> DataFrame:
    """One row per unit, one partition per byte-balanced group of whole
    units: at most ``max(defaultParallelism, ceil(bytes /
    spark.sql.files.maxPartitionBytes))`` groups, never more than the
    units. Each Python parse task pays a fixed start-up cost that
    dwarfs a small unit's parse, hence the packing."""
    groups = _pack_locations(units, sizes, _parse_task_count(spark, sum(sizes)))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(groups, max(1, len(groups)))
        .flatMap(lambda g: g),
        schema,
    )


def _dtype(field: T.StructField):
    """pandas dtype of one output column: nullable longs (HPCToolkit's
    core/host/ctx_id) are masked ``Int64``, the readers' always-filled
    longs and ints plain numpy, strings and maps ``object``."""
    t = field.dataType
    if isinstance(t, T.LongType):
        return "Int64" if field.nullable else "int64"
    if isinstance(t, T.IntegerType):
        return "int32"
    if isinstance(t, T.DoubleType):
        return "float64"
    return object


def _rows_pdf(rows: list, schema: T.StructType) -> pd.DataFrame:
    """A chunk of event tuples (fields in ``schema`` order) → one
    Arrow-bound pandas frame."""
    return pd.DataFrame({
        f.name: pd.Series(col, dtype=_dtype(f))
        for f, col in zip(schema.fields, zip(*rows))
    })


def _chunks(rows, schema: T.StructType, limit: int):
    """Bounded flush: ``rows`` as frames of at most ``limit`` tuples."""
    buf: list = []
    for row in rows:
        buf.append(row)
        if len(buf) >= limit:
            yield _rows_pdf(buf, schema)
            buf = []
    if buf:
        yield _rows_pdf(buf, schema)


def parse_units(units: DataFrame, rows_of, schema: T.StructType) -> DataFrame:
    """Executor parse: ``rows_of(*row)`` yields the event tuples of one
    row of ``units``; a task's tuples stream out in ``_CHUNK_EVENTS``-
    row frames in unit order (never a whole unit's rows in memory, no
    per-row pickling)."""
    limit = _CHUNK_EVENTS  # read on the driver: the bound ships with the closure

    def parse(batches):
        for pdf in batches:
            yield from _chunks(
                chain.from_iterable(
                    rows_of(*row) for row in pdf.itertuples(index=False)
                ),
                schema, limit,
            )

    return units.mapInPandas(parse, schema=schema)
