"""Nsight CSV source (reference pipit/readers/nsight_reader.py:1-111).

Nsight reports one row per *interval* with ``Start (ns)``/``End (ns)``;
the reference unpivots each row into an Enter and a Leave
(nsight_reader.py:58-77) and dense-renumbers PID/TID
(nsight_reader.py:29-56). Spark form: ``stack(2, ...)`` lateral unpivot
(one narrow pass, no shuffle) + a dense rank computed on the DISTINCT
(PID, TID) set and broadcast-joined back (the set is
process/thread-count sized; ranking the full frame with an
unpartitioned window was a one-task global sort at the 120M-event
ladder rung — SCALING.md round-8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .. import schema as S
from .csv_source import canonicalize


def _rank_table(df: DataFrame, has_tid: bool) -> DataFrame:
    """Dense renumber table over the distinct (PID[, TID]) set
    (nsight_reader.py:29-46) — tiny by construction, broadcast side."""
    keys = ["PID"] + (["TID"] if has_tid else [])
    ranks = df.select(*keys).distinct()
    ranks = ranks.withColumn(
        "__process", F.dense_rank().over(Window.orderBy("PID")) - 1
    )
    if has_tid:
        ranks = ranks.withColumn(
            "__thread",
            F.dense_rank().over(
                Window.partitionBy("__process").orderBy("TID")
            ) - 1,
        )
    return ranks


def _unpivot_intervals(
    df: DataFrame, name_col: str, has_tid: bool
) -> DataFrame:
    """Interval rows (with __process[/__thread] attached) → canonical
    Enter + Leave events (nsight_reader.py:58-77).

    Ids are file-positional (``monotonically_increasing_id``), so the
    order of equal-timestamp events under the id tie-breaker follows
    the file."""
    df = df.withColumn("__seq", F.monotonically_increasing_id())
    both = df.select(
        F.expr(
            "stack(2, 'Enter', cast(`Start (ns)` as long), "
            "'Leave', cast(`End (ns)` as long))"
        ).alias(S.EVENT_TYPE, S.TIMESTAMP),
        F.col(name_col).alias(S.NAME),
        F.col("__process").alias(S.PROCESS),
        *([F.col("__thread").alias(S.THREAD)] if has_tid else []),
        F.col("__seq").alias(S.SEQ),
    )
    both = both.withColumn(
        S.SEQ,
        F.col(S.SEQ) * 2 + F.when(F.col(S.EVENT_TYPE) == "Leave", 1).otherwise(0),
    ).withColumn(S.EVENT_ID, F.col(S.SEQ))
    return canonicalize(both)


def read_nsight(spark: SparkSession, path: str, **options) -> DataFrame:
    if "schema" not in options:
        # inferSchema costs one extra full scan; callers at scale pass
        # an explicit schema (options forward to spark.read.csv)
        options.setdefault("inferSchema", True)
    df = spark.read.csv(path, header=True, **options)

    name_col = "Name" if "Name" in df.columns else df.columns[0]
    has_pid = "PID" in df.columns
    has_tid = "TID" in df.columns

    if has_pid:
        keys = ["PID"] + (["TID"] if has_tid else [])
        df = df.join(F.broadcast(_rank_table(df, has_tid)), keys)
    else:
        df = df.withColumn("__process", F.lit(0))
    return _unpivot_intervals(df, name_col, has_tid)

