"""Billion-event analysis, staged for bounded disk/RAM — the runnable
form of SCALING.md's round-8 capstone (1.2B events: ingest 2.08M ev/s,
fused match + flat_profile 0.72M ev/s on one 32-core box).

    PYTHONPATH=. python examples/billion_scale.py TRACE_DIR [ingest|match]

Stage each step in its OWN process (the capstone's measurement and
memory lessons both came from keeping stages isolated):

  ingest  raw trace -> canonical zstd parquet, partitioned by process.
          Reader-side: pass order="process" to read_hpctoolkit /
          read_otf2_native when downstream is this engine — it skips
          the reference-frame-parity global sort, which costs a full
          EXTRA parse pass (range-boundary sampling) plus the
          exchange (~3.5x on the OTF2 lane at 126M events).
  match   canonical parquet -> flat profile in ONE pass: with
          cache=False the fused matching kernel streams straight into
          the aggregate — no matched-frame materialization, which is
          the shape that fits a single box at 10^9 events (the
          checkpointed form needs a cluster's aggregate disk).

Sizing: with kernel="chunked" (used below — the round-9 kernel) the
old whole-location envelope is GONE — resident Python state is ∝
stack depth and events stream through Spark's spillable sort. The
one rule that remains (SCALING.md round-11 probe ladder): SIZE THE
MATCH PARTITIONS. The pass hashes by location, and the default
partition count (cluster parallelism) can put tens of millions of
rows into every emit sort — 37 M-row sorts OOM a stock 8 g / 32-task
box, while at one location per task (~9.3 M rows,
Trace(match_partitions=128)) the SAME stock box clears 1.2 B events in 892.5 s — faster than a
24 g run at the default. cluster_conf()'s ~500k-rows/task guidance
is the general form; effective partitions cap at the location count.
"""

from __future__ import annotations

import sys


def main() -> None:
    from pipit_spark.session import get_spark
    from pipit_spark.trace import Trace

    if len(sys.argv) < 2:
        sys.exit(__doc__)
    trace_dir = sys.argv[1]
    stage = sys.argv[2] if len(sys.argv) > 2 else "ingest"
    events_path = "/tmp/billion_events.parquet"

    spark = get_spark(
        app_name=f"billion-{stage}",
        extra_conf={
            "spark.sql.parquet.compression.codec": "zstd",
            "spark.io.compression.codec": "zstd",
        },
    )
    spark.sparkContext.setLogLevel("WARN")

    if stage == "ingest":
        t = Trace.from_projections(spark, trace_dir)
        # from_otf2/from_hpctoolkit traces: build the Trace from
        # read_otf2_native(..., order="process") /
        # read_hpctoolkit(..., order="process") to skip the parity sort.
        t.to_parquet(events_path)
        print(f"canonical events at {events_path}; "
              "delete the raw trace before the match stage if disk-bound")
    elif stage == "match":
        # cache=False: single consumer — match streams into the agg.
        # kernel="chunked": stack-depth-resident kernel, full task
        # concurrency at billion-row locations (SCALING.md round-9).
        # match partitions: since r11 the chunked pass SELF-SIZES at
        # ~10M rows/task (one cheap count; the heap-floor rule), so no
        # explicit sizing is needed here — stock 8 g clears 1.2 B on
        # the defaults. Trace(match_partitions=) still overrides; with
        # assume_wellformed=True (fully lazy, no count job) size
        # explicitly.
        t = Trace.from_parquet(spark, events_path, cache=False,
                               kernel="chunked")
        t.flat_profile(metrics=["time_inc", "time_exc"]).orderBy(
            "time_exc", ascending=False
        ).show(truncate=False)
    else:
        sys.exit(f"unknown stage {stage!r} (ingest|match)")


if __name__ == "__main__":
    main()
