"""Live/backfill ingestion walkthrough — the landing-directory recipe
for Projections logs, plus the hot-file split.

What it shows, on a self-synthesized Charm++ Projections fixture:

1. BATCH ingest → canonical parquet (the one-shot shape).
2. STREAMING catch-up ingest (`stream_projections` + availableNow +
   sink checkpoint): re-running after new PE logs land ingests ONLY
   the new files — file-level exactly-once, the property a long
   backfill over an object store actually needs. The other trace
   formats are read in batch (`Trace.from_otf2`, `Trace.from_nsight`).
3. The skewed-log escape hatch: one hot PE holding half the events
   bounds gzip ingest's tail (measured 6.2-6.4x, SCALING.md round-8);
   `tools/split_pe_log.py` re-shards it ONCE and the reader parses
   the shards as independent tasks (read back bit-identical content).

Run from the repo root:  PYTHONPATH=. python examples/live_ingest.py
"""

from __future__ import annotations

import os
import shutil
import tempfile


def main() -> None:
    from pipit_spark import get_spark
    from pipit_spark.sources.projections import (
        read_projections,
        stream_projections,
    )
    from tools.split_pe_log import split_pe_log
    from tools.synth_projections import synthesize

    spark = get_spark(app_name="live-ingest-example")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="live_ingest_")
    src = os.path.join(work, "trace")
    synthesize(src, 4, 2_000, hot_frac=0.5)  # PE0 holds ~50% of events

    # 1. batch ingest
    batch = read_projections(spark, src)
    print(f"batch ingest: {batch.count()} events from 4 PE logs")

    # 2. streaming catch-up: logs "land" one at a time
    live = os.path.join(work, "landing")
    out = os.path.join(work, "events_parquet")
    ck = os.path.join(work, "checkpoint")
    os.makedirs(live)
    shutil.copy(os.path.join(src, "synth.prj.sts"), live)

    def catch_up() -> int:
        q = (
            stream_projections(spark, live)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out).count()

    for pe in range(4):
        shutil.copy(os.path.join(src, f"synth.prj.{pe}.log.gz"), live)
        print(f"after PE {pe} landed: catch-up ingested "
              f"{catch_up()} events total (only the new file re-read)")

    # 3. the hot-PE split: same events, n-way parse parallelism
    shards = split_pe_log(os.path.join(src, "synth.prj.0.log.gz"), 4)
    os.remove(os.path.join(src, "synth.prj.0.log.gz"))
    resharded = read_projections(spark, src)
    print(f"hot PE split into {len(shards)} shards; re-read: "
          f"{resharded.count()} events (content identical, "
          "each shard its own task)")

    shutil.rmtree(work)


if __name__ == "__main__":
    main()
