"""OTF2 (Score-P) source (reference pipit/readers/otf2_reader.py, 524 LoC).

There is no Spark-native OTF2 connector, so ingestion is a distributed
job: the definitions registry is read on the driver (small — 533 rows in
the reference's test trace), the location list is parallelized and each
executor task re-opens the trace with the ``otf2`` python library and
reads its block of locations (exactly the reference's multiprocessing
fan-out, otf2_reader.py:144-191,436-452, but across executors). Clock
normalization (subtract ``global_offset``, scale by ``timer_resolution``,
otf2_reader.py:459-471) is plain column arithmetic.

The ``otf2`` package is an optional dependency (not bundled here); when
it is missing and the native parser fails, the native error propagates
with a note on the offline-convert path (run this module as a script
where otf2 IS installed, write canonical Parquet, then
``Trace.from_parquet``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import schema as S


def read_otf2(
    spark: SparkSession,
    dirname: str,
    order: str = "trace",
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Primary path: the self-contained native binary parser
    (otf2_native.py, golden-tested against the reference's ping-pong
    trace); ``order`` is its frame order ("trace" or "process", see
    :func:`read_otf2_native`). The ``otf2``-library path remains as a
    fallback for archive features the native grammar doesn't cover yet
    (e.g. substream mapping tables), sized by ``num_partitions``. When
    the ``otf2`` package is not importable, the native reader's own
    error (a missing archive's ``FileNotFoundError``, a bad ``order``'s
    ``ValueError``) propagates unchanged."""
    from .otf2_native import read_otf2_native

    if order not in ("trace", "process"):
        raise ValueError(f"order must be 'trace' or 'process', got {order!r}")
    try:
        return read_otf2_native(spark, dirname, order=order)
    except Exception as native_error:
        try:
            import otf2  # noqa: F401
        except ImportError:
            native_error.add_note(
                "the 'otf2' python package fallback is unavailable (the "
                "reference hard-requires it, pipit/readers/otf2_reader.py:6); "
                "alternatively convert offline to canonical Parquet and "
                "use Trace.from_parquet()"
            )
            raise native_error from None
        events, definitions = _read_with_otf2(spark, dirname, num_partitions)
        if order == "trace":
            events = events.orderBy(S.TIMESTAMP, S.SEQ)
        return events, definitions


def _read_with_otf2(spark, dirname, num_partitions):  # pragma: no cover
    import otf2
    import pandas as pd

    anchor = f"{dirname}/traces.otf2"

    # driver: definitions + location list + clock properties
    with otf2.reader.open(anchor) as tr:
        locations = [loc._ref for loc in tr.definitions.locations]
        clock = tr.definitions.clock_properties
        offset, resolution = clock.global_offset, clock.timer_resolution
        def_rows = []
        for attr in ("regions", "strings", "locations", "location_groups"):
            for d in getattr(tr.definitions, attr, []):
                def_rows.append((type(d).__name__, getattr(d, "_ref", None), {}))

    definitions = spark.createDataFrame(
        pd.DataFrame(def_rows, columns=["def_type", "id", "attributes"]),
        schema=S.DEFINITIONS_SCHEMA,
    )

    n_part = num_partitions or max(1, len(locations))
    loc_rdd = spark.sparkContext.parallelize(locations, n_part)

    def read_block(locs):
        import otf2 as _otf2

        rows = []
        locs = list(locs)
        if not locs:
            return iter([])
        with _otf2.reader.open(anchor) as tr2:
            wanted = [
                loc for loc in tr2.definitions.locations if loc._ref in set(locs)
            ]
            seq = 0
            for location, event in tr2.events(*wanted):
                etype = type(event).__name__
                if etype == "Enter":
                    ev, name = "Enter", event.region.name
                elif etype == "Leave":
                    ev, name = "Leave", event.region.name
                else:
                    ev, name = "Instant", etype
                ts = (event.time - offset) * 1_000_000_000 // resolution
                attrs = {}
                for k, v in (getattr(event, "attributes", None) or {}).items():
                    attrs[getattr(k, "name", str(k))] = str(v)
                proc = location.group._ref
                thread = location._ref
                rows.append(
                    (
                        (proc << 40) | seq, int(ts), seq, ev, name,
                        int(proc), int(thread), attrs or None,
                    )
                )
                seq += 1
        return iter(rows)

    events = spark.createDataFrame(loc_rdd.mapPartitions(read_block), S.EVENT_SCHEMA)
    return events, definitions
