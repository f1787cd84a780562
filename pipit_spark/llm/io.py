"""Corpus interchange for the LLM-data operators: Common Crawl WARC/WET
ingestion and the Arrow IPC training-loop hand-off.

Partitioning is the file sharding: ``binaryFile`` gives one row — one
task — per shard, and each shard parses in one Python pass inside
``mapInPandas``. Plain JSONL, ORC and partitioned-parquet corpora need
no wrapper here: ``spark.read``/``DataFrame.write`` with an explicit
schema already skip the inference pass.

No reference counterpart (pipit reads traces, not corpora); extends
SURVEY.md §7 step 9.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


# --------------------------------------------------------------------- #
# WARC / WET — Common Crawl ingestion
# --------------------------------------------------------------------- #
WET_SCHEMA = T.StructType(
    [
        T.StructField("warc_file", T.StringType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

WARC_SCHEMA = T.StructType(
    [
        T.StructField("warc_file", T.StringType()),
        T.StructField("record_id", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("http_content_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def _parse_warc_records(blob: bytes):
    """Yield (headers: dict, payload: bytes) per WARC/1.x record.

    WARC framing (ISO 28500): a ``WARC/1.x`` version line, CRLF header
    block terminated by an empty line, exactly ``Content-Length``
    payload bytes, then CRLF CRLF. A truncated trailing record (torn
    shard upload) stops the scan instead of raising — the records
    before it are good and the tail loss is the uploader's bug to fix.
    """
    pos = 0
    n = len(blob)
    while pos < n:
        # tolerate stray separators between records
        while pos < n and blob[pos : pos + 1] in (b"\r", b"\n"):
            pos += 1
        if not blob[pos : pos + 5] == b"WARC/":
            break
        hdr_end = blob.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            break
        headers = {}
        for line in blob[pos:hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            if _:
                headers[k.strip().decode("ascii", "replace").lower()] = (
                    v.strip().decode("utf-8", "replace")
                )
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            break
        body_start = hdr_end + 4
        if body_start + clen > n:
            break
        yield headers, blob[body_start : body_start + clen]
        pos = body_start + clen


def _maybe_gunzip(name: str, content: bytes) -> bytes:
    if name.endswith(".gz") or content[:2] == b"\x1f\x8b":
        import gzip

        return gzip.decompress(content)
    return content


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """Common Crawl WET ingestion: sharded ``*.warc.wet(.gz)`` files of
    ``conversion`` records (pre-extracted page text) → one row per page,
    ready for the documents pipeline (add ``doc_id`` via
    ``monotonically_increasing_id`` or a content fingerprint).

    Partitioning IS the file sharding: ``binaryFile`` gives one row —
    one task — per shard, exactly how Common Crawl distributes the
    corpus (~1 GB gzip segments, ~100k of them per crawl ≈ 100 TB), so
    a 1000-executor cluster reads 1000 shards at a time with zero
    shuffle. Parsing is one Python pass per shard inside mapInPandas
    (Arrow-batched, record framing is byte arithmetic, not regex).
    Memory envelope: whole-shard decompress, ~3× the .gz size — the
    same envelope any WARC tool (warcio et al.) needs per stream;
    Spark's binary source caps files at 2 GB which the CC segment
    convention (<1.2 GB) already satisfies.
    """
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            for fname, content in zip(pdf["path"], pdf["content"]):
                rows = []
                blob = _maybe_gunzip(fname, bytes(content))
                for h, body in _parse_warc_records(blob):
                    if h.get("warc-type") != "conversion":
                        continue
                    rows.append(
                        (
                            fname,
                            h.get("warc-record-id"),
                            h.get("warc-target-uri"),
                            h.get("warc-date"),
                            len(body),
                            body.decode("utf-8", "replace"),
                        )
                    )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in WET_SCHEMA.fields]
                )

    files = spark.read.format("binaryFile").load(path)
    return files.select("path", "content").mapInPandas(gen, WET_SCHEMA)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Raw WARC ingestion (``response`` records): one row per capture
    with the HTTP status/content-type split out and the body kept as an
    opaque ``binary`` payload — the multimodal-column convention
    (llm/multimodal.py): planning and filtering never decode the blob;
    downstream HTML→text / image decode runs in its own narrow pass.
    Same sharding/memory model as :func:`read_wet`.
    """
    import pandas as pd

    files = spark.read.format("binaryFile").load(path)

    def gen(batches):
        for pdf in batches:
            for fname, content in zip(pdf["path"], pdf["content"]):
                rows = []
                blob = _maybe_gunzip(fname, bytes(content))
                for h, body in _parse_warc_records(blob):
                    if h.get("warc-type") != "response":
                        continue
                    status, ctype, payload = None, None, body
                    split = body.find(b"\r\n\r\n")
                    first = body[: body.find(b"\r\n")]
                    if split >= 0 and first[:5] == b"HTTP/":
                        payload = body[split + 4 :]
                        parts = first.split(b" ")
                        if len(parts) >= 2 and parts[1].isdigit():
                            status = int(parts[1])
                        for line in body[:split].split(b"\r\n")[1:]:
                            k, _, v = line.partition(b":")
                            if k.strip().lower() == b"content-type":
                                ctype = v.strip().decode(
                                    "utf-8", "replace"
                                )
                    rows.append(
                        (
                            fname,
                            h.get("warc-record-id"),
                            h.get("warc-target-uri"),
                            h.get("warc-date"),
                            status,
                            ctype,
                            payload,
                            len(payload),
                        )
                    )
                yield pd.DataFrame(
                    rows, columns=[f.name for f in WARC_SCHEMA.fields]
                )

    return files.select("path", "content").mapInPandas(gen, WARC_SCHEMA)


def write_arrow_ipc(
    df: DataFrame, path: str, shards: int | None = None
) -> DataFrame:
    """Write the frame as sharded Arrow IPC (Feather V2) files — the
    zero-copy interchange format ML dataloaders mmap directly
    (PyTorch/JAX readers, DuckDB, polars all open it without a Spark
    runtime). One file per partition, written executor-side inside
    mapInPandas — no driver collect, no shuffle beyond the optional
    ``shards`` repartition; the returned manifest (one row per shard:
    path, rows, bytes) is the only thing that crosses to the driver.

    The parquet sinks stay the system of record; IPC is the
    training-loop hand-off (column-major, no decode on read)."""
    import os

    import pyarrow as pa
    import pyarrow.ipc as ipc

    os.makedirs(path, exist_ok=True)
    if shards is not None:
        df = df.repartition(shards)
    # the Arrow schema comes from the SPARK schema (an empty pandas
    # frame infers object/null types that from_pandas can't convert)
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(df.schema)

    def gen(batches):
        import uuid

        import pandas as pd

        pdfs = [p for p in batches if len(p)]
        fname = os.path.join(path, f"part-{uuid.uuid4().hex}.arrow")
        n = 0
        if pdfs:
            with ipc.new_file(fname, arrow_schema) as w:
                for p in pdfs:
                    t = pa.Table.from_pandas(
                        p, schema=arrow_schema, preserve_index=False
                    )
                    w.write_table(t)
                    n += len(p)
            yield pd.DataFrame(
                {
                    "shard": [fname],
                    "n_rows": [n],
                    "n_bytes": [os.path.getsize(fname)],
                }
            )

    out = df.mapInPandas(
        gen, "shard string, n_rows long, n_bytes long"
    )
    # materialize the writes NOW (the manifest is the action)
    manifest = out.collect()
    return df.sparkSession.createDataFrame(
        manifest, "shard string, n_rows long, n_bytes long"
    )


def read_arrow_ipc(spark: SparkSession, path: str) -> DataFrame:
    """Read sharded Arrow IPC files back into a DataFrame: one task
    per shard (the ``binaryFile`` convention of the WARC readers), the
    IPC payload decoded zero-copy by pyarrow inside mapInPandas.
    Schema comes from the first shard's embedded Arrow schema."""
    import glob as _glob

    import pyarrow.ipc as ipc

    first = sorted(_glob.glob(f"{path}/part-*.arrow"))
    if not first:
        raise FileNotFoundError(f"no part-*.arrow shards under {path}")
    from pyspark.sql.pandas.types import from_arrow_schema

    with ipc.open_file(first[0]) as r:
        schema = from_arrow_schema(r.schema)

    files = spark.read.format("binaryFile").load(f"{path}/part-*.arrow")

    def gen(batches):
        import io as _io

        for pdf in batches:
            for blob in pdf["content"]:
                with ipc.open_file(_io.BytesIO(bytes(blob))) as r:
                    yield r.read_all().to_pandas()

    return files.select("content").mapInPandas(gen, schema)
