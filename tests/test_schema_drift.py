"""Catalog-wide schema-drift tolerance (queries._canonicalize).

The r02 fixture regeneration proved that one physical-type drift can
zero out half the gate board.  ``load()`` now normalizes every table to
one canonical logical schema; this test rewrites sf0.001 with
aggressively drifted physical types — DATE / ISO-string calendar
columns, float32 / decimal numerics, int32 keys, struct-typed props,
float64 embeddings — and asserts representative gate queries return
byte-identical results against both directories.
"""

import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from pipit_spark import queries as Q

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _drift_orders(tbl: pa.Table) -> pa.Table:
    # timestamp[us] → date32 (the generator's dates are midnight-aligned)
    i = tbl.schema.get_field_index("o_orderdate")
    dates = tbl.column("o_orderdate").cast(pa.date32())
    tbl = tbl.set_column(i, "o_orderdate", dates)
    i = tbl.schema.get_field_index("o_custkey")
    tbl = tbl.set_column(
        i, "o_custkey", tbl.column("o_custkey").cast(pa.int32())
    )
    return tbl


def _drift_lineitem(tbl: pa.Table) -> pa.Table:
    # timestamp[us] → ISO string; double → float32 for exact-in-f32 cols
    i = tbl.schema.get_field_index("l_shipdate")
    iso = pc.strftime(tbl.column("l_shipdate"), format="%Y-%m-%d %H:%M:%S")
    tbl = tbl.set_column(i, "l_shipdate", iso)
    for c in ("l_discount", "l_tax"):  # 2-decimal values, exact in f32
        i = tbl.schema.get_field_index(c)
        tbl = tbl.set_column(i, c, tbl.column(c).cast(pa.float32()))
    return tbl


def _drift_events(tbl: pa.Table) -> pa.Table:
    # ts → ISO string; user_id → int32; props JSON-string → struct
    i = tbl.schema.get_field_index("ts")
    # pyarrow's %S already prints fractional seconds for sub-second units
    iso = pc.strftime(tbl.column("ts"), format="%Y-%m-%d %H:%M:%S")
    tbl = tbl.set_column(i, "ts", iso)
    i = tbl.schema.get_field_index("user_id")
    tbl = tbl.set_column(i, "user_id", tbl.column("user_id").cast(pa.int32()))
    import json

    props = [json.loads(v) if v else None for v in tbl.column("props").to_pylist()]
    keys = sorted({k for p in props if p for k in p})
    struct = pa.array(
        [{k: p.get(k) for k in keys} if p else None for p in props]
    )
    i = tbl.schema.get_field_index("props")
    return tbl.set_column(i, "props", struct)


def _drift_documents(tbl: pa.Table) -> pa.Table:
    for c, t in (("doc_id", pa.int32()), ("n_chars", pa.int32())):
        i = tbl.schema.get_field_index(c)
        tbl = tbl.set_column(i, c, tbl.column(c).cast(t))
    i = tbl.schema.get_field_index("text")
    tbl = tbl.set_column(i, "text", tbl.column("text").cast(pa.large_string()))
    return tbl


def _drift_embeddings(tbl: pa.Table) -> pa.Table:
    i = tbl.schema.get_field_index("embedding")
    f64 = tbl.column("embedding").cast(pa.list_(pa.float64()))
    tbl = tbl.set_column(i, "embedding", f64)
    i = tbl.schema.get_field_index("vec_id")
    return tbl.set_column(i, "vec_id", tbl.column("vec_id").cast(pa.int32()))


_DRIFTERS = {
    "orders": _drift_orders,
    "lineitem": _drift_lineitem,
    "events": _drift_events,
    "documents": _drift_documents,
    "embeddings": _drift_embeddings,
}


@pytest.fixture(scope="module")
def drifted_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("drifted_sf")
    for t in TABLES:
        src = f"{SF}/{t}.parquet"
        drift = _DRIFTERS.get(t)
        if drift is None:
            shutil.copy(src, d / f"{t}.parquet")
        else:
            pq.write_table(drift(pq.read_table(src)), d / f"{t}.parquet")
    return str(d)


# one gate per drift class: calendar filters + joins (q3), float32
# numerics (q1), string-ts trace derivation + props extraction
# (match_inc), int32 doc ids through the dedup groupBy, f64 embeddings
# through the HOF dot product, struct props through get_json_object
GATES = [
    "q3_shipping_priority",
    "q1_pricing_summary",
    "trace_match_inc",
    "doc_exact_dedup",
    "emb_cosine_topk",
    "events_props_stats",
]


@pytest.mark.parametrize("gate", GATES)
def test_drifted_fixture_identical(spark, drifted_dir, gate):
    q = Q.queries()[gate]
    Q.clear_state(spark)
    want = sorted(map(str, q(spark, SF).collect()))
    Q.clear_state(spark)
    got = sorted(map(str, q(spark, drifted_dir).collect()))
    Q.clear_state(spark)
    assert got == want


def test_canonicalize_noop_on_canonical_schema(spark):
    """When nothing drifted, load() must add NO Cast/Project noise —
    the analyzed plan is the bare parquet relation."""
    df = Q.load(spark, SF, "lineitem")
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "cast(" not in plan.lower()


def test_gates_survive_non_utc_session(spark):
    """The driver may hand the engine a session whose default TZ is not
    UTC; load() pins UTC so timestamp gates still match the TZ-less
    DuckDB oracles."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        Q.clear_state(spark)
        got = sorted(
            map(str, Q.queries()["trace_match_inc"](spark, SF).collect())
        )
        q3 = sorted(
            map(str, Q.queries()["q3_shipping_priority"](spark, SF).collect())
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
        Q.clear_state(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    Q.clear_state(spark)
    want = sorted(
        map(str, Q.queries()["trace_match_inc"](spark, SF).collect())
    )
    q3_want = sorted(
        map(str, Q.queries()["q3_shipping_priority"](spark, SF).collect())
    )
    Q.clear_state(spark)
    assert got == want and q3 == q3_want


def test_load_repins_nanos_conf_on_memo_hit(spark):
    """load("events") pins the nanosAsLong conf beside the session time
    zone on every call: a memo hit after the conf was flipped re-pins
    it, because the pin governs later query execution."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    Q.clear_state(spark)
    a = Q.load(spark, SF, "events")
    spark.conf.set(key, "false")
    b = Q.load(spark, SF, "events")
    assert b is a
    assert spark.conf.get(key) == "true"


def test_load_memo_hit_stays_in_the_callers_session(spark):
    """spark.newSession() shares the applicationId that keys the load()
    memo; a hit must not hand back a frame bound to the other session.
    The second session gets its own frame, which replaces the entry."""
    Q.clear_state(spark)
    other = spark.newSession()
    try:
        a = Q.load(spark, SF, "events")
        b = Q.load(other, SF, "events")
        assert a.sparkSession._jsparkSession.equals(spark._jsparkSession)
        assert b.sparkSession._jsparkSession.equals(other._jsparkSession)
        assert Q.load(other, SF, "events") is b
        assert b.count() == a.count()
    finally:
        Q.clear_state(spark)
