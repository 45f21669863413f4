"""Fresh-resolving SQL views (VERDICT r6 #2 / r7 missing #2).

The old temp views pinned the parquet file index at registration, so
a ``spark.sql`` user silently read pre-append data until
re-registering. The views now sit on the ``roborock_warehouse``
Python Data Source (sources/warehouse_ds.py), whose read lists live
batch dirs at EXECUTION time: appends are visible to the NEXT query,
no re-registration — with the same read set (the committed batch
manifest) and migration resolution (evolved nulls, widened types,
renamed columns) as read_table.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from roborock_data_pipeline_spark import schemas
from roborock_data_pipeline_spark.sources import sinks


@pytest.fixture()
def warehouse(spark):
    d = tempfile.mkdtemp()
    sinks.setup_warehouse(spark, d)
    yield d
    for name in sinks.WAREHOUSE_TABLES:
        try:
            spark.catalog.dropTempView(name)
        except Exception:  # noqa: BLE001 - not registered
            pass
    shutil.rmtree(d, ignore_errors=True)


def _rec(day, hour=9, device="dev-a", area=10.0, err=0):
    ts = dt.datetime(2024, 3, day, hour)
    return (ts, device, ts, 30.0, area, "standard", "vacuum", err, "ok")


def _append(spark, warehouse, rows, schema=None):
    df = spark.createDataFrame(rows, schema or schemas.CLEANING_RECORDS)
    sinks.append_rows(df, warehouse, "cleaning_records")


def test_views_see_appends_without_reregistration(spark, warehouse):
    """THE acceptance criterion: append after registration →
    spark.sql immediately sees the new rows."""
    _append(spark, warehouse, [_rec(1)])
    sinks.register_warehouse_views(spark, warehouse)
    q = "SELECT COUNT(*) AS n FROM cleaning_records"
    assert spark.sql(q).collect()[0]["n"] == 1
    _append(spark, warehouse, [_rec(2), _rec(3)])
    assert spark.sql(q).collect()[0]["n"] == 3  # no re-register
    _append(spark, warehouse, [_rec(4)])
    assert spark.sql(q).collect()[0]["n"] == 4


def test_view_values_roundtrip_exactly(spark, warehouse):
    """The Arrow path must carry values byte-true vs the native scan:
    timestamps (µs instants), doubles, ints, strings, nulls."""
    _append(spark, warehouse, [_rec(1, area=12.25), _rec(2, err=7)])
    sinks.register_warehouse_views(spark, warehouse)
    native = {
        tuple(r)
        for r in sinks.read_table(
            spark, warehouse, "cleaning_records"
        ).collect()
    }
    via_sql = {
        tuple(r) for r in spark.sql("SELECT * FROM cleaning_records").collect()
    }
    assert via_sql == native and native


def test_view_ignores_vacuum_crash_leftovers(spark, warehouse):
    """Crash-consistency parity with read_table: absorbed leftover
    dirs are not double-counted by the SQL surface either."""
    for day in (1, 2):
        _append(spark, warehouse, [_rec(day)])
    sinks.register_warehouse_views(spark, warehouse)
    orig = shutil.rmtree
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(
            sinks.shutil,
            "rmtree",
            lambda p, **kw: None
            if f"{os.sep}batch-" in p
            else orig(p, **kw),
        )
        sinks.vacuum_table(spark, warehouse, "cleaning_records", 0)
    table_dir = sinks.table_path(warehouse, "cleaning_records")
    assert (
        len([d for d in os.listdir(table_dir) if d.startswith("batch-")]) == 3
    )  # base + 2 leftovers on disk
    n = spark.sql("SELECT COUNT(*) AS n FROM cleaning_records").collect()[0]["n"]
    assert n == 2  # exact, not 4


def test_view_reads_the_same_files_as_read_table(spark, warehouse):
    """The view's read set is read_table's: the manifest's live
    batches. A part file planted at the table root holds rows, but no
    manifest names it, so neither surface counts them."""
    _append(spark, warehouse, [_rec(1), _rec(2)])
    table_dir = sinks.table_path(warehouse, "cleaning_records")
    src = os.path.join(warehouse, "planted")
    spark.createDataFrame(
        [_rec(3), _rec(4), _rec(5)], schemas.CLEANING_RECORDS
    ).coalesce(1).write.parquet(src)
    for f in os.listdir(src):
        if f.endswith(".parquet"):
            shutil.move(os.path.join(src, f), os.path.join(table_dir, f))
    sinks.register_warehouse_views(spark, warehouse)
    n = spark.sql("SELECT COUNT(*) AS n FROM cleaning_records").collect()[0]["n"]
    assert n == sinks.read_table(spark, warehouse, "cleaning_records").count()
    assert n == 2


def test_view_filter_pushdown_correct(spark, warehouse):
    """Pushed predicates (the pyarrow row-group path) must return
    exactly what Spark-side filtering returns; temporal filters are
    declined and evaluated by Spark — both stay correct."""
    _append(spark, warehouse, [_rec(d, device=f"dev-{d % 3}") for d in range(1, 11)])
    sinks.register_warehouse_views(spark, warehouse)
    got = spark.sql(
        "SELECT device_name, COUNT(*) AS n FROM cleaning_records "
        "WHERE device_name = 'dev-1' AND error_code >= 0 "
        "GROUP BY device_name"
    ).collect()
    assert [(r["device_name"], r["n"]) for r in got] == [("dev-1", 4)]
    ts_filtered = spark.sql(
        "SELECT COUNT(*) AS n FROM cleaning_records "
        "WHERE start_time >= timestamp'2024-03-05 00:00:00'"
    ).collect()[0]["n"]
    assert ts_filtered == 6


def test_view_resolves_migrations_after_reregistration(spark, warehouse):
    """Schema migrations are the one event that still needs a
    re-register (views are typed); after it, mixed history resolves:
    pre-evolution batches null, renamed columns coalesced, widened
    types promoted."""
    from pyspark.sql import types as T

    _append(spark, warehouse, [_rec(1, area=11.0, err=3)])
    sinks.widen_table_column(
        warehouse, "cleaning_records", "error_code", T.LongType()
    )
    sinks.rename_table_column(
        warehouse, "cleaning_records", "area_sqm", "area_m2"
    )
    sinks.add_table_column(
        warehouse,
        "cleaning_records",
        T.StructField("firmware", T.StringType(), True),
    )
    migrated = T.StructType(
        [
            T.StructField("timestamp", T.TimestampType(), False),
            T.StructField("device_name", T.StringType(), False),
            T.StructField("start_time", T.TimestampType(), False),
            T.StructField("duration_minutes", T.DoubleType(), True),
            T.StructField("area_m2", T.DoubleType(), True),
            T.StructField("clean_mode", T.StringType(), True),
            T.StructField("clean_way", T.StringType(), True),
            T.StructField("error_code", T.LongType(), True),
            T.StructField("task_status", T.StringType(), True),
            T.StructField("firmware", T.StringType(), True),
        ]
    )
    ts = dt.datetime(2024, 3, 2, 9)
    _append(
        spark,
        warehouse,
        [(ts, "dev-a", ts, 30.0, 22.0, "s", "v", 2**40, "ok", "fw9")],
        migrated,
    )
    sinks.register_warehouse_views(spark, warehouse)
    rows = spark.sql(
        "SELECT area_m2, error_code, firmware FROM cleaning_records "
        "ORDER BY start_time"
    ).collect()
    assert [(r["area_m2"], r["error_code"], r["firmware"]) for r in rows] == [
        (11.0, 3, None),
        (22.0, 2**40, "fw9"),
    ]


def test_view_groupby_join_shapes(spark, warehouse):
    """The SQL surface composes: grouped aggregates and joins across
    two warehouse views produce the same answers as the native path."""
    _append(
        spark,
        warehouse,
        [_rec(d, device=f"dev-{d % 2}", area=float(d)) for d in range(1, 7)],
    )
    sinks.register_warehouse_views(spark, warehouse)
    got = {
        (r["device_name"], r["n"], r["total_area"])
        for r in spark.sql(
            "SELECT device_name, COUNT(*) AS n, SUM(area_m2) AS total_area "
            "FROM (SELECT device_name, area_sqm AS area_m2 "
            "      FROM cleaning_records) "
            "GROUP BY device_name"
        ).collect()
    }
    native = {
        (r["device_name"], r["n"], r["total_area"])
        for r in sinks.read_table(spark, warehouse, "cleaning_records")
        .groupBy("device_name")
        .agg(F.count("*").alias("n"), F.sum("area_sqm").alias("total_area"))
        .collect()
    }
    assert got == native and len(got) == 2
