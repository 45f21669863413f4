"""Row-level DELETE / UPDATE on batch-log tables (sinks.delete_rows /
update_rows) — the right-to-erasure and correction primitives.

Contract pinned here:
- only batches containing matching rows are rewritten (untouched
  batch dirs keep their mtime-identity: same files, same content);
- erasure semantics: deleted rows disappear from current reads AND
  from as-of reads (legal erase must not survive in time travel);
- SQL three-valued DELETE: predicate-NULL rows are kept;
- updates re-enter the door-level contract — an update violating a
  CHECK dies pre-publish with the table unchanged;
- a vacuum base's absorbed manifest survives its rewrite (else
  crashed-vacuum leftovers would resurrect);
- root-level snapshot tables refuse row rewrites (rebuild wholesale).
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
    shutil.rmtree(d, ignore_errors=True)


def _rec(day, device, status="ok"):
    ts = dt.datetime(2024, 3, day, 9)
    return (ts, device, ts, 30.0, 12.5, "standard", "vacuum", 0, status)


def _append(spark, warehouse, rows):
    df = spark.createDataFrame(rows, schemas.CLEANING_RECORDS)
    sinks.append_rows(df, warehouse, "cleaning_records")


def _snapshot(warehouse):
    """(batch dir -> sorted file list) for identity checks."""
    td = sinks.table_path(warehouse, "cleaning_records")
    return {
        b: sorted(os.listdir(os.path.join(td, b)))
        for b in sinks.list_batches(warehouse, "cleaning_records")
    }


def test_delete_erases_from_current_and_asof_reads(spark, warehouse):
    _append(spark, warehouse, [_rec(1, "robo-a"), _rec(1, "robo-b")])
    _append(spark, warehouse, [_rec(2, "robo-a"), _rec(2, "robo-c")])
    batches = sinks.list_batches(warehouse, "cleaning_records")
    first_ns = int(sinks._batch_ns_prefix(batches[0]))  # noqa: SLF001

    out = sinks.delete_rows(
        spark, warehouse, "cleaning_records", "device_name = 'robo-a'"
    )
    assert out == {"batches_rewritten": 2, "rows_deleted": 2}

    cur = sinks.read_table(spark, warehouse, "cleaning_records")
    assert cur.where("device_name = 'robo-a'").count() == 0
    assert cur.count() == 2  # robo-b, robo-c untouched
    # erasure: the as-of view of the FIRST batch also lacks robo-a
    asof = sinks.read_table_as_of(
        spark, warehouse, "cleaning_records", first_ns
    )
    assert asof.where("device_name = 'robo-a'").count() == 0
    assert asof.count() == 1
    # batch log structure unchanged: same LOGICAL ids, still 2 live
    # batches (layout v2 republishes rewritten batches under .rw
    # versioned physical names; the rename layout keeps names — both
    # preserve batch_fold_id)
    assert [
        sinks.batch_fold_id(b)
        for b in sinks.list_batches(warehouse, "cleaning_records")
    ] == batches


def test_delete_rewrites_only_matching_batches(spark, warehouse):
    _append(spark, warehouse, [_rec(1, "robo-a")])
    _append(spark, warehouse, [_rec(2, "robo-b")])
    before = _snapshot(warehouse)
    out = sinks.delete_rows(
        spark, warehouse, "cleaning_records", "device_name = 'robo-b'"
    )
    assert out["batches_rewritten"] == 1
    after = _snapshot(warehouse)
    after_by_id = {sinks.batch_fold_id(b): (b, f) for b, f in after.items()}
    # the robo-a batch kept its exact NAME and files; the robo-b one
    # was rewritten (same fold id, possibly a .rw-versioned name)
    untouched = [
        b
        for b in before
        if after_by_id[sinks.batch_fold_id(b)] == (b, before[b])
    ]
    assert len(untouched) == 1


def test_delete_null_predicate_rows_are_kept(spark, warehouse):
    _append(spark, warehouse, [_rec(1, "robo-a", status=None),
                               _rec(1, "robo-b", status="bad")])
    out = sinks.delete_rows(
        spark, warehouse, "cleaning_records", "task_status = 'bad'"
    )
    assert out["rows_deleted"] == 1
    left = sinks.read_table(spark, warehouse, "cleaning_records").collect()
    assert len(left) == 1 and left[0]["device_name"] == "robo-a"


def test_delete_noop_when_nothing_matches(spark, warehouse):
    _append(spark, warehouse, [_rec(1, "robo-a")])
    before = _snapshot(warehouse)
    out = sinks.delete_rows(
        spark, warehouse, "cleaning_records", "device_name = 'ghost'"
    )
    assert out == {"batches_rewritten": 0, "rows_deleted": 0}
    assert _snapshot(warehouse) == before


def test_delete_entire_batch_leaves_empty_readable_batch(spark, warehouse):
    _append(spark, warehouse, [_rec(1, "robo-a")])
    _append(spark, warehouse, [_rec(2, "robo-b")])
    sinks.delete_rows(
        spark, warehouse, "cleaning_records", "device_name = 'robo-a'"
    )
    assert len(sinks.list_batches(warehouse, "cleaning_records")) == 2
    assert sinks.read_table(spark, warehouse, "cleaning_records").count() == 1


def test_delete_from_vacuum_base_preserves_absorbed_manifest(spark, warehouse):
    _append(spark, warehouse, [_rec(1, "robo-a")])
    _append(spark, warehouse, [_rec(2, "robo-b")])
    sinks.vacuum_table(spark, warehouse, "cleaning_records", 0)
    base = sinks.list_batches(warehouse, "cleaning_records")[0]
    assert base.endswith(sinks.VACUUM_BASE_SUFFIX)
    sinks.delete_rows(
        spark, warehouse, "cleaning_records", "device_name = 'robo-a'"
    )
    td = sinks.table_path(warehouse, "cleaning_records")
    live_base = sinks.list_batches(warehouse, "cleaning_records")[0]
    assert live_base.endswith(sinks.VACUUM_BASE_SUFFIX)
    assert sinks.batch_fold_id(live_base) == base
    assert os.path.exists(
        os.path.join(td, live_base, sinks.ABSORBED_MANIFEST)
    )
    assert sinks.read_table(spark, warehouse, "cleaning_records").count() == 1


def test_update_applies_assignments_and_reenforces_checks(spark, warehouse):
    _append(spark, warehouse, [_rec(1, "robo-a"), _rec(1, "robo-b")])
    out = sinks.update_rows(
        spark, warehouse, "cleaning_records",
        "device_name = 'robo-a'",
        {"area_sqm": "area_sqm * 2", "task_status": "'corrected'"},
    )
    assert out == {"batches_rewritten": 1, "rows_updated": 1}
    rows = {
        r["device_name"]: r
        for r in sinks.read_table(
            spark, warehouse, "cleaning_records"
        ).collect()
    }
    assert rows["robo-a"]["area_sqm"] == 25.0
    assert rows["robo-a"]["task_status"] == "corrected"
    assert rows["robo-b"]["area_sqm"] == 12.5  # untouched passes through

    # a CHECK-violating update dies pre-publish, table unchanged
    sinks.add_table_constraint(
        warehouse, "cleaning_records", "area_nonneg", "area_sqm >= 0"
    )
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as exc:
        sinks.update_rows(
            spark, warehouse, "cleaning_records",
            "device_name = 'robo-b'", {"area_sqm": "-1.0"},
        )
    assert isinstance(exc.value, Py4JJavaError) or "area_nonneg" in str(
        exc.value
    )
    rows2 = {
        r["device_name"]: r["area_sqm"]
        for r in sinks.read_table(
            spark, warehouse, "cleaning_records"
        ).collect()
    }
    assert rows2 == {"robo-a": 25.0, "robo-b": 12.5}


def test_update_unknown_column_refused(spark, warehouse):
    _append(spark, warehouse, [_rec(1, "robo-a")])
    with pytest.raises(ValueError, match="unknown columns"):
        sinks.update_rows(
            spark, warehouse, "cleaning_records", "1=1", {"nope": "1"}
        )


def test_rowops_refuse_root_level_snapshot_tables(spark, warehouse):
    df = spark.createDataFrame(
        [("2024-03-01", 1, 12.5, 30, 12.5, 30.0)],
        sinks.WAREHOUSE_TABLES["daily_summary"],
    )
    sinks.overwrite_rows(df, warehouse, "daily_summary")
    with pytest.raises(ValueError, match="snapshot"):
        sinks.delete_rows(
            spark, warehouse, "daily_summary", "date = '2024-03-01'"
        )


def test_concurrent_rowop_raises_under_lease(spark, warehouse):
    _append(spark, warehouse, [_rec(1, "robo-a")])
    from roborock_data_pipeline_spark.operators.index_segments import (
        ConcurrentWriterError,
    )

    with sinks.writer_lock(warehouse, "cleaning_records"):
        with pytest.raises(ConcurrentWriterError):
            sinks.delete_rows(
                spark, warehouse, "cleaning_records", "1=1"
            )


# --- MERGE INTO (upsert) --------------------------------------------


def test_merge_updates_matched_and_inserts_unmatched(spark, warehouse):
    _append(spark, warehouse, [_rec(1, "robo-a"), _rec(1, "robo-b")])
    out = sinks.merge_rows(
        spark, warehouse, "cleaning_records",
        spark.createDataFrame(
            [_rec(5, "robo-a", status="merged"), _rec(5, "robo-new")],
            schemas.CLEANING_RECORDS,
        ),
        on=["device_name"],
    )
    assert out["rows_updated"] == 1 and out["rows_inserted"] == 1
    assert out["batches_rewritten"] == 1
    rows = {
        r["device_name"]: r
        for r in sinks.read_table(
            spark, warehouse, "cleaning_records"
        ).collect()
    }
    assert set(rows) == {"robo-a", "robo-b", "robo-new"}
    assert rows["robo-a"]["task_status"] == "merged"
    # matched row took the SOURCE's non-key values (timestamp day 5)
    assert rows["robo-a"]["start_time"].day == 5
    assert rows["robo-b"]["task_status"] == "ok"  # untouched
    # the insert is an ordinary publish: one new live batch beyond
    # the (rewritten-in-place) seed batch
    assert len(sinks.list_batches(warehouse, "cleaning_records")) == 2


def test_merge_rerun_is_idempotent(spark, warehouse):
    _append(spark, warehouse, [_rec(1, "robo-a")])
    src = spark.createDataFrame(
        [_rec(5, "robo-a", status="v2"), _rec(5, "robo-new")],
        schemas.CLEANING_RECORDS,
    )
    sinks.merge_rows(spark, warehouse, "cleaning_records", src,
                     on=["device_name"])
    out2 = sinks.merge_rows(spark, warehouse, "cleaning_records", src,
                            on=["device_name"])
    # second run: both keys now match -> updates only, no insert
    assert out2["rows_inserted"] == 0 and out2["rows_updated"] == 2
    t = sinks.read_table(spark, warehouse, "cleaning_records")
    assert t.count() == 2  # no duplicate robo-new


def test_merge_refuses_duplicate_source_keys(spark, warehouse):
    _append(spark, warehouse, [_rec(1, "robo-a")])
    src = spark.createDataFrame(
        [_rec(5, "robo-a"), _rec(6, "robo-a")], schemas.CLEANING_RECORDS
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        sinks.merge_rows(spark, warehouse, "cleaning_records", src,
                         on=["device_name"])


def test_merge_unknown_key_refused(spark, warehouse):
    src = spark.createDataFrame([_rec(1, "x")], schemas.CLEANING_RECORDS)
    with pytest.raises(ValueError, match="merge keys"):
        sinks.merge_rows(spark, warehouse, "cleaning_records", src,
                         on=["nope"])


def test_merge_insert_half_can_be_disabled(spark, warehouse):
    _append(spark, warehouse, [_rec(1, "robo-a")])
    src = spark.createDataFrame(
        [_rec(5, "robo-a", status="v2"), _rec(5, "robo-ghost")],
        schemas.CLEANING_RECORDS,
    )
    out = sinks.merge_rows(spark, warehouse, "cleaning_records", src,
                           on=["device_name"], insert_unmatched=False)
    assert out["rows_inserted"] == 0 and out["rows_updated"] == 1
    t = sinks.read_table(spark, warehouse, "cleaning_records")
    assert t.count() == 1
    assert t.collect()[0]["task_status"] == "v2"


def test_stray_partition_dirname_does_not_block_dml(spark, warehouse):
    """r10 (advisor): layout detection is decided from the
    AUTHORITATIVE signals (manifest layout / _partitions.json), not
    by scanning dirnames for '=' — a stray key=value directory inside
    a normal batch-log table must not permanently block the
    right-to-erasure path."""
    _append(spark, warehouse, [_rec(1, "dev-a"), _rec(2, "dev-b")])
    td = sinks.table_path(warehouse, "cleaning_records")
    os.makedirs(os.path.join(td, "stray=debris"))
    out = sinks.delete_rows(
        spark, warehouse, "cleaning_records", "device_name = 'dev-a'"
    )
    assert out["rows_deleted"] == 1
    left = sinks.read_table(spark, warehouse, "cleaning_records")
    assert [r["device_name"] for r in left.collect()] == ["dev-b"]


def test_partition_layout_refused_via_declared_manifest(spark, warehouse):
    """overwrite_partitions declares its layout in the schema
    manifest; DML refuses on that authoritative signal (and the
    _partitions.json it commits), no dirname heuristics involved."""
    df = spark.createDataFrame(
        [("2024-03-01", "dev-a", 1)], "date string, device_id string, n int"
    )
    sinks.overwrite_partitions(df, warehouse, "daily_summary", ["date"])
    assert (
        sinks._manifest(warehouse, "daily_summary").get("layout")
        == "partition-overwrite"
    )
    with pytest.raises(ValueError, match="partition-overwrite"):
        sinks.delete_rows(
            spark, warehouse, "daily_summary", "device_id = 'dev-a'"
        )


def test_legacy_partition_dirs_without_batches_still_refused(spark, warehouse):
    """Data under bare key=value dirs with no _partitions.json and no
    batch log is the retired pre-manifest gold layout: DML refuses it
    rather than silently erasing nothing."""
    td = sinks.table_path(warehouse, "daily_summary")
    leaf = os.path.join(td, "date=2024-03-01")
    os.makedirs(leaf, exist_ok=True)
    spark.createDataFrame(
        [("dev-a", 1)], "device_id string, n int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(td, ".tmp-legacy")
    )
    for f in os.listdir(os.path.join(td, ".tmp-legacy")):
        if f.endswith(".parquet"):
            os.replace(
                os.path.join(td, ".tmp-legacy", f), os.path.join(leaf, f)
            )
    shutil.rmtree(os.path.join(td, ".tmp-legacy"), ignore_errors=True)
    with pytest.raises(ValueError, match="retired pre-manifest layout"):
        sinks.delete_rows(
            spark, warehouse, "daily_summary", "device_id = 'dev-a'"
        )


def test_first_conversion_crash_leaves_no_layout_stamp(
    spark, warehouse, monkeypatch
):
    """r11 (ADVICE): the layout marker is stamped AFTER the
    _partitions.json commit point. A crash/fence in the commit window
    of a FIRST-TIME conversion must leave the table un-stamped (no
    persistent 'partition-overwrite' marker on a table whose
    conversion never committed); a rerun then converges to a fully
    stamped, pointer-committed table."""
    df = spark.createDataFrame(
        [("2024-03-01", "dev-a", 1)], "date string, device_id string, n int"
    )

    def _boom():
        raise sinks.FencedWriterError("simulated fence at commit point")

    monkeypatch.setattr(sinks, "_check_fence", _boom)
    with pytest.raises(sinks.FencedWriterError):
        sinks.overwrite_partitions(df, warehouse, "daily_summary", ["date"])
    # neither commit artifact exists: the table never converted
    assert sinks._manifest(warehouse, "daily_summary").get("layout") is None
    assert not os.path.exists(
        os.path.join(
            sinks.table_path(warehouse, "daily_summary"),
            sinks.PARTITIONS_MANIFEST,
        )
    )
    monkeypatch.undo()
    sinks.overwrite_partitions(df, warehouse, "daily_summary", ["date"])
    assert (
        sinks._manifest(warehouse, "daily_summary").get("layout")
        == "partition-overwrite"
    )
    got = sinks.read_partitioned(spark, warehouse, "daily_summary")
    assert got.count() == 1


def test_overwrite_partitions_refuses_batch_log_table(spark, warehouse):
    """r10 review: a mistaken overwrite_partitions on a batch-log
    table must refuse up front — not stamp the partition layout onto
    it and permanently brick its DML/erasure path."""
    _append(spark, warehouse, [_rec(1, "dev-a")])
    df = spark.createDataFrame(
        [("2024-03-01", 1)], "date string, n int"
    )
    with pytest.raises(ValueError, match="batch-log"):
        sinks.overwrite_partitions(
            df, warehouse, "cleaning_records", ["date"]
        )
    # no layout marker leaked; DML still works
    assert sinks._manifest(warehouse, "cleaning_records").get("layout") is None
    out = sinks.delete_rows(
        spark, warehouse, "cleaning_records", "device_name = 'dev-a'"
    )
    assert out["rows_deleted"] == 1


def test_legacy_partition_data_with_stray_batch_still_refused(
    spark, warehouse
):
    """r10 review: a retired partitioned table (data under date=X, no
    manifests) that also grew a stray batch dir must STILL refuse row
    DML — the partition files would be silently skipped otherwise.
    Conversely an EMPTY key=value dir keeps not blocking (covered by
    test_stray_partition_dirname_does_not_block_dml)."""
    td = sinks.table_path(warehouse, "daily_summary")
    leaf = os.path.join(td, "date=2024-03-01")
    os.makedirs(leaf, exist_ok=True)
    spark.createDataFrame(
        [("dev-a", 1)], "device_id string, n int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(td, ".tmp-leg2")
    )
    for f in os.listdir(os.path.join(td, ".tmp-leg2")):
        if f.endswith(".parquet"):
            os.replace(
                os.path.join(td, ".tmp-leg2", f), os.path.join(leaf, f)
            )
    shutil.rmtree(os.path.join(td, ".tmp-leg2"), ignore_errors=True)
    os.makedirs(os.path.join(td, "batch-00000000000000000001-x"), exist_ok=True)
    with pytest.raises(ValueError, match="retired pre-manifest layout"):
        sinks.delete_rows(
            spark, warehouse, "daily_summary", "device_id = 'dev-a'"
        )
