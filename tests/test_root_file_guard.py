"""Root-file guard: a table with no ``_batches.json`` whose dir
holds part files at its root (the retired plain-parquet layout),
alone or next to batch dirs, is refused by every reader and mutator —
never read as empty, never committed over. A freshly provisioned
table holds no part files, and a table provisioned by an older
empty-DataFrame write holds only 0-row ones, so neither trips it.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import Row

from roborock_data_pipeline_spark.sources import sinks

pytestmark = pytest.mark.local_fs_only(
    "plain-parquet root-file layout (pre-r11) is a local-FS artifact "
    "constructed by planting part files in the table dir"
)

NAME = "cleaning_records"


def _mk(spark, i: int, n: int = 1):
    rows = [
        Row(
            timestamp=dt.datetime(2025, 1, 1, i % 24, j % 60),
            device_name=f"d{(i + j) % 3}",
            start_time=dt.datetime(2025, 1, 1, i % 24, j % 60),
            duration_minutes=float(i),
            area_sqm=float(i * 10 + j),
            clean_mode="auto",
            clean_way="std",
            error_code=None,
            task_status="ok",
        )
        for j in range(n)
    ]
    return spark.createDataFrame(
        rows, schema=sinks.WAREHOUSE_TABLES[NAME]
    )


@pytest.fixture()
def wh(tmp_path, spark):
    w = str(tmp_path / "wh")
    sinks.setup_warehouse(spark, w)
    return w


def _plant_root_rows(spark, wh, i: int = 1, n: int = 5) -> None:
    """Fabricate the pre-r11 plain-parquet layout: data-bearing part
    files at the table root, no batch manifest."""
    td = sinks.table_path(wh, NAME)
    tmp = td + ".rootsrc"
    _mk(spark, i, n).write.mode("overwrite").parquet(tmp)
    k = sum(1 for f in os.listdir(td) if f.endswith(".parquet"))
    for f in sorted(os.listdir(tmp)):
        if f.endswith(".parquet"):
            os.replace(
                os.path.join(tmp, f),
                os.path.join(td, f"part-legacy-{k:05d}.parquet"),
            )
            k += 1
    shutil.rmtree(tmp)
    p = os.path.join(td, sinks.BATCHES_MANIFEST)
    if os.path.exists(p):
        os.unlink(p)


def _strip_manifest(wh) -> None:
    p = os.path.join(sinks.table_path(wh, NAME), sinks.BATCHES_MANIFEST)
    if os.path.exists(p):
        os.unlink(p)


def _rows(spark, wh) -> int:
    return sinks.read_table(spark, wh, NAME).count()


RETIRED = "retired pre-manifest layout"


def test_vacuum_and_dml_refuse_on_mixed_legacy(spark, wh):
    for i in range(3):
        sinks.append_rows(_mk(spark, i), wh, NAME)
    _strip_manifest(wh)
    _plant_root_rows(spark, wh, i=7, n=2)
    td = sinks.table_path(wh, NAME)
    before = sorted(os.listdir(td))
    with pytest.raises(ValueError, match=RETIRED):
        sinks.vacuum_table(spark, wh, NAME, 0)
    # whether a predicate matches root rows (d1) or only batch-dir
    # rows (d0), the DML refuses before it scans anything
    for pred in ("device_name = 'd1'", "device_name = 'd0'"):
        with pytest.raises(ValueError, match=RETIRED):
            sinks.delete_rows(spark, wh, NAME, pred)
    with pytest.raises(ValueError, match=RETIRED):
        _rows(spark, wh)
    assert sorted(os.listdir(td)) == before


def test_provisioning_empties_do_not_trip_guard(spark, tmp_path):
    # a warehouse provisioned by an empty-DataFrame write per table
    # (how earlier setup_warehouse versions pinned the schema) holds a
    # 0-row root part file and _SUCCESS in every table dir: those are
    # not data, so reads, appends and maintenance all proceed
    w = str(tmp_path / "old")
    for name, schema in sinks.WAREHOUSE_TABLES.items():
        spark.createDataFrame([], schema).write.mode("ignore").parquet(
            sinks.table_path(w, name)
        )
    sinks.setup_warehouse(spark, w)
    td = sinks.table_path(w, NAME)
    assert any(f.endswith(".parquet") for f in os.listdir(td))
    assert _rows(spark, w) == 0
    sinks.append_rows(_mk(spark, 1), w, NAME)
    assert sinks._batches_manifest(td) is not None  # noqa: SLF001
    assert _rows(spark, w) == 1
    # a never-written table reads empty, and maintenance visits every
    # provisioned table without refusing one
    assert sinks.read_table(spark, w, "consumables").count() == 0
    assert set(sinks.warehouse_maintenance(spark, w).values()) == {0}
    assert _rows(spark, w) == 1


def test_unreadable_root_file_refuses_loudly(spark, wh):
    # a root part file whose footer cannot even be read counts as
    # data: it is refused, not skipped
    td = sinks.table_path(wh, NAME)
    with open(os.path.join(td, "part-junk.parquet"), "wb") as fh:
        fh.write(b"not a parquet footer")
    with pytest.raises(ValueError, match=RETIRED):
        sinks.append_rows(_mk(spark, 1), wh, NAME)
    with pytest.raises(ValueError, match=RETIRED):
        _rows(spark, wh)
    assert sinks._batches_manifest(td) is None  # noqa: SLF001
