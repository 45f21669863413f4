"""Output checks, run outside every timed section.

- Query workloads: each query's Spark result against its DuckDB oracle
  SQL from the registry, over the same generated parquet tables (same
  row count, columns by name, rows sorted; floats to a relative 1e-7,
  everything else exactly after the oracle harness's stringification).
- ``telemetry_ingest``: the incremental gold tables (daily summary
  partitions, lifetime view) against an exact (decimal) recompute over
  every row of ``cleaning_records``, and the row count against the rows
  generated.
"""

from __future__ import annotations

import math
import os
import re
from decimal import ROUND_FLOOR, ROUND_HALF_UP, Decimal

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duckdb_conn(tables_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(tables_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon_value(v) -> str:
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if v is None or (not isinstance(v, dict) and pd.isna(v)):
        return "<null>"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return repr(round(v, 9))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def _float_cols(df: pd.DataFrame) -> list[str]:
    return sorted(c for c in df.columns if pd.api.types.is_float_dtype(df[c]))


def _canonical(df: pd.DataFrame, floats: list[str]) -> pd.DataFrame:
    """Rows sorted by the exact columns first, so a float that differs in
    its last digits cannot reorder rows."""
    order = sorted(c for c in df.columns if c not in floats) + floats
    out = df[order].copy()
    for c in order:
        if c not in floats:
            out[c] = out[c].map(_canon_value)
    keys = out[order].astype(str)
    return out.loc[keys.sort_values(order).index].reset_index(drop=True)


def compare_frames(got: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Problems found comparing a Spark result with its oracle (empty =
    equal). Non-float columns must match exactly; float columns to a
    relative 1e-7: a float sum rounded to cents can land on either side
    of a half-cent depending on summation order, and engines sum in
    different orders."""
    if sorted(got.columns) != sorted(expected.columns):
        return [f"columns {sorted(got.columns)} != {sorted(expected.columns)}"]
    if len(got) != len(expected):
        return [f"rows {len(got)} != {len(expected)}"]
    floats = sorted(set(_float_cols(got)) | set(_float_cols(expected)))
    a, b = _canonical(got, floats), _canonical(expected, floats)
    problems = []
    for i in range(len(a)):
        for c in a.columns:
            x, y = a.at[i, c], b.at[i, c]
            if c in floats:
                same = (pd.isna(x) and pd.isna(y)) or (
                    not pd.isna(x) and not pd.isna(y)
                    and math.isclose(float(x), float(y), rel_tol=1e-7))
            else:
                same = x == y
            if not same:
                problems.append(f"row {i} {c}: {x!r} != {y!r}")
                break
        if len(problems) >= 3:
            break
    return problems


_NODE = re.compile(r"^[\s:|+\-*]*(\w+)")
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


def plan_counts(plan: str) -> dict[str, int]:
    """Exchange and Python-worker node counts of a physical plan string
    (``explain`` "simple" mode: one node per line)."""
    counts = {"exchanges": 0, "python_nodes": 0}
    for line in plan.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node.endswith("Exchange") and node != "ReusedExchange":
            counts["exchanges"] += 1
        elif _PYTHON_NODE.search(node):
            counts["python_nodes"] += 1
    return counts


def _accepts(got, exact: Decimal, how: str) -> tuple[bool, bool]:
    """(value acceptable, exact value sits on a tie). ``how`` is the
    view's presentation: "trunc" (cast to long) or "round2" (round
    half-up to 2 places). On a tie (an integral sum under "trunc", a
    half-cent under "round2") either neighbour is what some summation
    order of the same doubles yields, so both are accepted."""
    if how == "trunc":
        lo = exact.to_integral_value(ROUND_FLOOR)
        tie = lo == exact
        ok = got in ({int(lo), int(lo) - 1} if tie else {int(lo)})
    else:
        cents = exact * 100
        tie = cents - cents.to_integral_value(ROUND_FLOOR) == Decimal("0.5")
        want = exact.quantize(Decimal("0.01"), ROUND_HALF_UP)
        options = {want, want - Decimal("0.01")} if tie else {want}
        ok = got is not None and any(abs(Decimal(repr(got)) - o) < Decimal("1e-9")
                                     for o in options)
    return ok, tie


def _exact_groups(rows, key) -> dict:
    groups: dict = {}
    for r in rows:
        g = groups.setdefault(key(r), [0, Decimal(0), Decimal(0)])
        g[0] += 1
        g[1] += Decimal(repr(r.area_sqm))
        g[2] += Decimal(repr(r.duration_minutes))
    return groups


def _check_view(name, got_rows, exact, key, fields, problems, ties) -> None:
    got = {r[key]: r for r in got_rows}
    if set(got) != set(exact):
        problems.append(f"{name}: keys differ ({len(got)} vs {len(exact)})")
        return
    for k, (n, area, minutes) in exact.items():
        r = got[k]
        values = {"n": Decimal(n), "area": area, "minutes": minutes,
                  "avg_area": area / n, "avg_minutes": minutes / n}
        for col, (src, how) in fields.items():
            if how == "count":
                ok, tie = r[col] == n, False
            else:
                ok, tie = _accepts(r[col], values[src], how)
            ties[0] += tie
            if not ok:
                problems.append(f"{name}[{k}].{col} = {r[col]}, exact {values[src]}")
                return


def _daily_gold(spark, warehouse: str) -> list:
    """The committed daily gold rows, read partition by partition from
    the table's manifest. ``pipeline.read_daily_summary`` is not used:
    its ``sinks.read_partitioned`` lets Spark infer a type for the
    ``__rrpv=<12 hex>`` version dirs, and a hex name that reads as a
    number in scientific notation (``1e0123456789``) makes that
    inference compute 10**N - the read hangs, at random."""
    from pyspark.sql import functions as F

    from roborock_data_pipeline_spark import pipeline
    from roborock_data_pipeline_spark.sources import sinks

    table = sinks.table_path(warehouse, pipeline.GOLD_PART_TABLE)
    leaves = [os.path.join(table, key, vseg)
              for key, vseg in sinks._partitions_manifest(table).items()]
    return spark.read.parquet(*leaves).withColumn(
        "date", F.regexp_extract(F.input_file_name(), r"date=([0-9-]+)/", 1)
    ).collect()


def telemetry(spark, warehouse: str, rows_generated: int) -> tuple[list[str], int]:
    """Gold views against an exact recompute over every row of
    ``cleaning_records`` (decimal sums of the stored doubles). Returns
    (problems, ties accepted)."""
    from roborock_data_pipeline_spark import pipeline
    from roborock_data_pipeline_spark.sources import sinks

    rows = sinks.read_table(spark, warehouse, "cleaning_records").select(
        "device_name", "start_time", "area_sqm", "duration_minutes").collect()
    problems: list[str] = []
    ties = [0]
    if len(rows) != rows_generated:
        problems.append(f"cleaning_records has {len(rows)} rows, "
                        f"generated {rows_generated}")
    _check_view(
        "daily_summary_by_date",
        _daily_gold(spark, warehouse),
        _exact_groups(rows, lambda r: r.start_time.strftime("%Y-%m-%d")),
        "date",
        {"total_cleanings": ("n", "count"), "total_area_m2": ("area", "round2"),
         "total_time_min": ("minutes", "trunc"),
         "avg_area_m2": ("avg_area", "round2"),
         "avg_time_min": ("avg_minutes", "round2")},
        problems, ties)
    _check_view(
        "read_device_lifetime",
        pipeline.read_device_lifetime(spark, warehouse).collect(),
        _exact_groups(rows, lambda r: r.device_name),
        "device_name",
        {"total_clean_count": ("n", "count"),
         "total_clean_area": ("area", "round2"),
         "total_clean_time": ("minutes", "trunc")},
        problems, ties)
    return problems, ties[0]
