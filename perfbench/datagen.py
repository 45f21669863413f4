"""Seeded input generators for the benchmark.

Everything a workload reads is produced here from the run's seed and
written to parquet BEFORE timing starts, so no op ever pays for
serializing Python-side data (``createDataFrame``) and the same seed
always yields the same bytes.

- ``write_tables``: the ten query tables (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``) with the same schemas and
  value domains as the engine's reference testdata, sized by a scale
  factor (row counts = sf x the sf1 counts).
- ``write_telemetry_batches``: landing batches of ``cleaning_records``
  with a share of late records dated back 1-20 days.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf1 row counts of the reference tables (region/nation are fixed dims)
SF1_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "users": 15_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = (["large", "hot", "blue", "old", "cold", "small", "red", "new"],
              ["ring", "bolt", "plate", "gear", "nut", "pin", "rod", "cap"])
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64


def _n(sf: float, name: str) -> int:
    return max(1, int(round(SF1_ROWS[name] * sf)))


def _ts_us(start: dt.datetime, offsets_s: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + (offsets_s * 1_000_000).astype(np.int64),
                    type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, size=n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), size=k)])
             for k in lengths]
    # 5% near-duplicates: an earlier document's text plus one token
    for i in rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    m = rng.normal(size=(n, EMB_DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> int:
    """Write the ten tables as ``{out_dir}/{name}.parquet``; returns the
    bytes written."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = _n(sf, "customer"), _n(sf, "supplier"), _n(sf, "part")
    n_ord, n_line, n_ev = _n(sf, "orders"), _n(sf, "lineitem"), _n(sf, "events")
    n_users = _n(sf, "users")
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)  # noqa: E731
    t: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(
                [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([
                f"{PART_WORDS[0][a]} {PART_WORDS[1][b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))]),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
            "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(
                [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(money(1000, 500_000, n_ord)),
            "o_orderdate": _ts_us(
                dt.datetime(1995, 1, 1),
                rng.integers(0, 2404, n_ord).astype(np.int64) * 86400),
            "o_orderpriority": pa.array(
                [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(money(900, 105_000, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(
                [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(
                [("F", "O")[j] for j in rng.integers(0, 2, n_line)]),
            "l_shipdate": _ts_us(
                dt.datetime(1995, 1, 2),
                rng.integers(0, 2498, n_line).astype(np.int64) * 86400),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts_us(dt.datetime(2024, 1, 1),
                         np.sort(rng.uniform(0, 30 * 86400, n_ev))),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(
                [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
        "documents": _documents(rng, _n(sf, "documents")),
        "embeddings": _embeddings(rng, _n(sf, "embeddings")),
    }
    return sum(_write(tb, os.path.join(out_dir, f"{name}.parquet"))
               for name, tb in t.items())


def telemetry_batch(rng: np.random.Generator, day: dt.datetime, batch_no: int,
                    n_rows: int, n_devices: int, late_share: float) -> pa.Table:
    """One landing batch of ``cleaning_records``: ``n_rows`` records
    over ``n_devices`` devices on ``day``; ``late_share`` of them carry
    a start time 1-20 days in the past."""
    offs = rng.uniform(0, 86400, n_rows)
    late = rng.random(n_rows) < late_share
    offs[late] -= rng.integers(1, 21, int(late.sum())) * 86400
    start = _ts_us(day, offs)
    landed = _ts_us(day, np.full(n_rows, 86400.0 + batch_no))
    return pa.table({
        "timestamp": landed,
        "device_name": pa.array(
            [f"robot-{j:04d}" for j in rng.integers(0, n_devices, n_rows)]),
        "start_time": start,
        "duration_minutes": pa.array(np.round(rng.uniform(5, 120, n_rows), 1)),
        "area_sqm": pa.array(np.round(rng.uniform(3, 150, n_rows), 2)),
        "clean_mode": pa.array(
            [("standard", "turbo", "quiet")[j] for j in rng.integers(0, 3, n_rows)]),
        "clean_way": pa.array(
            [("vacuum", "mop", "both")[j] for j in rng.integers(0, 3, n_rows)]),
        "error_code": pa.array(
            np.where(rng.random(n_rows) < 0.05, 1, 0).astype(np.int32)),
        "task_status": pa.array(["ok"] * n_rows),
    })


def telemetry_day(batch_no: int) -> dt.datetime:
    """The landing day of telemetry batch ``batch_no``."""
    return dt.datetime(2024, 3, 1) + dt.timedelta(days=batch_no)


def write_telemetry_batches(out_dir: str, seed: int, n_batches: int,
                            n_rows: int, n_devices: int,
                            late_share: float) -> tuple[list[str], list[int]]:
    """Landing batches ``{out_dir}/batch-{i:05d}.parquet``, one day
    apart; returns (paths, bytes of each)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    paths, sizes = [], []
    for i in range(n_batches):
        path = os.path.join(out_dir, f"batch-{i:05d}.parquet")
        sizes.append(_write(telemetry_batch(
            rng, telemetry_day(i), i, n_rows, n_devices, late_share), path))
        paths.append(path)
    return paths, sizes

