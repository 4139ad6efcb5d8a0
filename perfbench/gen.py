"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of ``(seed, sizes)``: the same seed
writes byte-identical files, and a different seed writes files with the
same row counts. Nothing reads the repository's test data, so the
benchmark runs from a bare checkout.

Two input families:

- :func:`write_query_tables` writes the ten parquet tables the query
  registry reads (``registry.TABLES``), with the column names, types and
  value domains of the repository's synthetic sf tables, at a fixed
  fraction of sf0.1 row counts.
- :func:`write_etl_inputs` writes a staged parcel CSV plus its JSON
  Table Schema and a latin-1 change batch, shaped like the reference's
  ``point_table_2272`` fixture (FIXTURES.md §1).
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: row counts of the sf0.1 tables; the benchmark writes ``fraction`` of each
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

WORDS = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data dup part column order scan a slow agg key "
    "window table merge vector join"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
PART_ADJ = ("large", "hot", "blue", "cold", "red", "small", "new", "old")
PART_NOUN = ("ring", "bolt", "gear", "plate", "rod", "anvil", "widget", "nut")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMB_DIM = 64
EMB_LABELS = 10

# parquet writer settings pinned so the bytes depend on the data only
_PQ = {"compression": "snappy", "use_dictionary": True, "write_statistics": True}


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per table, so adding a table never
    shifts the values of another."""
    key = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.Generator(np.random.PCG64([seed, key]))


def _days(rng, n: int, start: dt.date, end: dt.date) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    d = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + d, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def query_tables(seed: int, fraction: float) -> dict[str, pa.Table]:
    """The registry's tables at ``fraction`` × sf0.1 rows."""
    n = {k: max(1, round(v * fraction)) for k, v in SF01_ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": list(REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r = _rng(seed, "customer")
    k = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(k, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": r.integers(0, 25, k).astype(np.int32),
            "c_acctbal": _money(r, k, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, k)],
        }
    )
    r = _rng(seed, "supplier")
    k = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(k, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": r.integers(0, 25, k).astype(np.int32),
            "s_acctbal": _money(r, k, -999.99, 9999.99),
        }
    )
    r = _rng(seed, "part")
    k = n["part"]
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(k, dtype=np.int64),
            "p_name": names[r.integers(0, len(names), k)],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
            "p_type": np.array(PART_TYPES)[r.integers(0, len(PART_TYPES), k)],
            "p_size": r.integers(1, 51, k).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(k) % 1000) / 10, 1),
        }
    )
    r = _rng(seed, "orders")
    k = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(k, dtype=np.int64),
            "o_custkey": r.integers(0, n["customer"], k),
            "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, k)],
            "o_totalprice": _money(r, k, 1000.0, 500000.0),
            "o_orderdate": _days(r, k, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, k)],
        }
    )
    r = _rng(seed, "lineitem")
    k = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": r.integers(0, n["orders"], k),
            "l_partkey": r.integers(0, n["part"], k),
            "l_suppkey": r.integers(0, n["supplier"], k),
            "l_linenumber": r.integers(1, 8, k).astype(np.int32),
            "l_quantity": r.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(r, k, 900.0, 105000.0),
            "l_discount": r.integers(0, 11, k) / 100.0,
            "l_tax": r.integers(0, 9, k) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, k)],
            "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, k)],
            "l_shipdate": _days(r, k, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    r = _rng(seed, "events")
    k = n["events"]
    users = max(1, round(15_000 * fraction))
    offs = np.sort(r.integers(0, 30 * 86_400 * 1_000_000, k))
    t["events"] = pa.table(
        {
            "event_id": np.arange(k, dtype=np.int64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")),
            "user_id": r.integers(0, users, k),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, k)],
            "value": np.round(np.minimum(r.exponential(60.0, k), 560.0), 2),
            "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
        }
    )
    t["documents"] = _documents(_rng(seed, "documents"), n["documents"])
    t["embeddings"] = _embeddings(_rng(seed, "embeddings"), n["embeddings"])
    return t


def _documents(r: np.random.Generator, k: int) -> pa.Table:
    """Bag-of-words documents; about 5% are near-duplicates of an
    earlier document (a few words swapped), which the dedup stages find."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(k):
        if i > 10 and r.random() < 0.05:
            toks = texts[int(r.integers(0, i))].split()
            for j in r.integers(0, len(toks), 2):
                toks[j] = words[r.integers(0, len(words))]
        else:
            toks = list(words[r.integers(0, len(words), int(r.integers(10, 101)))])
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": np.arange(k, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[r.choice(len(LANGS), k, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )


def _embeddings(r: np.random.Generator, k: int) -> pa.Table:
    """Unit-scale float32 vectors around one centroid per label."""
    centers = r.normal(0.0, 0.12, (EMB_LABELS, EMB_DIM))
    label = r.integers(0, EMB_LABELS, k)
    vecs = (centers[label] + r.normal(0.0, 0.08, (k, EMB_DIM))).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(k, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )


def write_query_tables(out_dir: str, seed: int, fraction: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every registry table and
    return the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in query_tables(seed, fraction).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), **_PQ)
        rows[name] = table.num_rows
    return rows


# ---------------------------------------------------------------------
# ETL round trip: staged parcels + a change batch
# ---------------------------------------------------------------------

PARCEL_SCHEMA = {
    "primaryKey": ["parcel_id"],
    "fields": [
        {"name": "parcel_id", "type": "integer", "constraints": {"required": True}},
        {"name": "owner", "type": "string"},
        {"name": "sale_date", "type": "datetime"},
        {"name": "sale_price", "type": "numeric"},
        {"name": "units", "type": "integer"},
        {"name": "shape", "type": "geometry", "geometry_type": "point", "srid": 2272},
    ],
}
PARCEL_HEADER = "parcel_id,owner,sale_date,sale_price,units,shape\n"
_OWNERS = ("Smith", "Nguyễn", "Müller", "García", "O'Brien", "Łukasz", "Øster", "Zoë")


@dataclass(frozen=True)
class EtlInputs:
    """What :func:`write_etl_inputs` wrote, plus the counts the output
    checks compare against."""

    base_csv: str
    change_csv: str
    schema_json: str
    base_rows: int
    #: distinct change-batch keys not present in the base file
    inserts: int
    #: final-table rows whose shape is a POINT (published with lat/lng)
    points: int


def _parcel_row(
    r: np.random.Generator, pid: int, latin1: bool, shape: str | None = None
) -> tuple[str, str]:
    """One CSV line and its shape. About 10% of shapes carry a corrupt
    ``1.#QNAN000`` Z value and 2% are ``MULTIPOINT EMPTY``; numerics
    are NULL 5% of the time. ``shape`` pins the geometry."""
    owner = _OWNERS[int(r.integers(0, len(_OWNERS)))]
    if latin1:  # the change batch must stay latin-1 encodable
        owner = owner.encode("latin-1", "replace").decode("latin-1")
    owner = f'"{owner}, {int(r.integers(1, 1000))}"'  # quoted comma
    day = dt.datetime(2015, 1, 1) + dt.timedelta(seconds=int(r.integers(0, 10 * 365 * 86400)))
    price = "" if r.random() < 0.05 else f"{r.uniform(1e4, 2e6):.2f}"
    units = "" if r.random() < 0.05 else str(int(r.integers(1, 40)))
    x, y = r.uniform(2_660_000, 2_760_000), r.uniform(200_000, 310_000)
    g = r.random()
    if shape is None:
        if g < 0.02:
            shape = "SRID=2272;MULTIPOINT EMPTY"
        elif g < 0.12:
            shape = f"SRID=2272;POINT Z ({x:.3f} {y:.3f} 1.#QNAN000)"
        else:
            shape = f"SRID=2272;POINT({x:.3f} {y:.3f})"
    return f"{pid},{owner},{day:%Y-%m-%d %H:%M:%S},{price},{units},{shape}\n", shape


def write_etl_inputs(out_dir: str, seed: int, base_rows: int, change_rows: int) -> EtlInputs:
    """Write the staged base CSV (utf-8), the change batch (latin-1, so
    ``read_csv`` takes its fallback path) and the JSON Table Schema.

    Change-batch keys: about 50% update distinct existing parcels, about
    2% repeat a key already in the batch, the rest are new parcels
    (``change_rows`` must stay below twice ``base_rows``)."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "parcels")
    shape_of: dict[int, str] = {}
    base_csv = os.path.join(out_dir, "parcels.csv")
    with open(base_csv, "w", encoding="utf-8", newline="") as f:
        f.write(PARCEL_HEADER)
        for pid in range(base_rows):
            line, shape_of[pid] = _parcel_row(r, pid, latin1=False)
            f.write(line)
    r = _rng(seed, "changes")
    updates = iter(r.permutation(base_rows).tolist())  # each updated once
    keys: list[int] = []
    next_new = base_rows
    for _ in range(change_rows):
        u = r.random()
        if u < 0.02 and keys:
            keys.append(keys[int(r.integers(0, len(keys)))])
        elif u < 0.52:
            keys.append(next(updates))
        else:
            keys.append(next_new)
            next_new += 1
    change_csv = os.path.join(out_dir, "parcels_changes.csv")
    batch_shape: dict[int, str] = {}
    with open(change_csv, "w", encoding="latin-1", newline="") as f:
        f.write(PARCEL_HEADER)
        for pid in keys:
            # a key repeated in the batch keeps its first geometry, so
            # the final point count does not depend on which row wins
            line, batch_shape[pid] = _parcel_row(r, pid, True, batch_shape.get(pid))
            f.write(line)
    shape_of.update(batch_shape)
    schema_json = os.path.join(out_dir, "parcels_schema.json")
    with open(schema_json, "w") as f:
        json.dump(PARCEL_SCHEMA, f, indent=1, sort_keys=True)
    return EtlInputs(
        base_csv,
        change_csv,
        schema_json,
        base_rows,
        inserts=len({k for k in keys if k >= base_rows}),
        points=sum(";POINT" in s for s in shape_of.values()),
    )
