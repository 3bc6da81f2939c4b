"""Seeded input generators for the benchmark.

Two kinds of input:

- ``build_tables``: the engine's synthetic star schema (region, nation,
  customer, supplier, part, orders, lineitem, events, documents,
  embeddings) at sf0.1, one parquet file per table, shaped like the test
  data the catalog queries are written against (same schemas, value
  domains and uniform distributions). It is built once per checkout with
  a fixed seed: the tables are the sweep's fixed input, not a workload
  variable.
- ``write_split_family``: the reference's CSV split family
  (``x_/y_{train,val,test}.csv``) for ``forecast_e2e``, a pure function of
  the workload seed.

Both are written with numpy + pyarrow only, so no Spark session is needed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: row counts at sf0.1
SF01_ROWS = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 5_000, "embeddings": 2_000,
}
TABLE_SEED = 42
#: bump when the generator's output changes, so stale builds are rebuilt
TABLES_VERSION = "1"

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DOC_WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge",
             "order", "part", "query", "row", "scan", "slow", "small", "sort",
             "spark", "stream", "table", "the", "value", "vector", "window")
LANGS = ("en", "de", "es", "fr", "zh")


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = SF01_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, k),
        "c_mktsegment": rng.choice(SEGMENTS, k)})
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, k)})
    k = n["part"]
    keys = np.arange(k, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(rng.choice(PART_ADJ, k), " "),
                              rng.choice(PART_NOUN, k)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, k).astype(str)),
        "p_type": rng.choice(PART_TYPES, k),
        "p_size": rng.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2)})
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k),
        "o_orderstatus": rng.choice(("F", "O", "P"), k),
        "o_totalprice": _money(rng, 1000.0, 500000.0, k),
        "o_orderdate": _days(rng, "1995-01-01", 2405, k),
        "o_orderpriority": rng.choice(PRIORITIES, k)})
    k = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k),
        "l_partkey": rng.integers(0, n["part"], k),
        "l_suppkey": rng.integers(0, n["supplier"], k),
        "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, k),
        "l_discount": np.round(rng.uniform(0.0, 0.1, k), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, k), 2),
        "l_returnflag": rng.choice(("A", "N", "R"), k),
        "l_linestatus": rng.choice(("F", "O"), k),
        "l_shipdate": _days(rng, "1995-01-02", 2499, k)})
    k = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, k))
    t["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, k),
        "event_type": rng.choice(EVENT_TYPES, k),
        "value": np.round(rng.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]})
    k = n["documents"]
    texts: list[str] = []
    for i in range(k):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(DOC_WORDS, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(k, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, k, p=(0.4, 0.15, 0.15, 0.15, 0.15)),
        "source": [f"src{i % 20}" for i in range(k)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    k = n["embeddings"]
    vec = rng.normal(size=(k, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, k).astype(np.int32)})
    return t


def build_tables(out_dir: str) -> dict[str, int]:
    """Write the sf0.1 star schema under ``out_dir`` unless a build of the
    current version is already there. Returns rows per table."""
    stamp = os.path.join(out_dir, "_BUILT")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            if fh.readline().strip() == TABLES_VERSION:
                return {f[:-len(".parquet")]: pq.ParquetFile(os.path.join(out_dir, f))
                        .metadata.num_rows
                        for f in sorted(os.listdir(out_dir)) if f.endswith(".parquet")}
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rows = {}
    for name, table in _tables(np.random.default_rng(TABLE_SEED)).items():
        pq.write_table(table, f"{out_dir}/{name}.parquet", compression="snappy")
        rows[name] = table.num_rows
    with open(stamp, "w") as fh:
        fh.write(TABLES_VERSION + "\n")
    return rows


# ---------------------------------------------------------------- forecast

SERIES = 8
STEPS_PER_SERIES = {"train": 900, "val": 150, "test": 150}
FEATURES = ("OPEN", "HIGH", "LOW", "volume", "hour_sin")
TARGET = "CLOSE"
START = np.datetime64("2020-01-01T00:00:00", "s")


def split_family_arrays(seed: int) -> dict[str, dict[str, np.ndarray]]:
    """Per split, the columns of the x_ file: DATE_TIME (hourly), series id,
    the target CLOSE (a mean-reverting AR(1) price per series) and float
    features derived from it with noise."""
    rng = np.random.default_rng(seed)
    n_total = sum(STEPS_PER_SERIES.values())
    cols: dict[str, list[np.ndarray]] = {}
    for s in range(SERIES):
        level = rng.uniform(50.0, 150.0)
        phi = rng.uniform(0.6, 0.95)
        shocks = rng.normal(0.0, rng.uniform(0.5, 2.0), n_total)
        close = np.empty(n_total)
        x = level
        for i in range(n_total):
            x = level + phi * (x - level) + shocks[i]
            close[i] = x
        hours = np.arange(n_total)
        series_cols = {
            "DATE_TIME": START + hours.astype("timedelta64[h]"),
            "series": np.full(n_total, float(s)),
            TARGET: np.round(close, 4),
            "OPEN": np.round(close + rng.normal(0, 0.3, n_total), 4),
            "HIGH": np.round(close + np.abs(rng.normal(0, 0.5, n_total)), 4),
            "LOW": np.round(close - np.abs(rng.normal(0, 0.5, n_total)), 4),
            "volume": np.round(rng.lognormal(8.0, 0.5, n_total), 2),
            "hour_sin": np.round(np.sin(2 * np.pi * (hours % 24) / 24.0), 6),
        }
        for c, v in series_cols.items():
            cols.setdefault(c, []).append(v)
    whole = {c: np.concatenate(v) for c, v in cols.items()}
    step = np.tile(np.arange(n_total), SERIES)
    out = {}
    lo = 0
    for split, n in STEPS_PER_SERIES.items():
        mask = (step >= lo) & (step < lo + n)
        out[split] = {c: v[mask] for c, v in whole.items()}
        lo += n
    return out


def train_end() -> str:
    """First timestamp of the validation split: the AR(1) fitting cutoff."""
    t = START + np.timedelta64(STEPS_PER_SERIES["train"], "h")
    return str(t).replace("T", " ")


def _write_csv(path: str, cols: dict[str, np.ndarray]) -> None:
    names = list(cols)
    rendered = []
    for c in names:
        v = cols[c]
        if v.dtype.kind == "M":
            rendered.append(np.char.replace(v.astype(str), "T", " "))
        else:
            rendered.append([repr(float(x)) for x in v])
    with open(path, "w", newline="\n") as fh:
        fh.write(",".join(names) + "\n")
        for row in zip(*rendered):
            fh.write(",".join(row) + "\n")


def write_split_family(seed: int, out_dir: str) -> dict:
    """Write x_/y_{train,val,test}.csv for ``seed`` into ``out_dir``.
    y_ files hold DATE_TIME, series and the target. Returns the
    config keys for ``csv_compat.load_split_family`` plus rows and bytes."""
    os.makedirs(out_dir, exist_ok=True)
    config: dict = {}
    rows = 0
    size = 0
    for split, cols in split_family_arrays(seed).items():
        x_path = os.path.join(out_dir, f"x_{split}.csv")
        _write_csv(x_path, cols)
        y_path = os.path.join(out_dir, f"y_{split}.csv")
        _write_csv(y_path, {c: cols[c] for c in ("DATE_TIME", "series", TARGET)})
        config[f"x_{split}_file"] = x_path
        config[f"y_{split}_file"] = y_path
        rows += len(cols[TARGET])
        size += os.path.getsize(x_path) + os.path.getsize(y_path)
    return {"config": config, "rows": rows, "bytes": size}
