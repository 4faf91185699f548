"""Seeded corpus generator in the engine's fixture schema.

The benchmark may read nothing outside its checkout, so it does not
load the read-only fixture corpus; it regenerates tables with the same
schema and value domains (FIXTURES.md: ten tables, independent uniform
columns, two-decimal money doubles, midnight NTZ timestamps, 64-dim
unit vectors, pseudo-word documents with 5% near-duplicates). Sizes are
given as a TPC-H style scale factor: `sf=0.1` matches the sf0.1
fixtures row for row.

Values come from a fixed generator seed, so every benchmark seed sees
the same rows and the same query answers. The benchmark seed permutes
the row order of the fact tables before they are split into files,
which changes file contents and footer statistics but not results.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VALUE_SEED = 42

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
FACT_TABLES = ("orders", "lineitem", "events")

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EPOCH_1995 = np.datetime64("1995-01-01", "D")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int) -> pa.Array:
    idx = pa.array(rng.integers(0, len(values), n).astype(np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(values)).cast(pa.string())


def _days(rng: np.random.Generator, first: int, last: int, n: int) -> pa.Array:
    """Midnight NTZ timestamps `first..last` days after 1995-01-01."""
    d = _EPOCH_1995 + rng.integers(first, last + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _named(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": int(20_000 * sf),
    }


def generate(name: str, sf: float) -> pa.Table:
    """One table at scale factor `sf`, identical for every benchmark seed."""
    n = _counts(sf)
    rng = np.random.default_rng([VALUE_SEED, TABLES.index(name)])
    rows = n[name]
    keys = np.arange(rows, dtype=np.int64)
    if name == "region":
        return pa.table({"r_regionkey": pa.array(keys.astype(np.int32)), "r_name": pa.array(_REGIONS)})
    if name == "nation":
        k = keys.astype(np.int32)
        return pa.table({
            "n_nationkey": pa.array(k),
            "n_name": pa.array([f"NATION_{i}" for i in range(rows)]),
            "n_regionkey": pa.array(k % 5),
        })
    if name == "customer":
        return pa.table({
            "c_custkey": pa.array(keys),
            "c_name": _named("Customer", keys),
            "c_nationkey": pa.array(rng.integers(0, 25, rows).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, rows)),
            "c_mktsegment": _pick(rng, _SEGMENTS, rows),
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": pa.array(keys),
            "s_name": _named("Supplier", keys),
            "s_nationkey": pa.array(rng.integers(0, 25, rows).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, rows)),
        })
    if name == "part":
        adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), rows)]
        noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), rows)]
        return pa.table({
            "p_partkey": pa.array(keys),
            "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun).tolist()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, rows).tolist()]),
            "p_type": _pick(rng, _PART_TYPES, rows),
            "p_size": pa.array(rng.integers(1, 51, rows).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": pa.array(keys),
            "o_custkey": pa.array(rng.integers(0, n["customer"], rows)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), rows),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, rows)),
            "o_orderdate": _days(rng, 0, 2404, rows),
            "o_orderpriority": _pick(rng, _PRIORITIES, rows),
        })
    if name == "lineitem":
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], rows)),
            "l_partkey": pa.array(rng.integers(0, n["part"], rows)),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], rows)),
            "l_linenumber": pa.array(rng.integers(1, 8, rows).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, rows).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, rows)),
            "l_discount": pa.array(rng.integers(0, 11, rows) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, rows) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), rows),
            "l_linestatus": _pick(rng, ("F", "O"), rows),
            "l_shipdate": _days(rng, 1, 2499, rows),
        })
    if name == "events":
        offs = np.sort(rng.integers(0, 30 * 86_400_000_000, rows))
        return pa.table({
            "event_id": pa.array(keys),
            "ts": pa.array(_EPOCH_2024 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, n["customer"] // 10), rows)),
            "event_type": _pick(rng, _EVENT_TYPES, rows),
            "value": pa.array(np.round(rng.exponential(50.0, rows), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows).tolist()]),
        })
    if name == "documents":
        vocab = np.array(_WORDS)
        lengths = rng.integers(10, 101, rows)
        texts = [" ".join(vocab[rng.integers(0, len(vocab), m)]) for m in lengths.tolist()]
        # 5% near-duplicates: an earlier document plus one extra token
        for i in np.flatnonzero(rng.random(rows) < 0.05).tolist():
            if i:
                texts[i] = texts[int(rng.integers(0, i))] + " dup"
        return pa.table({
            "doc_id": pa.array(keys),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, rows),
            "source": pa.array([f"src{k % 20}" for k in range(rows)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        })
    if name == "embeddings":
        dim = 64
        v = rng.standard_normal((rows, dim)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        offsets = pa.array(np.arange(0, rows * dim + 1, dim, dtype=np.int32))
        return pa.table({
            "vec_id": pa.array(keys),
            "embedding": pa.ListArray.from_arrays(offsets, pa.array(v.ravel())),
            "label": pa.array(rng.integers(0, 10, rows).astype(np.int32)),
        })
    raise ValueError(f"unknown table {name!r}")


def permute(table: pa.Table, seed: int) -> pa.Table:
    """The benchmark seed's row order for a fact table."""
    order = np.random.default_rng([seed, table.num_rows]).permutation(table.num_rows)
    return table.take(pa.array(order))


def write(table: pa.Table, path: str, files: int) -> int:
    """Write `table` as one parquet file, or as a directory of `files`
    part files in Spark's sink layout. Returns bytes written."""
    if files <= 1:
        pq.write_table(table, path)
        return os.path.getsize(path)
    os.makedirs(path)
    total = 0
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        part = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), part)
        total += os.path.getsize(part)
    return total


def build(out_dir: str, sf: float, seed: int, files: dict[str, int], tables=TABLES) -> dict:
    """Write `tables` as an sf-dir the engine's ops read
    (`<out_dir>/<table>.parquet`). Returns {table: {rows, files, bytes}}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name in tables:
        t = generate(name, sf)
        if name in FACT_TABLES:
            t = permute(t, seed)
        nfiles = files.get(name, 1)
        nbytes = write(t, os.path.join(out_dir, f"{name}.parquet"), nfiles)
        sizes[name] = {"rows": t.num_rows, "files": nfiles, "bytes": nbytes}
    return sizes
