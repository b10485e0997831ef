"""Seeded benchmark inputs, written as parquet into a run's own directory.

Two generators:

- `write_star` writes the TPC-H-like star schema plus `events`, with the
  column names, types and value domains of the repository's fixture
  tables (TESTDATA.md), at a chosen scale factor. The benchmark cannot
  read fixtures from outside its checkout, so it makes them.
- `write_corpus` writes the Zipf corpus of `tools/zipf_fixture.build`
  (documents + embeddings) and can give every document its own file
  name, the shape of the reference's one-book-per-file input.

Same arguments, same bytes: every value comes from one numpy Generator
and pyarrow writes no timestamps or host names into the files.
"""

from __future__ import annotations

import importlib.util
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events")
CORPUS_TABLES = ("documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_TS = pa.timestamp("us")


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    picks = rng.integers(0, len(values), n)
    return pa.array(np.asarray(values, dtype=object)[picks], pa.string())


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int)) + 1
    days = lo + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), _TS)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def star_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The star schema at scale factor `sf` (lineitem = 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = (int(150_000 * sf), int(10_000 * sf),
                              int(200_000 * sf))
    n_ord, n_line, n_ev = (int(1_500_000 * sf), int(6_000_000 * sf),
                           int(1_000_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(_REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), i64),
            "p_name": pa.array([f"{_ADJECTIVES[a]} {_NOUNS[b]}" for a, b in
                                rng.integers(0, 8, (n_part, 2))]),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(
                [round(900 + (i % 1000) / 10, 1) for i in range(n_part)]),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_line)
                                   .astype(np.float64)),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
        }),
    }
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), i64),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), _TS),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), i64),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)]),
    })
    return out


def write_star(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _zipf_fixture(repo: str):
    """tools/ is not a package: load the corpus generator by path."""
    path = os.path.join(repo, "tools", "zipf_fixture.py")
    spec = importlib.util.spec_from_file_location("zipf_fixture", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def write_corpus(repo: str, out_dir: str, n_docs: int, seed: int,
                 file_per_doc: bool) -> None:
    """documents + embeddings from tools/zipf_fixture.build. With
    `file_per_doc`, `source` becomes a distinct file name per document,
    so the runner's (filename, contents) map input and the DataFrame
    apps keyed by `source` see the same documents."""
    _zipf_fixture(repo).build(out_dir, n_docs=n_docs, seed=seed)
    if file_per_doc:
        path = os.path.join(out_dir, "documents.parquet")
        docs = pq.read_table(path)
        names = pa.array([f"pg-{i:05d}.txt" for i in
                          docs.column("doc_id").to_pylist()])
        docs = docs.set_column(docs.schema.get_field_index("source"),
                               "source", names)
        pq.write_table(docs, path)


def describe(in_dir: str) -> dict[str, dict[str, int]]:
    """Rows and bytes of every parquet table under `in_dir`."""
    out = {}
    for name in sorted(os.listdir(in_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(in_dir, name)
            out[name[:-len(".parquet")]] = {
                "rows": pq.ParquetFile(path).metadata.num_rows,
                "bytes": os.path.getsize(path),
            }
    return out
