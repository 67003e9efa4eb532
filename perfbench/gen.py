"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, sf)``: the seed draws values,
duplicate/unmatched residues and row order, never table sizes or the file
layout class, so two seeds give the same amount of work in the same layout.

* :func:`write_base` writes the TPC-H-shaped star schema plus the
  ``events``/``documents``/``embeddings`` tables the registry entries read,
  one parquet file with a single row group per table (sf0.01 sizes by
  default: 60k lineitem, 15k orders, 500 documents).
* :func:`write_scaled` turns a base directory into one with 10x rows
  through ``scripts/scale_stress.py``'s mod-preserving replica remaps, and
  :func:`spread_files` lays a table out as many files with a seeded row
  order and row-to-file assignment.
* :func:`write_wins` derives the five WINS feature tables and the POD lookup
  from ``orders``/``lineitem`` (RV/RS/other prefixes, blank tags, duplicate
  pairs, unmatched keys), also as many files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import importlib.util
import os
from unittest import mock

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

BASE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
FILES = 16  # files per table in the many-file layout
WINS_TABLES = (
    "reserves_and_restrictions", "non_trim_hydrography",
    "water_licensed_works_points", "water_licensed_works_lines",
    "flooded_area_lines",
)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _dates(rng, n, start, end):
    days = rng.integers(0, (end - start).days + 1, n)
    return pa.array(
        np.datetime64(start, "D") + days.astype("timedelta64[D]"), pa.timestamp("ms")
    )


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, keys):
    return [f"{prefix}#{k:09d}" for k in keys]


def base_tables(seed: int, sf: float = 0.01, docs: int | None = None) -> dict[str, pa.Table]:
    """The star schema at scale factor ``sf``, rows in seeded order;
    ``docs`` overrides the documents/embeddings row count."""
    rng = np.random.default_rng(seed)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    if docs is not None:
        n_docs = n_emb = docs
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_cust)
    t["customer"] = pa.table({
        "c_custkey": ck, "c_name": _names("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp)
    t["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": _names("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(
            np.char.add(rng.choice(ADJ, n_part), " "), rng.choice(NOUN, n_part)
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _dates(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _dates(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table({
        "event_id": np.arange(n_ev),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_docs)
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return {name: _shuffled(tbl, rng) for name, tbl in t.items()}


def _documents(rng, n: int) -> pa.Table:
    """Random-vocabulary documents; one in twenty is a near-duplicate (an
    earlier document with `` dup`` appended), so dedup entries find pairs."""
    texts = [
        " ".join(rng.choice(VOCAB, rng.integers(10, 100))) for _ in range(n)
    ]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    ids = np.arange(n)
    return pa.table({
        "doc_id": ids, "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(s) for s in texts], np.int64),
    })


def _shuffled(table: pa.Table, rng) -> pa.Table:
    return table.take(rng.permutation(table.num_rows))


def write_base(
    out_dir: str, seed: int, sf: float = 0.01, docs: int | None = None
) -> dict[str, int]:
    """Write the base tables (single row group each); returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in base_tables(seed, sf, docs).items():
        _write(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows


# ------------------------------------------------------------------ WINS


def _geometry(keys: np.ndarray, salt: str) -> list[bytes]:
    """Opaque WKB stand-in: 16 non-UTF8 bytes per row, carried untouched."""
    return [hashlib.md5(f"{salt}{k}".encode()).digest() for k in keys]


def _code(keys: np.ndarray) -> np.ndarray:
    prefix = np.array(["RV", "RS", "TG"])[keys % 3]
    return np.char.add(prefix, keys.astype(str))


def wins_tables(seed: int, orders: pa.Table, lineitem: pa.Table) -> dict[str, pa.Table]:
    """WINS-shaped feature tables plus POD, derived from orders/lineitem.

    The seed picks the residues: reserves rows whose key is ``dup`` mod 10
    take the tag of key+1 (duplicate pairs), POD drops keys that are
    ``miss`` mod 4 (unmatched tags), and hydrography/works rows whose line
    number is ``blank`` mod 7 carry blank tags."""
    rng = np.random.default_rng(seed + 1)
    dup, miss, blank = (int(x) for x in (rng.integers(0, 9), rng.integers(0, 4), rng.integers(1, 8)))
    ok = orders.column("o_orderkey").to_numpy()
    tagnum = np.where(ok % 10 == dup, ok + 1, ok)
    none = pa.nulls(len(ok), pa.string())
    t = {
        "reserves_and_restrictions": pa.table({
            "OBJECTID": ok, "TRRR_TAG": _code(tagnum),
            "FEATURE_CODE": none, "DESCRIPTION": none,
            "geometry": _geometry(ok, "r"),
        }),
        "flooded_area_lines": pa.table({
            "OBJECTID": ok, "FEATURE_CODE": none, "geometry": _geometry(ok, "f"),
        }),
    }
    pod_keys = ok[ok % 4 != miss]
    status = orders.column("o_orderstatus").to_numpy(zero_copy_only=False)
    prio = orders.column("o_orderpriority").to_numpy(zero_copy_only=False)
    keep = ok % 4 != miss
    t["water_pod"] = pa.table({
        "PNTS_CODE": _code(pod_keys), "PNTS_DESCR": prio[keep],
        "SRCE_GAZETTED": status[keep],
    })

    lk = lineitem.column("l_orderkey").to_numpy()
    ln = lineitem.column("l_linenumber").to_numpy()
    oid = np.arange(len(lk))
    tags = np.where(ln % 7 == blank % 7, "", _code(lk))
    li_none = pa.nulls(len(lk), pa.string())
    t["non_trim_hydrography"] = pa.table({
        "OBJECTID": oid, "TNTH_TAG": tags, "FEATURE_CODE": li_none,
        "STREAM_NAME": li_none, "geometry": _geometry(oid, "h"),
    })
    half = len(lk) // 2
    fcode = np.where(ln % 2 == 0, "", "GB15300000")
    for name, sl in (("water_licensed_works_points", slice(0, half)),
                     ("water_licensed_works_lines", slice(half, None))):
        t[name] = pa.table({
            "OBJECTID": oid[sl], "TWRK_TAG": tags[sl], "FEATURE_CODE": fcode[sl],
            "geometry": _geometry(oid[sl], name[-5:]),
        })
    return {name: _shuffled(tbl, rng) for name, tbl in t.items()}


def write_wins(out_dir: str, seed: int, orders: pa.Table, lineitem: pa.Table) -> dict[str, int]:
    """Write the WINS inputs derived from ``orders``/``lineitem``, one
    directory of :data:`FILES` parquet files per table, and return row
    counts; ``water_pod`` is the lookup."""
    rows = {}
    for name, tbl in wins_tables(seed, orders, lineitem).items():
        spread_files(tbl, os.path.join(out_dir, name), seed)
        rows[name] = tbl.num_rows
    return rows


def spread_files(table: pa.Table, path: str, seed: int) -> None:
    """Write ``table`` as :data:`FILES` parquet files; the seed picks the
    row order and the row-to-file assignment."""
    rng = np.random.default_rng(seed)
    table = _shuffled(table, rng)
    bucket = rng.integers(0, FILES, table.num_rows)
    os.makedirs(path, exist_ok=True)
    for f in range(FILES):
        _write(table.filter(pa.array(bucket == f)), os.path.join(path, f"part-{f:05d}.parquet"))


# ------------------------------------------------------------ 10x layout


def load_script(root: str, name: str, **env: str):
    """A fresh module object of ``scripts/<name>.py`` (not a package),
    imported with the environment variables ``env`` set."""
    path = os.path.join(root, "scripts", f"{name}.py")
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    with mock.patch.dict(os.environ, env):
        spec.loader.exec_module(mod)
    return mod


def write_scaled(spark, root: str, base_dir: str, out_dir: str) -> None:
    """10x rows of ``base_dir`` in ``out_dir``, written through Spark by
    ``scale_stress.build_scaled`` with its replica remaps."""
    ss = load_script(root, "scale_stress", SPARK_GRAFT_SF_DIR=base_dir)
    ss.build_scaled(spark, out_dir)
