"""Workloads: how each one sets up its inputs, what one pass runs, and how
each operation's output is checked.

An operation is driven from outside the program through its public entry
points only: ``plans.job.run_job`` for the WINS job, a registry entry's
``fn()`` plus the :func:`sink` for the registry workloads.

Outputs are checked against a DuckDB oracle over the same input files: a
row count plus an order-insensitive hash of the rows (the registry's SQL
twins; for the WINS job, :data:`WINS_SQL`). ``expected/<workload>.json``
holds the values for the default seed; other seeds compute them at run
time.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import tempfile
from dataclasses import dataclass, field

from perfbench import gen

DEFAULT_SEED = 1
HERE = os.path.dirname(os.path.abspath(__file__))


@dataclass
class Inputs:
    dir: str
    rows: int  # stated input rows: the tables the workload's operations read
    bytes: int  # parquet bytes of those tables
    tables: dict[str, str] = field(default_factory=dict)  # name -> path


def sink(df) -> None:
    """The timed passes' sink: full computation, nothing collected."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
        if f.endswith(".parquet")
    )


@functools.cache
def _check_oracle(root: str):
    return gen.load_script(root, "check_oracle")


def digest(root: str, cols, rows) -> dict:
    """Row count plus an order-insensitive hash (rows canonicalised the way
    the registry's differential harness compares them)."""
    ms = _check_oracle(root).rows_to_multiset(list(cols), rows)
    items = sorted(f"{k!r}*{c}" for k, c in ms.items())
    h = hashlib.sha256("\n".join(items).encode()).hexdigest()[:16]
    return {"rows": len(rows), "hash": h}


def duck(tables: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    for name, path in tables.items():
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


# ------------------------------------------------------------ registry ops


class RegistryOp:
    """One registry entry: ``fn(spark, dir)`` then the noop sink."""

    def __init__(self, name: str):
        self.name = name

    @property
    def entry(self):
        from flnr_wins_spark.plans.common import all_queries

        return all_queries()[self.name]

    def run(self, spark, inp: Inputs) -> None:
        sink(self.entry.fn(spark, inp.dir))

    def output(self, spark, inp: Inputs, root: str) -> dict:
        df = self.entry.fn(spark, inp.dir)
        return digest(root, df.columns, df.collect())

    def expected(self, inp: Inputs, root: str) -> dict:
        res = duck(inp.tables).execute(self.entry.sql)
        return digest(root, [d[0] for d in res.description], res.fetchall())

    def matches(self, got: dict, want: dict) -> bool:
        return got == want


# ------------------------------------------------------------------- WINS

_POD = "water_pod"
_RESERVES = """
      WITH e AS (
        SELECT r.OBJECTID, r.TRRR_TAG,
               CASE WHEN r.TRRR_TAG LIKE 'RV%' THEN 'EA83030000'
                    WHEN r.TRRR_TAG LIKE 'RS%' THEN 'EA83040000'
                    ELSE r.FEATURE_CODE END AS FEATURE_CODE,
               p.PNTS_DESCR AS DESCRIPTION, lower(hex(r.geometry)) AS geometry,
               COUNT(*) OVER (PARTITION BY r.TRRR_TAG) > 1
                 AND r.TRRR_TAG IS NOT NULL AS _dup,
               p.PNTS_CODE IS NOT NULL AS _m
        FROM reserves_and_restrictions r
        LEFT JOIN water_pod p ON r.TRRR_TAG = p.PNTS_CODE)"""
WINS_SQL = {
    "reserves_and_restrictions": _RESERVES + """
      SELECT OBJECTID, TRRR_TAG, FEATURE_CODE, DESCRIPTION, geometry FROM e
      WHERE NOT _dup AND _m""",
    "reserves_and_restrictions__rejects": _RESERVES + """
      SELECT OBJECTID, TRRR_TAG, FEATURE_CODE, DESCRIPTION, geometry,
             CASE WHEN _dup THEN 'Duplicate TRRR_TAG'
                  ELSE 'TRRR_TAG not found in Water POD Table' END AS REJECT_FLAG
      FROM e WHERE _dup OR NOT _m""",
    "non_trim_hydrography": """
      SELECT h.OBJECTID, nullif(h.TNTH_TAG, '') AS TNTH_TAG,
             'GA24850000' AS FEATURE_CODE, p.SRCE_GAZETTED AS STREAM_NAME,
             lower(hex(h.geometry)) AS geometry
      FROM non_trim_hydrography h
      LEFT JOIN water_pod p ON nullif(h.TNTH_TAG, '') = p.PNTS_CODE""",
    "water_licensed_works_points": """
      SELECT OBJECTID, nullif(TWRK_TAG, '') AS TWRK_TAG,
             nullif(FEATURE_CODE, '') AS FEATURE_CODE, lower(hex(geometry)) AS geometry
      FROM water_licensed_works_points""",
    "water_licensed_works_lines": """
      SELECT OBJECTID, nullif(TWRK_TAG, '') AS TWRK_TAG,
             nullif(FEATURE_CODE, '') AS FEATURE_CODE, lower(hex(geometry)) AS geometry
      FROM water_licensed_works_lines""",
    "flooded_area_lines": """
      SELECT OBJECTID, 'GB11350000' AS FEATURE_CODE, lower(hex(geometry)) AS geometry
      FROM flooded_area_lines""",
}


class WinsJobOp:
    """``run_job`` from a PipelineConfig to published parquet plus the
    delivered log; every run publishes into a fresh staging directory."""

    name = "wins_job"

    def __init__(self):
        self.runs = 0
        self.delivered: list[str] = []
        self.staging: str | None = None

    def run(self, spark, inp: Inputs) -> None:
        from flnr_wins_spark.config import PipelineConfig
        from flnr_wins_spark.plans import job

        self.runs += 1
        self.staging = os.path.join(inp.dir, "..", f"staging-{self.runs}")
        config = PipelineConfig(
            tables={n: inp.tables[n] for n in gen.WINS_TABLES},
            lookup={"water_pod_table": inp.tables[_POD]},
            staging_dir=self.staging,
        )
        self.delivered.clear()
        ok, log = job.run_job(spark, config, notify=self.delivered.append)
        if not ok:
            raise RuntimeError(log)

    def cleanup(self) -> None:
        if self.staging:
            shutil.rmtree(self.staging, ignore_errors=True)

    def output(self, spark, inp: Inputs, root: str) -> dict:
        self.run(spark, inp)
        out = {"log_success": bool(self.delivered) and self.delivered[-1].startswith("SUCCESS")}
        tables = {n: os.path.join(self.staging, n) for n in WINS_SQL}
        con = duck(tables)
        for name in WINS_SQL:
            res = con.execute(
                f"SELECT * REPLACE (lower(hex(geometry)) AS geometry) FROM {name}"
            )
            out[name] = digest(root, [d[0] for d in res.description], res.fetchall())
        inputs = sum(dir_bytes(inp.tables[n]) for n in gen.WINS_TABLES + (_POD,))
        out["stored_bytes_per_input_byte"] = sum(map(dir_bytes, tables.values())) / inputs
        return out

    def expected(self, inp: Inputs, root: str) -> dict:
        con = duck(inp.tables)
        out = {"log_success": True}
        for name, sql in WINS_SQL.items():
            res = con.execute(sql)
            out[name] = digest(root, [d[0] for d in res.description], res.fetchall())
        return out

    def matches(self, got: dict, want: dict) -> bool:
        return all(got.get(k) == v for k, v in want.items())


# -------------------------------------------------------------- workloads


@dataclass
class Workload:
    name: str
    ops: list
    input_tables: tuple[str, ...]  # the tables its operations read

    def prepare(self, root: str, cache: str, session) -> None:
        """Build what the inputs of every seed share, once per checkout, under
        ``cache``; ``session()`` is a context manager giving a Spark session."""

    def inputs(self, spark, root: str, work: str, seed: int) -> Inputs:
        """Generate the inputs under ``work`` and lay them out for reading."""
        raise NotImplementedError


class BaseWorkload(Workload):
    sf = 0.01

    def inputs(self, spark, root, work, seed):
        d = os.path.join(work, "base")
        gen.write_base(d, seed, self.sf)
        return _inputs(d, self.input_tables)


class ReplicatedWorkload(Workload):
    """sf0.001 tables replicated 10x, each laid out as many files, plus the
    WINS inputs derived from the replicated orders/lineitem.

    The 10x copy does not depend on the run's seed: :meth:`prepare` builds
    it once per checkout, from the default seed's sf0.001 tables (10
    documents and embeddings, which none of the operations read), in a
    Spark session of its own, and keeps it under ``cache``. A run's seed
    picks the row order and row-to-file assignment of every table, and the
    WINS residues."""

    sf = 0.001
    docs = 10
    scaled = ""

    def prepare(self, root, cache, session):
        key = hashlib.sha256(repr((self.sf, self.docs, DEFAULT_SEED)).encode())
        for path in (os.path.join(root, "scripts", "scale_stress.py"), gen.__file__):
            with open(path, "rb") as fh:
                key.update(fh.read())
        self.scaled = os.path.join(cache, f"x10-{key.hexdigest()[:16]}")
        if os.path.isdir(self.scaled):
            return
        os.makedirs(cache, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="building-", dir=cache)
        try:
            base = os.path.join(tmp, "base")
            gen.write_base(base, DEFAULT_SEED, self.sf, docs=self.docs)
            with session() as spark:
                gen.write_scaled(spark, root, base, os.path.join(tmp, "x10"))
            os.replace(os.path.join(tmp, "x10"), self.scaled)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def inputs(self, spark, root, work, seed):
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        d = os.path.join(work, "x10")
        for name in self.input_tables:
            table = pq.read_table(os.path.join(self.scaled, f"{name}.parquet"))
            gen.spread_files(table, os.path.join(d, f"{name}.parquet"), seed)
        orders, lineitem = (
            ds.dataset(os.path.join(d, f"{n}.parquet")).to_table() for n in ("orders", "lineitem")
        )
        wins = os.path.join(work, "wins")
        out = _inputs(d, self.input_tables)
        for name, rows in gen.write_wins(wins, seed, orders, lineitem).items():
            out.tables[name] = path = os.path.join(wins, name)
            out.rows += rows
            out.bytes += dir_bytes(path)
        return out


def _inputs(d: str, names) -> Inputs:
    import pyarrow.dataset as ds

    tables = {n: os.path.join(d, f"{n}.parquet") for n in names}
    rows = sum(ds.dataset(p).count_rows() for p in tables.values())
    return Inputs(d, rows, sum(map(dir_bytes, tables.values())), tables)


CORPUS_OPS = (
    "x_llm_corpus_e2e", "x_dedup_minhash_lsh", "x_multimodal_dhash_dedup",
    "x_fuzzy_join",
)
RELATIONAL_OPS = (
    "q1_pricing_summary", "q9_product_type_profit", "q18_large_volume_customer",
)


class JaccardPairsOp(RegistryOp):
    """``x_dedup_minhash_lsh`` has no SQL twin, so only its row count is
    checked: the number of document pairs of the entry's corpus whose
    distinct word-3-shingle sets have Jaccard similarity >= 0.8, counted
    exactly (the shingling of ``x_dedup_minhash_portable``'s SQL twin)."""

    threshold = 0.8

    def expected(self, inp: Inputs, root: str) -> dict:
        from flnr_wins_spark.plans.extensions import _DUP_SQL_DOCS

        sets = []
        for (text,) in duck(inp.tables).execute(f"SELECT text FROM ({_DUP_SQL_DOCS})").fetchall():
            toks = text.split(" ")
            if len(toks) >= 3:
                sets.append({" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)})
        sets.sort(key=len)
        pairs = 0
        for i, a in enumerate(sets):
            for b in sets[i + 1:]:
                if len(a) < self.threshold * len(b):
                    break  # Jaccard <= |a| / |b| for every later, larger b
                pairs += len(a & b) / len(a | b) >= self.threshold
        return {"rows": pairs}

    def matches(self, got: dict, want: dict) -> bool:
        return got["rows"] == want["rows"]


def _registry_op(name: str) -> RegistryOp:
    return JaccardPairsOp(name) if name == "x_dedup_minhash_lsh" else RegistryOp(name)


def workloads() -> dict[str, Workload]:
    ws = [
        # tables as shipped: bound by overhead, eager driver actions and the
        # Python/Arrow boundary
        BaseWorkload(
            "corpus_ops", [_registry_op(n) for n in CORPUS_OPS], ("documents", "embeddings"),
        ),
        # the job users run plus relational headliners on a production-shaped
        # layout of many files: bound by per-job overhead and scans
        ReplicatedWorkload(
            "production_10x",
            [WinsJobOp()] + [_registry_op(n) for n in RELATIONAL_OPS],
            tuple(n for n in gen.BASE_TABLES if n not in ("events", "documents", "embeddings")),
        ),
    ]
    return {w.name: w for w in ws}


def load_expected(workload: str) -> dict:
    path = os.path.join(HERE, "expected", f"{workload}.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        return json.load(fh)
