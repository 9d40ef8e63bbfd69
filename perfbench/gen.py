"""Seeded input generator for the benchmark.

Everything a workload reads is made here from ``--seed``, so the same seed
gives byte-identical inputs and the benchmark never depends on data outside
its own work directory:

- ``tables``: the TPC-H-style star schema plus the ``events``, ``documents``
  and ``embeddings`` extension tables, one ``<name>.parquet`` file each, with
  the column names and types the package's loaders and catalog expect.
- ``query_log``: a MySQL general query log. Its statement mix per table is
  fixed by the profile; the seed only picks statement order, literals,
  timestamps and connection ids. The profiles sit far from the MAF flip point
  of the embed-vs-reference rule, so every seed yields the same plan.
- ``sql_dump``: a mysqldump-style dump of the seven TPC-H tables with PK/FK
  clauses from the package's TPC-H catalog; the seed picks row order and the
  INSERT batch sizes.

Run as a script to write one workload's inputs (the benchmark does this in a
child process, so generation does not count toward the Spark driver's peak
memory):

    python3 perfbench/gen.py --out DIR --seed 7 --tables-sf 0.03 \
        --tables-log read_heavy --dump-sf 0.001 --dump-log write_heavy
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem")
ALL_TABLES = TPCH_TABLES + ("events", "documents", "embeddings")

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
COLORS = ("red", "blue", "green", "small", "large", "black", "white")
NOUNS = ("widget", "bolt", "ring", "gear", "valve", "spring", "panel")
PART_TYPES = ("ECONOMY", "STANDARD", "SMALL", "LARGE", "MEDIUM", "PROMO")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
VOCAB = ("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
         "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
         "window", "order", "data", "column", "join", "small", "customer",
         "query", "big", "stream", "group", "filter", "vector", "fast")
EMBED_DIM = 64
N_LABELS = 10

_US = np.int64(1_000_000)
_EPOCH_1992 = np.int64(int(dt.datetime(1992, 1, 1).timestamp())) * _US
_EPOCH_2024 = np.int64(int(dt.datetime(2024, 1, 1).timestamp())) * _US
_DAY_US = np.int64(86_400) * _US


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (TPC-H ratios for the star
    schema; sf0.01 gives 60,000 lineitems and 15,000 orders)."""
    def scaled(base: int, floor: int) -> int:
        return max(floor, int(round(base * sf)))

    return {
        "region": 5,
        "nation": 25,
        "customer": scaled(150_000, 30),
        "supplier": scaled(10_000, 10),
        "part": scaled(200_000, 40),
        "orders": scaled(1_500_000, 100),
        "lineitem": scaled(6_000_000, 400),
        "events": scaled(1_000_000, 200),
        "documents": scaled(50_000, 40),
        "embeddings": scaled(20_000, 60),
    }


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def tables(sf: float, seed: int, names=ALL_TABLES) -> dict[str, pa.Table]:
    """Generate the named tables. Every table draws from its own seeded
    stream, so a table's contents do not depend on which others are made."""
    n = row_counts(sf)

    def rng_for(name: str) -> np.random.Generator:
        return np.random.default_rng([seed, ALL_TABLES.index(name)])

    out: dict[str, pa.Table] = {}
    for name in names:
        rng = rng_for(name)
        k = n[name]
        if name == "region":
            t = pa.table({
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            })
        elif name == "nation":
            t = pa.table({
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            })
        elif name == "customer":
            t = pa.table({
                "c_custkey": pa.array(np.arange(k), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
                "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
                "c_mktsegment": _pick(rng, SEGMENTS, k),
            })
        elif name == "supplier":
            t = pa.table({
                "s_suppkey": pa.array(np.arange(k), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
                "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
            })
        elif name == "part":
            color = np.asarray(COLORS, dtype=object)[rng.integers(0, len(COLORS), k)]
            noun = np.asarray(NOUNS, dtype=object)[rng.integers(0, len(NOUNS), k)]
            t = pa.table({
                "p_partkey": pa.array(np.arange(k), pa.int64()),
                "p_name": pa.array([f"{c} {w}" for c, w in zip(color, noun)]),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)]),
                "p_type": _pick(rng, PART_TYPES, k),
                "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
                "p_retailprice": pa.array(np.round(900 + (np.arange(k) % 1000) * 0.1, 2)),
            })
        elif name == "orders":
            days = rng.integers(0, 7 * 365, k)
            t = pa.table({
                "o_orderkey": pa.array(np.arange(k), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), k),
                "o_totalprice": pa.array(_money(rng, 850.0, 550_000.0, k)),
                "o_orderdate": _ts(_EPOCH_1992 + days * _DAY_US),
                "o_orderpriority": _pick(rng, PRIORITIES, k),
            })
        elif name == "lineitem":
            orderkey = rng.integers(0, n["orders"], k)
            # l_linenumber numbers each order's lines 1..m, so the
            # (l_orderkey, l_linenumber) primary key is unique.
            order = np.argsort(orderkey, kind="stable")
            sorted_keys = orderkey[order]
            starts = np.r_[0, np.flatnonzero(np.diff(sorted_keys)) + 1]
            run_start = np.repeat(starts, np.diff(np.r_[starts, k]))
            linenumber = np.empty(k, np.int64)
            linenumber[order] = np.arange(k) - run_start + 1
            qty = rng.integers(1, 51, k).astype(np.float64)
            days = rng.integers(0, 10 * 365, k)
            t = pa.table({
                "l_orderkey": pa.array(orderkey, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
                "l_linenumber": pa.array(linenumber, pa.int32()),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, k), 2)),
                "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
                "l_returnflag": _pick(rng, ("A", "N", "R"), k),
                "l_linestatus": _pick(rng, ("F", "O"), k),
                "l_shipdate": _ts(_EPOCH_1992 + days * _DAY_US),
            })
        elif name == "events":
            span_us = 30 * _DAY_US
            ts = np.sort(rng.integers(0, span_us, k))
            t = pa.table({
                "event_id": pa.array(np.arange(k), pa.int64()),
                "ts": _ts(_EPOCH_2024 + ts),
                "user_id": pa.array(rng.integers(0, max(10, k // 66), k), pa.int64()),
                "event_type": _pick(rng, EVENT_TYPES, k),
                "value": pa.array(np.round(rng.exponential(50.0, k), 2) + 0.01),
                "props": pa.array([json.dumps({"k": int(v)})
                                   for v in rng.integers(0, 100, k)]),
            })
        elif name == "documents":
            lengths = rng.integers(10, 100, k)
            words = np.asarray(VOCAB, dtype=object)[
                rng.integers(0, len(VOCAB), int(lengths.sum()))]
            bounds = np.r_[0, np.cumsum(lengths)]
            texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(k)]
            t = pa.table({
                "doc_id": pa.array(np.arange(k), pa.int64()),
                "text": pa.array(texts),
                "lang": _pick(rng, LANGS, k, p=LANG_P),
                "source": pa.array([f"src{i % 20}" for i in range(k)]),
                "n_chars": pa.array([len(s) for s in texts], pa.int64()),
            })
        elif name == "embeddings":
            labels = rng.integers(0, N_LABELS, k)
            centers = rng.normal(0, 1, (N_LABELS, EMBED_DIM))
            vecs = centers[labels] + rng.normal(0, 1.5, (k, EMBED_DIM))
            vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
            t = pa.table({
                "vec_id": pa.array(np.arange(k), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            })
        else:
            raise ValueError(f"unknown table {name!r}")
        out[name] = t
    return out


def write_tables(out_dir: str, data: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in data.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# --- query logs --------------------------------------------------------------

# Statements per table in a 1,000-statement block, by profile:
# (reads, writes). Joins add a read of each table they name.
LOG_PROFILES: dict[str, dict[str, tuple[int, int]]] = {
    # Read-heavy, over all ten tables: writes touch only root tables and a
    # trickle of customer updates. customer's uaf stays under a tenth of
    # MAF, and the tables whose writes could flip an embed (orders,
    # lineitem, supplier, nation) see none, so every table with one or two
    # FKs stays embedded.
    "read_heavy": {
        "region": (40, 0), "nation": (60, 0), "customer": (110, 2),
        "supplier": (60, 0), "part": (80, 4), "orders": (150, 0),
        "lineitem": (150, 0), "events": (100, 10), "documents": (70, 6),
        "embeddings": (50, 4),
    },
    # Write-heavy, over the seven TPC-H tables: about 80% writes, customer
    # weighted 5x, so every FK table's uaf (or a referencing table's) is
    # at least ~5x MAF and every table becomes a referencing root.
    "write_heavy": {
        "region": (18, 72), "nation": (18, 72), "customer": (91, 364),
        "supplier": (18, 72), "part": (18, 72), "orders": (18, 72),
        "lineitem": (18, 73),
    },
}

JOINS = (
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("nation", "region", "n_regionkey", "r_regionkey"),
    ("customer", "nation", "c_nationkey", "n_nationkey"),
    ("supplier", "nation", "s_nationkey", "n_nationkey"),
)

_KEY = {"region": "r_regionkey", "nation": "n_nationkey",
        "customer": "c_custkey", "supplier": "s_suppkey", "part": "p_partkey",
        "orders": "o_orderkey", "lineitem": "l_orderkey", "events": "event_id",
        "documents": "doc_id", "embeddings": "vec_id"}
_NUM = {"region": "r_regionkey", "nation": "n_regionkey",
        "customer": "c_acctbal", "supplier": "s_acctbal",
        "part": "p_retailprice", "orders": "o_totalprice",
        "lineitem": "l_quantity", "events": "value", "documents": "n_chars",
        "embeddings": "label"}


def _statement(rng: np.random.Generator, table: str, write: bool) -> str:
    key, num = _KEY[table], _NUM[table]
    k = int(rng.integers(0, 100_000))
    v = round(float(rng.uniform(0, 1000)), 2)
    if not write:
        shape = int(rng.integers(0, 3))
        if shape == 0:
            return f"SELECT * FROM {table} WHERE {key} = {k}"
        if shape == 1:
            return f"SELECT COUNT(*), AVG({num}) FROM {table} WHERE {num} > {v}"
        return f"SELECT {key}, {num} FROM {table} ORDER BY {num} DESC LIMIT {k % 50 + 1}"
    shape = int(rng.integers(0, 3))
    if shape == 0:
        return f"UPDATE {table} SET {num} = {v} WHERE {key} = {k}"
    if shape == 1:
        return f"INSERT INTO {table} ({key}, {num}) VALUES ({k + 10_000_000}, {v})"
    return f"DELETE FROM {table} WHERE {key} = {k + 10_000_000}"


def query_log(seed: int, profile: str, blocks: int = 2) -> tuple[str, int]:
    """A MySQL general query log: ``blocks`` x 1,000 statements in the
    profile's fixed per-table mix, in seeded order. Returns (text, number of
    Query entries)."""
    rng = np.random.default_rng([seed, 101])
    mix = LOG_PROFILES[profile]
    jobs: list[tuple[str, bool]] = []
    for table, (reads, writes) in mix.items():
        jobs += [(table, False)] * (reads * blocks) + [(table, True)] * (writes * blocks)
    joins = [j for j in JOINS if j[0] in mix and j[1] in mix]
    stmts = [_statement(rng, t, w) for t, w in jobs]
    for i in range(len(stmts) // 20):
        a, b, fa, fb = joins[i % len(joins)]
        stmts.append(
            f"SELECT x.{_KEY[a]}, y.{_KEY[b]} FROM {a} x JOIN {b} y "
            f"ON x.{fa} = y.{fb} WHERE x.{_NUM[a]} > {int(rng.integers(0, 500))}")
    stmts = [stmts[i] for i in rng.permutation(len(stmts))]
    lines = ["/usr/sbin/mysqld, Version: 8.0.36 (MySQL Community Server - GPL). "
             "started with:",
             "Tcp port: 3306  Unix socket: /var/run/mysqld/mysqld.sock",
             "Time                 Id Command    Argument"]
    start = dt.datetime(2024, 3, 1, 8, 0, 0)
    clock = 0.0
    conns = rng.integers(8, 40, len(stmts))
    for i, (stmt, conn) in enumerate(zip(stmts, conns)):
        clock += float(rng.exponential(0.7))
        when = start + dt.timedelta(seconds=clock)
        stamp = f"{when:%y%m%d} {when.hour:2d}:{when:%M:%S}"
        if i % 50 == 0:
            lines.append(f"{stamp}\t{conn:>6} Connect\tapp@localhost on shop using TCP/IP")
        lines.append(f"{stamp}\t{conn:>6} Query\t{stmt}")
    return "\n".join(lines) + "\n", len(stmts)


# --- SQL dump ----------------------------------------------------------------

def _sql_type(t: pa.DataType) -> str:
    if pa.types.is_int64(t):
        return "BIGINT"
    if pa.types.is_integer(t):
        return "INT"
    if pa.types.is_floating(t):
        return "DOUBLE"
    if pa.types.is_timestamp(t):
        return "DATETIME"
    return "VARCHAR(64)"


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, dt.datetime):
        return f"'{v:%Y-%m-%d %H:%M:%S}'"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def sql_dump(data: dict[str, pa.Table], seed: int) -> str:
    """mysqldump-style text for the TPC-H tables in ``data``: CREATE TABLE
    with PRIMARY/FOREIGN KEY clauses, then multi-row INSERTs of seeded
    order and batch size."""
    from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
        TPCH_FOREIGN_KEYS,
        TPCH_PRIMARY_KEYS,
    )

    rng = np.random.default_rng([seed, 202])
    names = [n for n in TPCH_TABLES if n in data]
    parts = ["-- MySQL dump 10.13  Distrib 8.0.36",
             "SET NAMES utf8mb4;", "SET FOREIGN_KEY_CHECKS=0;",
             "DROP DATABASE IF EXISTS shop;", "CREATE DATABASE shop;",
             "USE shop;"]
    for name in names:
        cols = [f"  `{f.name}` {_sql_type(f.type)}" for f in data[name].schema]
        cols.append("  PRIMARY KEY (" + ", ".join(
            f"`{c}`" for c in TPCH_PRIMARY_KEYS[name]) + ")")
        for col, ref_table, ref_col in TPCH_FOREIGN_KEYS[name]:
            cols.append(f"  CONSTRAINT `fk_{name}_{col}` FOREIGN KEY (`{col}`) "
                        f"REFERENCES `{ref_table}` (`{ref_col}`)")
        parts.append(f"DROP TABLE IF EXISTS `{name}`;")
        parts.append(f"CREATE TABLE `{name}` (\n" + ",\n".join(cols) +
                     "\n) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;")
    for name in [names[i] for i in rng.permutation(len(names))]:
        t = data[name]
        rows = t.take(pa.array(rng.permutation(t.num_rows))).to_pylist()
        col_list = ", ".join(f"`{c}`" for c in t.column_names)
        parts.append(f"LOCK TABLES `{name}` WRITE;")
        i = 0
        while i < len(rows):
            batch = rows[i:i + int(rng.integers(100, 1000))]
            i += len(batch)
            values = ",".join(
                "(" + ",".join(_sql_literal(v) for v in r.values()) + ")"
                for r in batch)
            parts.append(f"INSERT INTO `{name}` ({col_list}) VALUES {values};")
        parts.append("UNLOCK TABLES;")
    return "\n".join(parts) + "\n"


def generate(out_dir: str, seed: int, tables_sf: float | None = None,
             tables_log: str | None = None, dump_sf: float | None = None,
             dump_log: str | None = None) -> dict:
    """Write one workload's inputs under ``out_dir``: parquet tables under
    ``tables/`` (with their query log ``tables.log``) and/or ``dump.sql``
    (with ``dump.log``). Returns the manifest also written as
    ``manifest.json``: row counts per table and log statement counts."""
    os.makedirs(out_dir, exist_ok=True)
    manifest: dict = {"seed": seed}
    parts = (("tables", tables_sf, tables_log), ("dump", dump_sf, dump_log))
    for part, sf, log in parts:
        if sf is None:
            continue
        entry: dict = {"sf": sf}
        if part == "tables":
            data = tables(sf, seed)
            write_tables(os.path.join(out_dir, "tables"), data)
        else:
            data = tables(sf, seed, TPCH_TABLES)
            text = sql_dump(data, seed)
            with open(os.path.join(out_dir, "dump.sql"), "w") as fh:
                fh.write(text)
        entry["rows"] = {name: t.num_rows for name, t in data.items()}
        if log:
            text, entry["log_statements"] = query_log(seed, log)
            with open(os.path.join(out_dir, f"{part}.log"), "w") as fh:
                fh.write(text)
        manifest[part] = entry
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
    return manifest


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--out", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--tables-sf", type=float)
    p.add_argument("--tables-log", choices=sorted(LOG_PROFILES))
    p.add_argument("--dump-sf", type=float)
    p.add_argument("--dump-log", choices=sorted(LOG_PROFILES))
    args = p.parse_args(argv)
    generate(args.out, args.seed, args.tables_sf, args.tables_log,
             args.dump_sf, args.dump_log)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main())
