"""Differential test: the driver-side `apply_workload` scan against the Spark
builders `workload_stats(table_refs_df(statements_df(...)))`.

Both must give every catalog table the same gaf/uaf on every log, including
the inputs where Java's and Python's regex engines disagree by default:
line terminators other than \\n (Java's MULTILINE `^` honours \\r, U+0085,
U+2028 and U+2029) and non-ASCII whitespace, digits and letters (Java's
\\s and \\d are ASCII; Java 17's \\b is not).
"""

from __future__ import annotations

import random
import uuid

import pytest

from relational_to_doc_oriented_nosql_migrator_spark import workload as W
from relational_to_doc_oriented_nosql_migrator_spark.operators.workload_ops import (
    MYSQL_LOG,
    PG_LOG,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
    Catalog,
    TableMeta,
)

ROW_COUNTS = {
    "region": 5, "nation": 25, "customer": 150, "supplier": 10, "part": 200,
    "orders": 1500, "lineitem": 6005, "events": 1000, "documents": 300,
    "embeddings": 300,
}
UNTOUCHED = -1  # sentinel: apply_workload must leave absent tables alone


def _catalog() -> Catalog:
    return Catalog([
        TableMeta(name, rows, gaf=UNTOUCHED, uaf=UNTOUCHED)
        for name, rows in ROW_COUNTS.items()
    ])


def _mysql_entry(i: int, stmt: str, command: str = "Query") -> str:
    """One general-log entry, stamped i seconds into 2024-08-01."""
    day, hour = i // 86400 % 28 + 1, i // 3600 % 24
    stamp = f"2408{day:02d} {hour:2d}:{i // 60 % 60:02d}:{i % 60:02d}"
    return f"{stamp}\t{i % 97:>6} {command}\t{stmt}"


def generated_log(n: int = 2000, seed: int = 7) -> str:
    """A seeded MySQL general log of n Query entries in the shapes a real
    log holds: JOINs, comma FROM-lists, subqueries, quoted and
    db-qualified names, multi-line bodies, timestamp-less continuation
    lines, non-Query commands, non-DML heads and unknown tables."""
    rng = random.Random(seed)
    names = list(ROW_COUNTS) + ["ghost", "ORDERS"]

    def t():
        return rng.choice(names)

    shapes = [
        lambda: f"SELECT * FROM {t()} WHERE k = {rng.randint(1, 99)}",
        lambda: f"SELECT a.x, b.y FROM {t()} a JOIN {t()} b ON a.k = b.k",
        lambda: f"select x from {t()}, {t()} where x = y",
        lambda: f"SELECT * FROM {t()} WHERE k IN (SELECT k FROM {t()})",
        lambda: f"SELECT * FROM `{t()}` LEFT JOIN tpch.{t()} USING (k)",
        lambda: f"INSERT INTO {t()} VALUES ({rng.randint(1, 9)}, 'x')",
        lambda: f"UPDATE {t()} SET v = {rng.randint(1, 9)}\n\tWHERE k = 3",
        lambda: f"DELETE FROM {t()} WHERE k = {rng.randint(1, 99)}",
        lambda: f"CREATE TABLE tmp_{rng.randint(1, 9)} (x INT)",
        lambda: "GRANT ALL ON db TO root",
        lambda: "SHOW TABLES",
    ]
    lines = []
    for i in range(n):
        lines.append(_mysql_entry(i, rng.choice(shapes)()))
        r = rng.random()
        if r < 0.05:
            lines.append(_mysql_entry(i, "root@localhost on db", "Connect"))
        elif r < 0.08:
            # Same-second entry: MySQL omits the timestamp, so the line
            # continues the previous entry's body.
            lines.append(f"\t\t{i % 97:>6} Query\tSELECT * FROM {t()}")
    return "\n".join(lines) + "\n"


NON_ASCII_MYSQL = "\n".join([
    _mysql_entry(1, "SELECT\u00a0*\u00a0FROM\u00a0orders\u00a0"),
    _mysql_entry(2, "\u00a0SELECT * FROM customer"),  # Spark's trim keeps it
    # NBSP is not \s in Java: no entry boundary, the line joins the body.
    "240807\u00a010:15:24\t   42 Query\tDELETE FROM lineitem",
    # Arabic-Indic digits are not \d in Java either.
    "\u0662\u0664\u0660\u0668\u0660\u0667 10:15:25\t   42 Query\tDELETE FROM part",
    _mysql_entry(5, "SELECT\u00e9 * FROM supplier"),  # e-acute: not an ASCII \w
    _mysql_entry(6, "UPDATE nation SET n = 1\x1c"),
    _mysql_entry(7, "\x1cUPDATE region SET r = 1"),
    _mysql_entry(8, "INSERT INTO events VALUES (1)"),
]) + "\n"

NO_QUERY_LOG = "\n".join([
    _mysql_entry(1, "root@localhost on db", "Connect"),
    _mysql_entry(2, "tpch", "Init DB"),
    _mysql_entry(3, "", "Quit"),
]) + "\n"

UNKNOWN_TABLES_LOG = "\n".join([
    _mysql_entry(1, "SELECT * FROM ghost"),
    _mysql_entry(2, "UPDATE ORDERS SET o = 1"),  # exact names: not `orders`
    _mysql_entry(3, "INSERT INTO phantom VALUES (1)"),
    _mysql_entry(4, "SELECT * FROM orders JOIN ghost ON a = b"),
]) + "\n"

CASES = {
    "mysql_fixture": (MYSQL_LOG, "mysql"),
    "pg_fixture": (PG_LOG, "postgresql"),
    "generated_2000": (generated_log(), "mysql"),
    "mysql_crlf": (MYSQL_LOG.replace("\n", "\r\n"), "mysql"),
    "mysql_bare_cr": (MYSQL_LOG.replace("\n", "\r"), "mysql"),
    "mysql_u2028": (MYSQL_LOG.replace("\n", "\u2028"), "mysql"),
    "mysql_u0085": (MYSQL_LOG.replace("\n", "\u0085"), "mysql"),
    "pg_crlf": (PG_LOG.replace("\n", "\r\n"), "postgresql"),
    "pg_bare_cr": (PG_LOG.replace("\n", "\r"), "postgresql"),
    "pg_u2029": (PG_LOG.replace("\n", "\u2029"), "postgresql"),
    "mysql_nbsp_and_non_ascii": (NON_ASCII_MYSQL, "mysql"),
    "empty": ("", "mysql"),
    "no_query_entries": (NO_QUERY_LOG, "mysql"),
    "unknown_tables": (UNKNOWN_TABLES_LOG, "mysql"),
}


def _spark_stats(spark, log: str, dialect: str) -> dict[str, tuple[int, int]]:
    log_df = spark.createDataFrame([(log,)], "value string")
    row_counts = spark.createDataFrame(
        list(ROW_COUNTS.items()), "table_name string, num_rows long"
    )
    refs = W.table_refs_df(W.statements_df(log_df, dialect), dialect)
    return {
        r["table_name"]: (r["gaf"], r["uaf"])
        for r in W.workload_stats(refs, row_counts).collect()
    }


def _driver_stats(log: str, dialect: str) -> dict[str, tuple[int, int]]:
    catalog = _catalog()
    W.apply_workload(None, catalog, log, dialect)
    return {
        t.name: (t.gaf, t.uaf)
        for t in catalog.tables.values()
        if (t.gaf, t.uaf) != (UNTOUCHED, UNTOUCHED)
    }


@pytest.mark.parametrize("case", list(CASES))
def test_driver_pass_matches_spark_builders(spark, case):
    log, dialect = CASES[case]
    assert _driver_stats(log, dialect) == _spark_stats(spark, log, dialect)


def test_cases_exercise_what_they_name():
    """Guards the fixtures themselves: the terminator variants still hold
    several entries, and the degenerate logs touch nothing."""
    for case in ("mysql_bare_cr", "mysql_u2028", "pg_bare_cr", "pg_u2029"):
        assert len(_driver_stats(*CASES[case])) >= 3, case
    for case in ("empty", "no_query_entries"):
        assert _driver_stats(*CASES[case]) == {}, case
    assert set(_driver_stats(*CASES["unknown_tables"])) == {"orders"}
    assert len(_driver_stats(*CASES["generated_2000"])) == len(ROW_COUNTS)


def test_apply_workload_submits_no_spark_job(spark):
    sc = spark.sparkContext
    group = f"workload-driver-pass-{uuid.uuid4().hex}"
    control = f"workload-spark-builders-{uuid.uuid4().hex}"
    log, dialect = CASES["generated_2000"]
    try:
        sc.setJobGroup(group, "apply_workload")
        W.apply_workload(spark, _catalog(), log, dialect)
        # Control: the same reduction through the builders does submit
        # jobs under a group, so an empty list below is not vacuous.
        sc.setJobGroup(control, "workload_stats")
        _spark_stats(spark, log, dialect)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup(group) == []
    assert tracker.getJobIdsForGroup(control) != []


def test_apply_workload_assigns_rather_than_accumulates():
    log, dialect = CASES["generated_2000"]
    catalog = _catalog()
    W.apply_workload(None, catalog, log, dialect)
    once = {n: (t.gaf, t.uaf) for n, t in catalog.tables.items()}
    W.apply_workload(None, catalog, log, dialect)
    assert {n: (t.gaf, t.uaf) for n, t in catalog.tables.items()} == once
    assert catalog.maf == pytest.approx(
        0.0125 * sum(gaf for gaf, _ in once.values())
    )
