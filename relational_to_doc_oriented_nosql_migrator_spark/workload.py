"""Workload analyzer — query log -> per-table GAF/UAF stats + MAF threshold.

Reference pipeline (server/LogManager.js:4-100): tokenize the raw log with a
dialect regex, keep Query/statement entries whose normalized body starts with
select|insert|update|delete|create, SQL-parse each into distinct table refs
'{op}::{db}::{table}', then for each select/insert/update/delete ref add the
table's row count to its gaf (and to uaf for writes); finally
maf = 0.0125 * sum(gaf) (server/models/RelationalDatabase.js:17-24).

The log reaches the migrator as one driver-side string (the reference's
readFileSync; the CLI reads a file, the service an upload), and the result
is one pair of counters per table. `apply_workload` therefore reduces it in
one in-process scan and submits no Spark job: over a one-row DataFrame the
same steps would run as a single task behind several jobs.

The DataFrame builders (`statements_df` ... `workload_stats`) express the
same steps as Spark column expressions; they are the `workload_ops`
operator surface, checked against DuckDB oracles. Both paths share the
regex constants below and the per-statement parser
(`functions.sqlparse.extract_table_refs`), and
tests/test_workload_driver_parity.py holds their gaf/uaf equal.

Each pattern reads the same in Java's and Python's regex engines: Python
compiles them with re.ASCII (Java's \\s, \\d and \\w are ASCII), entry
anchors spell out Java's line terminators instead of relying on (?m)^, and
the statement head ends in an explicit ASCII word boundary instead of \\b
(Java 17's \\b treats every Unicode letter as a word character).
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from relational_to_doc_oriented_nosql_migrator_spark.functions.scalar import (
    whitespace_normalize,
)
from relational_to_doc_oriented_nosql_migrator_spark.functions.sqlparse import (
    extract_table_refs,
    sql_tablelist_udf,
)
from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import Catalog

# Java's MULTILINE `^`: start of input, or after \n, \r, \u0085, \u2028 or
# \u2029. Python's (?m)^ knows only \n. A position inside a \r\n pair is
# followed by \n, never by an entry's timestamp digits, so the pair still
# counts as one terminator.
_LINE_START = r"(?<![^\n\r\u0085\u2028\u2029])"

# Entry anchors (reference server/LogManager.js:15-16,36-37). We anchor on
# the line-start timestamp of each entry; bodies may span lines.
MYSQL_ENTRY_SPLIT = _LINE_START + r"(?=\d{6}\s+\d{1,2}:\d{2}:\d{2}\s)"
MYSQL_ENTRY_RE = (
    r"(?s)^\d{6}\s+\d{1,2}:\d{2}:\d{2}\s+\d+\s+"
    r"(Connect|Quit|Query|Init DB|Sleep|Shutdown|Create DB|Drop DB|Refresh|"
    r"Statistics|Processlist|Kill|Change user|Binlog Dump|Table Dump|"
    r"Field List|Execute|Prepare|Close stmt|Reset stmt|Fetch|Daemon)\s+(.*)$"
)
PG_ENTRY_SPLIT = (
    _LINE_START + r"(?=\d{4}-\d{2}-\d{2}\s+\d{2}:\d{2}:\d{2}\.\d{3}\s)"
)
PG_ENTRY_RE = (
    r"(?s)^\d{4}-\d{2}-\d{2}\s+\d{2}:\d{2}:\d{2}\.\d{3}\s*\+\d{2}\s*\[\d+\]\s*"
    r"(?:LOG:\s*statement:|STATEMENT:)\s*(.*)$"
)

# `filter_statement_type` (reference server/LogManager.js:25,42); applied
# to the lowered statement.
STATEMENT_HEAD_RE = r"^(select|insert|update|delete|create)(?![0-9A-Za-z_])"
# `filter_dml_type` (reference server/LogManager.js:85-91)
DML_OPS = ("select", "insert", "update", "delete")

# dialect -> (split regex, entry regex, body group, command group or None).
# Only mysql entries carry a command; just its Query entries are kept.
_DIALECTS = {
    "mysql": (MYSQL_ENTRY_SPLIT, MYSQL_ENTRY_RE, 2, 1),
    "postgresql": (PG_ENTRY_SPLIT, PG_ENTRY_RE, 1, None),
    "pg": (PG_ENTRY_SPLIT, PG_ENTRY_RE, 1, None),
}


def _dialect(dialect: str):
    try:
        return _DIALECTS[dialect]
    except KeyError:
        raise ValueError(f"unknown dialect: {dialect}") from None


def statements_df(log_df: DataFrame, dialect: str = "mysql") -> DataFrame:
    """Wholetext log -> one row per kept, whitespace-normalized statement.

    Implements `fn_regex_log_extract_{mysql,pg}` + `fn_whitespace_normalize`
    + `filter_statement_type`.
    """
    split_re, entry_re, body_group, command_group = _dialect(dialect)
    entries = log_df.select(
        F.explode(F.split(F.col("value"), split_re)).alias("entry")
    )
    if command_group is not None:
        entries = entries.select(
            F.regexp_extract("entry", entry_re, command_group).alias("command"),
            F.regexp_extract("entry", entry_re, body_group).alias("body"),
        ).filter(F.col("command") == "Query")
    else:
        entries = entries.select(
            F.regexp_extract("entry", entry_re, body_group).alias("body")
        )
    return (
        entries.select(whitespace_normalize(F.col("body")).alias("stmt"))
        .filter(F.lower(F.col("stmt")).rlike(STATEMENT_HEAD_RE))
    )


def tablelist_df(stmts: DataFrame, dialect: str = "mysql") -> DataFrame:
    """`fn_sql_tablelist`: statements -> exploded '{op}::{db}::{table}'
    ref strings (the raw parser output, reference server/LogManager.js:67)."""
    return stmts.select(
        F.explode(sql_tablelist_udf(dialect)(F.col("stmt"))).alias("ref")
    )


def split_tableref_df(refs: DataFrame) -> DataFrame:
    """`fn_split_tableref`: '{op}::{db}::{table}' -> (op, db, table_name)
    columns (reference server/LogManager.js:79-82)."""
    parts = F.split(F.col("ref"), "::")
    return refs.select(
        parts.getItem(0).alias("op"),
        parts.getItem(1).alias("db"),
        parts.getItem(2).alias("table_name"),
    )


def table_refs_df(stmts: DataFrame, dialect: str = "mysql") -> DataFrame:
    """Statements -> exploded (op, db, table) refs, DML only
    (`fn_sql_tablelist` -> `fn_split_tableref` -> `filter_dml_type`)."""
    return split_tableref_df(tablelist_df(stmts, dialect)).filter(
        F.col("op").isin(*DML_OPS)
    )


def workload_stats(refs: DataFrame, row_counts: DataFrame) -> DataFrame:
    """`agg_workload_gaf_uaf`: per-table row-count-weighted access stats.

    row_counts: DataFrame(table_name, num_rows). Tables absent from the
    catalog are dropped (reference skips unknown tables,
    server/LogManager.js:91-97); gaf/uaf are LONG row-count sums.
    """
    counted = refs.groupBy("table_name").agg(
        F.count(F.lit(1)).alias("accesses"),
        F.count(F.when(F.col("op") != "select", F.lit(1))).alias("writes"),
    )
    return (
        counted.join(F.broadcast(row_counts), "table_name", "inner")
        .select(
            "table_name",
            (F.col("accesses") * F.col("num_rows")).cast("long").alias("gaf"),
            (F.col("writes") * F.col("num_rows")).cast("long").alias("uaf"),
        )
    )


_WHITESPACE = re.compile(r"\s+", re.ASCII)
_HEAD = re.compile(STATEMENT_HEAD_RE, re.ASCII)


def _statements(log_content: str, dialect: str):
    """`statements_df` over one in-memory string. Spark's trim strips only
    U+0020, hence strip(" ")."""
    split_re, entry_re, body_group, command_group = _dialect(dialect)
    entry = re.compile(entry_re, re.ASCII)
    for text in re.split(split_re, log_content, flags=re.ASCII):
        m = entry.match(text)
        if m is None or (
            command_group is not None and m.group(command_group) != "Query"
        ):
            continue
        stmt = _WHITESPACE.sub(" ", m.group(body_group)).strip(" ")
        if _HEAD.match(stmt.lower()):
            yield stmt


def apply_workload(
    spark: SparkSession, catalog: Catalog, log_content: str, dialect: str = "mysql"
) -> None:
    """Fold the log's access stats into the catalog, driver-side: the
    `workload_stats(table_refs_df(statements_df(...)))` semantics in one
    scan, with no Spark job (`spark` is unused). Each catalog table named
    in the log gets gaf = accesses * num_rows and uaf = writes * num_rows
    (assigned, so a second call does not double them); tables the log
    never names keep their counters, and names outside the catalog are
    skipped."""
    accesses: Counter[str] = Counter()
    writes: Counter[str] = Counter()
    for stmt in _statements(log_content, dialect):
        for ref in extract_table_refs(stmt, dialect):
            # `fn_split_tableref`: item 2 of the '::' split, like getItem(2).
            parts = ref.split("::")
            if parts[0] in DML_OPS and len(parts) > 2:
                accesses[parts[2]] += 1
                writes[parts[2]] += parts[0] != "select"
    for table in catalog.tables.values():
        if table.name in accesses:
            table.gaf = accesses[table.name] * table.num_rows
            table.uaf = writes[table.name] * table.num_rows
