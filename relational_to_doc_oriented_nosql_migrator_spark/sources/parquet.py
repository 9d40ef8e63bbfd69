"""Parquet sources (operator `src_full_scan`, SURVEY §2.1).

The reference's `getAllDatas` is `SELECT * FROM t` shipped over TCP per call
(reference server/MySQLDBManager.js:254-282). Here a "full scan" is a lazy
parquet DataFrame: Catalyst prunes columns and pushes predicates into the
scan, so downstream operators never pay for `SELECT *` unless they use it.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from relational_to_doc_oriented_nosql_migrator_spark.plans.catalog import (
    TPCH_FOREIGN_KEYS,
    Catalog,
    tpch_catalog,
)

# Relational star schema (FK graph in plans/catalog.py).
TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
# Extension tables for stream/text/vector operators.
ALL_TABLES = TPCH_TABLES + ("events", "documents", "embeddings")

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Runtime confs the engine depends on, set here (not only in our session
    factory) because the driver calls `entry()`/`queries()` with its own
    vanilla SparkSession:

    - nanosAsLong: inputs may store TIMESTAMP(NANOS), which Spark 4.1
      reads as LONG nanos under this flag (the loaders turn those back
      into timestamps, see _nanos_timestamp_columns) and rejects outright
      without it.
    - AQE + partition coalescing: the nesting DAG chains several joins and
      groupBys; with a static 200-partition shuffle on a vanilla session the
      task count dwarfs the data at small SF and under-parallelizes at large
      SF. AQE right-sizes every exchange at runtime.
    - InferFiltersFromGenerate excluded: the rule infers a
      `size(arr) > 0` filter below every explode, and predicate pushdown
      then SUBSTITUTES the generator's full expression tree into that
      filter down at the scan — for the shingle/token explodes this
      re-evaluates tokenize+shingle per row at the scan, with the
      split() inlined INSIDE the transform() lambda, i.e. re-tokenizing
      once per shingle position (interpreted, no common-subexpression
      elimination inside lambdas). Measured on the 100x dataset:
      dedup_dup_rate 515s -> 37s from this exclusion alone. The inferred
      filter only pre-skips rows whose exploded array is empty — the
      Generate drops those rows anyway, so plans are value-identical.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # APPEND to any exclusions the embedding application already set —
    # this runs on every table load, so a blind overwrite would
    # permanently clobber user-configured rule exclusions.
    _infer = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    _existing = [
        r.strip()
        for r in (spark.conf.get("spark.sql.optimizer.excludedRules", "")
                  or "").split(",")
        if r.strip()
    ]
    if _infer not in _existing:
        spark.conf.set(
            "spark.sql.optimizer.excludedRules",
            ",".join(_existing + [_infer]),
        )
    # Timestamp semantics must not depend on the driver machine's zone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Huge-method codegen fallback for JVMs without the factory's JIT
    # flag (see session.ensure_codegen_confs) — hooked here, the one
    # conf site every path that reads a table crosses (registry ops via
    # operators.common.t, the migrate/entry pipeline via load_tables).
    from relational_to_doc_oriented_nosql_migrator_spark.session import (
        ensure_codegen_confs,
    )

    ensure_codegen_confs(spark)


def parquet_files(path: str) -> list[str]:
    """The parquet files behind a path: the sorted matches of ``path`` as a
    glob, with each match that is a directory (a table written as part
    files, the layout the scale generator writes) replaced by its sorted
    ``*.parquet`` children. Covers a single file, a part-file directory, a
    glob, and a glob that matches directories. Inside a directory only
    ``*.parquet`` files count, so markers such as ``_SUCCESS`` are
    skipped. Empty when nothing matches."""
    files: list[str] = []
    for match in sorted(glob.glob(path)):
        if os.path.isdir(match):
            files += sorted(glob.glob(os.path.join(match, "*.parquet")))
        else:
            files.append(match)
    return files


def parquet_paths(sf_dir: str, name: str) -> list[str]:
    """The parquet files of table ``name`` under ``sf_dir``: a single
    ``<name>.parquet`` file or a ``<name>.parquet/`` directory of part
    files. The ONE copy of this layout rule (through ``parquet_files``):
    the footer catalog, the footer-metadata guards and gates, and the
    loaders' timestamp detection all resolve files here. Raises
    FileNotFoundError naming the table when there are none."""
    pattern = os.path.join(sf_dir, f"{name}.parquet")
    paths = parquet_files(pattern)
    if not paths:
        raise FileNotFoundError(
            f"no parquet for table {name!r} at {pattern}"
            " (expected a file, or a directory of part-*.parquet files)"
        )
    return paths


def footer_rows(sf_dir: str, name: str) -> int:
    """Table row count from parquet FOOTER metadata only — no Spark job
    (the planner's catalog trick)."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(p).num_rows for p in parquet_paths(sf_dir, name)
    )


def footer_catalog(sf_dir: str) -> Catalog:
    """The testdata catalog from parquet footers alone: column names from
    the first file's schema, row counts summed over every file's footer,
    PKs and the FK graph from plans/catalog.py. Submits no Spark job —
    the planner is metadata-scale and must not scan data."""
    import pyarrow.parquet as pq

    columns = {
        name: pq.read_schema(parquet_paths(sf_dir, name)[0]).names
        for name in TPCH_FOREIGN_KEYS
    }
    counts = {name: footer_rows(sf_dir, name) for name in TPCH_FOREIGN_KEYS}
    return tpch_catalog(columns, counts)


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS): under nanosAsLong Spark
    surfaces them as LONG nanos-since-epoch; detect from the footer so we
    can restore proper (micros) timestamps. ms/us timestamp columns are
    unaffected and read natively.

    ``path`` is anything ``parquet_files`` resolves (a file, a part-file
    directory, or a glob); the footer is read from the first data file.
    No file, or an unreadable footer, means no nanos columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = parquet_files(path)
    if not files:
        return []
    try:
        schema = pq.read_schema(files[0])
    except (OSError, pa.ArrowException):
        return []
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """`src_full_scan`: lazy full-table scan of one parquet table."""
    ensure_runtime_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    for col in _nanos_timestamp_columns(path):
        # long nanos -> micros TIMESTAMP_NTZ (naive, like the source data
        # and the DuckDB oracle, which truncates nanos to micros the same
        # way). Session tz is pinned UTC so the LTZ->NTZ cast is identity.
        df = df.withColumn(
            col,
            F.expr(f"timestamp_micros({col} div 1000)").cast("timestamp_ntz"),
        )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = ALL_TABLES
) -> dict[str, DataFrame]:
    """Load all tables concurrently: each spark.read.parquet is a driver
    round trip for schema discovery (~250ms), so a serial loop costs
    len(names) x that latency before any query runs. Each load is
    wrapped on its own, so its schema-discovery job runs under its own
    copy of the caller's job group and description."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    with ThreadPoolExecutor(max_workers=min(8, len(names))) as pool:
        futures = {
            name: pool.submit(
                inheritable_thread_target(spark)(load_table),
                spark, sf_dir, name,
            )
            for name in names
        }
        return {name: f.result() for name, f in futures.items()}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = ALL_TABLES
) -> None:
    """Register each table as a temp view for spark.sql access."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def indexed_lookup(df: DataFrame, column: str, value) -> DataFrame:
    """`src_indexed_lookup`: point-predicate scan.

    The reference issues `SELECT * FROM t WHERE col = ?` per probe
    (server/MySQLDBManager.js:284-312). Expressed declaratively the predicate
    is pushed into the parquet scan (visible as PushedFilters in .explain);
    bulk probes should instead join against a key DataFrame.
    """
    from pyspark.sql import functions as F

    return df.filter(F.col(column) == value)
