"""End-to-end migration pipeline (the reference's `migrate`, Spark-first).

Reference lifecycle (server/DBMigration.js:14-182):
  load dump -> introspect schema -> workload stats from query log ->
  convert schema (embed/reference planning) -> materialize nested docs ->
  write JSON collections.

Here: parquet tables + out-of-band FK metadata -> optional query-log
workload -> driver-side planning (plans/planner.py) -> Catalyst-executed
nesting DAG (plans/nesting.py) -> JSON sink (sinks/).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from relational_to_doc_oriented_nosql_migrator_spark.plans import (
    Catalog,
    convert_schema,
    materialize,
)
from relational_to_doc_oriented_nosql_migrator_spark.sources import load_tables
from relational_to_doc_oriented_nosql_migrator_spark.sources.parquet import (
    footer_catalog,
)
from relational_to_doc_oriented_nosql_migrator_spark import workload as workload_mod


def build_testdata_catalog(
    spark: SparkSession, sf_dir: str
) -> tuple[Catalog, dict[str, DataFrame]]:
    """Catalog for the driver testdata: schemas + row counts from parquet
    footers (no scan jobs — `agg_count_star` remains the query-surface
    equivalent), FK graph from plans/catalog.py; plus the lazy tables."""
    catalog = footer_catalog(sf_dir)
    return catalog, load_tables(spark, sf_dir, tuple(catalog.tables))


def _plan_and_materialize(
    spark: SparkSession,
    catalog: Catalog,
    tables: dict[str, DataFrame],
    log_content: str | None,
    log_dialect: str,
    normalize_dates: bool,
):
    """The migration tail every entry point shares: fold the optional
    query log into the catalog's workload stats, plan embed-vs-reference,
    and build the nested frames. Returns (plan, collections)."""
    if log_content:
        workload_mod.apply_workload(spark, catalog, log_content, log_dialect)
    plan = convert_schema(catalog)
    return plan, materialize(tables, catalog, plan,
                             normalize_dates=normalize_dates)


def migrate(
    spark: SparkSession,
    sf_dir: str,
    log_content: str | None = None,
    log_dialect: str = "mysql",
    normalize_dates: bool = True,
) -> dict[str, DataFrame]:
    """Full pipeline: returns {root collection name: nested DataFrame}."""
    catalog, tables = build_testdata_catalog(spark, sf_dir)
    _plan, collections = _plan_and_materialize(
        spark, catalog, tables, log_content, log_dialect, normalize_dates
    )
    return collections


def migrate_streamed(
    spark: SparkSession,
    sf_dir: str,
    log_content: str | None = None,
    log_dialect: str = "mysql",
    normalize_dates: bool = True,
    threshold: int | None = None,
):
    """migrate() plus the per-root streamed-assembly pieces for HEAVY
    roots (plans/nesting.stream_plan — tiny root cardinality over a
    subtree past HEAVY_ROOT_SUBTREE_ROWS): returns
    (collections, streamed) for sinks.write_json_collections. The
    collections dict is the ordinary lazy nested frames — for streamed
    roots the sink uses them only for their schema, never executing the
    root-document materialization."""
    from relational_to_doc_oriented_nosql_migrator_spark.plans.nesting import (
        HEAVY_ROOT_SUBTREE_ROWS,
        materialize_streamed_root,
        stream_plan,
    )

    catalog, tables = build_testdata_catalog(spark, sf_dir)
    plan, collections = _plan_and_materialize(
        spark, catalog, tables, log_content, log_dialect, normalize_dates
    )
    thr = HEAVY_ROOT_SUBTREE_ROWS if threshold is None else threshold
    streamed = {
        root_name: materialize_streamed_root(
            tables, catalog, plan, root_name, child_names,
            normalize_dates=normalize_dates, threshold=thr,
        )
        for root_name, child_names in stream_plan(
            catalog, plan, threshold=thr,
        ).items()
    }
    return collections, streamed


def migrate_from_dump(
    spark: SparkSession,
    sql_text: str,
    log_content: str | None = None,
    log_dialect: str = "mysql",
    normalize_dates: bool = True,
    return_plan: bool = False,
):
    """The reference's actual entry point (`POST /migration`, reference
    server/index.js:33-43 -> DBMigration.migrate): a SQL dump plus an
    optional query log in, nested document collections out. Schema, FK
    graph, and row counts come from the dump itself (sources/sqldump.py);
    the query log folds GAF/UAF workload stats into the embed-vs-reference
    decision exactly as the parquet path does.

    return_plan=True additionally returns the introspected catalog and
    the conversion plan as (collections, catalog, plan) — the HTTP
    service's response payload needs both, and this seam keeps it from
    duplicating the dump pipeline."""
    from relational_to_doc_oriented_nosql_migrator_spark.sources.sqldump import (
        import_sql_dump,
    )

    _db, tables, catalog = import_sql_dump(spark, sql_text)
    plan, collections = _plan_and_materialize(
        spark, catalog, tables, log_content, log_dialect, normalize_dates
    )
    if return_plan:
        return collections, catalog, plan
    return collections


def migrate_from_jdbc(
    spark: SparkSession,
    url: str,
    schema: str | None = None,
    num_partitions: int = 8,
    log_content: str | None = None,
    log_dialect: str = "mysql",
    normalize_dates: bool = True,
) -> dict[str, DataFrame]:
    """Live-database migration: JDBC metadata introspection -> planner ->
    partitioned JDBC table reads -> nested collections (the reference's
    primary path, reference server/MySQLDBManager.js:254-282, re-expressed
    as Spark JDBC sources).

    Data reads are range-split on the table's single integer PK when one
    exists (bounds via a MIN/MAX pushdown — each executor then issues a
    bounded range query); tables without a splittable key fall back to a
    single-partition read, which is correct and only a throughput concern
    for metadata-scale tables.
    """
    from relational_to_doc_oriented_nosql_migrator_spark.sources.introspect import (
        metadata_catalog,
    )
    from relational_to_doc_oriented_nosql_migrator_spark.sources.jdbc import (
        quote_ident,
        read_partitioned,
    )

    catalog = metadata_catalog(spark, url, schema)
    tables: dict[str, DataFrame] = {}
    for t in catalog.tables.values():
        df = None
        if len(t.primary_keys) == 1:
            pk = t.primary_keys[0]
            bounds = (
                spark.read.format("jdbc")
                .option("url", url)
                .option(
                    "dbtable",
                    f"(SELECT MIN({quote_ident(pk, url)}) AS lo,"
                    f" MAX({quote_ident(pk, url)}) AS hi"
                    f" FROM {quote_ident(t.name, url)}) AS b",
                )
                .load()
                .first()
            )
            # positional access: identifier case-folding differs per
            # database (Derby uppercases the lo/hi aliases)
            if (
                bounds is not None
                and isinstance(bounds[0], int)
                and isinstance(bounds[1], int)
                and bounds[1] > bounds[0]
            ):
                df = read_partitioned(
                    spark, url, t.name, column=pk,
                    lower=bounds[0], upper=bounds[1] + 1,
                    num_partitions=num_partitions,
                )
        if df is None:
            # Quoted like the bounds probe above: an unquoted reserved-
            # word or mixed-case table name would introspect fine and
            # then break (or case-fold to a different relation) here.
            df = (
                spark.read.format("jdbc")
                .option("url", url)
                .option("dbtable", quote_ident(t.name, url))
                .load()
            )
        tables[t.name] = df
    _plan, collections = _plan_and_materialize(
        spark, catalog, tables, log_content, log_dialect, normalize_dates
    )
    return collections
