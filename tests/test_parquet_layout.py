"""One layout rule for a table's parquet files, one footer catalog.

Tables arrive either as a single ``<name>.parquet`` file (the driver
testdata) or as a ``<name>.parquet/`` directory of part files next to
markers such as ``_SUCCESS`` (the layout the scale generator and Spark
writers produce). ``sources.parquet.parquet_files`` is the one rule that
turns either into a file list; the footer catalog built on it must read
the same catalog from both layouts without running a Spark job, and the
migration catalog must cost no more jobs on part-file directories than on
single files.
"""

import os
import uuid

import pyarrow.parquet as pq
import pytest

from relational_to_doc_oriented_nosql_migrator_spark.engine import (
    build_testdata_catalog,
)
from relational_to_doc_oriented_nosql_migrator_spark.sources.parquet import (
    ALL_TABLES,
    footer_catalog,
    parquet_files,
    parquet_paths,
)
from tests.conftest import SF0001


@pytest.fixture(scope="module")
def part_dir(tmp_path_factory):
    """sf0.001 rewritten as ``<name>.parquet/`` directories of two part
    files plus a ``_SUCCESS`` marker each."""
    root = str(tmp_path_factory.mktemp("parts"))
    for name in ALL_TABLES:
        table = pq.read_table(os.path.join(SF0001, f"{name}.parquet"))
        table_dir = os.path.join(root, f"{name}.parquet")
        os.makedirs(table_dir)
        half = table.num_rows // 2
        for i, part in enumerate((table.slice(0, half), table.slice(half))):
            pq.write_table(
                part, os.path.join(table_dir, f"part-{i:05d}.parquet")
            )
        open(os.path.join(table_dir, "_SUCCESS"), "w").close()
    return root


def _with_jobs(spark, fn, *args):
    """(fn(*args), number of Spark jobs it submitted): run under a fresh
    job group, which the package's loader pool threads inherit."""
    sc = spark.sparkContext
    group = f"parquet-layout-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, fn.__name__)
        out = fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _shape(catalog):
    return {
        name: (
            t.num_rows,
            t.columns,
            t.primary_keys,
            [(fk.column, fk.referenced_table, fk.referenced_column)
             for fk in t.foreign_keys],
        )
        for name, t in catalog.tables.items()
    }


def test_catalogs_agree_on_both_layouts(spark, part_dir):
    want = _shape(footer_catalog(SF0001))
    assert list(want) == list(ALL_TABLES)
    assert want["lineitem"][0] == pq.read_metadata(
        os.path.join(SF0001, "lineitem.parquet")
    ).num_rows
    for sf_dir in (SF0001, part_dir):
        assert _shape(footer_catalog(sf_dir)) == want, sf_dir
        catalog, tables = build_testdata_catalog(spark, sf_dir)
        assert _shape(catalog) == want, sf_dir
        # Footer column names are the names the loaded frames carry.
        assert {n: df.columns for n, df in tables.items()} == {
            n: cols for n, (_rows, cols, _pk, _fk) in want.items()
        }, sf_dir


def test_footer_catalog_submits_no_job(spark, part_dir):
    for sf_dir in (SF0001, part_dir):
        _catalog, jobs = _with_jobs(spark, footer_catalog, sf_dir)
        assert jobs == 0, sf_dir


def test_directory_layout_costs_no_extra_jobs(spark, part_dir):
    _out, single = _with_jobs(spark, build_testdata_catalog, spark, SF0001)
    _out, parts = _with_jobs(spark, build_testdata_catalog, spark, part_dir)
    assert single > 0  # the counter sees the loaders' jobs at all
    assert parts <= single, (parts, single)


def test_missing_table_names_the_table(part_dir):
    with pytest.raises(FileNotFoundError, match="'no_such_table'"):
        parquet_paths(part_dir, "no_such_table")
    assert parquet_files(os.path.join(part_dir, "no_such_table.*")) == []


def test_parquet_files_resolves_every_spelling(part_dir):
    table_dir = os.path.join(part_dir, "events.parquet")
    files = [os.path.join(table_dir, f"part-{i:05d}.parquet") for i in (0, 1)]
    for spelling in (
        table_dir,
        os.path.join(part_dir, "events.*"),
        os.path.join(table_dir, "part-*.parquet"),
    ):
        assert parquet_files(spelling) == files, spelling
    assert [parquet_files(f) for f in files] == [[f] for f in files]
    single = os.path.join(SF0001, "events.parquet")
    assert parquet_files(single) == [single]
    assert parquet_files(os.path.join(SF0001, "events.*")) == [single]
    assert parquet_paths(part_dir, "events") == files
