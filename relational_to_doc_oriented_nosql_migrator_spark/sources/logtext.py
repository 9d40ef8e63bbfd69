"""Query-log text source (operator `src_log_text`, SURVEY §2.1).

The reference slurps the uploaded log with `fs.readFileSync`
(server/DBMigration.js:17-18). Spark equivalent: wholetext read so the
multi-line-statement tokenizer regexes (workload.py) see the entire file,
exactly like the reference's single in-memory string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_log_text(spark: SparkSession, path: str) -> DataFrame:
    """One row per file with the full text in column `value`."""
    return spark.read.option("wholetext", True).text(path)
