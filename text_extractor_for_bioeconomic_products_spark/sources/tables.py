"""Readers for the driver-generated testdata tables (TESTDATA.md).

All reads are schema-on-file parquet scans; Catalyst pushes projections
and predicates into the scan (verify with .explain → PushedFilters).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = ["orders", "lineitem", "events", "documents"]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
