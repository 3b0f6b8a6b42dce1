"""Static lookup dimensions built from driver-local rows.

Mirrors the reference's tiny code→value dims lifted from local lists
(``/root/reference/etl.py:41-78``), minus the pandas detour: rows go
straight through ``spark.createDataFrame`` with an explicit schema.
The I94 code values are public facts of the published I94 dataset.

Scale note: these are broadcast dims by construction; keep them as local
rows, never files, so every join against them is a broadcast hash join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from udacity_data_engineer_capstone_spark.sources.sas_labels import LABEL_SCHEMA

I94_MODES = [("1", "Air"), ("2", "Sea"), ("3", "Land"), ("9", "Not reported")]


def dim_from_rows(
    spark: SparkSession, rows: list[tuple[str, str]]
) -> DataFrame:
    return spark.createDataFrame(rows, LABEL_SCHEMA)


def i94_modes(spark: SparkSession) -> DataFrame:
    return dim_from_rows(spark, I94_MODES)
