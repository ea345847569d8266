"""Small Spark construction helpers.

Motivation (measured on this container, local[32]): writing a
DataFrame built from a Python list-of-rows takes 11-23 s regardless of
size — the Python-RDD-backed local relation forks a Python worker per
core before the single real task runs. The Arrow (pandas) path and a
JVM-side ``spark.range(0)`` relation avoid Python workers entirely:
same write in <1 s. Engine code must never build DataFrames from
Python row lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def empty_df(spark: SparkSession, schema: str) -> DataFrame:
    """Empty DataFrame with the given DDL schema, built JVM-side
    (no Python RDD, no workers)."""
    cols = []
    for field in schema.split(","):
        name, typ = field.strip().split(" ", 1)
        cols.append(F.lit(None).cast(typ.strip()).alias(name))
    return spark.range(0).select(*cols)
