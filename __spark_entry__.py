"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship pipeline smoke (sf0.001): broadcast PiP spatial
               join of skewed points, aggregated per polygon. The
               north-star operator end-to-end.
queries()    — one entry per implemented operator family (SURVEY.md §2 +
               training-data ops); see gdal_scripts_spark/queries.py.
oracle_sql() — DuckDB-runnable ANSI SQL twins for every SQL-expressible
               entry; hash-seeded/approximate/image-fixture ops are
               rows-only by design (minhash/simhash/LSH candidates, image
               pipelines with no DuckDB-side table).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from gdal_scripts_spark.queries import all_queries

    return all_queries()["flagship_spatial_join"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from gdal_scripts_spark.queries import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    from gdal_scripts_spark.queries import all_oracles

    return all_oracles()
