"""SparkSession factory.

Local-mode tuning notes (tests run on one JVM, ``local[N]``):
- shuffle partitions default to core count, not 200 — at 100 TB deployment
  this is overridden per-job to ~2-3x total cores or managed by AQE.
- Arrow batching is governed by BOTH knobs: ``maxRecordsPerBatch`` high
  (131072 — skinny candidate rows need big batches or per-batch Python
  round-trip overhead dominates; round-3 A/B: 10k->131k batches cut the
  PiP-refine wall 25% at local[8] and let the kernel overlap fully into
  the serDe floor) while ``maxBytesPerBatch`` (32 MB) caps fat
  image-payload rows, bounding Python-worker memory (SURVEY.md §4
  "Physical-execution decisions") — fat rows hit the bytes cap long
  before the row cap, so raising the row cap is free for them.
- AQE on: runtime partition coalescing, and skew-join splitting for the
  shuffled joins (the shuffled S2 covering join in
  :mod:`gdal_scripts_spark.joins`).

:func:`sql_conf` holds the SQL/Arrow settings; both this factory and the
spark-submit session (:func:`gdal_scripts_spark.cli.cluster_spark`) apply
it, so the two cannot drift apart.

Python workers start from :mod:`gdal_scripts_spark.pydaemon`
(``spark.python.daemon.module``). Every Python task begins with
``importlib.invalidate_caches()``, which on Python 3.11 re-reads the
central directory of every zip the worker imports from — pyspark.zip once
per imported subpackage, the py4j zip and the 5,359-entry Spark core jar.
On a 4-core host (Python 3.11, PySpark 4.1) that call took 74 ms of a
110 ms ``pythonInitTime`` per task. The daemon re-reads an archive only
when its mtime or size changed, which cuts the call to 0.04 ms. Workers
must be able to import the module: run from the repository root, or
install the package. Only this local factory sets it: on a cluster the
daemon starts before ``--py-files`` reach the worker's ``sys.path``, so
``cluster_spark`` keeps PySpark's own daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def sql_conf(
    arrow_batch_rows: int = 131_072, arrow_batch_bytes: str = "32m"
) -> dict[str, str]:
    """SQL/Arrow settings shared by every session the engine builds."""
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(arrow_batch_rows),
        "spark.sql.execution.arrow.maxBytesPerBatch": arrow_batch_bytes,
    }


def get_spark(
    app_name: str = "gdal_scripts_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 131_072,
    arrow_batch_bytes: str = "32m",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a tuned local SparkSession.

    ``cpus`` controls ``local[N]``; on a real cluster the same conf block is
    passed to ``spark-submit`` and master/executor counts come from the
    cluster manager — nothing here is local-mode-only except the master URL.
    """
    n = cpus or DEFAULT_CPUS
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions or n),
        **sql_conf(arrow_batch_rows, arrow_batch_bytes),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.driver.extraJavaOptions": "-Djava.net.preferIPv4Stack=true",
        "spark.python.daemon.module": "gdal_scripts_spark.pydaemon",
        **(extra_conf or {}),
    }
    b = SparkSession.builder.master(f"local[{n}]").appName(app_name)
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
