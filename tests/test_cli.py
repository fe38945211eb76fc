"""spark-submit CLI (cli.py): every job path drivable locally."""

from __future__ import annotations

import pytest

from gdal_scripts_spark import cli, fixtures


def test_cli_query_job(spark, tmp_path, capsys):
    out = str(tmp_path / "q")
    rc = cli.main(["query", "--query", "distinct_vals",
                   "--sf-dir", "/root/testdata/sf0.001", "--output", out])
    assert rc == 0
    assert spark.read.parquet(out).count() == 5


def test_cli_tile_cut_and_sink(spark, tmp_path):
    src = str(tmp_path / "imgs")
    fixtures.images_spark(spark, n=8).write.parquet(src)
    out = str(tmp_path / "tiles")
    assert cli.main(["tile-cut", "--input", src, "--z", "11",
                     "--output", out]) == 0
    n = spark.read.parquet(out).count()
    assert n > 0

    sink_out = str(tmp_path / "sink")
    man = str(tmp_path / "manifest")
    assert cli.main(["tile-sink", "--input", src, "--output", sink_out,
                     "--manifest", man, "--z", "11", "--n-units", "2"]) == 0
    assert spark.read.parquet(sink_out).count() == n


def test_cli_assign_and_stream(spark, tmp_path):
    src = str(tmp_path / "imgs")
    fixtures.images_spark(spark, n=6).write.parquet(src)
    out = str(tmp_path / "assign")
    assert cli.main(["assign", "--input", src, "--z", "9",
                     "--output", out]) == 0
    df = spark.read.parquet(out)
    assert df.count() == 6 and "quadkey" in df.columns

    sout, ck = str(tmp_path / "sout"), str(tmp_path / "ck")
    assert cli.main(["stream", "--input", src, "--output", sout,
                     "--checkpoint", ck, "--z", "8"]) == 0
    assert spark.read.parquet(sout).count() == 6


def test_cli_requires_args():
    with pytest.raises(SystemExit):
        cli.main(["query"])         # missing --query
    with pytest.raises(SystemExit):
        cli.main(["tile-sink"])     # missing paths


def test_table_format_switch(spark):
    from gdal_scripts_spark import etl
    assert etl.table_format(spark) == "parquet"  # default
    spark.conf.set(etl.TABLE_FORMAT_CONF, "iceberg")
    try:
        assert etl.table_format(spark) == "iceberg"
    finally:
        spark.conf.set(etl.TABLE_FORMAT_CONF, "parquet")


def test_write_read_table_partitioned(spark, tmp_path):
    from gdal_scripts_spark import etl
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 20)], schema="k long, s string, p int"
    )
    dst = str(tmp_path / "t")
    etl.write_table(df, dst, partition_by=["p"])
    back = etl.read_table(spark, dst)
    assert {tuple(r) for r in back.select("k", "s", "p").collect()} == {
        (1, "a", 10), (2, "b", 10), (3, "c", 20)
    }
    # partition pruning reaches the scan: filtering p=10 reads 1 partition
    plan = back.filter("p = 10")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "p#" in plan


def test_iceberg_dispatch_plumbing_mocked(spark):
    # the sandbox has no iceberg-spark-runtime jar, so the iceberg arm
    # cannot execute — but its DISPATCH (writer API, using-clause, partition
    # spec, mode mapping, reader route) is exactly where a deployment
    # config error would hide. Exercise it against mocks so it breaks in CI
    # rather than on a cluster.
    from unittest.mock import MagicMock

    from gdal_scripts_spark import etl

    # write: overwrite -> writeTo(dst).using("iceberg").partitionedBy(...).createOrReplace()
    df = MagicMock()
    df.sparkSession.conf.get.return_value = "iceberg"
    etl.write_table(df, "cat.db.images", partition_by=["cell"])
    df.writeTo.assert_called_once_with("cat.db.images")
    w = df.writeTo.return_value
    w.using.assert_called_once_with("iceberg")
    w.using.return_value.partitionedBy.assert_called_once()
    w.using.return_value.partitionedBy.return_value.createOrReplace.assert_called_once()
    df.write.format.assert_not_called()   # the parquet arm must NOT run

    # write: append mode, no partition spec
    df2 = MagicMock()
    df2.sparkSession.conf.get.return_value = "iceberg"
    etl.write_table(df2, "cat.db.images", mode="append")
    w2 = df2.writeTo.return_value.using.return_value
    w2.append.assert_called_once()
    w2.partitionedBy.assert_not_called()
    w2.createOrReplace.assert_not_called()

    # read: catalog-table route through format("iceberg").load(name)
    spark = MagicMock()
    spark.conf.get.return_value = "iceberg"
    etl.read_table(spark, "cat.db.images")
    spark.read.format.assert_called_once_with("iceberg")
    spark.read.format.return_value.load.assert_called_once_with("cat.db.images")

    # explicit fmt overrides the session switch
    df3 = MagicMock()
    df3.sparkSession.conf.get.return_value = "parquet"
    etl.write_table(df3, "cat.db.t", fmt="iceberg")
    df3.writeTo.assert_called_once_with("cat.db.t")


def test_cluster_session_applies_shared_sql_conf(monkeypatch):
    """The spark-submit session sets every key of session.sql_conf (the
    local factory's SQL/Arrow settings), with the same values."""
    from pyspark.sql import SparkSession

    from gdal_scripts_spark.session import sql_conf

    class Recorder:
        def __init__(self):
            self.conf = {}

        def appName(self, name):
            return self

        def config(self, k, v):
            self.conf[k] = v
            return self

        def getOrCreate(self):
            return self.conf

    monkeypatch.setenv("SPARK_GRAFT_CLUSTER", "1")
    monkeypatch.setattr(SparkSession, "builder", Recorder())
    conf = cli.cluster_spark("t")
    assert conf == sql_conf()
    assert conf["spark.sql.adaptive.coalescePartitions.enabled"] == "true"
