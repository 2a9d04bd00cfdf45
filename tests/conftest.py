import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("datacheck-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def appended_table(spark, tmp_path):
    """A transcripts table laid out as the incremental store and the
    benchmark write it — ``base/`` plus one ``append_000/`` — with the
    frame it holds. ``conv_bucket`` < 16 sits in ``base/`` only, so a
    read that misses the append misses the larger buckets."""
    from pyspark.sql import functions as F

    from datacheck_spark.transcripts import generate_transcripts

    df = generate_transcripts(
        spark, n_convs=40, turns_per_conv=4, n_hot_convs=0
    ).cache()
    table = tmp_path / "table"
    df.where(F.col("conv_bucket") < 16).write.parquet(str(table / "base"))
    df.where(F.col("conv_bucket") >= 16).write.parquet(
        str(table / "append_000")
    )
    yield str(table), df
    df.unpersist()
