"""``session.get_spark`` on a live session: the session comes back as it
is, with the runtime values set on it, and the package is shipped once."""

import os

from pdf_parser_spark import session


def test_get_spark_keeps_the_live_session(spark):
    sc = spark.sparkContext
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        again = session.get_spark(app_name="another-app")
        assert again.sparkContext is sc
        assert again.conf.get(key) == "7"
        assert sc.appName == "pdf-parser-spark-tests"
    finally:
        spark.conf.set(key, before)
    zip_name = os.path.basename(session.package_zip())
    assert sc._python_includes.count(zip_name) == 1  # noqa: SLF001


def test_plain_launch_sizes_the_driver_heap(spark):
    # this session's JVM was started by get_spark itself (conftest)
    assert spark.sparkContext.getConf().get("spark.driver.memory") == session.DRIVER_MEMORY
