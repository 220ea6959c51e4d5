import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pdf_parser_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark(app_name="pdf-parser-spark-tests")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_rows():
    """Deterministic 80-row corpus covering html/pdf/adversarial kinds."""
    from pdf_parser_spark.synth import gen_rows

    return list(gen_rows(80))


@pytest.fixture(scope="session")
def corpus_df(spark, corpus_rows):
    from pdf_parser_spark import schemas

    return spark.createDataFrame(corpus_rows, schemas.INPUT)
