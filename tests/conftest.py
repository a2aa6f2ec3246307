from __future__ import annotations

import pandas as pd
import pytest

from luzzu_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # master defaults to local[session.default_cpus()]
    spark = get_spark(app_name="luzzu-tests",
                      extra_conf={"spark.sql.shuffle.partitions": "8"})
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


@pytest.fixture(scope="session")
def docs_pdf() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/documents.parquet")


@pytest.fixture(scope="session")
def pages(docs):
    from luzzu_spark.fixtures import as_webpages
    return as_webpages(docs, inject_pii=True)


@pytest.fixture(scope="session")
def assessed(pages):
    from luzzu_spark.pipeline import QualityPipeline
    out = QualityPipeline().assess(pages)
    out.cache().count()
    return out
