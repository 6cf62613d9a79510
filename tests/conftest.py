from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from open_source_search_engine_spark.config import EngineConfig  # noqa: E402
from open_source_search_engine_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g", "spark.sql.session.timeZone": "UTC"},
    )
    yield s
    s.stop()


# small layout so every code path sees >1 bucket/salt/block
TEST_CFG = EngineConfig(n_buckets=8, n_salts=4, block_size=16)


def force_spark_writers(mp: pytest.MonkeyPatch) -> None:
    """Make test-sized writers take their Spark paths: every encode gets
    several tasks, and term_dict plus doc_meta exceed the driver fold's
    bound."""
    from open_source_search_engine_spark.index import builder

    mp.setattr(builder, "POSTINGS_PER_ENCODE_TASK", 2_000)
    mp.setattr(builder, "DRIVER_FOLD_MAX_ROWS", -1)


@pytest.fixture(scope="session")
def tiny_corpus_pdf():
    from fixtures.gen_corpus import gen_corpus

    return gen_corpus(n_docs=300)


@pytest.fixture(scope="session")
def tiny_corpus(spark, tiny_corpus_pdf):
    df = spark.createDataFrame(tiny_corpus_pdf)
    df = df.cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def docs_001(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
