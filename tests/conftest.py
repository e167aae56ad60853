from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from unified_firmographic_data_pipeline_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMALL = os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="ufdp-tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "4", "spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


def spark_job_id(spark) -> int:
    """The id the next Spark job will get: the difference of two readings
    is the number of jobs run in between."""
    n = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return n if isinstance(n, int) else n.get()


@pytest.fixture
def checkpoint_jobs(spark, monkeypatch):
    """Records ``(first, next)`` Spark job ids around every
    ``DataFrame.localCheckpoint`` call the test makes, so a test can tell
    jobs a checkpoint ran from jobs run between checkpoints."""
    spans: list[tuple[int, int]] = []
    cls = type(spark.range(1))
    real = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        first = spark_job_id(spark)
        out = real(self, *args, **kwargs)
        spans.append((first, spark_job_id(spark)))
        return out

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    return spans
