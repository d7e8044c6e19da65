from __future__ import annotations

import pytest

from incremental_datapipeline_using_snowflake_spark.session import get_session


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", shuffle_partitions=8)
    yield s


@pytest.fixture()
def next_job_id(spark):
    """Reader of the DAG scheduler's next job id: its difference across a
    block is the number of Spark jobs the block started, from any thread
    and in any job group."""
    sc = spark.sparkContext._jsc.sc()
    return lambda: sc.dagScheduler().nextJobId()


@pytest.fixture()
def store(tmp_path):
    from incremental_datapipeline_using_snowflake_spark.operators import TableStore

    return TableStore(root=str(tmp_path / "warehouse"))


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
