from contextlib import contextmanager

import pytest

from geotrellis_server_spark.session import get_spark

ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="gss-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def arrow_batch(spark):
    """``with arrow_batch(n):`` runs its body with Arrow batches of at
    most ``n`` rows and restores the session's setting afterwards."""

    @contextmanager
    def use(n: int):
        old = spark.conf.get(ARROW_BATCH)
        spark.conf.set(ARROW_BATCH, str(n))
        try:
            yield
        finally:
            spark.conf.set(ARROW_BATCH, old)

    return use
