import os

import pytest

from data_migration_service_spark.session import get_spark

# The session factory otherwise pre-touches half of the host's available
# RAM (7 GB on a 15 GB host) for tables of KB to MB. A full suite run at
# that heap peaked at ~1 GB live after mixed/full collections (3.6 GB
# occupied at most between them), so 4g leaves headroom. An explicit
# SPARK_DRIVER_MEMORY still wins; Spark subprocesses started by tests
# inherit the default.
os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dms-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()
