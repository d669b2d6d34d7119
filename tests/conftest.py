import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from companycatalogcrawlerparser_spark.session import get_spark  # noqa: E402

# (spark.sql.shuffle.partitions, spark.sql.adaptive.enabled) settings the
# partition-invariance tests sweep
PARTITIONINGS = [(p, aqe) for p in (1, 3, 8) for aqe in (True, False)]


@contextmanager
def partitioning(spark, partitions: int, aqe: bool = True):
    """Runs the block with ``spark.sql.shuffle.partitions`` and
    ``spark.sql.adaptive.enabled`` set, restoring both after. Act on the
    frames inside the block: the settings apply when a plan runs."""
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[0], str(partitions))
    spark.conf.set(keys[1], str(aqe).lower())
    try:
        yield
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark(app_name="ccc_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()
