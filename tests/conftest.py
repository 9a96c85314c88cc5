import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from db_migrator_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    import tempfile

    s = get_spark(
        "pytest",
        master="local[4]",
        shuffle_partitions=4,
        driver_memory="4g",
        extra_conf={"spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-wh-")},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def built_queries(spark):
    """``build(name, sf_dir)``: the declared query's DataFrame, built at
    most once per (name, sf_dir) in the test session. The whole-surface
    plan and schema audits share it, so each query's construction
    (including any eager jobs it runs while building) happens once
    instead of once per audit."""
    import __spark_entry__ as em

    qs = em.queries()
    built = {}

    def build(name, sf_dir):
        if (name, sf_dir) not in built:
            built[name, sf_dir] = qs[name](spark, sf_dir)
        return built[name, sf_dir]

    return build
