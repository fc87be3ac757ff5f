from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from fhirflat_spark.session import get_spark

    # bound the test session's JVM heap (the library default sizes it for
    # a dedicated driver); a caller's SPARK_DRIVER_MEMORY still wins
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")
    s = get_spark("tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()
