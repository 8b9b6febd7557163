from __future__ import annotations

import pytest

from search_engine_spark.session import default_parallelism, get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "search-engine-spark-tests", cores=default_parallelism(), shuffle_partitions=8
    )
    yield s
    s.stop()
