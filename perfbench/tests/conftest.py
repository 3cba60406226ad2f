from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    """One small in-process session for the tests that call Spark directly."""
    from brazilian_e_commerce_data_pipeline_analytics_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cpus=2, shuffle_partitions=4)
    yield s
    s.stop()
