import os
import sys

import pytest

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

from query_refinement_dsit_databases_2021_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="perfbench_tests", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()
