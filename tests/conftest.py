import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from query_refinement_dsit_databases_2021_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="qr_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


# FIXTURES.md §3: hand-checkable 20-point series
SERIES_TINY_Y = [0, 1, 2, 3, 4, 5, 5, 5, 5, 10, 0, -3, 2, 2, 2, 2, 8, 1, 0, 0]


@pytest.fixture(scope="session")
def series_tiny(spark):
    rows = [(i + 1, float(y)) for i, y in enumerate(SERIES_TINY_Y)]
    return spark.createDataFrame(rows, "time_id long, y double")


@pytest.fixture(params=["local", "reliable", "disk"])
def materialize_mode(request, spark, tmp_path):
    """Run the test once per ``spark.qr.materialize`` mode (reliable
    checkpoints go under ``tmp_path``); the shared session's mode and
    checkpoint dir are restored afterwards."""
    from query_refinement_dsit_databases_2021_spark.operators.materialize import (
        MATERIALIZE_MODE_CONF,
    )

    jsc = spark.sparkContext._jsc.sc()
    prev_dir = jsc.getCheckpointDir()  # scala Option[String]
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(MATERIALIZE_MODE_CONF, request.param)
    yield request.param
    spark.conf.set(MATERIALIZE_MODE_CONF, "local")
    getattr(jsc, "checkpointDir_$eq")(prev_dir)
