import os

import pytest

from flink_realtime_data_warehouse_spark import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="frdw-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    # FRDW_TEST_SF_DIR=/root/testdata/sf0.01 replays the parity suite at
    # the driver's correctness scale
    return os.environ.get("FRDW_TEST_SF_DIR", SF_SMOKE)


@pytest.fixture
def table_formats():
    """Run a store contract under each table-format backend in turn:
    iterating selects each backend (``set_table_format``) and yields
    its name, and teardown restores the configured one. A loop in the
    test keeps one test id per contract; give each backend its own
    directory."""
    from flink_realtime_data_warehouse_spark.streaming.table_format import (
        set_table_format,
    )

    def _each():
        for name in ("parquet-swap", "log-manifest"):
            set_table_format(name)
            yield name

    yield _each()
    set_table_format(None)
