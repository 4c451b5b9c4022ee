from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from shardpack_spark.session import get_spark

    s = get_spark("shardpack_spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def sp_rows():
    """Build a shardpack-schema DataFrame from (key, metadata_dict,
    payload_bytes) tuples — one 'data.bin' entry per record."""

    def _build(spark, rows):
        from shardpack_spark.format.datasource import SCHEMA

        return spark.createDataFrame(
            [
                (
                    key,
                    dict(meta or {}),
                    [("data.bin", "application/octet-stream", "none", len(payload), payload)],
                )
                for key, meta, payload in rows
            ],
            SCHEMA,
        )

    return _build


# A green default lane is not full coverage: say how many `slow` tests
# the `-m 'not slow'` addopts left out (run them with `-m ''`).
_SLOW_DESELECTED = pytest.StashKey[int]()


def pytest_deselected(items):
    if items:
        stash = items[0].config.stash
        slow = sum(1 for item in items if item.get_closest_marker("slow"))
        stash[_SLOW_DESELECTED] = stash.get(_SLOW_DESELECTED, 0) + slow


def pytest_terminal_summary(terminalreporter, config):
    slow = config.stash.get(_SLOW_DESELECTED, 0)
    if slow:
        terminalreporter.write_line(f"{slow} slow tests deselected; run them with -m ''")
