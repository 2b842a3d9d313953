import pathlib

import pytest

from osprey_spark.session import get_spark

GOLDENS_DIR = pathlib.Path(__file__).parent / "goldens"


def pytest_addoption(parser):
    # the reference's engine/conftest.py:63-141 --write-outputs flag:
    # refresh committed golden .txt snapshots instead of asserting them
    parser.addoption(
        "--write-outputs",
        action="store_true",
        default=False,
        help="rewrite golden output files from the current run",
    )


@pytest.fixture
def golden_check(request):
    """Compare text against tests/goldens/<relname>; with
    ``pytest --write-outputs`` the file is (re)written instead."""
    write = request.config.getoption("--write-outputs")

    def check(relname: str, text: str) -> None:
        fp = GOLDENS_DIR / relname
        if write:
            fp.parent.mkdir(parents=True, exist_ok=True)
            fp.write_text(text)
            return
        assert fp.exists(), (
            f"golden {relname} missing — refresh with `pytest --write-outputs`"
        )
        expected = fp.read_text()
        assert text == expected, (
            f"output differs from golden {relname} — if the change is "
            "intended, refresh with `pytest --write-outputs`"
        )

    return check


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=4, app_name="osprey_spark_tests", shuffle_partitions=4)
    yield s


@pytest.fixture
def rocksdb(spark):
    """Run under the RocksDB state store provider, which
    ``transformWithStateInPandas`` requires; the previous provider is
    restored afterwards."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    yield spark
    if prev is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, prev)
