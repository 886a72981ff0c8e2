import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rabitq_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("rabitq_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(params=["posix", "file_uri"])
def location(request, tmp_path):
    """`location(name)`: a fresh directory under tmp_path, spelled as a
    posix path or as a file:// URI — the two forms every persistence
    function takes (a file:// URI runs the branch an object store runs)."""

    def at(name: str) -> str:
        path = tmp_path / name
        return str(path) if request.param == "posix" else path.as_uri()

    return at
