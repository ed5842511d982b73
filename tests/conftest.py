import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The session default heap (24g) can exceed the host's RAM; a JVM allowed to
# grow past it is OOM-killed mid-suite although its live set after a full GC
# is a few hundred MB.  Cap the test session's driver heap unless set.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

from pipeflow_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pipeflow_spark_tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


# -- FIXTURES.md tables (ports of the reference's test fixtures) -------------

@pytest.fixture(scope="session")
def persons(spark):
    """F1 — PipeFlow.Tests/PipelineTests.cs:12-21."""
    return spark.createDataFrame(
        [
            (1, "Alice", 25, "New York"),
            (2, "Bob", 30, "London"),
            (3, "Charlie", 35, "New York"),
            (4, "Diana", 28, "Paris"),
            (5, "Eve", 22, "London"),
        ],
        "id int, name string, age int, city string",
    )


@pytest.fixture(scope="session")
def employees(spark):
    """F2 — PipeFlow.Tests/ExtensionTests.cs:12-45 (duplicate id=1)."""
    return spark.createDataFrame(
        [
            (1, 1, "Alice", "Engineering", 75000),
            (2, 2, "Bob", "Engineering", 82000),
            (3, 3, "Charlie", "Sales", 68000),
            (4, 1, "Alice Duplicate", "HR", 71000),
        ],
        "row_order int, id int, name string, department string, salary int",
    )


@pytest.fixture(scope="session")
def scores(spark):
    """F3 — PipeFlow.Tests/CsvTests.cs:172-177."""
    return spark.createDataFrame(
        [
            (1, "Alice", 85),
            (2, "Bob", 92),
            (3, "Charlie", 78),
            (4, "Diana", 88),
            (5, "Eve", 95),
        ],
        "id int, name string, score int",
    )
