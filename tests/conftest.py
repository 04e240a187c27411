import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from openmldb_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The reference's YAML case corpus (public test data, SURVEY.md §5). It is
# not vendored; where it is absent the modules that read it skip.
CORPUS = "/root/reference"
CORPUS_ABSENT = f"reference case corpus not present at {CORPUS}"


def corpus_path(rel: str) -> str:
    """The path of ``rel`` inside the reference corpus. When the corpus
    is absent this skips the caller: the whole module when called at
    import, else the running test, always with the reason
    ``CORPUS_ABSENT``."""
    if not os.path.isdir(CORPUS):
        pytest.skip(CORPUS_ABSENT, allow_module_level=True)
    return os.path.join(CORPUS, rel)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="openmldb-spark-tests", master="local[4]",
                  shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def executed_plan(df) -> str:
    """The final (AQE) physical plan of ``df``, after running it."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]
