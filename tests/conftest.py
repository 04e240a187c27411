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


def run_window_kernel(pdf, spec, aggs, keep_cols, types=None,
                      arrow=False):
    """Run the window frame kernel over one group given as a pandas
    frame (or a ``pyarrow.Table``), the way ``window_agg`` runs it: the
    frame becomes a ``pyarrow.Table`` and the output schema comes from
    ``window._agg_field``. ``types`` maps column names to the Arrow type
    they hold (a nullable integer column arrives as float64); an
    all-NULL column without one is a string column. Returns pandas, or
    the kernel's own ``pyarrow.Table`` with ``arrow=True``."""
    import pyarrow as pa
    import pyspark.sql.types as T
    from pyspark.sql.pandas.types import from_arrow_type, to_arrow_schema

    from openmldb_spark.operators import window, window_kernel

    table = pdf if isinstance(pdf, pa.Table) else \
        pa.Table.from_pandas(pdf, preserve_index=False) \
        .replace_schema_metadata()
    for i, f in enumerate(table.schema):
        want = (types or {}).get(f.name,
                                 pa.string() if f.type == pa.null() else None)
        if want is not None and want != f.type:
            table = table.set_column(i, f.name, table.column(i).cast(want))
    fields = {f.name: T.StructField(f.name, from_arrow_type(f.type))
              for f in table.schema}
    schema = T.StructType(
        [fields[c] for c in keep_cols]
        + [window._agg_field(a, fields.get(a.col)) for a in aggs])
    out = window_kernel.group_window_features(
        table, spec, aggs, list(keep_cols), to_arrow_schema(schema))
    return out if arrow else out.to_pandas()
