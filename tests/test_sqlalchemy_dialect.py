"""pandas over the PEP-249 driver: the reference's
``pd.read_sql(engine)`` workflow without an SQLAlchemy dialect —
``pd.read_sql`` accepts a DBAPI connection directly.
"""

import pandas as pd


def test_pandas_read_sql_over_dbapi(spark):
    """pd.read_sql accepts a PEP-249 connection directly — the
    no-sqlalchemy drop-in for the reference's pd.read_sql(engine)."""
    import warnings
    from openmldb_spark.dbapi import connect
    db = connect("pd_db", spark=spark)
    cur = db.cursor()
    cur.execute("create table pt (a int, b string)")
    cur.executemany("insert into pt values (?, ?)",
                    [(i, f"s{i}") for i in range(4)])
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")    # pandas warns on raw DBAPI
        got = pd.read_sql("select * from pt", db)
    got = got.sort_values("a").reset_index(drop=True)
    assert list(got.columns) == ["a", "b"]
    assert got["a"].tolist() == [0, 1, 2, 3]
    assert got["b"].tolist() == ["s0", "s1", "s2", "s3"]
