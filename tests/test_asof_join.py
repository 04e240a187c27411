"""asof_join_kernel against a brute-force Python reference.

The reference encodes the as-of rule directly: for each left row, the
right rows with null-safe equal keys and a non-null ``ts`` at or before
(``allow_exact_matches``) or strictly before the left ``ts``; among them
the newest ``ts``, and among right rows tied at that ``ts`` the max value
tuple with NULL ranking above every value. A NULL-ts row on either side
never matches. Inputs are seeded random rows with a NULL key, duplicated
timestamps, NULL timestamps and NULL values at tied timestamps."""

import random

import pytest
import pyspark.sql.functions as F

from openmldb_spark.operators.lastjoin import asof_join_kernel, last_join
from openmldb_spark.plans.specs import LastJoinSpec

KEYS = ["a", "b", "c", "d", None]
VALS = ["cfg", "w"]


def _nullable(rng, v, p=0.15):
    return None if rng.random() < p else v


def _inputs(spark, seed, on):
    rng = random.Random(seed)

    def keys():
        k = [rng.choice(KEYS)]
        return k if len(on) == 1 else k + [rng.choice([0, 1, None])]

    left = [(*keys(), _nullable(rng, rng.randrange(40), 0.08), lid)
            for lid in range(300)]
    right = [(*keys(), _nullable(rng, rng.randrange(40), 0.08),
              _nullable(rng, rng.choice("xyz")),
              _nullable(rng, rng.randrange(3)))
             for _ in range(300)]
    kdef = "k1 string" if len(on) == 1 else "k1 string, k2 int"
    ldf = spark.createDataFrame(left, f"{kdef}, ts_ms bigint, lid int")
    rdf = spark.createDataFrame(
        right, f"{kdef}, ts_ms bigint, cfg string, w int")
    return left, right, ldf, rdf


def _rank(vals):
    # NULL above every value: the last pick of an ascending NULLS LAST order
    return tuple((1, 0) if v is None else (0, v) for v in vals)


def _reference(left, right, nkeys, allow_exact_matches):
    out = {}
    for *lk, lts, lid in left:
        cands = [r for r in right
                 if list(r[:nkeys]) == lk and lts is not None
                 and r[nkeys] is not None
                 and (r[nkeys] <= lts if allow_exact_matches
                      else r[nkeys] < lts)]
        if not cands:
            out[lid] = (None, None)
            continue
        newest = max(r[nkeys] for r in cands)
        best = max((r[nkeys + 1:] for r in cands if r[nkeys] == newest),
                   key=_rank)
        out[lid] = tuple(best)
    return out


@pytest.mark.parametrize("on", [["k1"], ["k1", "k2"]])
@pytest.mark.parametrize("allow_exact_matches", [True, False])
@pytest.mark.parametrize("seed", [0, 1])
def test_asof_matches_bruteforce(spark, on, allow_exact_matches, seed):
    left, right, ldf, rdf = _inputs(spark, seed, on)
    out = asof_join_kernel(ldf, rdf, on=on, right_cols=VALS,
                           allow_exact_matches=allow_exact_matches)
    assert out.columns == ldf.columns + VALS
    rows = out.collect()
    got = {r.lid: (r.cfg, r.w) for r in rows}
    assert len(rows) == len(left) == len(got)
    assert got == _reference(left, right, len(on), allow_exact_matches)


def test_asof_map_right_column_orders_ties_by_ts(spark):
    """A map column cannot be sorted: it drops out of the tie order
    instead of raising, and non-tied matches are unaffected."""
    left = spark.createDataFrame(
        [("c", 1000, 1), ("c", 3000, 2), ("d", 10, 3)],
        "k string, ts_ms bigint, lid int")
    right = spark.createDataFrame(
        [("c", 500, {"a": 1}), ("c", 2500, {"b": 2}),
         ("c", 2500, {"b": 3}), ("d", 5, None)],
        "k string, ts_ms bigint, meta map<string,int>")
    got = {r.lid: r.meta for r in asof_join_kernel(
        left, right, on=["k"]).collect()}
    assert got[1] == {"a": 1} and got[3] is None
    assert got[2] in ({"b": 2}, {"b": 3})


def test_variant_right_column_drops_out_of_tie_order(spark):
    """Only allowlisted types take part in a tie order: a variant column
    (orderable by neither operator) must not reach an ORDER BY."""
    left = spark.createDataFrame([("c", 1000, 1)],
                                 "k string, ts_ms bigint, lid int")
    right = spark.createDataFrame(
        [("c", 500, "a", '{"x": 1}'), ("c", 500, "z", '{"x": 2}')],
        "k string, ts_ms bigint, cfg string, doc string",
    ).withColumn("doc", F.parse_json("doc"))
    got = last_join(left.drop("ts_ms"), right.drop("ts_ms"),
                    LastJoinSpec(left_on=["k"])).collect()
    assert got[0].cfg == "z"
    got = asof_join_kernel(left, right, on=["k"]).collect()
    assert got[0].cfg == "z"


# An unordered LAST JOIN picks its row by a tie order over the right
# columns; unorderable (map) columns must drop out of it.
def test_last_join_unordered_map_column_does_not_crash(spark):
    left = spark.createDataFrame([("c", 1)], "k string, lid int")
    right = spark.createDataFrame(
        [("c", "a", {"m": 1}), ("c", "z", {"m": 2})],
        "k string, cfg string, meta map<string,int>")
    for _ in range(3):
        got = last_join(left, right, LastJoinSpec(left_on=["k"])).collect()
        # deterministic on the remaining orderable column (cfg desc)
        assert got[0].cfg == "z"


def test_last_join_unordered_only_map_columns_falls_back(spark):
    left = spark.createDataFrame([("c", 1)], "k string, lid int")
    right = spark.createDataFrame(
        [("c", {"m": 1})], "k string, meta map<string,int>")
    out = last_join(left, right, LastJoinSpec(left_on=["k"])).collect()
    assert len(out) == 1 and out[0].meta == {"m": 1}


def test_last_join_unordered_case_insensitive_right_cols(spark):
    """right_cols that resolve only case-insensitively (Spark's default
    resolution) must not KeyError in the determinism fallback."""
    left = spark.createDataFrame([("c", 1)], "k string, lid int")
    right = spark.createDataFrame(
        [("c", "a"), ("c", "z")], "k string, cfg string")
    got = last_join(left, right, LastJoinSpec(left_on=["k"]),
                    right_cols=["CFG"]).collect()
    assert got[0]["CFG" if "CFG" in got[0].asDict() else "cfg"] == "z"
