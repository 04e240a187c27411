"""Replay cases/restful/v230/test_insert.yaml (28 expanded cases)
through the apiserver PUT-insert surface SEMANTICALLY (the HTTP
transport is out of scope; the JSON payload semantics are not).

Positive cases insert one JSON row and value-check the afterAction
``select * from {0}`` against the corpus rows; negative cases (multi-row
put, bad route, unknown db/table, arity mismatch, strict-type
violations, NOT NULL null, string->timestamp, bad date) assert
rejection parity (`code: -1` -> RestfulError).
"""

import datetime
import json

import pytest
import yaml
from pyspark.sql import types as T

from openmldb_spark.sources.restful import RestfulError, put_table_row
from conftest import corpus_path

CASES = corpus_path("cases/restful/v230/test_insert.yaml")
DB = "test_restful_ins"

_SPARK_TYPES = {
    "string": T.StringType(), "smallint": T.ShortType(),
    "int": T.IntegerType(), "bigint": T.LongType(),
    "float": T.FloatType(), "double": T.DoubleType(),
    "timestamp": T.TimestampType(), "date": T.DateType(),
    "bool": T.BooleanType(),
}


def _schema(columns):
    fields = []
    for c in columns:
        spec = c.strip()
        nullable = True
        low = spec.lower()
        if low.endswith(" not null"):
            nullable = False
            spec = spec[: -len(" not null")].strip()
        name, typ = spec.rsplit(" ", 1)
        fields.append(T.StructField(name.strip().strip("`"),
                                    _SPARK_TYPES[typ.lower()], nullable))
    return T.StructType(fields)


def _norm_cell(v, dtype):
    if v is None:
        return None
    if isinstance(dtype, T.TimestampType):
        return int(v.replace(tzinfo=datetime.timezone.utc).timestamp()
                   * 1000) if isinstance(v, datetime.datetime) else int(v)
    if isinstance(dtype, T.DateType):
        if isinstance(v, str):
            return datetime.date.fromisoformat(v)
        return v
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return round(float(v), 4)
    if isinstance(dtype, T.BooleanType):
        return bool(v)
    if isinstance(dtype, (T.ShortType, T.IntegerType, T.LongType)):
        return int(v)
    return str(v)


def _load():
    with open(CASES) as f:
        doc = yaml.safe_load(f)
    return doc["baseCase"], doc["cases"]


def _merged(base, case):
    out = dict(base)
    out.update({k: v for k, v in case.items() if k != "uriParameters"})
    return out


def _expand(base, cases):
    """-> [(id, effective_case, expect_data)]; uriParameters cases fan
    out into one subcase per parameter value."""
    out = []
    for j, c in enumerate(cases):
        eff = _merged(base, c)
        params = c.get("uriParameters")
        if params:
            (pname, pvals), = params.items()
            for k, (pval, pexp) in enumerate(zip(pvals, c["uriExpect"])):
                sub = dict(eff)
                sub["uri"] = eff["uri"].replace(f"<{pname}>", pval)
                out.append((f"{c['caseId']}#{j}.{k}", sub,
                            pexp.get("data") or {}))
        else:
            out.append((f"{c['caseId']}#{j}", eff,
                        (eff.get("expect") or {}).get("data") or {}))
    return out


def _run_case(spark, eff, expect):
    tables_spec = (eff.get("beforeAction") or {}).get("tables") or []
    dbs = {DB: {}}
    names = []
    for i, tspec in enumerate(tables_spec):
        name = f"t{i}"
        dbs[DB][name] = spark.createDataFrame([], _schema(tspec["columns"]))
        names.append(name)
    uri = eff["uri"].replace("{db_name}", DB).replace("{table_name}",
                                                      names[0])
    body = eff.get("body")
    # YAML non-string bodies ([], null) reach the wire unencodable /
    # empty — hand them through raw; the surface rejects them
    negative = expect.get("code", 0) != 0
    if negative:
        with pytest.raises(RestfulError) as ei:
            put_table_row(spark, eff.get("method", "PUT"), uri, body, dbs)
        # message parity: the corpus' exact `msg` (and `msg-contains`)
        # must appear in our error text — including the rapidjson
        # parse-error codes (1 = DocumentEmpty, 7 = array comma)
        want = expect.get("msg") or expect.get("msg-contains")
        if want:
            assert str(want) in str(ei.value), (want, str(ei.value))
        return
    put_table_row(spark, eff.get("method", "PUT"), uri, body, dbs)
    after = eff.get("afterAction") or {}
    want = (after.get("expect") or {}).get("rows")
    if want is None:
        # positive ok-only case: the row must have landed
        assert dbs[DB][names[0]].count() == 1
        return
    got_df = dbs[DB][names[0]]
    dtypes = [f.dataType for f in got_df.schema.fields]
    got = sorted(tuple(_norm_cell(v, t) for v, t in zip(r, dtypes))
                 for r in got_df.collect())
    wantn = sorted(tuple(_norm_cell(v, t) for v, t in zip(r, dtypes))
                   for r in want)
    assert got == wantn, (got, wantn)


_BASE, _CASES = _load()
_EXPANDED = _expand(_BASE, _CASES)


@pytest.mark.parametrize(
    "eff,expect", [pytest.param(e, x, id=i) for i, e, x in _EXPANDED])
def test_restful_insert_case(spark, eff, expect):
    _run_case(spark, eff, expect)


def test_minimum_restful_insert_coverage(spark):
    """Ratchet: the whole PUT-insert corpus replays with zero failures
    and zero skips (28 positive+negative subcases after uriParameters
    fan-out)."""
    ok = 0
    for _i, eff, expect in _EXPANDED:
        _run_case(spark, eff, expect)
        ok += 1
    assert ok >= 28


def test_strict_type_matrix(spark):
    """AppendJsonValue parity beyond the corpus rows: int literals are
    rejected for double columns (rapidjson IsDouble()==false), bools
    are not ints, int32 overflow rejected for int columns."""
    def one(coltype, v):
        dbs = {DB: {"t0": spark.createDataFrame(
            [], _schema([f"c1 {coltype}"]))}}
        put_table_row(spark, "PUT", f"/dbs/{DB}/tables/t0",
                      json.dumps({"value": [[v]]}), dbs)
        return dbs[DB]["t0"].collect()[0][0]

    assert one("double", 1.5) == 1.5
    with pytest.raises(RestfulError):
        one("double", 2)            # JSON int is not a double
    with pytest.raises(RestfulError):
        one("int", True)            # bool is not an int
    with pytest.raises(RestfulError):
        one("int", 2**31)           # beyond IsInt()
    with pytest.raises(RestfulError):
        one("smallint", 2**15)      # lexical_cast<int16_t> range
    assert one("bigint", 2**31) == 2**31
    with pytest.raises(RestfulError):
        one("date", "2020-05")      # 2-part date
    with pytest.raises(RestfulError):
        one("date", "2020-05-xx")   # non-integer part
    assert one("bool", True) is True
    with pytest.raises(RestfulError):
        one("bool", 1)              # int is not a bool
    with pytest.raises(RestfulError):
        # int64-valid but beyond year 9999: the reference stores any
        # int64; Spark timestamps can't — documented divergence, must
        # reject (not crash) through the surface contract
        one("timestamp", 253402300800000)
    with pytest.raises(RestfulError):
        # trailing slash: route regex ends on a non-empty segment
        put_table_row(spark, "PUT", f"/dbs/{DB}/tables/t0/",
                      json.dumps({"value": [[1]]}),
                      {DB: {"t0": spark.createDataFrame(
                          [], _schema(["c1 int"]))}})
