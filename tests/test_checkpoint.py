"""Checkpoint-resume runner: resume skips fingerprint-matched stages;
edits invalidate exactly the downstream cone; lineage is recorded."""

import json
import os

import pyspark.sql.functions as F
import pytest

from openmldb_spark.jobs.runner import CheckpointedPipeline


def _build(pipe, sf_dir, filter_version="1"):
    pipe.stage("src", lambda spark: spark.read.parquet(
        f"{sf_dir}/nation.parquet"), params=sf_dir)
    pipe.stage(
        "filtered",
        lambda spark, s: s.where(F.col("n_regionkey") >= 1),
        deps=["src"], version=filter_version,
    )
    pipe.stage(
        "agg",
        lambda spark, f: f.groupBy("n_regionkey").agg(
            F.count(F.lit(1)).alias("n")),
        deps=["filtered"],
    )


def test_checkpoint_resume_and_invalidation(spark, sf_dir, tmp_path):
    ck = str(tmp_path / "ckpt")

    p1 = CheckpointedPipeline(spark, ck)
    _build(p1, sf_dir)
    out1 = p1.run("agg").orderBy("n_regionkey").collect()
    assert [e["action"] for e in p1.metrics()] == ["computed"] * 3

    # second run: everything resumed from parquet
    p2 = CheckpointedPipeline(spark, ck)
    _build(p2, sf_dir)
    out2 = p2.run("agg").orderBy("n_regionkey").collect()
    assert out1 == out2
    assert [e["action"] for e in p2.metrics()] == ["resumed"] * 3

    # bump the middle stage: src resumes, filtered+agg recompute
    p3 = CheckpointedPipeline(spark, ck)
    _build(p3, sf_dir, filter_version="2")
    p3.run("agg")
    actions = {e["stage"]: e["action"] for e in p3.metrics()}
    assert actions == {"src": "resumed", "filtered": "computed",
                       "agg": "computed"}

    # manifest carries per-partition lineage + metrics + conf
    with open(os.path.join(ck, "agg", "manifest.json")) as f:
        man = json.load(f)
    assert man["rows"] == sum(p["rows"] for p in man["partitions"])
    assert man["n_partitions"] >= 1
    assert man["bytes"] > 0          # checkpoint size on the ckpt FS
    assert man["duration_sec"] >= 0
    assert "spark.sql.shuffle.partitions" in man["spark_conf"]
    assert man["deps"]["filtered"]


def test_backfill_job_stages(spark, sf_dir, tmp_path):
    """The spark-submit backfill job end to end (in-process)."""
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "backfill",
        os.path.join(os.path.dirname(os.path.dirname(__file__)),
                     "jobs", "backfill.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    ck = str(tmp_path / "bf")
    pipe = CheckpointedPipeline(spark, ck)
    mod.build(pipe, sf_dir)
    out = pipe.run("features")
    cols = set(out.columns)
    assert {"conv_id", "turn_idx", "session_id", "sum_30m", "top_tools",
            "cfg", "weight"} <= cols
    n = out.count()
    assert n == spark.read.parquet(f"{sf_dir}/events.parquet").count()

    # resume is a no-op pass
    pipe2 = CheckpointedPipeline(spark, ck)
    mod.build(pipe2, sf_dir)
    pipe2.run("features")
    assert all(e["action"] == "resumed" for e in pipe2.metrics())


def _jobs_launched(spark, fn) -> int:
    """Spark jobs that ``fn()`` launches, counted through a job group."""
    import uuid
    sc = spark.sparkContext
    group = f"ckpt-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _one_stage(spark, ck, df):
    pipe = CheckpointedPipeline(spark, ck)
    pipe.stage("only", lambda spark: df)
    return pipe


def test_computed_stage_launches_only_its_write(spark, sf_dir, tmp_path):
    """The ledger comes from the written files: a computed stage launches
    the jobs of a direct write of the same DataFrame and nothing more
    (no lineage job, no schema-inference job), a resumed stage none."""
    df = (spark.read.parquet(f"{sf_dir}/nation.parquet")
          .groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n")))
    direct = _jobs_launched(
        spark, lambda: df.write.mode("overwrite").parquet(str(tmp_path / "direct")))
    assert direct >= 1

    ck = str(tmp_path / "ckpt")
    assert _jobs_launched(spark, lambda: _one_stage(spark, ck, df).run("only")) == direct

    resumed = _one_stage(spark, ck, df)
    assert _jobs_launched(spark, lambda: resumed.run("only")) == 0
    assert resumed.metrics()[0]["action"] == "resumed"


@pytest.fixture
def typed_frame(spark, tmp_path):
    """One row (and one of NULLs) of every type the engine emits, the
    char/varchar columns read back from a table declared with them."""
    spark.sql(f"CREATE TABLE ckpt_chars (c CHAR(5), v VARCHAR(7)) USING parquet "
              f"LOCATION '{tmp_path / 'chars'}'")
    spark.sql("INSERT INTO ckpt_chars VALUES ('ab', 'xy'), (NULL, NULL)")
    chars = spark.table("ckpt_chars")
    assert chars.schema["c"].metadata  # the char type survives as metadata
    yield spark.sql("""
        SELECT TIMESTAMP '2024-01-02 03:04:05' AS ts,
               TIMESTAMP_NTZ '2024-01-02 03:04:05' AS ntz,
               DATE '2024-01-02' AS d,
               CAST(1.25 AS DECIMAL(12, 3)) AS dec,
               array(1, 2) AS arr,
               map('a', 1.5D) AS m,
               named_struct('x', 1, 'y', 'z') AS st""").crossJoin(chars)
    spark.sql("DROP TABLE IF EXISTS ckpt_chars")


def test_footer_schema_matches_inference(spark, typed_frame, tmp_path):
    """The schema the runner re-reads with (taken from the footer, stored
    in the manifest for resume) is the one Spark's own inference gives,
    for every type the engine emits, field metadata included."""
    df = typed_frame
    ck = str(tmp_path / "ckpt")
    computed = _one_stage(spark, ck, df).run("only")
    dpath = os.path.join(ck, "only", "data.parquet")
    inferred = spark.read.parquet(dpath).schema
    assert computed.schema.json() == inferred.json()

    with open(os.path.join(ck, "only", "manifest.json")) as f:
        man = json.load(f)
    assert man["schema"] is not None
    resumed = _one_stage(spark, ck, df).run("only")
    assert resumed.schema.json() == inferred.json()
    key = ["ts", "ntz", "d", "dec", "c", "v"]
    assert (sorted(map(repr, resumed.select(*key).collect()))
            == sorted(map(repr, spark.read.parquet(dpath).select(*key).collect())))


def test_manifest_files_rows_bytes(spark, sf_dir, tmp_path):
    """The manifest lists exactly the stage's part files, with each
    file's rows and bytes, and its totals are their sums."""
    df = spark.read.parquet(f"{sf_dir}/nation.parquet").repartition(3)
    ck = str(tmp_path / "ckpt")
    pipe = _one_stage(spark, ck, df)
    pipe.run("only")
    dpath = os.path.join(ck, "only", "data.parquet")
    parts = sorted(f for f in os.listdir(dpath) if f.startswith("part-"))
    with open(os.path.join(ck, "only", "manifest.json")) as f:
        man = json.load(f)

    assert [p["file"] for p in man["partitions"]] == parts
    assert man["n_partitions"] == len(parts)
    for p in man["partitions"]:
        path = os.path.join(dpath, p["file"])
        assert p["bytes"] == os.path.getsize(path)
        assert p["rows"] == spark.read.parquet(path).count()
    assert man["rows"] == df.count() == sum(p["rows"] for p in man["partitions"])
    assert man["bytes"] == sum(p["bytes"] for p in man["partitions"])
    assert pipe.metrics()[0]["bytes"] == man["bytes"]
