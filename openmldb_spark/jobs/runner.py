"""Checkpoint-resumable pipeline runner with per-file lineage.

Prior art: the reference's node-by-node HDFS-cached slow-run mode
(SparkPlanner.slowRunWithHDFSCache, java/openmldb-batch/src/main/scala/
com/_4paradigm/openmldb/batch/SparkPlanner.scala:289-325), generalized
into a DAG of named stages:

- Each stage's output is written once to ``<ckpt>/<stage>/data.parquet``
  with a ``manifest.json`` recording: a fingerprint of (stage code
  version + upstream fingerprints + params), row count, data bytes, wall
  time, the Spark schema, per-file lineage (each written ``part-*`` file,
  whose name carries the write partition that produced it, with its rows
  and bytes), and the Spark conf that produced it.
- The ledger comes from the files the write left: one ``listStatus`` of
  the stage directory and each part file's parquet footer (row count,
  and the Spark schema under the key Spark's own inference reads). The
  stage is re-read with that schema, so a computed stage launches only
  the jobs of its own write, and a resumed stage, whose schema is in its
  manifest, launches none.
- On re-run, a stage whose fingerprint matches is loaded from parquet
  instead of recomputed; editing a stage (or any upstream) invalidates
  exactly its downstream cone. This is job-step resume on top of
  Spark's task-level retry. Fingerprints are definitional (code version
  + params + upstream fingerprints), so stages must be deterministic:
  a deleted checkpoint recomputes to identical content and downstream
  checkpoints stay valid.
- ``metrics()`` exposes the run ledger for monitoring.

At cluster scale the checkpoint dir is an HDFS/S3/Iceberg path; the
parquet round-trip also truncates lineage (shorter DAGs → smaller task
closures, faster scheduling).
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import dataclass, field
from collections.abc import Callable
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# footer key-value entry holding the Spark schema of a Spark-written file
SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"


def _fingerprint(*parts: str) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any URI scheme the cluster knows —
    file:, hdfs:, s3a:, ... Manifests must resolve through the SAME
    filesystem as the parquet writes, or an HDFS/S3 --ckpt-dir would
    checkpoint data remotely but look for manifests on the driver's
    local disk and recompute every stage on resume."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _fs_read_text(spark: SparkSession, path: str) -> str | None:
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        return bytes(spark._jvm.org.apache.commons.io.IOUtils
                     .toByteArray(stream)).decode("utf-8")
    finally:
        stream.close()


def _written_files(spark: SparkSession, path: str) -> tuple[list[dict], str | None]:
    """The ``part-*`` files of a parquet directory, in name order, as
    ``{"file", "rows", "bytes"}``, and the Spark schema JSON
    of the first file's footer (None if it has none). One ``listStatus``
    plus one footer read per file, all on the driver; no Spark job."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs, hpath = _hadoop_fs(spark, path)
    parquet = jvm.org.apache.parquet.hadoop
    files, schema = [], None
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not name.startswith("part-"):
            continue
        reader = parquet.ParquetFileReader.open(
            parquet.util.HadoopInputFile.fromStatus(st, conf))
        try:
            rows = reader.getRecordCount()
            if schema is None:
                schema = (reader.getFooter().getFileMetaData()
                          .getKeyValueMetaData().get(SPARK_SCHEMA_KEY))
        finally:
            reader.close()
        files.append({"file": name, "rows": int(rows), "bytes": int(st.getLen())})
    files.sort(key=lambda f: f["file"])
    return files, schema


def _fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, hpath = _hadoop_fs(spark, path)
    stream = fs.create(hpath, True)   # overwrite; creates parent dirs
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


@dataclass
class Stage:
    name: str
    fn: Callable[..., DataFrame]         # fn(spark, *dep_dfs) -> DataFrame
    deps: list[str] = field(default_factory=list)
    version: str = "1"                   # bump to force recompute
    params: str = ""                     # stringified params in fingerprint


class CheckpointedPipeline:
    def __init__(self, spark: SparkSession, ckpt_dir: str):
        self.spark = spark
        self.ckpt_dir = ckpt_dir
        self.stages: dict[str, Stage] = {}
        self._results: dict[str, DataFrame] = {}
        self._fps: dict[str, str] = {}
        self.ledger: list[dict] = []

    def stage(self, name: str, fn: Callable[..., DataFrame],
              deps: list[str] | None = None, version: str = "1",
              params: str = "") -> None:
        self.stages[name] = Stage(name, fn, deps or [], version, params)

    # -- internals ---------------------------------------------------------
    def _paths(self, name: str) -> tuple[str, str]:
        # plain '/' joins, not os.path: the ckpt dir may be an
        # hdfs://... or s3a://... URI on a cluster
        d = f"{self.ckpt_dir.rstrip('/')}/{name}"
        return f"{d}/data.parquet", f"{d}/manifest.json"

    def _stage_fp(self, st: Stage) -> str:
        dep_fps = [self._fps[d] for d in st.deps]
        return _fingerprint(st.name, st.version, st.params, *dep_fps)

    def _load_manifest(self, name: str) -> dict | None:
        _, mpath = self._paths(name)
        text = _fs_read_text(self.spark, mpath)
        return json.loads(text) if text is not None else None

    def _read(self, dpath: str, schema: str | None) -> DataFrame:
        # with the stored schema the read runs no inference job
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(json.loads(schema)))
        return reader.parquet(dpath)

    @cached_property
    def _spark_conf(self) -> dict:
        return {
            k: v for k, v in self.spark.sparkContext.getConf().getAll()
            if k.startswith("spark.sql") or k in
            ("spark.master", "spark.app.name")
        }

    # -- execution ---------------------------------------------------------
    def run(self, target: str) -> DataFrame:
        st = self.stages[target]
        for d in st.deps:
            self.run(d)
        if target in self._results:
            return self._results[target]

        fp = self._stage_fp(st)
        self._fps[target] = fp
        dpath, mpath = self._paths(target)
        man = self._load_manifest(target)

        if man is not None and man.get("fingerprint") == fp:
            df = self._read(dpath, man.get("schema"))
            self._results[target] = df
            self.ledger.append({
                "stage": target, "fingerprint": fp, "action": "resumed",
                "rows": man["rows"], "bytes": man.get("bytes", 0),
                "duration_sec": 0.0,
            })
            return df

        t0 = time.monotonic()
        out = st.fn(self.spark, *[self._results[d] for d in st.deps])
        out.write.mode("overwrite").parquet(dpath)
        lineage, schema = _written_files(self.spark, dpath)
        df = self._read(dpath, schema)
        dur = time.monotonic() - t0

        n_rows = sum(p["rows"] for p in lineage)
        ckpt_bytes = sum(p["bytes"] for p in lineage)
        manifest = {
            "stage": target,
            "fingerprint": fp,
            "deps": {d: self._fps[d] for d in st.deps},
            "rows": n_rows,
            "n_partitions": len(lineage),
            "partitions": lineage,
            "bytes": ckpt_bytes,
            "duration_sec": round(dur, 3),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "schema": schema,
            "spark_conf": self._spark_conf,
        }
        _fs_write_text(self.spark, mpath, json.dumps(manifest, indent=1))
        self._results[target] = df
        self.ledger.append({
            "stage": target, "fingerprint": fp, "action": "computed",
            "rows": n_rows, "bytes": ckpt_bytes,
            "duration_sec": round(dur, 3),
        })
        return df

    def metrics(self) -> list[dict]:
        return list(self.ledger)
