"""The parquet-read seam (``sources.scan.read_parquet``): a repeat read of
unchanged files reuses the schema Spark inferred the first time and
launches no job, the memo key follows the files and the inference confs,
and every parquet read in the package goes through the seam."""

import ast
import contextlib
import json
import os
import re
import sys
import threading
import uuid
from collections import OrderedDict
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smartpy_arc_spark.sources import scan as S

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "smartpy_arc_spark")


@pytest.fixture(autouse=True)
def empty_memo(monkeypatch):
    monkeypatch.setattr(S, "_schema_memo", OrderedDict())


@contextlib.contextmanager
def spark_jobs(spark):
    """Collect the ids of the Spark jobs launched inside the block."""
    sc = spark.sparkContext
    group = f"seam-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    ids = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_schema_equals_cold_for_every_fixture_table(spark, sf_dir):
    for name in sorted(os.listdir(sf_dir)):
        path = os.path.join(sf_dir, name)
        cold = S.read_parquet(spark, path)
        with spark_jobs(spark) as jobs:
            warm = S.read_parquet(spark, path)
        assert jobs == [], name
        # field metadata included
        assert warm.schema.json() == cold.schema.json(), name
        assert warm.schema.json() == spark.read.parquet(path).schema.json(), name


def test_warm_schema_geometry_partitioned_and_nanos(spark, sf_dir, tmp_path):
    from smartpy_arc_spark.meta import tag_geometry
    from smartpy_arc_spark.sinks.write import write_table

    geo = spark.createDataFrame([(1, bytearray(b"\x01"))], "id long, geometry binary")
    path = write_table(tag_geometry(geo, "geometry", crs="EPSG:4326"),
                       str(tmp_path), "geo", overwrite=True)
    cold = S.read_parquet(spark, path)
    assert cold.schema["geometry"].metadata  # the tag survived the write
    assert S.read_parquet(spark, path).schema.json() == cold.schema.json()

    part = str(tmp_path / "part")
    spark.range(12).withColumn("k", F.col("id") % 3).write.partitionBy(
        "k").parquet(part)
    cold = S.read_parquet(spark, part)
    with spark_jobs(spark) as jobs:
        warm = S.read_parquet(spark, part)
    assert jobs == []
    assert warm.schema.json() == cold.schema.json()
    assert warm.columns == ["id", "k"]
    assert sorted(warm.collect()) == sorted(cold.collect())

    cold = S.scan(spark, sf_dir, "events", nanos_ts_cols=["ts"])
    with spark_jobs(spark) as jobs:
        warm = S.scan(spark, sf_dir, "events", nanos_ts_cols=["ts"])
    assert jobs == []
    assert warm.schema.json() == cold.schema.json()
    assert dict(warm.dtypes)["ts"] == "timestamp"


def test_rewrite_in_place_returns_new_schema(spark, tmp_path):
    path = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert S.read_parquet(spark, path).dtypes == [("a", "bigint")]
    assert S.read_parquet(spark, path).dtypes == [("a", "bigint")]  # memoized
    pq.write_table(pa.table({"a": ["x"], "b": [1.5]}), path)
    back = S.read_parquet(spark, path)
    assert back.dtypes == [("a", "string"), ("b", "double")]
    assert back.collect()[0].asDict() == {"a": "x", "b": 1.5}


def test_inference_conf_changes_the_key(spark, sf_dir):
    path = os.path.join(sf_dir, "events.parquet")
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf)
    key = S._schema_key(spark, [path])
    try:
        spark.conf.set(conf, "false" if before == "true" else "true")
        assert S._schema_key(spark, [path]) != key
    finally:
        spark.conf.set(conf, before)
    assert S._schema_key(spark, [path]) == key


def test_key_fallbacks():
    assert S._schema_key(None, ["relative/t.parquet"]) is None
    assert S._schema_key(None, ["s3a://bucket/t.parquet"]) is None
    assert S._schema_key(None, ["/data/t*.parquet"]) is None
    assert S._schema_key(None, ["/no/such/table.parquet"]) is None


def test_empty_directory_keeps_spark_error(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        S.read_parquet(spark, str(tmp_path))
    assert len(S._schema_memo) == 0


def test_repeat_scan_launches_no_job(spark, sf_dir):
    S.scan(spark, sf_dir, "lineitem", where="l_quantity > 10")
    with spark_jobs(spark) as jobs:
        df = S.scan(spark, sf_dir, "lineitem", where="l_quantity > 10")
    assert jobs == []
    assert df.count() == spark.read.parquet(
        os.path.join(sf_dir, "lineitem.parquet")).where("l_quantity > 10").count()


def test_snapshot_read_uses_manifest_schema(spark, tmp_path):
    from smartpy_arc_spark.sinks.snapshot import (
        read_manifest,
        read_snapshot,
        write_snapshot,
        _manifest_path,
    )

    table = str(tmp_path / "snap")
    df = spark.range(5).select(
        "id", F.col("id").cast("string").alias("s"),
        F.current_timestamp().alias("t"),
    )
    write_snapshot(df, table)
    write_snapshot(df, table, mode="append")
    with spark_jobs(spark) as jobs:
        snap = read_snapshot(spark, table)
    assert jobs == []
    files = read_manifest(table)["files"]
    assert snap.schema.json() == spark.read.parquet(*files).schema.json()
    assert snap.count() == 10

    # a manifest written before the field existed falls back to inference
    manifest = read_manifest(table, 2)
    del manifest["spark_schema"]
    with open(_manifest_path(table, 2), "w") as f:
        json.dump(manifest, f)
    old = read_snapshot(spark, table)
    assert old.schema.json() == snap.schema.json()
    assert old.count() == 10


def test_memo_is_bounded(spark, tmp_path, monkeypatch):
    assert isinstance(S.SCHEMA_MEMO_MAX, int) and S.SCHEMA_MEMO_MAX > 0
    monkeypatch.setattr(S, "SCHEMA_MEMO_MAX", 3)
    paths = []
    for i in range(6):
        p = str(tmp_path / f"t{i}.parquet")
        pq.write_table(pa.table({f"c{i}": [i]}), p)
        paths.append(p)
        S.read_parquet(spark, p)
        assert len(S._schema_memo) <= 3
    # the newest three are kept, the oldest were dropped
    assert S._schema_key(spark, [paths[-1]]) in S._schema_memo
    assert S._schema_key(spark, [paths[0]]) not in S._schema_memo


class _FakeReader:
    """Stands in for DataFrameReader: a plain read "infers" a schema named
    after the file; a read given a schema returns that schema."""

    def __init__(self, schema=None):
        self._schema = schema

    def schema(self, schema):
        return _FakeReader(schema)

    def parquet(self, *paths):
        name = os.path.basename(paths[0])
        return SimpleNamespace(schema=self._schema or T.StructType(
            [T.StructField(name, T.LongType())]))


class _FakeSession:
    conf = SimpleNamespace(get=lambda key, default=None: default)

    @property
    def read(self):
        return _FakeReader()


def test_memo_under_concurrent_readers(tmp_path, monkeypatch):
    """More reader threads than cores on a memo smaller than the working
    set: no lost update breaks the bound or hands a file another file's
    schema."""
    monkeypatch.setattr(S, "SCHEMA_MEMO_MAX", 3)
    paths = []
    for i in range(5):
        p = str(tmp_path / f"t{i}.parquet")
        with open(p, "wb") as f:
            f.write(b"x" * i)
        paths.append(p)
    session, errors = _FakeSession(), []

    def reader(k):
        try:
            for j in range(300):
                p = paths[(j * 7 + k) % len(paths)]
                got = S.read_parquet(session, p).schema.names
                if got != [os.path.basename(p)]:
                    errors.append((p, got))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=reader, args=(k,))
               for k in range(2 * (os.cpu_count() or 4))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(S._schema_memo) <= 3


_RAW_READ = re.compile(r"(^|\.)(read|reader)\.parquet$")


def test_parquet_reads_go_through_the_seam():
    """Every DataFrameReader parquet read in the package is the seam's
    own: any other would pay a schema-inference job on every call."""
    calls = []  # (module, innermost enclosing function, line)
    for root, _dirs, files in os.walk(PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                tree = ast.parse(f.read())
            parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and _RAW_READ.search(ast.unparse(node.func))):
                    fn = parent.get(node)
                    while fn is not None and not isinstance(fn, ast.FunctionDef):
                        fn = parent.get(fn)
                    calls.append((os.path.relpath(path, PKG),
                                  getattr(fn, "name", None), node.lineno))
    seam = (os.path.join("sources", "scan.py"), "read_parquet")
    assert [c for c in calls if c[:2] != seam] == []
    assert len(calls) == 1  # the seam's own inference read
