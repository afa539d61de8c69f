"""Versioned snapshots (time travel / rollback / atomicity) and chunking."""

import os

import pytest
from pyspark.sql import functions as F

from smartpy_arc_spark.operators.contamination import chunk_documents
from smartpy_arc_spark.sinks.snapshot import (
    read_manifest,
    read_snapshot,
    rollback_snapshot,
    snapshot_versions,
    write_snapshot,
)


def test_snapshot_publish_append_time_travel(spark, tmp_path):
    table = str(tmp_path / "t")
    df = spark.range(10).withColumn("tag", F.lit("v1"))

    assert snapshot_versions(table) == []
    assert write_snapshot(df, table) == 1
    assert write_snapshot(
        spark.range(10, 15).withColumn("tag", F.lit("v2")), table, mode="append"
    ) == 2
    assert write_snapshot(
        spark.range(100, 103).withColumn("tag", F.lit("v3")), table,
        mode="overwrite",
    ) == 3
    assert snapshot_versions(table) == [1, 2, 3]

    # latest is v3; older versions stay exact
    assert read_snapshot(spark, table).count() == 3
    assert sorted(r["id"] for r in read_snapshot(spark, table, 1).collect()) == list(range(10))
    v2 = read_snapshot(spark, table, 2)
    assert v2.count() == 15
    assert v2.where("tag = 'v1'").count() == 10  # append shared v1's files
    m1, m2 = read_manifest(table, 1), read_manifest(table, 2)
    assert set(m1["files"]) < set(m2["files"])   # copy-on-write, no rewrite
    assert all(os.path.exists(f) for f in m1["files"])

    # rollback is a forward commit with the old file list
    v4 = rollback_snapshot(table, 1)
    assert v4 == 4
    assert sorted(r["id"] for r in read_snapshot(spark, table).collect()) == list(range(10))
    assert read_manifest(table, 4)["files"] == m1["files"]

    with pytest.raises(LookupError):
        read_snapshot(spark, table, 99)


def test_snapshot_schema_evolution_per_version(spark, tmp_path):
    table = str(tmp_path / "t")
    write_snapshot(spark.range(3), table)
    write_snapshot(
        spark.range(3).withColumn("extra", F.lit(1.5)), table, mode="overwrite"
    )
    assert read_snapshot(spark, table, 1).columns == ["id"]
    assert read_snapshot(spark, table, 2).columns == ["id", "extra"]


def test_rollback_keeps_schema_for_append_check(spark, tmp_path):
    """A rollback commit carries the rolled-back version's schema, so a
    later append is still checked against it."""
    table = str(tmp_path / "t")
    write_snapshot(spark.range(3), table)
    write_snapshot(spark.range(3).withColumn("x", F.lit(1.5)), table)
    v3 = rollback_snapshot(table, 1)
    m1, m3 = read_manifest(table, 1), read_manifest(table, v3)
    assert m3["schema"] == m1["schema"]
    assert m3["spark_schema"] == m1["spark_schema"]
    with pytest.raises(ValueError, match="append schema mismatch"):
        write_snapshot(spark.createDataFrame([("a",)], "id string"), table,
                       mode="append")
    assert read_snapshot(spark, table).dtypes == [("id", "bigint")]


def test_chunk_documents_coverage_and_tail(spark):
    n_tokens = 100
    text = " ".join(f"w{i}" for i in range(n_tokens))
    df = spark.createDataFrame(
        [(1, text), (2, "a b c"), (3, ""), (4, "x " + " ".join("y" * 0))],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=64, stride=48)
    rows = sorted(
        ((r["doc_id"], r["chunk_idx"], r["chunk_text"], r["chunk_n_tokens"])
         for r in out.collect())
    )
    d1 = [r for r in rows if r[0] == 1]
    # starts 1 and 49; start 97 dropped (window 2 already covers the end)
    assert [r[1] for r in d1] == [0, 1]
    assert d1[0][3] == 64 and d1[1][3] == 52
    # every token appears in at least one chunk, in order
    covered = d1[0][2].split(" ") + d1[1][2].split(" ")
    assert set(covered) == {f"w{i}" for i in range(n_tokens)}
    assert d1[1][2].split(" ")[-1] == f"w{n_tokens - 1}"

    d2 = [r for r in rows if r[0] == 2]          # shorter than one window
    assert len(d2) == 1 and d2[0][3] == 3 and d2[0][2] == "a b c"
    assert not [r for r in rows if r[0] == 3]    # empty doc -> no chunks
    d4 = [r for r in rows if r[0] == 4]
    assert len(d4) == 1 and d4[0][2] == "x"


def test_chunk_documents_rejects_bad_params(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=0)
    with pytest.raises(ValueError):
        chunk_documents(df, stride=0)


def test_write_partitioned_dynamic_overwrite(spark, tmp_path):
    from pyspark.sql import functions as F

    from smartpy_arc_spark.sinks.write import write_partitioned

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "de"), (4, "fr")], "id long, lang string"
    )
    write_partitioned(base, path, ["lang"])
    assert spark.read.parquet(path).count() == 4

    # dynamic overwrite of ONE partition: en replaced, de/fr untouched
    write_partitioned(
        spark.createDataFrame([(10, "en")], "id long, lang string"),
        path, ["lang"],
    )
    got = {(r["id"], r["lang"]) for r in spark.read.parquet(path).collect()}
    assert got == {(10, "en"), (3, "de"), (4, "fr")}

    # static overwrite truncates everything else
    write_partitioned(
        spark.createDataFrame([(20, "en")], "id long, lang string"),
        path, ["lang"], dynamic=False,
    )
    got = {(r["id"], r["lang"]) for r in spark.read.parquet(path).collect()}
    assert got == {(20, "en")}
    # conf restored either way
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") in (
        "STATIC", "static"
    )


def test_snapshot_vacuum_append_schema_and_race(spark, tmp_path):
    import json

    from smartpy_arc_spark.sinks.snapshot import (
        _manifest_path,
        read_manifest,
        read_snapshot,
        snapshot_versions,
        vacuum_snapshots,
        write_snapshot,
    )

    table = str(tmp_path / "t")
    write_snapshot(spark.range(5), table)                       # v1
    write_snapshot(spark.range(5, 8), table, mode="append")     # v2 shares v1
    write_snapshot(spark.range(100, 103), table, mode="overwrite")  # v3
    v1_files = set(read_manifest(table, 1)["files"])

    # append with a different schema is rejected
    with pytest.raises(ValueError, match="schema mismatch"):
        write_snapshot(
            spark.range(3).withColumn("x", F.lit(1)), table, mode="append"
        )

    # vacuum keeps last 2 (v2, v3): v1's manifest goes, but its FILES
    # survive because v2 still references them (copy-on-write sharing)
    deleted = vacuum_snapshots(table, keep_last=2)
    assert snapshot_versions(table) == [2, 3]
    assert deleted == []
    assert read_snapshot(spark, table, 2).count() == 8

    # another overwrite, then vacuum to last 1: v2's exclusive files go
    write_snapshot(spark.range(200, 202), table, mode="overwrite")  # v4
    deleted = vacuum_snapshots(table, keep_last=1)
    assert snapshot_versions(table) == [4]
    assert set(deleted) >= v1_files          # v1+v2 data now unreferenced
    assert read_snapshot(spark, table).count() == 2

    # commit race: competitor publishes v5 between our version listing and
    # our rename — the existence check refuses the lost update
    from unittest import mock

    nxt = _manifest_path(table, 5)
    with open(nxt, "w") as f:
        json.dump({"version": 5, "parent": 4, "mode": "overwrite",
                   "committed_at": 0, "schema": "x", "files": []}, f)
    with mock.patch(
        "smartpy_arc_spark.sinks.snapshot.snapshot_versions", return_value=[4]
    ):
        with pytest.raises(FileExistsError):
            write_snapshot(spark.range(1), table, mode="overwrite")
