"""As-of join, scale helpers, and the reference-compat shim."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from smartpy_arc_spark.operators.asof import asof_join
from smartpy_arc_spark.operators.scale import (
    partition_advice,
    repartition_for_join,
    salted_join,
)


def _ts(m):
    return dt.datetime(2024, 1, 1, 10, m, 0)


def test_asof_join_backward_semantics(spark):
    probes = spark.createDataFrame(
        [(1, 100, _ts(0)), (2, 100, _ts(10)), (3, 100, _ts(30)), (4, 200, _ts(5))],
        "event_id long, user_id long, ts timestamp",
    )
    refs = spark.createDataFrame(
        [(100, _ts(10), 10.0), (100, _ts(20), 20.0), (200, _ts(50), 99.0)],
        "user_id long, ts timestamp, price double",
    )
    out = {r.event_id: r.price for r in asof_join(
        probes, refs, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["price"],
    ).collect()}
    assert out[1] is None          # before any reference row
    assert out[2] == 10.0          # exact tie matches (<= semantics)
    assert out[3] == 20.0          # most recent wins
    assert out[4] is None          # other user's refs are invisible


def test_asof_join_null_reference_value(spark):
    probes = spark.createDataFrame(
        [(1, 5, _ts(30))], "event_id long, user_id long, ts timestamp"
    )
    refs = spark.createDataFrame(
        [(5, _ts(0), 7.0), (5, _ts(20), None)],
        "user_id long, ts timestamp, price double",
    )
    out = asof_join(probes, refs, on="user_id", left_ts="ts", right_ts="ts").collect()
    # latest reference row wins even though its value is null
    assert out[0].price is None


def test_salted_join_matches_plain_join(spark):
    big = spark.createDataFrame(
        [(i % 3, i) for i in range(300)], "k long, v long"
    )
    small = spark.createDataFrame([(0, "a"), (1, "b")], "sk long, name string")
    plain = big.join(small, big.k == small.sk).drop("sk")
    salted = salted_join(big, small, "k", "sk", salt=8)
    assert salted.count() == plain.count() == 200
    assert sorted(salted.columns) == sorted(plain.columns)
    assert (
        salted.groupBy("k").count().orderBy("k").collect()
        == plain.groupBy("k").count().orderBy("k").collect()
    )


def test_repartition_for_join_shares_partitioning(spark):
    a = spark.range(100).withColumnRenamed("id", "ka")
    b = spark.range(100).withColumnRenamed("id", "kb")
    ra, rb = repartition_for_join(a, b, "ka", "kb", n_partitions=8)
    assert ra.rdd.getNumPartitions() == rb.rdd.getNumPartitions() == 8


def test_partition_advice(spark):
    advice = partition_advice(spark, total_bytes=100 * 2**40)  # 100 TiB
    assert advice["shuffle_partitions"] >= 800_000  # ~128MB per partition


# --- compat shim ------------------------------------------------------


def test_compat_arc_to_pandas(spark, sf_dir):
    from smartpy_arc_spark import compat

    pdf = compat.arc_to_pandas(
        sf_dir, "nation", index_fld="n_nationkey",
        flds=["n_nationkey", "n_name"],
    )
    assert isinstance(pdf, pd.DataFrame)
    assert pdf.index.name == "n_nationkey" and len(pdf) == 25
    assert list(pdf.columns) == ["n_name"]


def test_compat_arc_to_spark_workspace_path(spark, sf_dir):
    from smartpy_arc_spark import compat

    df = compat.arc_to_spark(f"{sf_dir}//region")
    assert df.count() == 5


def test_compat_arc_to_polars_reference_name(spark, sf_dir):
    """Reference call shape (arc_utils.py:991): ``arc_to_polars(data, flds,
    where)`` resolves by name and returns the scan (polars frame when the
    optional dep is present, lazy Spark DataFrame otherwise)."""
    from smartpy_arc_spark import compat

    out = compat.arc_to_polars(f"{sf_dir}//region", flds=["r_name"],
                               where="r_regionkey < 3")
    try:
        import polars as pl
        assert isinstance(out, pl.DataFrame)
        assert out.height == 3 and out.columns == ["r_name"]
    except ImportError:
        assert out.count() == 3 and out.columns == ["r_name"]


def test_compat_pandas_to_features(spark, sf_dir, tmp_path):
    from smartpy_arc_spark import compat

    enrich = pd.DataFrame({"key": [0, 1], "grade": ["x", "y"]})
    target = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out_path = compat.pandas_to_features(
        enrich, target, "key", "n_regionkey", f"{tmp_path}//joined",
        keep_common=True,
    )
    back = spark.read.parquet(out_path)
    assert back.count() == 10  # regions 0,1 → 5 nations each
    assert "grade" in back.columns and "key" not in back.columns


def test_compat_pandas_to_arc_roundtrip(spark, tmp_path):
    from smartpy_arc_spark import compat

    pdf = pd.DataFrame({"a": [1, 2], "flag": [True, False]})
    flds, back = compat.pandas_to_arc(
        pdf, str(tmp_path), "t", get_cursor=True, overwrite=True
    )
    assert set(flds) == {"a", "flag"}
    # reference coercions applied: bool→int32, small int64→int32
    assert dict(back.dtypes) == {"a": "int", "flag": "int"}


def test_compat_int64_range_pandas_path_matches_spark_path(spark, tmp_path):
    """The driver-side int64→int32 range test on the pandas frame decides
    exactly like the Spark aggregate, Long.MIN_VALUE included (where
    max(abs(c)) overflowed under ANSI mode)."""
    from smartpy_arc_spark import compat
    from smartpy_arc_spark.functions.scalar import (
        compat_cast_for_write,
        pandas_int32_fits,
    )

    full = pd.DataFrame({
        "fits": [2147483647, -2147483647],
        "over": [2147483648, 0],
        "under": [-2147483648, 0],
        "min_long": [-2**63, 1],
        "all_null": pd.array([None, None], dtype="Int64"),
    })
    # an empty frame needs its schema given: createDataFrame cannot infer it
    empty = pd.DataFrame({"a": pd.Series([], dtype="int64")})
    spark_path = {}
    for pdf, schema, want in (
        (full, None, {"fits": "int", "over": "double", "under": "double",
                      "min_long": "double", "all_null": "int"}),
        (empty, "a long", {"a": "int"}),
    ):
        sdf = spark.createDataFrame(pdf, schema)
        via_pandas = compat_cast_for_write(sdf, in_range=pandas_int32_fits(pdf))
        via_spark = spark_path[len(pdf)] = compat_cast_for_write(sdf)
        assert via_pandas.schema == via_spark.schema
        assert dict(via_pandas.dtypes) == want
        assert via_pandas.collect() == via_spark.collect()
    # end to end: the written table is the Spark path's frame
    _, back = compat.pandas_to_arc(full, str(tmp_path), "t",
                                   get_cursor=True, overwrite=True)
    assert back.dtypes == spark_path[len(full)].dtypes
    assert sorted(back.collect()) == sorted(spark_path[len(full)].collect())


def test_compat_deprecated_join_warns():
    from smartpy_arc_spark import compat

    with pytest.warns(DeprecationWarning):
        with pytest.raises(NotImplementedError):
            compat.pandas_join_to_arc()


def test_compat_geometry_encoding_and_polars_to_arc(spark, tmp_path):
    """arc_to_spark(geometry_encoding=...) delivers the requested wire
    encoding; polars_to_arc decodes a declared encoding back to WKB on
    write (arc_utils.py:974-977, :1054-1120)."""
    import numpy as np

    from smartpy_arc_spark import compat
    from smartpy_arc_spark.geometry import wkb as W
    from smartpy_arc_spark.geometry.columns import _multipart_area
    from smartpy_arc_spark.meta import ENCODING_KEY

    rows = [
        (i, W.encode_polygon([np.array(
            [[0, 0], [i + 2, 0], [i + 2, 3], [0, 3], [0, 0]], float)]))
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, "fid long, geometry binary")
    src = str(tmp_path / "polys.parquet")
    df.write.parquet(src)

    out = compat.arc_to_spark(src, geometry_encoding="WKT")
    assert dict(out.dtypes)["geometry"] == "string"
    wkts = {r.fid: r.geometry for r in out.collect()}
    assert wkts[0].startswith("POLYGON")
    md = dict(out.schema["geometry"].metadata or {})
    assert md.get(ENCODING_KEY) == "WKT"

    # write side: declare WKT in, stored canonical WKB
    path = compat.polars_to_arc(
        out, str(tmp_path), "dest", geo_col="geometry",
        srs="PROJCS[\"t\"]", geometry_encoding="WKT",
    )
    back = spark.read.parquet(path)
    assert dict(back.dtypes)["geometry"] == "binary"
    areas = {r.fid: _multipart_area(bytes(r.geometry)) for r in back.collect()}
    assert areas[4] == pytest.approx(18.0)


def test_asof_join_forward_and_nearest_vs_pandas(spark):
    """forward/nearest directions match pandas merge_asof exactly
    (including equal-time ties and backward preference on distance ties)."""
    import numpy as np

    rng = np.random.default_rng(3)
    base = dt.datetime(2024, 1, 1)
    left_rows = [
        (i, int(i % 5), base + dt.timedelta(seconds=int(rng.integers(0, 1000))))
        for i in range(200)
    ]
    right_rows = [
        (int(j % 5), base + dt.timedelta(seconds=int(rng.integers(0, 1000))),
         float(j))
        for j in range(80)
    ]
    left = spark.createDataFrame(left_rows, "id long, k long, ts timestamp")
    right = spark.createDataFrame(right_rows, "k long, ts timestamp, v double")

    lp = pd.DataFrame(left_rows, columns=["id", "k", "ts"]).sort_values("ts")
    rp = pd.DataFrame(right_rows, columns=["k", "ts", "v"]).sort_values("ts")

    for direction in ("forward", "nearest"):
        got = {
            r.id: r.v
            for r in asof_join(
                left, right, on="k", left_ts="ts", right_ts="ts",
                value_cols=["v"], direction=direction,
            ).collect()
        }
        exp_df = pd.merge_asof(lp, rp, on="ts", by="k", direction=direction)
        exp = {int(r.id): (None if pd.isna(r.v) else float(r.v))
               for r in exp_df.itertuples()}
        assert got == exp, direction


def test_resample_ffill_planted_gaps(spark):
    from smartpy_arc_spark.operators.resample import resample_ffill

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    rows = [
        (1, t0, 10.0),                              # bucket 0 (hour 0)
        (1, t0 + dt.timedelta(minutes=10), 11.0),   # bucket 0, later -> wins
        (1, t0 + dt.timedelta(hours=3), 40.0),      # bucket 3; 1,2 are gaps
        (2, t0, 99.0),                               # single-bucket key
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    out = resample_ffill(df, key_col="k", ts_col="ts", value_col="v",
                         interval_sec=3600)
    got = {(r.k, r.bucket_start.hour): (r.v, r.filled) for r in out.collect()}
    assert got[(1, 0)] == (11.0, False)   # last event in bucket wins
    assert got[(1, 1)] == (11.0, True)    # gap forward-filled
    assert got[(1, 2)] == (11.0, True)
    assert got[(1, 3)] == (40.0, False)
    assert got[(2, 0)] == (99.0, False)
    assert len(got) == 5                  # grid spans each key's own range


def test_compat_pro_utils_and_parity_shims(spark, tmp_path):
    import numpy as np

    from smartpy_arc_spark import compat
    from smartpy_arc_spark.geometry import wkb as W

    assert compat.get_aprx() is spark
    assert isinstance(compat.default_gdb(), str)
    assert compat.get_map() == spark.catalog.currentDatabase()

    spark.range(3).createOrReplaceTempView("parity_probe_view")
    assert compat.get_table("parity_probe_view").count() == 3
    assert compat.get_layer("PARITY_PROBE_VIEW").count() == 3  # case-insensitive
    with pytest.raises(Exception):
        compat.get_table("no_such_table_anywhere")

    rec = compat.pandas_to_array(
        pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}), keep_index=False
    )
    assert rec.dtype.names == ("a", "b") and len(rec) == 2

    with pytest.raises(DeprecationWarning):
        compat.create_new_feature_class("a", "b")

    sq = W.encode_polygon([np.array(
        [[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float)])
    left, right = compat.split_poly(sq, 40.0)
    from smartpy_arc_spark.geometry.core import polygon_area
    assert polygon_area(left) == pytest.approx(40.0, rel=0.01)
    assert polygon_area(left) + polygon_area(right) == pytest.approx(100.0)

    seen = []
    parts = compat.recursive_split(sq, 4, on_done_splitting=seen.append)
    assert len(parts) == 4 and seen and seen[0] is parts
    assert sum(polygon_area(p) for p in parts) == pytest.approx(100.0)
