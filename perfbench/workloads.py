"""The benchmark's workloads: which operations each one runs, at what
input scale, and how each operation's output is checked.

Query operations are entries of ``__spark_entry__.queries()``; a timed
run executes each into Spark's no-op sink, and the verification pass
collects it and compares it with the entry's DuckDB ``oracle_sql()``
through ``tools/check_oracle.compare``.  The ``data_exchange`` operations
call the reference-compatible API in ``smartpy_arc_spark.compat`` and are
checked by round-trip invariants against DuckDB over the same parquet.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float  # input scale: lineitem has 6,000,000 x sf rows
    ops: tuple[str, ...]


WORKLOADS = {
    w.name: w for w in (
        Workload("analytics_curation", 0.01, (
            "scan_project_filter", "enrich_join_inner", "percentiles",
            "stream_window_counts", "perplexity_buckets", "jpeg_decode",
        )),
        Workload("data_exchange", 0.02, (
            "arc_to_pandas", "pandas_to_arc", "pandas_to_features",
            "copy_feats", "write_snapshot",
        )),
    )
}

LINEITEM_COLS = ["l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
                 "l_discount", "l_returnflag", "l_shipdate"]
# the generator's l_shipdate spans days 1..2499 after 1995-01-01
_SHIP_DAYS = 2499
_WINDOW_DAYS = _SHIP_DAYS // 2


def ship_window(seed: int) -> tuple[str, str]:
    """The seeded ``[lo, hi)`` l_shipdate window of about half the table."""
    start = random.Random(seed).randrange(1, _SHIP_DAYS - _WINDOW_DAYS)
    lo = np.datetime64("1995-01-01") + np.timedelta64(start, "D")
    return str(lo), str(lo + np.timedelta64(_WINDOW_DAYS, "D"))


class DataExchange:
    """The five compat-API operations of one pass.  Each pass writes under
    a fresh directory; :meth:`reset` clears it outside the timed region.
    ``pandas_to_arc`` and ``pandas_to_features`` take the frame the latest
    ``arc_to_pandas`` returned, so the verification pass runs the ops in
    declared order; after it, any order works."""

    def __init__(self, data_dir: str, out_root: str, seed: int):
        self.data_dir, self.out_root = data_dir, out_root
        self.lo, self.hi = ship_window(seed)
        self.where = f"l_shipdate >= '{self.lo}' AND l_shipdate < '{self.hi}'"
        self.pdf = None
        self.n_pass = 0
        self.reset()

    def reset(self) -> None:
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.n_pass += 1
        self.out = os.path.join(self.out_root, f"pass{self.n_pass}")
        os.makedirs(self.out)

    def run(self, op: str):
        return getattr(self, op)()

    def arc_to_pandas(self):
        from smartpy_arc_spark import compat

        self.pdf = compat.arc_to_pandas(
            self.data_dir, "lineitem", flds=LINEITEM_COLS, where=self.where)
        return self.pdf

    def pandas_to_arc(self):
        from smartpy_arc_spark import compat

        return compat.pandas_to_arc(self.pdf, self.out, "li_window",
                                    keep_index=False, overwrite=True)

    def features_frame(self) -> pd.DataFrame:
        g = self.pdf.groupby("l_orderkey")
        return pd.DataFrame({
            "n_lines": g.size(),
            "revenue": g["l_extendedprice"].sum(),
        }).reset_index().rename(columns={"l_orderkey": "o_orderkey"})

    def pandas_to_features(self):
        from smartpy_arc_spark import compat

        return compat.pandas_to_features(
            self.features_frame(), os.path.join(self.data_dir, "orders.parquet"),
            "o_orderkey", "o_orderkey", f"{self.out}//order_feats")

    def copy_feats(self):
        from smartpy_arc_spark import compat

        return compat.copy_feats(
            os.path.join(self.data_dir, "lineitem.parquet"), self.out,
            "li_returns",
            flds={"l_orderkey": "order_id", "l_partkey": "part_id",
                  "l_extendedprice": "price"},
            where="l_returnflag = 'R'")

    def write_snapshot(self):
        from smartpy_arc_spark import compat
        from smartpy_arc_spark.sinks import snapshot

        spark = compat._spark()
        df = spark.read.parquet(
            os.path.join(self.data_dir, "lineitem.parquet")
        ).select(LINEITEM_COLS).where(self.where)
        table = os.path.join(self.out, "snap")
        snapshot.write_snapshot(df, table, mode="overwrite")
        snapshot.write_snapshot(df, table, mode="append")
        return snapshot.read_snapshot(spark, table).count()

    # -- checks (untimed) ---------------------------------------------

    def check(self, op: str, result, con) -> list[str]:
        """Round-trip invariants of one operation against DuckDB."""
        li = f"read_parquet('{self.data_dir}/lineitem.parquet')"
        window = (f"SELECT {', '.join(LINEITEM_COLS)} FROM {li} "
                  f"WHERE l_shipdate >= TIMESTAMP '{self.lo}' "
                  f"AND l_shipdate < TIMESTAMP '{self.hi}'")
        if op == "arc_to_pandas":
            return same_rows(result, con.sql(window).df())
        if op == "pandas_to_arc":
            back = con.sql(f"SELECT * FROM read_parquet("
                           f"'{self.out}/li_window.parquet/*.parquet')").df()
            return same_rows(back, con.sql(window).df())
        if op == "pandas_to_features":
            got = con.sql(f"SELECT * FROM read_parquet("
                          f"'{self.out}/order_feats.parquet/*.parquet')").df()
            want = con.sql(
                f"SELECT o.*, f.n_lines, f.revenue FROM read_parquet("
                f"'{self.data_dir}/orders.parquet') o JOIN (SELECT l_orderkey,"
                f" count(*) AS n_lines, sum(l_extendedprice) AS revenue "
                f"FROM ({window}) GROUP BY l_orderkey) f "
                f"ON o.o_orderkey = f.l_orderkey").df()
            return same_rows(got, want, float_tol=1e-6)
        if op == "copy_feats":
            got = con.sql(f"SELECT * FROM read_parquet("
                          f"'{self.out}/li_returns.parquet/*.parquet')").df()
            want = con.sql(
                f"SELECT l_orderkey AS order_id, l_partkey AS part_id, "
                f"l_extendedprice AS price FROM {li} "
                f"WHERE l_returnflag = 'R'").df()
            return same_rows(got, want)
        if op == "write_snapshot":
            if result != 2 * len(self.pdf):
                return [f"snapshot has {result} rows, expected "
                        f"2 x {len(self.pdf)}"]
            return []
        raise KeyError(op)


def same_rows(got: pd.DataFrame, want: pd.DataFrame,
              float_tol: float = 0.0) -> list[str]:
    """Order-insensitive equality of two frames' columns and values.
    Integer widths are not compared (the compat sink narrows in-range
    int64 to int32 by design); float columns compare within
    ``float_tol`` relative error (pandas sums in another order than
    DuckDB)."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"row count {len(got)} != {len(want)}"]
    cols = sorted(got.columns)

    def canon(df):
        df = df[cols].copy()
        for c in cols:
            if pd.api.types.is_integer_dtype(df[c]):
                df[c] = df[c].astype("int64")
            elif isinstance(df[c].dtype, pd.DatetimeTZDtype):
                df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
        return df.sort_values(cols, kind="mergesort").reset_index(drop=True)

    a, b = canon(got), canon(want)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                      rtol=float_tol, atol=0)
    except AssertionError as e:
        return ["values differ: " + str(e).splitlines()[-1]]
    return []
