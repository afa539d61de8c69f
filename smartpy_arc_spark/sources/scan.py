"""Table scan — the engine's equivalent of the reference's scans.

Reference semantics re-implemented natively (see SURVEY.md §2.1):
  * ``arc_to_pandas``  (arc_utils.py:614-747)  — legacy scan: column subset +
    rename, where-clause pushdown, null-sentinel fill, datetime sanitize,
    optional index+sort.
  * ``arc_to_polars`` / ``arc_to_pandas_a`` (arc_utils.py:956-1051) — Arrow
    scan: column-pruned + predicate-pushed columnar extraction with
    case-insensitive column resolution where the *requested* casing wins in
    the output (arc_utils.py:1036-1049).

Spark-first translation: one lazy plan
``read → where → select(+rename) → na-policy → sort`` so Catalyst performs
projection pruning and predicate pushdown into the parquet reader (the same
optimizations the reference hand-delegates to the geodatabase engine).
`.explain("formatted")` on a scan shows ``PushedFilters`` and a pruned
``ReadSchema`` — verified in tests/test_scan.py.
"""

from __future__ import annotations

import hashlib
import os
import stat
import threading
from collections import OrderedDict
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Null sentinels of the legacy scan (reference defaults,
# arc_utils.py:614-615: str_fill='', num_fill=-1, date_fill='1678-01-01').
DEFAULT_STR_FILL = ""
DEFAULT_NUM_FILL = -1
DEFAULT_DATE_FILL = "1678-01-01"

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _resolve_path(workspace: str, name: str | None, fmt: str = "parquet") -> str:
    """``workspace + '//' + class_name`` addressing (arc_utils.py:661-662)
    mapped to a file path: workspace dir + table name + format extension."""
    if name is None:
        return workspace
    if "." in os.path.basename(name):
        return os.path.join(workspace, name)
    return os.path.join(workspace, f"{name}.{fmt}")


# -- the parquet-read seam ----------------------------------------------
#
# A plain ``spark.read.parquet(path)`` launches one Spark job to infer the
# schema from the files' footers, and on small tables that job's dispatch
# costs more than the read itself; a read given the schema launches none.  Every parquet read in the package
# goes through :func:`read_parquet`, which remembers the schema Spark
# inferred and hands it back on a repeat read of the same, unchanged files.

# Bounded driver state: least-recently-used entries beyond this are dropped.
SCHEMA_MEMO_MAX = 128
_schema_memo: OrderedDict[str, T.StructType] = OrderedDict()
_schema_memo_lock = threading.Lock()

# Session confs that change what parquet schema inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
_GLOB_CHARS = frozenset("*?[]{}\\")


def _spark_skips(name: str) -> bool:
    """Spark's file-listing filter (``InMemoryFileIndex.shouldFilterOutPathName``):
    ``_``/``.`` names are not data, except ``k=v`` partition directories
    and the parquet summary files."""
    exclude = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return exclude and not name.startswith(("_common_metadata", "_metadata"))


def _raise(err: OSError) -> None:
    raise err


def _schema_key(spark: SparkSession, paths: Sequence[str]) -> str | None:
    """Digest of what parquet schema inference depends on: the paths, each
    data file Spark would list under them (path, size, mtime, ctime,
    inode — ctime because ``os.utime`` can restore an mtime but not a
    ctime), and the inference confs.  ``None`` when the memo must not be
    used: a non-local URI, a relative path (the JVM may resolve it against
    another working directory), a glob, a missing path, or no data file —
    those get plain inference, so Spark raises its own errors."""
    if not paths:
        return None
    h = hashlib.sha256()
    n_files = 0
    for p in paths:
        # a URI (``s3a://…``, ``file:/…``) is not an absolute local path
        if (not isinstance(p, str) or not os.path.isabs(p)
                or _GLOB_CHARS.intersection(p)):
            return None
        try:
            st = os.stat(p)
            if not stat.S_ISDIR(st.st_mode):
                listing = [(p, st)]
            else:
                listing = []
                for root, dirs, files in os.walk(p, onerror=_raise):
                    dirs[:] = sorted(d for d in dirs if not _spark_skips(d))
                    for f in sorted(files):
                        if not _spark_skips(f):
                            fp = os.path.join(root, f)
                            listing.append((fp, os.stat(fp)))
        except OSError:
            return None
        h.update(f"{p}\0".encode())
        for fp, st in listing:
            h.update(f"{fp}\0{st.st_size}\0{st.st_mtime_ns}\0"
                     f"{st.st_ctime_ns}\0{st.st_ino}\0".encode())
        n_files += len(listing)
    if n_files == 0:
        return None
    for k in _INFERENCE_CONFS:
        h.update(f"{k}={spark.conf.get(k, None)}\0".encode())
    return h.hexdigest()


def read_parquet(
    spark: SparkSession, *paths: str, schema: T.StructType | None = None
) -> DataFrame:
    """``spark.read.parquet(*paths)`` without the schema-inference job on
    a repeat read.

    The first read of a set of files infers the schema as usual and the
    result is memoized under :func:`_schema_key`: the paths, every data
    file under them with its size, mtime, ctime and inode, and the session
    confs that change parquet inference.  A later read whose key matches
    passes that schema to the reader and launches no job; any change to
    the files or those confs changes the key.  At most
    ``SCHEMA_MEMO_MAX`` schemas are kept.  Non-local URIs, relative paths
    and globs always get plain inference.  A caller that already knows
    the schema passes ``schema`` (the snapshot manifest does)."""
    key = None
    if schema is None:
        key = _schema_key(spark, paths)
        if key is not None:
            with _schema_memo_lock:
                schema = _schema_memo.get(key)
                if schema is not None:
                    _schema_memo.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    df = spark.read.parquet(*paths)
    if key is not None:
        with _schema_memo_lock:
            _schema_memo[key] = df.schema
            while len(_schema_memo) > SCHEMA_MEMO_MAX:
                _schema_memo.popitem(last=False)
    return df


def _case_insensitive_resolve(
    actual: Sequence[str], requested: Sequence[str]
) -> list[tuple[str, str]]:
    """Match requested names case-insensitively against actual columns; the
    requested casing wins in the output (arc_utils.py:1036-1049).

    Returns [(actual_name, output_name)]. Raises KeyError on a miss, like the
    underlying engine would.
    """
    lower_to_actual = {c.lower(): c for c in actual}
    out = []
    for req in requested:
        hit = lower_to_actual.get(req.lower())
        if hit is None:
            raise KeyError(f"column {req!r} not found (have {list(actual)})")
        out.append((hit, req))
    return out


def normalize_event_time(df: DataFrame, col: str):
    """Column expression normalizing an event-time column to a zoned
    µs TIMESTAMP, whatever its physical read type:

      * ``long``          — legacy nanos-as-long (parquet TIMESTAMP(NANOS)
                            under ``spark.sql.legacy.parquet.nanosAsLong``):
                            integer-div to µs (ns ~1.7e18 exceeds double
                            precision, so never divide as float).
      * ``timestamp_ntz`` — µs wall-clock with no zone: reinterpret in the
                            session zone (UTC everywhere in this engine).
      * ``timestamp``     — already the target type; pass through.

    Keeping this dtype-driven means the same query code works against data
    written with either timestamp encoding — the encoding changed once
    already between test-data generations, and at 100 TB a lake realistically
    contains a mix of both vintages.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return F.expr(f"timestamp_micros(`{col}` div 1000)")
    if isinstance(dt, T.TimestampNTZType):
        return F.col(col).cast("timestamp")
    return F.col(col)


def scan(
    spark: SparkSession,
    workspace: str,
    class_name: str | None = None,
    *,
    flds: Sequence[str] | Mapping[str, str] | None = None,
    where: str | None = None,
    index_fld: str | None = None,
    fill_nulls: bool = False,
    str_fill: str = DEFAULT_STR_FILL,
    num_fill: float = DEFAULT_NUM_FILL,
    date_fill: str = DEFAULT_DATE_FILL,
    fmt: str = "parquet",
    schema: str | T.StructType | None = None,
    drop_geometry: bool = True,
    spatial: bool = False,
    geom_col: str | None = None,
    nanos_ts_cols: Sequence[str] = (),
) -> DataFrame:
    """Scan a table into a lazy DataFrame.

    Parameters mirror the reference scans:
      * ``flds``: list → keep those columns (case-insensitive, requested
        casing wins); dict → keep + rename {source: output}.
      * ``where``: SQL predicate string, pushed down by Catalyst.
      * ``index_fld``: sort by this column (the reference's
        ``set_index().sort_index()``, arc_utils.py:734-736).
      * ``fill_nulls``: legacy sentinel fill (C5). Engine default is real
        nulls (False) — the reference's sentinel mode is a compat flag.
      * ``drop_geometry``: geometry-role columns excluded unless explicitly
        requested, matching the Arrow scan default (arc_utils.py:1020-1024).
      * ``spatial=True``: derive the legacy scan's SHAPE@X/SHAPE@Y/
        SHAPE@AREA/SHAPE@LENGTH columns from the geometry column before it
        is dropped (arc_utils.py:692-701); ``geom_col`` overrides the
        role-metadata lookup.

    Parquet tables are read through :func:`read_parquet`: a repeat scan of
    unchanged files reuses the schema inferred the first time and
    launches no Spark job.  The memo keys on the resolved path, each data
    file Spark would list under it (path, size, mtime, ctime, inode) and
    the session confs that change parquet inference (``nanosAsLong``,
    ``binaryAsString``, ``int96AsTimestamp``, ``inferTimestampNTZ``,
    ``caseSensitive``, ``mergeSchema``, partition type inference).
    """
    path = _resolve_path(workspace, class_name, fmt)
    if nanos_ts_cols:
        # Event-time columns may arrive physically as parquet
        # TIMESTAMP(NANOS) (read as long under the legacy conf — Spark has
        # no ns timestamp type), as TIMESTAMP_NTZ (µs, no zone), or as a
        # plain zoned TIMESTAMP, depending on how the file was written.
        # The conf makes the nanos case deterministic; the actual
        # normalization below is driven by the *observed* read dtype, so
        # all three physical encodings land on the same µs TIMESTAMP.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read
    if fmt == "parquet":
        df = read_parquet(spark, path)
    elif fmt == "csv":
        if schema is not None:
            # explicit schema: single pass over the file — inferSchema=True
            # is a SECOND full scan, which at 100 TB doubles the read cost
            df = reader.csv(path, header=True, schema=schema)
        else:
            df = reader.csv(path, header=True, inferSchema=True)
    elif fmt == "json":
        df = reader.json(path, schema=schema) if schema is not None else reader.json(path)
    elif fmt == "orc":
        df = reader.orc(path)
    elif fmt == "text":
        # one row per line (whole-file rows via wholetext in opts use case);
        # the raw-corpus ingestion path for the text pipeline operators
        df = reader.text(path)
    elif fmt == "binaryFile":
        # (path, modificationTime, length, content) — the real media
        # ingestion path for the multimodal operators (attach_payload's
        # contract): content is the opaque payload column
        df = reader.format("binaryFile").load(path)
    elif fmt == "dbf":
        # folder-workspace dbf (arc_pandas.py:17-21) via the custom Python
        # data source in sources/dbf.py
        from smartpy_arc_spark.sources.dbf import register_dbf_source

        register_dbf_source(spark)
        df = reader.format("dbf").load(path)
    elif fmt == "avro":
        # Avro Object Container Files via the pure-Python splittable
        # reader in sources/avro.py (the spark-avro SQL datasource jar is
        # not in this distribution)
        from smartpy_arc_spark.sources.avro import register_avro_source

        register_avro_source(spark)
        df = reader.format("avro_py").load(path)
    elif fmt == "xml":
        # Spark 4 built-in XML source (the spark-xml package merged in
        # 4.0): rowTag-delimited records; explicit schema avoids the
        # second inference scan exactly like the csv branch
        xml_reader = reader.format("xml").option("rowTag", "row")
        if schema is not None:
            xml_reader = xml_reader.schema(schema)
        df = xml_reader.load(path)
    elif fmt in ("shp", "shapefile"):
        # folder-workspace shapefile (arc_pandas.py:17-21): .dbf attributes
        # + .shp geometry as WKB, CRS from the sibling .prj
        from smartpy_arc_spark.meta import tag_geometry
        from smartpy_arc_spark.sources.shapefile import (
            _shp_paths,
            read_prj,
            register_shapefile_source,
        )

        register_shapefile_source(spark)
        df = reader.format("shapefile").load(path)
        paths = _shp_paths(path)
        crs = read_prj(paths[0]) if paths else None
        df = tag_geometry(df, "geometry", crs=crs)
    else:
        raise ValueError(f"unsupported format {fmt!r}")

    for c in nanos_ts_cols:
        df = df.withColumn(c, normalize_event_time(df, c))

    # Filter first, against source column names — reference where-clauses
    # reference source fields (arc_utils.py:704-708).
    if where:
        df = df.where(where)

    if spatial:
        from smartpy_arc_spark.geometry import add_geometry_derived
        from smartpy_arc_spark.meta import ROLE_GEOMETRY, field_role

        g = geom_col or next(
            (f.name for f in df.schema.fields if field_role(f) == ROLE_GEOMETRY),
            "geometry" if "geometry" in df.columns else None,
        )
        if g is not None:
            df = add_geometry_derived(df, geom_col=g)

    # Projection + rename with case-insensitive resolution.
    if flds is not None:
        if isinstance(flds, Mapping):
            resolved = _case_insensitive_resolve(df.columns, list(flds))
            pairs = [(actual, flds[req]) for (actual, req) in resolved]
        else:
            pairs = _case_insensitive_resolve(df.columns, list(flds))
        if spatial:
            # derived geometry columns ride along regardless of the field
            # subset, like the reference's post-projection append
            # (arc_utils.py:692-701)
            requested = {out for _, out in pairs}
            pairs += [
                (c, c) for c in df.columns
                if c.startswith("SHAPE@") and c not in requested
            ]
        df = df.select([F.col(src).alias(out) for src, out in pairs])
    elif drop_geometry:
        from smartpy_arc_spark.meta import ROLE_GEOMETRY, field_role

        geom_cols = [f.name for f in df.schema.fields if field_role(f) == ROLE_GEOMETRY]
        if geom_cols:
            df = df.drop(*geom_cols)

    if fill_nulls:
        df = _fill_sentinels(df, str_fill=str_fill, num_fill=num_fill, date_fill=date_fill)

    if index_fld:
        # the sort key may be given by its SOURCE name even when flds renamed
        # it (the reference sets the index before its own rename); resolve
        # through the rename map, then case-insensitively
        if index_fld not in df.columns:
            if isinstance(flds, Mapping) and index_fld in flds:
                index_fld = flds[index_fld]
            else:
                lower_map = {c.lower(): c for c in df.columns}
                index_fld = lower_map.get(index_fld.lower(), index_fld)
        df = df.orderBy(index_fld)
    return df


def _fill_sentinels(
    df: DataFrame,
    *,
    str_fill: str = DEFAULT_STR_FILL,
    num_fill: float = DEFAULT_NUM_FILL,
    date_fill: str = DEFAULT_DATE_FILL,
) -> DataFrame:
    """Null → sentinel per type class (C5, arc_utils.py:664-673, :739-745)."""
    exprs = []
    for field in df.schema.fields:
        c = F.col(field.name)
        if isinstance(field.dataType, T.StringType):
            exprs.append(F.coalesce(c, F.lit(str_fill)).alias(field.name))
        elif isinstance(field.dataType, _NUMERIC_TYPES):
            exprs.append(F.coalesce(c, F.lit(num_fill).cast(field.dataType)).alias(field.name))
        elif isinstance(
            field.dataType, (T.TimestampType, T.TimestampNTZType, T.DateType)
        ):
            exprs.append(
                F.coalesce(c, F.lit(date_fill).cast(field.dataType)).alias(field.name)
            )
        else:
            exprs.append(c.alias(field.name))
    return df.select(exprs)


def scan_pandas(spark: SparkSession, workspace: str, class_name: str | None = None, **kw):
    """``arc_to_pandas_a`` equivalent (arc_utils.py:956-988): scan then
    Arrow-backed conversion to pandas. Only for bounded results — the 100 TB
    path never materializes to the driver."""
    return scan(spark, workspace, class_name, **kw).toPandas()
