"""Multi-table catalog over the parquet lake.

The reference's "catalog" is one parquet file per dataset addressed by name
(reference engine.py:14,46-56) and one magic SQL binding ``CURRENT_TABLE``
that is string-substituted with a file path (engine.py:58-63). Here the
catalog is a real multi-table namespace: each dataset is a (partitioned)
parquet directory or file, loaded lazily as a DataFrame and registered as a
temp view, so Spark SQL sees every table at once and Catalyst gets partition
pruning + filter pushdown on the scans.

Schema inference: a read without a schema makes Spark run one job to infer
it (a parquet footer read; a full scan for csv with ``inferSchema``, or for
json/xml). ``read_files`` — behind ``load_table``, ``sources.ingest`` and
``sources.read_bronze`` — infers a schema the first time it reads an input
and passes it back to Spark on later reads of the same unchanged input, so
only the inference job goes away: files are still listed and read fresh.
A cached schema is keyed by format, absolute path, reader options and the
session confs that change what inference returns (``_INFERENCE_CONFS``),
and is valid only while ``path_fingerprint`` — (relpath, size, mtime_ns)
of the file, or of every file under a directory — is unchanged; a changed
fingerprint re-infers and replaces the entry. A path that cannot be
stat-ed (missing, non-local, a glob) is inferred every time, exactly as a
plain ``spark.read`` would, errors included. The cache holds one
StructType per distinct (input, reader setting) and at most
``_SCHEMA_CACHE_MAX`` of them, least recently used first out.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import tune

# The fixture tables (TESTDATA.md). `events.ts` has shipped as either INT64
# nanos (r1 lake) or a real parquet TIMESTAMP (r2 lake) — see ts_us_long /
# ts_us_timestamp for the canonical schema-sniffing conversion.
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def path_fingerprint(path: str) -> tuple | None:
    """(relpath, size, mtime_ns) of ``path``, or of every file under it when
    it is a directory (walked in sorted order, symlinks followed as Spark's
    listing does); None when ``path`` cannot be stat-ed.

    A directory's own mtime moves only when entries are added or removed,
    so a part file rewritten in place shows only in the per-file stats.
    """
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    if not stat.S_ISDIR(st.st_mode):
        return ((".", st.st_size, st.st_mtime_ns),)
    out = []
    for root, dirs, files in os.walk(path, followlinks=True):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            try:
                st = os.stat(p)
            except OSError:  # removed mid-walk, or a dangling link
                continue
            out.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    return tuple(out)


# Session confs whose values change the schema Spark infers from the same
# bytes (type mapping, time zone, partition-value typing, name resolution).
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.orc.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.session.timeZone",
    "spark.sql.timestampType",
    "spark.sql.legacy.timeParserPolicy",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.columnNameOfCorruptRecord",
    "spark.sql.files.ignoreCorruptFiles",
)
# key -> (path_fingerprint, inferred schema); insertion order is recency.
_SCHEMAS: OrderedDict[tuple, tuple[tuple, StructType]] = OrderedDict()
_SCHEMAS_LOCK = threading.Lock()
_SCHEMA_CACHE_MAX = 512


def read_files(spark: SparkSession, fmt: str, path: str,
               options: dict | None = None) -> DataFrame:
    """``spark.read.format(fmt).options(**options).load(path)``, inferring
    the schema only when ``path`` is new or has changed since its schema
    was last inferred (see the module docstring)."""
    options = options or {}
    reader = spark.read.format(fmt).options(**options)
    fp = path_fingerprint(path)
    if fp is None:
        return reader.load(path)
    key = (fmt, os.path.abspath(path),
           tuple(sorted((k, str(v)) for k, v in options.items())),
           tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    with _SCHEMAS_LOCK:
        hit = _SCHEMAS.get(key)
        if hit is not None:
            _SCHEMAS.move_to_end(key)
    if hit is not None and hit[0] == fp:
        return reader.schema(hit[1]).load(path)
    df = reader.load(path)
    with _SCHEMAS_LOCK:
        _SCHEMAS[key] = (fp, df.schema)
        _SCHEMAS.move_to_end(key)
        while len(_SCHEMAS) > _SCHEMA_CACHE_MAX:
            _SCHEMAS.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one dataset from the lake directory.

    Mirrors reference engine.py:52-56 semantics *except* the empty-on-missing
    fallback, which lives in sources.bronze.read_bronze — for catalog reads a
    missing fixture is a hard error (fail fast beats silently-empty analytics).
    """
    tune(spark)  # nanosAsLong + UTC must be set before the parquet footer read
    return read_files(spark, "parquet", table_path(sf_dir, name))


def ts_us_long(ev: DataFrame):
    """µs-since-epoch BIGINT expression for `events.ts`, schema-robust.

    The lake has shipped events.ts two ways: INT64 TIMESTAMP(NANOS) (read as
    LONG under nanosAsLong) and plain parquet TIMESTAMP (µs, read as
    TIMESTAMP_NTZ). Both reduce to the same µs integer DuckDB's
    ``epoch_us(ts)`` yields — nanos truncate, µs are exact (session tz is
    pinned UTC by session.tune, so the NTZ→instant cast is identity).
    """
    from pyspark.sql.types import LongType

    if isinstance(ev.schema["ts"].dataType, LongType):
        return F.expr("ts div 1000")
    return F.unix_micros(F.col("ts").cast("timestamp"))


def ts_us_timestamp(ev: DataFrame):
    """µs-precision TIMESTAMP expression for `events.ts` (twin of
    ts_us_long for window/date_trunc call sites)."""
    from pyspark.sql.types import LongType

    if isinstance(ev.schema["ts"].dataType, LongType):
        return F.timestamp_micros(F.expr("ts div 1000"))
    return F.col("ts").cast("timestamp")


def events_with_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events plus a usable µs-precision timestamp column `ts_us`."""
    ev = load_table(spark, sf_dir, "events")
    return ev.withColumn("ts_us", ts_us_timestamp(ev))


def register_views(spark: SparkSession, sf_dir: str,
                   tables: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Register every lake table as a temp view; returns name → DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def bind_current_table(spark: SparkSession, df: DataFrame) -> None:
    """Bind a DataFrame to the reference's magic table name.

    The reference substitutes ``CURRENT_TABLE`` with a parquet path string
    before handing SQL to DuckDB (engine.py:62). With a real catalog the
    binding is just a temp view — no string surgery in the SQL text, and
    Catalyst resolves it like any other relation.
    """
    df.createOrReplaceTempView("CURRENT_TABLE")


def numeric_columns(df: DataFrame) -> list[str]:
    """Names of numeric columns (reference app.py:236 `select_dtypes` helper)."""
    from pyspark.sql.types import NumericType

    return [f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)]
