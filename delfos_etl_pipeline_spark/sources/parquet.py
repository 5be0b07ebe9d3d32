"""Parquet source adapter + table catalog.

Replaces the reference's Postgres scans (S1/S2, SURVEY.md §2.1;
/root/reference/api/app/database.py:41-64) with columnar parquet reads.
Projection/predicate pushdown is automatic via Catalyst — callers express
``.select``/``.where`` and the scan node shows PushedFilters/ReadSchema.

One real-world wrinkle handled here: parquet TIMESTAMP(NANOS) columns
(e.g. the driver testdata's ``events.ts``) are illegal for Spark's native
reader. With ``spark.sql.legacy.parquet.nanosAsLong=true`` they surface as
int64 nanoseconds; :func:`load_table` detects them from the parquet footer
(driver-side pyarrow, one file, no data read) and converts to microsecond
timestamps — the same truncation DuckDB applies when casting ns→us, so
oracle comparisons line up.
"""

from __future__ import annotations

import glob
import os
from functools import lru_cache

import pyarrow.parquet as _pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Tables the driver materializes at each scale factor (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@lru_cache(maxsize=256)
def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Column names stored as nanosecond timestamps in ``path``'s footer."""
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not files:
            return ()
        path = files[0]
    try:
        schema = _pq.read_schema(path)
    except Exception:
        return ()
    cols = []
    for field in schema:
        t = field.type
        if getattr(t, "unit", None) == "ns":
            cols.append(field.name)
    return tuple(cols)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table, normalizing ns-timestamp columns.

    ns→us conversion uses integer division (``div``), never float division:
    epoch-nanos ≈ 1.7e18 exceeds double's 2^53 integer range, so a float
    path would corrupt low-order digits.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _nanos_timestamp_cols(path)
    if ns_cols:
        # Runtime-settable SQL confs — the caller's session (e.g. the
        # driver's) need not have them at startup. The TZ pin matters
        # because the ns→µs conversion lands in tz-aware TimestampType:
        # window labels, date_trunc boundaries, and string-literal
        # comparisons would otherwise shift with the host session TZ,
        # while the DuckDB oracle compares naively.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    for c in ns_cols:
        if c in df.columns:
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return _ntz_to_ltz(spark, df)


def _ntz_to_ltz(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP_NTZ columns to session-TZ TIMESTAMP (LTZ).

    Spark 4 infers parquet µs timestamps with isAdjustedToUTC=false as
    TIMESTAMP_NTZ (inferTimestampNTZ default), but the engine's event-time
    surface — withWatermark, unix_micros, streaming windows — requires
    TIMESTAMP, and every hash-green oracle row from rounds 1-2 was produced
    under LTZ semantics. With the session TZ pinned UTC the cast preserves
    the wall-clock value exactly, so this is a type normalization, not a
    value change."""
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if ntz:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        for c in ntz:
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table_range(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_col: str,
    start=None,
    end=None,
    inclusive_end: bool = True,
) -> DataFrame:
    """Range-filtered scan that KEEPS parquet predicate pushdown even for
    nanosecond timestamp columns.

    A filter on the converted ``timestamp_micros(ts div 1000)`` column is a
    function of the raw attribute, so Catalyst cannot push it into the
    scan — the whole file would be read. Here the bounds are translated
    driver-side to raw epoch-nanos and applied to the long column *before*
    conversion: the predicate reaches the parquet reader (row-group
    min/max skipping), which at 100 TB is the difference between scanning
    a day and scanning a decade.
    """
    import datetime as _dt

    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols = _nanos_timestamp_cols(path)

    def _to_ns(v) -> int:
        if isinstance(v, str):
            v = _dt.datetime.fromisoformat(v)
        return int(v.replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000) * 1000

    if ts_col in ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(path)
        c = F.col(ts_col)
        if start is not None:
            df = df.where(c >= F.lit(_to_ns(start)))
        if end is not None:
            # inclusive on the truncated-µs value ⇒ include every ns value
            # below the next µs boundary
            bound = _to_ns(end) + (999 if inclusive_end else -1)
            df = df.where(c <= F.lit(bound))
        for col in ns_cols:
            if col in df.columns:
                df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        return df

    # Filter BEFORE the NTZ→LTZ normalization: a predicate on the raw
    # (possibly TIMESTAMP_NTZ) column is a plain attribute comparison and
    # reaches the parquet reader as PushedFilters; a predicate on
    # cast(ts AS TIMESTAMP) would not. String literals coerce to the
    # column's own timestamp flavor, and with the session pinned UTC the
    # naive and LTZ comparisons select identical rows.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if ns_cols:
        # the range column itself is not ns, but OTHER columns may be —
        # without this the read fails (or surfaces raw int64) and the
        # load_table contract (ns→µs normalization) is broken for them
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    c = F.col(ts_col)
    if start is not None:
        df = df.where(c >= F.lit(start))
    if end is not None:
        df = df.where(c <= F.lit(end) if inclusive_end else c < F.lit(end))
    for col in ns_cols:
        if col in df.columns:
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return _ntz_to_ltz(spark, df)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every catalog table present under ``sf_dir``."""
    out = {}
    for name in TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            out[name] = load_table(spark, sf_dir, name)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view — the SQL façade (SURVEY.md §3.3
    replacement for the reference API's hand-built SQL strings,
    /root/reference/api/app/database.py:50-62)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def spread_small_scan(df: DataFrame, path: str, *key_cols: str) -> DataFrame:
    """Conditionally repartition a parquet-backed relation whose file
    layout yields fewer splits than the cluster has cores, so CPU-dense
    narrow work downstream (tokenize/shingle storms, per-row folds)
    doesn't run as a near-single task (guide §2.5 "input skew: one huge
    unsplittable file" — parquet can't split inside a row group). The
    generic, explicit-path form of ``queries._registry.spread_scan``,
    usable on staged pipeline boundaries as well as catalog tables.
    Scale-adaptive: when the input already yields at least
    defaultParallelism splits (any real multi-file/multi-row-group
    layout at scale) the relation is returned UNCHANGED — no exchange
    exists at 100 TB. Deterministic keyed repartition (never rand —
    SPARK-38388), pinned count (AQE would coalesce the small exchange
    to one partition and re-serialize the work). Sizing: local-path
    fast path over top-level ``*.parquet`` files, Hadoop FileSystem
    content summary (recursive) for any other URI or when that sum is 0;
    any sizing failure returns ``df`` unchanged (fail-safe — never adds
    an exchange it cannot justify)."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        max_split = int(
            spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        )
    except Exception:
        max_split = 128 * 1024 * 1024
    size = None
    try:
        if os.path.isdir(path):
            size = sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        elif os.path.isfile(path):
            size = os.path.getsize(path)
    except OSError:
        size = None
    if not size:
        # non-local URI, racing layout change, or a layout the top-level
        # listing cannot see (key=value/ partitions, nested dirs): ask the
        # Hadoop FS, whose content summary recurses
        try:
            jvm = spark.sparkContext._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = hpath.getFileSystem(
                spark.sparkContext._jsc.hadoopConfiguration()
            )
            size = int(fs.getContentSummary(hpath).getLength())
        except Exception:
            return df
    splits = max(1, -(-size // max_split))
    if splits >= par:
        return df
    return df.repartition(par, *key_cols)
