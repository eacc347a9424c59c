"""Dataset catalog: load node tables, normalize NA, stamp row index.

The reference's "manifest" is a ``dict[sheet -> pandas.DataFrame]``
(src/utils.py:1061-1089).  Here a :class:`Catalog` is a dict of
Spark DataFrames registered as temp views, so every operator and the
SQL surface see the same tables.

Scale note: tables are plain parquet directory scans — predicate
pushdown / column pruning / partition pruning apply unchanged at
100 TB; nothing is materialized on the driver.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: The reference's NA bank (src/utils.py:1101, src/s3_catcherry.py:63-85).
NA_BANK: tuple[str, ...] = ("NA", "na", "N/A", "n/a", "")

#: Driver-generated synthetic tables (TESTDATA.md).
TESTDATA_TABLES: tuple[str, ...] = (
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

def normalize_na(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Map the reference NA bank to true nulls on string columns.

    Mirrors the read-time ``na_values`` + ``keep_default_na`` handling
    in src/utils.py:1110-1117 — a single projection, fully codegen'd.
    """
    targets = set(columns) if columns is not None else None
    exprs = []
    for f_ in df.schema.fields:
        c = f_.name
        if f_.dataType.simpleString() == "string" and (targets is None or c in targets):
            exprs.append(
                F.when(F.trim(F.col(c)).isin(*NA_BANK), F.lit(None))
                .otherwise(F.col(c))
                .alias(c)
            )
        else:
            exprs.append(F.col(c))
    return df.select(*exprs)


@dataclass
class Catalog:
    """A named collection of DataFrames registered as temp views."""

    spark: SparkSession
    tables: dict[str, DataFrame] = field(default_factory=dict)

    def register(self, name: str, df: DataFrame) -> DataFrame:
        self.tables[name] = df
        df.createOrReplaceTempView(name)
        return df

    def __getitem__(self, name: str) -> DataFrame:
        return self.tables[name]

    def __contains__(self, name: str) -> bool:
        return name in self.tables

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)


def load_testdata(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = TESTDATA_TABLES,
    register_views: bool = True,
) -> Catalog:
    """Load the driver's synthetic parquet tables as a Catalog.

    Works under ANY SparkSession (the round driver supplies its own):
    ``events.parquet`` carries a TIMESTAMP(NANOS) column that vanilla
    Spark rejects outright, so the runtime-settable SQL conf
    ``spark.sql.legacy.parquet.nanosAsLong`` is set here — not only in
    the engine's tuned session — before any read.
    """
    # Runtime-settable SQL conf; required to read TIMESTAMP(NANOS)
    # parquet under sessions we don't build (VERDICT r01 item 1).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    cat = Catalog(spark)
    app_id = spark.sparkContext.applicationId
    for name in tables:
        df = _read_table(spark, app_id, sf_dir, name)
        if register_views:
            cat.register(name, df)
        else:
            cat.tables[name] = df
    return cat


# applicationId → {(abspath, dir mtime): lazy table handle}; holds the
# current session's entries only (see _read_table).  _TABLE_LOCK makes
# the applicationId switch and each handle's publication atomic.
_TABLE_CACHE: dict[str, dict] = {}
_TABLE_LOCK = threading.Lock()


def _read_table(
    spark: SparkSession, app_id: str, sf_dir: str, name: str
) -> DataFrame:
    """(applicationId, abspath, dir mtime) → lazy DataFrame HANDLE.

    Memoizes the read-time METADATA work only — ``spark.read.parquet``
    lists the directory and reads footers for the schema, ~100 ms per
    table per call, which was ~33% of the sf0.1 headline bench
    (measured r11: construction 3.4 s of the 10.4 s total, dominated
    by load_testdata; guide §6 file listing / §7.3 driver constants).
    It is NOT result caching: the value is an unexecuted plan, every
    action still scans the parquet files.  The mtime key drops the
    entry if the table directory is rewritten (e.g. a replica
    rebuild).  Handles are bound to their session, so the cache holds
    one applicationId's entries at a time and empties itself when a
    new session reads; stopped sessions' handles are never kept.
    Thread-safe: concurrent first reads may each build a handle (the
    footer reads run outside the lock), but only the first one
    published is kept and every caller gets that one.
    """
    path = os.path.abspath(f"{sf_dir}/{name}.parquet")
    try:
        mtime = os.path.getmtime(path)
    except OSError:
        mtime = -1.0
    key = (path, mtime)
    with _TABLE_LOCK:
        cache = _TABLE_CACHE.get(app_id)
        if cache is None:
            _TABLE_CACHE.clear()
            cache = _TABLE_CACHE[app_id] = {}
        df = cache.get(key)
    if df is None:
        df = spark.read.parquet(path)
        # TIMESTAMP(NANOS) parquet columns arrive as long nanos under
        # `nanosAsLong`; normalize to microsecond timestamps (same
        # truncation DuckDB applies when it reads TIMESTAMP_NS).
        for fld in df.schema.fields:
            if fld.name == "ts" and fld.dataType.simpleString() == "bigint":
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
        with _TABLE_LOCK:
            df = cache.setdefault(key, df)
    return df
