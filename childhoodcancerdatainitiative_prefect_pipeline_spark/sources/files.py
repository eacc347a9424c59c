"""File sources/sinks: TSV/CSV (S3/S4), JSON (S5), parquet.

The engine's working format is parquet (columnar, predicate-pushdown,
partition pruning); TSV is the reference's interchange format
(TabBreaker per-node layout, src/s3_ccdi_to_tabbreakery.py:136-142)
and stays supported at the edges.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import NA_BANK, normalize_na


def read_tsv(spark: SparkSession, path: str) -> DataFrame:
    """S3 — TSV scan with the reference's read conventions.

    Mirrors the reference's pandas read (``sep='\\t', dtype=str,
    na_values=...``, src/s3_catcherry.py:316-318): header on, everything
    string-typed, NA bank → null.
    """
    df = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .option("nullValue", "")
        .option("inferSchema", False)
        .csv(path)
    )
    return normalize_na(df)


def write_tsv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S4 — TSV sink.

    The reference writes one named TSV per node; ``single_file``
    coalesces to one part (manifest-scale only — never at 100 TB,
    where the directory-of-parts layout is the point).
    NaN→"" on write mirrors src/s3_catcherry.py:1270-1276.
    """
    out = df.coalesce(1) if single_file else df
    (
        out.write.mode("overwrite")
        .option("sep", "\t")
        .option("header", True)
        .option("nullValue", "")
        .option("emptyValue", "")
        .csv(path)
    )


def write_node_tsvs(
    tables: dict[str, DataFrame], base_path: str, study_id: str
) -> dict[str, str]:
    """S4 — TabBreaker layout: ``{study}-{node}`` TSV per node table.

    Reference: src/s3_ccdi_to_tabbreakery.py:136-142 (timestamped
    names become directory names here).
    """
    paths = {}
    for node, df in tables.items():
        p = f"{base_path}/{study_id}-{node}"
        write_tsv(df, p, single_file=True)
        paths[node] = p
    return paths


def write_json_records(df: DataFrame, path: str) -> None:
    """S5 — JSON-lines sink (GDC submission records,
    workflows/mci_gdc_transform.py:296-321)."""
    df.write.mode("overwrite").json(path)


def rows_to_json_column(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """S13 helper — rows → JSON strings for REST submission bodies.

    ``to_json(struct(*))`` keeps serialization on executors; the
    HTTP fan-out itself is a ``foreachPartition`` side effect.
    """
    use = list(cols) if cols else df.columns
    return df.select(
        F.to_json(F.struct(*[F.col(c) for c in use])).alias("json_body")
    )


def read_parquet_tables(
    spark: SparkSession, base_path: str, names: Sequence[str]
) -> dict[str, DataFrame]:
    """Parquet directory scan per node — the native storage layout."""
    return {n: spark.read.parquet(f"{base_path}/{n}.parquet") for n in names}


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    sort_within: Sequence[str] = (),
) -> None:
    """Scale-path sink: partitioned, optionally sorted parquet.

    Partition columns should be low-cardinality (node type, date);
    sorting within files improves min/max pruning for range filters.
    """
    out = df
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    writer = out.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    compression: str = "zstd",
) -> None:
    """ORC sink (Spark-native, no extra packages): columnar with
    min/max/bloom stripe statistics — the interchange format when a
    downstream consumer is Hive/Trino-flavored rather than parquet.
    Same partitioning contract as ``write_partitioned_parquet``.
    """
    writer = df.write.mode("overwrite").option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan; predicate pushdown and partition pruning apply as
    with parquet (``spark.sql.orc.filterPushdown`` is on by default).
    """
    return spark.read.orc(path)


__all__ = [
    "NA_BANK",
    "read_tsv",
    "write_tsv",
    "write_node_tsvs",
    "write_json_records",
    "rows_to_json_column",
    "read_parquet_tables",
    "write_partitioned_parquet",
    "write_bucketed_table",
    "compact_parquet_dir",
    "read_with_quarantine",
    "write_orc",
    "read_orc",
]


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_by: Sequence[str],
    n_buckets: int = 32,
    sort_by: Sequence[str] = (),
    path: str | None = None,
) -> None:
    """Scale-path sink: hash-bucketed managed table for co-located joins.

    Two tables bucketed on the same key with the same bucket count
    join WITHOUT a shuffle — Spark matches bucket files pairwise.
    This is the 100 TB answer to the reference's repeated
    parent⨝child joins on the same keys (SURVEY §2.3): bucket every
    node table on its business key once at ingest, and the whole
    validation/flattening workload runs shuffle-free on the fact
    side.  ``n_buckets`` should be sized so one bucket of the largest
    table fits an executor core (at 100 TB / 32 buckets is far too
    coarse — use thousands; the tests use small counts).
    """
    writer = df.write.mode("overwrite").format("parquet")
    if path is not None:
        writer = writer.option("path", path)
    writer = writer.bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table_name)


def compact_parquet_dir(
    spark,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: Sequence[str] = (),
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ~``target_file_bytes`` files.  Returns the partition count used.

    Streaming ingest and per-task writers leave thousands of KB-sized
    files; at 100 TB the *listing* alone dominates query startup and
    every scan task underfills.  Compaction = one read + one
    ``repartition`` + one write:

    - the output partition count derives from the directory's actual
      byte size — listed through the HADOOP FILESYSTEM API, so any
      path Spark can read (s3a://, hdfs://, file:/) sizes correctly,
      and an empty/unreadable source raises instead of silently
      collapsing to one partition;
    - ``repartition(n)`` (round-robin) balances bytes evenly —
      ``coalesce(n)`` would skip the shuffle but inherits input
      skew and, worse, caps upstream read parallelism to n tasks;
    - with ``partition_by`` the shuffle hashes on those columns (one
      write task per directory partition) and ``maxRecordsPerFile``
      — derived from the measured average row width — splits any
      oversized partition value into target-sized files instead of
      one giant file.

    The rewrite is atomic-per-directory only (write to ``dst_path``,
    swap in the caller) — intentionally not an in-place overwrite so
    a failed compaction never loses the source.
    """
    import math

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(src_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total = 0
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            total += st.getLen()
    if total == 0:
        raise ValueError(
            f"no parquet bytes found under {src_path!r} — refusing to "
            "compact (a zero estimate would repartition everything to 1)"
        )
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src_path)
    if partition_by:
        n_rows = df.count()
        rows_per_file = max(1, int(target_file_bytes / max(total / n_rows, 1)))
        (
            df.repartition(n, *partition_by)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", rows_per_file)
            .partitionBy(*partition_by)
            .parquet(dst_path)
        )
    else:
        df.repartition(n).write.mode("overwrite").parquet(dst_path)
    return n


def read_with_quarantine(
    spark,
    path: str,
    schema,
    fmt: str = "csv",
    sep: str = "\t",
) -> tuple[DataFrame, DataFrame]:
    """Typed scan with a dead-letter channel for corrupt records.

    At ingest scale some fraction of rows is always malformed (ragged
    lines, bad quoting, truncated JSON).  FAILFAST kills a 100 TB job
    on row one; silent DROPMALFORMED loses data unaccountably.
    PERMISSIVE + ``columnNameOfCorruptRecord`` is the scale answer:
    well-formed rows parse to the typed schema, malformed rows land
    whole in a quarantine column.  Returns ``(clean, quarantined,
    parsed)``: two filters over ONE cached scan — the quarantine
    frame keeps the raw line for re-processing/audit, the clean frame
    drops the helper column — plus the cached parsed frame itself so
    the caller can ``parsed.unpersist()`` once both outputs are
    consumed (an ingest loop that never releases it would pin every
    file's parse in executor storage).

    ``schema`` must NOT already contain ``_corrupt_record``; it is
    added here.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    full = StructType(
        list(schema.fields) + [StructField("_corrupt_record", StringType(), True)]
    )
    reader = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    if fmt == "csv":
        df = (
            reader.option("sep", sep)
            .option("header", True)
            .csv(path)
        )
    elif fmt == "json":
        df = reader.json(path)
    else:
        raise ValueError(f"unsupported format: {fmt}")
    # cache is REQUIRED, not an optimization: Spark disallows queries
    # that reference only the corrupt-record column of a raw file scan
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN); materializing the parsed
    # frame lifts the restriction and also makes the two filters share
    # one parse, which is what you want at scale anyway
    df = df.cache()
    bad = F.col("_corrupt_record").isNotNull()
    clean = df.filter(~bad).drop("_corrupt_record")
    quarantined = df.filter(bad).select(F.col("_corrupt_record").alias("raw"))
    return clean, quarantined, df
