"""Sources and sinks.

Replaces the reference's three I/O layers — ODBC table pulls
(2_data_importing_cleaning.R:61-76), CSV checkpoint round-trips
(2_data_importing_cleaning.R:169, 3_blood_pressure.R:191-192), and Excel
codelist imports (2_data_importing_cleaning.R:208-269) — with Parquet as
the source of record and explicit-schema CSV for interchange.

Scale notes:
* Checkpoints are Parquet, not CSV: columnar, compressed, type-exact,
  splittable — a 100 TB stage boundary is readable in parallel by every
  executor, unlike a CSV file on one analyst's disk.
* ``write_partitioned`` writes event/measurement-shaped tables
  partitioned by year so year filters (the reference's only time
  predicate, 3_blood_pressure.R:100) become partition pruning instead
  of full scans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schemas import TESTDATA_TABLES


# --------------------------------------------------------------------------
# sources  (reference S1/S3/S4, SURVEY.md §2.1)
# --------------------------------------------------------------------------

def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """CSV source with a mandatory explicit schema.

    The reference infers CSV schemas and then patches types by hand
    (dates at 3_blood_pressure.R:255-257, numeric flags at
    4_hypertension_phenotype_main.R:140-144); requiring a StructType
    here makes that impossible to get wrong.
    """
    return spark.read.csv(path, header=True, schema=schema)


def events_read_plan(sf_dir: str) -> tuple[T.StructType, bool]:
    """Pick the explicit reader schema for ``events.parquet`` by
    sniffing the parquet footer.

    The driver's generator has shipped ``ts`` in two physical forms
    across rounds — nanosecond INT64 timestamps (which Spark rejects
    without a legacy conf) and plain micro/millisecond TIMESTAMP —
    so the reader adapts instead of assuming either.  Footer-only read:
    one local metadata fetch, no data scan.

    Returns ``(reader_schema, ts_is_raw_nanos)``; pair with
    :func:`normalize_events_ts`.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .schemas import EVENTS_NTZ, EVENTS_RAW

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):  # directory-shaped dataset: any part file works
        part = sorted(
            n for n in os.listdir(path) if n.endswith(".parquet")
        )[0]
        path = os.path.join(path, part)
    ts = pq.read_schema(path).field("ts").type
    if pa.types.is_timestamp(ts) and ts.unit != "ns":
        return EVENTS_NTZ, False
    return EVENTS_RAW, True


def normalize_events_ts(df: DataFrame, raw_nanos: bool) -> DataFrame:
    """Bring ``ts`` to session-tz TIMESTAMP whichever way it was stored:
    raw nanos → integer DIV to micros (no double round-trip); NTZ micros
    → plain cast (value-identical under the fixed UTC session tz)."""
    if raw_nanos:
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _arrow_to_spark_type(t) -> T.DataType | None:
    """Map an Arrow type to the Spark type parquet inference would
    produce, for the bounded type surface the engine's tables use.
    Returns None for anything outside it (caller falls back to Spark's
    own inference) — including nanosecond timestamps, which Spark
    rejects without a legacy conf (the events reader handles those
    explicitly, :func:`events_read_plan`)."""
    import pyarrow as pa

    if pa.types.is_int64(t):
        return T.LongType()
    if pa.types.is_int32(t):
        return T.IntegerType()
    if pa.types.is_float64(t):
        return T.DoubleType()
    if pa.types.is_float32(t):
        return T.FloatType()
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return T.StringType()
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return T.BinaryType()
    if pa.types.is_boolean(t):
        return T.BooleanType()
    if pa.types.is_date32(t):
        return T.DateType()
    if pa.types.is_timestamp(t):
        if t.unit == "ns":
            return None
        return T.TimestampType() if t.tz else T.TimestampNTZType()
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        inner = _arrow_to_spark_type(t.value_type)
        return T.ArrayType(inner) if inner is not None else None
    return None


def footer_schema(path: str) -> T.StructType | None:
    """Explicit reader schema from the parquet footer, or None.

    ``spark.read.parquet(path)`` runs a schema-inference Spark JOB per
    call — measured ~0.05-0.2 s of driver/job overhead per table per
    query construction, paid again on every run (guide §1: measure what
    the timer actually times; §6: metadata work scales with file count
    at 100 TB).  A pyarrow footer read is a ~1 ms local metadata fetch
    yielding the IDENTICAL schema (asserted for every testdata table at
    every sf in tests/test_reader_schema.py), so readers pass it
    explicitly and skip the inference job.  Any surprise — unknown
    type, unreadable footer, empty directory — returns None and the
    caller uses Spark inference, preserving exact current behavior.
    """
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        try:
            parts = sorted(
                n for n in os.listdir(path) if n.endswith(".parquet")
            )
        except OSError:
            return None
        if not parts:
            return None
        path = os.path.join(path, parts[0])
    try:
        sch = pq.read_schema(path)
    except Exception:
        return None
    fields = []
    for f in sch:
        st = _arrow_to_spark_type(f.type)
        if st is None:
            return None
        fields.append(T.StructField(f.name, st))
    return T.StructType(fields)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md).

    The events table needs timestamp normalization (see
    :func:`events_read_plan` — the physical form of ``ts`` has varied
    across driver rounds); everything else is a columnar scan with the
    reader schema taken from the parquet footer (one local metadata
    read instead of a per-call schema-inference job — see
    :func:`footer_schema`).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        schema, raw_nanos = events_read_plan(sf_dir)
        df = spark.read.schema(schema).parquet(path)
        return normalize_events_ts(df, raw_nanos)
    sniffed = footer_schema(path)
    if sniffed is not None:
        return spark.read.schema(sniffed).parquet(path)
    return spark.read.parquet(path)


def read_jdbc(spark: SparkSession, url: str, table: str, *,
              partition_column: str | None = None,
              lower_bound: int | None = None,
              upper_bound: int | None = None,
              num_partitions: int | None = None,
              fetch_size: int = 10_000,
              predicates: list[str] | None = None,
              properties: dict[str, str] | None = None) -> DataFrame:
    """Live-warehouse source (reference S1 generic path: the R scripts
    scan Snowflake over ODBC, 1_snowflake_connection.R:54-63,
    2_data_importing_cleaning.R:61-76).  Thin wrapper over
    ``spark.read.format('jdbc')`` that makes the two scale decisions
    explicit instead of defaulted:

    * **Parallel reads.**  A bare JDBC read is ONE task on one executor
      — a non-starter against a 12M-row PERSON table, let alone 100 TB.
      Either pass ``partition_column``/``lower_bound``/``upper_bound``/
      ``num_partitions`` (Spark issues one range-bounded query per
      partition) or ``predicates`` (one query per predicate, for
      non-numeric splits like state codes).
    * **Pushdown.**  ``table`` may be a subquery alias —
      ``'(SELECT ... WHERE ...) t'`` — so selective filters run in the
      warehouse, the way the reference hand-writes its WHERE clauses
      into every dbGetQuery (SURVEY.md §4 "manual pushdown").
      Catalyst also pushes post-hoc ``.filter``/``.select`` into the
      JDBC scan where the dialect allows.

    Integration-tested against embedded Apache Derby (the JDBC driver
    Spark ships for its Hive metastore — tests/test_jdbc_derby.py
    round-trips writes, range-partitioned reads, and predicate splits
    through a real JDBC connection).  Parquet remains the engine's
    source of record; this adapter exists for drop-in parity with the
    reference's warehouse-scan deployment shape.
    """
    if predicates is not None:
        if partition_column is not None:
            raise ValueError("pass either partition_column bounds or "
                             "predicates, not both")
        # DataFrameReader.jdbc() is the only surface for predicate
        # splits; route through it with the assembled properties.
        props = {"fetchsize": str(fetch_size), **(properties or {})}
        return spark.read.jdbc(url, table, predicates=predicates,
                               properties=props)
    opts = jdbc_scan_options(
        url, table, partition_column=partition_column,
        lower_bound=lower_bound, upper_bound=upper_bound,
        num_partitions=num_partitions, fetch_size=fetch_size,
        properties=properties,
    )
    return spark.read.format("jdbc").options(**opts).load()


def jdbc_scan_options(url: str, table: str, *,
                      partition_column: str | None = None,
                      lower_bound: int | None = None,
                      upper_bound: int | None = None,
                      num_partitions: int | None = None,
                      fetch_size: int = 10_000,
                      properties: dict[str, str] | None = None
                      ) -> dict[str, str]:
    """Assemble and validate the JDBC scan option map (pure — testable
    without a live database; see ``read_jdbc``)."""
    if partition_column is not None:
        missing = [n for n, v in (("lower_bound", lower_bound),
                                  ("upper_bound", upper_bound),
                                  ("num_partitions", num_partitions))
                   if v is None]
        if missing:
            raise ValueError(f"partition_column requires {missing}")
    opts: dict[str, str] = {
        "url": url,
        "dbtable": table,
        "fetchsize": str(fetch_size),
        **{k: str(v) for k, v in (properties or {}).items()},
    }
    if partition_column is not None:
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    return opts


def read_jsonl(spark: SparkSession, path: str,
               schema: T.StructType) -> DataFrame:
    """JSON-Lines source with a mandatory explicit schema (Spark's
    ``json`` reader IS line-delimited by default).

    JSONL is the lingua franca of LLM training-data interchange
    (document dumps, annotation exports); the explicit StructType keeps
    the same inference-proofing contract as :func:`read_csv`, and lets
    the reader skip Spark's schema-inference pre-pass — at 100 TB,
    inference would read every byte TWICE. Corrupt lines land in
    ``_corrupt_record`` if the schema declares it (PERMISSIVE default)
    rather than killing the job.
    """
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — the other splittable columnar format warehouses
    commonly hand over (Hive/Trino deployments); same pushdown/pruning
    properties as the parquet path."""
    return spark.read.orc(path)


def register_views(spark: SparkSession, sf_dir: str,
                   tables: tuple[str, ...] = TESTDATA_TABLES) -> None:
    """Register testdata tables as temp views for spark.sql queries."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# --------------------------------------------------------------------------
# sinks  (reference S2: CSV checkpoints after every stage)
# --------------------------------------------------------------------------

def checkpoint(df: DataFrame, path: str) -> DataFrame:
    """Materialize a stage boundary and read it back.

    Spark-native replacement for the reference's export/import CSV
    checkpoints: breaks lineage for iteration speed while preserving
    types exactly. The reader schema is the written DataFrame's own, so
    reading back runs no schema-inference job (as :func:`footer_schema`
    does for :func:`load_table`).
    """
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Final-export CSV (the reference's output format), header included."""
    df.write.mode(mode).option("header", "true").csv(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite",
                compression: str | None = "gzip") -> None:
    """JSON-Lines sink (one JSON object per line, splittable files).

    Compressed by default: JSONL is 5-10× bulkier than parquet, and
    export jobs at scale are IO-bound. Pass ``compression=None`` for
    plain text when a downstream tool can't read .gz.
    """
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def compact_parquet(spark: SparkSession, src: str, dst: str,
                    target_file_mb: int = 128) -> int:
    """Rewrite a parquet directory into ~``target_file_mb`` files and
    return the output file count.

    The small-files problem is a first-class 100 TB failure mode:
    streaming sinks and over-parallel writers leave thousands of KB-
    sized files whose open/footer overhead dominates scans and whose
    listing stalls planning. Compaction sizes the output from the
    ACTUAL on-disk bytes (compressed), not row counts, and uses
    ``coalesce`` — a narrow, shuffle-free repartitioning that only
    merges existing partitions.

    ``dst`` must differ from ``src``: rewriting in place would delete
    the input mid-read (Spark scans lazily).
    """
    if os.path.abspath(dst) == os.path.abspath(src):
        raise ValueError("compact_parquet: dst must differ from src")
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(src)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, -(-total // (target_file_mb * 1024 * 1024)))
    spark.read.parquet(src).coalesce(int(n_files)).write.mode(
        "overwrite"
    ).parquet(dst)
    return int(n_files)


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose files were written under
    EVOLVING schemas (columns added over time).

    Plain ``spark.read.parquet`` infers the schema from a sampled
    footer — files written before a column existed either hide the
    column or fail the read depending on which file wins.
    ``mergeSchema`` unions every footer's schema instead: old files
    surface added columns as NULL, which is the append-only evolution
    contract a 100 TB lakehouse table needs (schema changes must
    never force a rewrite of petabytes of history).

    Column-type CHANGES (int → string) are not reconcilable by merging
    and still fail loudly — that is the correct behavior; widening
    rewrites go through an explicit migration.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   num_buckets: int = 32, sort_cols: list[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Write a catalog table hash-bucketed (and optionally sorted) by
    the join/aggregation key.

    The reference's big joins are all patient-keyed equi-joins
    (SURVEY.md §2.3); at 100 TB each one shuffles both sides on
    PATIENT_LINKAGE every run. Bucketing the persistent tables by that
    key pays the shuffle once at write time: subsequent joins and
    groupBys between same-bucketed tables read co-located buckets and
    skip the exchange entirely (pinned by
    tests/test_plans.py::test_bucketed_join_skips_shuffle). ``sort_cols``
    additionally pre-sorts within buckets so sort-merge joins skip the
    per-task sort — readers must set
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` to use
    the stored order (ignored by default since Spark 3.0; safe here
    because buckets are single-file).
    """
    # Repartition on the bucket key first so every bucket is written as
    # exactly one file: Spark elides the merge-join sort only for
    # single-file buckets, and one-file-per-bucket also avoids the
    # small-files problem when many write tasks each touch many buckets.
    writer = (
        df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a catalog table (bucket metadata preserved — unlike reading
    the table's parquet files by path, which drops bucketing)."""
    return spark.table(table)


def write_partitioned(df: DataFrame, path: str, date_col: str,
                      mode: str = "overwrite") -> None:
    """Write partitioned by year(date_col) for dynamic partition pruning.

    At 100 TB the measurement/condition tables are the bulk of the data
    and every reference query filters them by year
    (2_data_importing_cleaning.R:301, 3_blood_pressure.R:100); a year=
    directory layout turns those filters into pruned scans.
    """
    (
        df.withColumn("year", F.year(F.col(date_col)))
        .write.mode(mode)
        .partitionBy("year")
        .parquet(path)
    )


def write_jdbc(df: DataFrame, url: str, table: str,
               mode: str = "overwrite",
               properties: dict[str, str] | None = None,
               batch_size: int = 10_000) -> None:
    """JDBC sink (the reverse of ``read_jdbc``): publish a result table
    back to a warehouse, the reference's `dbWriteTable` shape.

    Each Spark partition opens one connection and inserts with
    ``batchsize``-row batches — writing a large result means
    ``df.repartition(n)`` first to get n parallel writers (and a target
    that tolerates n concurrent transactions).  Embedded single-JVM
    databases (Derby) serialize writers; coalesce(1) for those.
    """
    props = {"batchsize": str(batch_size), **(properties or {})}
    df.write.format("jdbc").options(
        url=url, dbtable=table, **props
    ).mode(mode).save()
