"""Table IO: a Parquet-backed warehouse with a typed table registry.

The reference delegated storage to PostgreSQL (psycopg2 call sites across
``instagram_scraper.py`` / ``interest_analyzer.py``); here every table is a
directory of Parquet files and every read goes through an explicit schema
from :mod:`schemas`. Views are registered so both the DataFrame and SQL
APIs see the same catalog.

Scale notes (100 TB):
* Big fact/edge tables should be written ``partitionBy`` a coarse key
  (e.g. date for ledgers, hash-bucket for edges) so partition pruning
  works; ``Warehouse.write`` exposes that.
* Overwrites of small control tables (ledger, dims) are cheap; the big
  tables are append-only + compaction — the upsert protocols in
  ``operators/writes.py`` are designed so the *per-batch* work is an
  anti-join against only the touched partitions.
* Merged tables (``Warehouse.upsert_partitioned``) have one backend,
  :class:`~.formats.TransactionLogFormat`: bucket-scoped rewrites
  published by one crash-atomic manifest commit.
* Reference tables (``Warehouse.overwrite_atomic``) are written once to
  ``<table>.tmp`` and committed by renames ``<table>`` -> ``<table>.old``,
  ``<table>.tmp`` -> ``<table>``; the second is the commit point, and
  ``ensure_tables`` moves ``.old`` back when ``<table>`` is missing. A
  crash leaves the whole old or new table where rename is atomic (local,
  HDFS); on object stores a rename is a copy, as costly as a rewrite.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .schemas import REFERENCE_TABLES, TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_testdata(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table with its declared schema.

    ``events.ts`` has shipped in two physical encodings across driver
    testdata generations: parquet TIMESTAMP(NANOS) — which Spark's reader
    rejects outright, so we read it as raw nanos
    (``spark.sql.legacy.parquet.nanosAsLong`` — runtime-settable) and
    rebuild an exact micros timestamp with integer division (``DIV`` —
    float division would lose precision above 2^53 ns) — and plain
    TIMESTAMP(MICROS) without UTC adjustment, which Spark surfaces as
    TIMESTAMP_NTZ. We dispatch on the loaded dtype and normalize both to
    a session-TZ (UTC) ``timestamp`` so every downstream operator sees
    one type.
    """
    path = str(Path(sf_dir) / f"{name}.parquet")
    # Queries may run inside a caller-owned session (the driver's);
    # timestamp semantics must not depend on that session's timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = spark.read.parquet(path)
        ts_type = dict(raw.dtypes).get("ts")
        if ts_type == "bigint":  # legacy nanos-as-long encoding
            return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        if ts_type != "timestamp":  # timestamp_ntz: wall clock is UTC
            return raw.withColumn("ts", F.col("ts").cast("timestamp"))
        return raw
    schema = TESTDATA_TABLES.get(name)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def _bytes_conf(spark: SparkSession, key: str, default: int) -> int:
    """Byte-suffixed Spark conf value ("128m", "4194304") as an int."""
    raw = spark.conf.get(key, None)
    if raw is None:
        return default
    try:
        return int(raw)
    except ValueError:
        return int(
            spark._jvm.org.apache.spark.network.util.JavaUtils
            .byteStringAsBytes(raw)
        )


def _scan_width(df: DataFrame, target: int) -> int:
    """Estimated scan-task count for ``df``'s file sources WITHOUT
    materializing the RDD lineage (VERDICT r14 #3: ``df.rdd`` forces a
    full plan-to-RDD translation per call; on a real object store that
    repeats the file listing). ``df.inputFiles()`` reads the already-
    materialized FileIndex; sizes are fetched only when the file count
    alone can't decide (fewer files than ``target`` — a bounded number
    of getFileStatus calls), then run through Spark's own split math
    (maxSplitBytes = min(maxPartitionBytes, max(openCost, bytes/core)))."""
    files = df.inputFiles()
    if not files:
        # not file-backed (literal/constructed frame): nothing to probe;
        # report "already wide" so the caller never adds an exchange
        return target
    if len(files) >= target:
        return len(files)  # >= 1 task per file: already machine-wide
    spark = df.sparkSession
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    sizes = []
    for f in files:
        p = jvm.org.apache.hadoop.fs.Path(f)
        sizes.append(p.getFileSystem(conf).getFileStatus(p).getLen())
    open_cost = _bytes_conf(
        spark, "spark.sql.files.openCostInBytes", 4 * 1024 * 1024
    )
    max_pb = _bytes_conf(
        spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024
    )
    total = sum(sizes) + len(sizes) * open_cost
    max_split = min(max_pb, max(open_cost, total // max(1, target)))
    return max(1, -(-total // max(1, max_split)))  # ceil


def spread_small_scan(
    df: DataFrame, key: str | None = None, parts: int | None = None
) -> DataFrame:
    """Buy back scan parallelism lost to an unsplittable input (guide
    §2.5 "one huge unsplittable file": the driver testdata ships each
    table as ONE single-row-group parquet file, so every scan is one
    task no matter the split config). If the scan already yields at
    least ``parts`` input splits — any real at-scale table — this is a
    NO-OP costing one FileIndex lookup (no RDD translation, no extra
    listing); only a narrower-than-the-machine scan pays one exchange to
    spread the downstream per-row work across cores. ``key``
    hash-partitions (no pre-shuffle sort); keyless round-robin pays a
    local sort-before-repartition for retry determinism (SPARK-23207)."""
    spark = df.sparkSession
    target = parts or spark.sparkContext.defaultParallelism
    if _scan_width(df, target) >= target:
        return df
    if key is not None:
        import pyspark.sql.functions as F

        return df.repartition(target, F.col(key))
    return df.repartition(target)


def register_testdata_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view; returns the handles."""
    out = {}
    for name in TESTDATA_TABLES:
        df = load_testdata(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
    **options,
) -> DataFrame:
    """Format-agnostic source reader (SURVEY §2.1: the rebuild
    standardizes on Parquet; CSV/JSON/ORC supported for ingest
    boundaries). Schema is explicit for text formats — inference is a
    full extra pass and non-deterministic under dirty data."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.format(fmt).options(**options).load(path)


def write_sink(
    df: DataFrame,
    path: str | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    """Format-agnostic sink (S8).

    ``fmt="jdbc"`` is the reference's PostgreSQL target
    (instagram_scraper.py:194-218): pass ``url`` and ``dbtable`` plus any
    connection properties (user/password/driver) as options; ``path`` is
    unused for JDBC. Connection properties are injected by the caller —
    the engine never hardcodes an endpoint. Writes go through Spark's
    JDBC datasource (one connection per partition; ``numPartitions``
    caps the fan-in; ``batchsize`` controls rows per INSERT batch).
    """
    if fmt == "jdbc":
        missing = {"url", "dbtable"} - set(options)
        if missing:
            raise ValueError(f"jdbc sink requires options {sorted(missing)}")
        df.write.mode(mode).format("jdbc").options(**options).save()
        return
    if path is None:
        raise ValueError(f"{fmt} sink requires a path")
    writer = df.write.mode(mode).format(fmt).options(**options)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.save(path)


class JdbcBatchSink:
    """foreachBatch-compatible relational sink (S8 + S9).

    The reference commits scraped rows to PostgreSQL in small batches
    with INSERT ... ON CONFLICT (instagram_scraper.py:194-218, 282-302);
    in Structured Streaming the micro-batch is the commit unit. Each
    batch goes through Spark's JDBC datasource in append mode, or — when
    ``execute`` is injected — to a caller-supplied
    ``execute(batch_df, epoch_id)`` where a dialect-specific upsert (or a
    test double, in driverless environments) owns the transaction.

    Replayed epoch_ids are skipped, and an epoch is fenced only AFTER its
    write succeeds — a failed write leaves the epoch unfenced so the
    retry re-runs it (fencing before the write would silently drop the
    batch). Scope of the guarantee: within-process, same-instance dedup
    only — the fence set is in memory, so a process restart replays the
    last in-flight epoch; cross-restart exactly-once needs the sink-side
    transaction (idempotent upsert keyed on epoch, or a transactional
    table format).
    """

    def __init__(
        self,
        url: str | None = None,
        table: str | None = None,
        properties: dict | None = None,
        execute=None,
    ):
        if execute is None and (url is None or table is None):
            raise ValueError("JdbcBatchSink needs url+table or an execute callable")
        self.url = url
        self.table = table
        self.properties = dict(properties or {})
        self.execute = execute
        self.epochs: set[int] = set()

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id in self.epochs:
            return
        if self.execute is not None:
            self.execute(batch_df, epoch_id)
        else:
            (
                batch_df.write.mode("append")
                .format("jdbc")
                .option("url", self.url)
                .option("dbtable", self.table)
                .options(**self.properties)
                .save()
            )
        # fence only after the write succeeded: a throw above leaves the
        # epoch unfenced so Structured Streaming's retry re-executes it
        self.epochs.add(epoch_id)


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Catalog-managed bucketed table: joins/aggs on the bucket columns
    read co-located buckets with NO exchange (verified in tests by plan
    inspection). This is the 100 TB layout for the edge tables — bucket
    both `followers` and `following` by user_id and the flagship mutuals
    join becomes shuffle-free.

    ``path`` makes the table external (data at the given location
    instead of the session warehouse dir) — required when the caller
    doesn't own the session's warehouse config, e.g. inside registered
    queries running under the driver's vanilla session."""
    writer = df.write.mode("overwrite").bucketBy(buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table)


def _rename(fs, src, dst) -> None:
    # Hadoop's rename reports failure by returning false
    if not fs.rename(src, dst):
        raise OSError(f"rename {src} -> {dst} failed")


class Warehouse:
    """Parquet warehouse for the reference-shaped tables.

    Mirrors ``database/setup.py:27-127``: ``ensure_tables`` is the
    idempotent DDL analog (creates empty tables that don't exist yet).
    Merged tables (``upsert_partitioned`` / ``read_merged``) live on
    the transaction log held in ``fmt``.
    """

    def __init__(self, spark: SparkSession, root: str, fmt=None):
        from .formats import TransactionLogFormat

        self.spark = spark
        self.root = Path(root)
        # the A1 MERGE path commits through the transaction log; pass a
        # configured TransactionLogFormat (clustering, blooms) to change
        # its layout
        self.fmt = fmt or TransactionLogFormat()

    def path(self, table: str) -> str:
        return str(self.root / table)

    def exists(self, table: str) -> bool:
        p = Path(self.path(table))
        return p.exists() and any(p.iterdir())

    def ensure_tables(self, tables: dict[str, T.StructType] | None = None) -> None:
        """CREATE TABLE IF NOT EXISTS analog (setup.py:27-127); first moves
        back a ``<table>.old`` left by a crash between commit renames."""
        for name, schema in (tables or REFERENCE_TABLES).items():
            fs, final, _, old = self._commit_paths(name)
            if not fs.exists(final) and fs.exists(old):
                _rename(fs, old, final)
            if not self.exists(name):
                empty = self.spark.createDataFrame([], schema)
                empty.write.mode("overwrite").parquet(self.path(name))

    def read(self, table: str) -> DataFrame:
        schema = REFERENCE_TABLES.get(table)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self.path(table))

    def write(self, table: str, df: DataFrame) -> None:
        df.write.mode("overwrite").parquet(self.path(table))

    def _commit_paths(self, table: str):
        """``(fs, <table>, <table>.tmp, <table>.old)``, as Hadoop paths."""
        hpath = self.spark._jvm.org.apache.hadoop.fs.Path
        final, tmp, old = (hpath(self.path(table) + x) for x in ("", ".tmp", ".old"))
        fs = final.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, final, tmp, old

    def overwrite_atomic(self, table: str, df: DataFrame) -> None:
        """Replace a table's contents: write once, commit by rename.

        ``df`` may read the table it replaces, so it is written to
        ``<table>.tmp`` first. The commit is two Hadoop FileSystem
        renames, ``<table>`` -> ``<table>.old`` then ``<table>.tmp`` ->
        ``<table>``; the second is the commit point, and ``.old`` is
        deleted after it. A failed staged write leaves the table as it
        was; a failed commit rename moves ``.old`` back at once; a crash
        between the renames leaves it whole under ``.old``, which
        ``ensure_tables`` moves back. Crash-atomic where rename is
        atomic (local, HDFS); on object stores a rename is a copy.
        """
        fs, final, tmp, old = self._commit_paths(table)
        df.write.mode("overwrite").parquet(self.path(table) + ".tmp")
        # a stale .old is left by a crash after an earlier commit point
        fs.delete(old, True)
        if fs.exists(final):
            _rename(fs, final, old)
        try:
            _rename(fs, tmp, final)
        except Exception:
            # put the old table back so this process can still read it
            if fs.exists(old) and not fs.exists(final):
                _rename(fs, old, final)
            raise
        fs.delete(old, True)

    # -- A1 at scale: bucket-scoped MERGE on the transaction log --------
    def upsert_partitioned(
        self,
        table: str,
        incoming: DataFrame,
        keys: list[str],
        order_col: str,
        num_buckets: int = 64,
        txn: tuple[str, int] | None = None,
    ) -> None:
        """Bucket-scoped upsert-keep-newest: the A1 MERGE.

        The incoming batch's keys hash to ``num_buckets`` buckets, so
        the slices the batch touches are computable from the batch
        alone: only those are read, merged via ``upsert_keep_newest``,
        and rewritten — a batch touching b buckets costs b/num_buckets
        of the table instead of all of it, which is what makes
        per-batch merges viable at 100 TB. The commit is one versioned
        manifest publish on this Warehouse's
        :class:`~.formats.TransactionLogFormat` (crash-atomic,
        Delta/Iceberg-style).

        ``txn=(app_id, version)`` makes the merge IDEMPOTENT (the Delta
        txnAppId/txnVersion design): a merge whose version is <= the
        app's last recorded version is a silent no-op — exactly what a
        foreachBatch streaming sink passes (query_id, batch_id) to get
        exactly-once MERGE semantics under Spark's replay-on-failure
        contract.
        """
        self.fmt.merge(
            self, table, incoming, keys, order_col, num_buckets, txn=txn
        )

    def read_merged(self, table: str) -> DataFrame:
        """Read the latest version of a table maintained by
        ``upsert_partitioned``."""
        return self.fmt.read_merged(self, table)
