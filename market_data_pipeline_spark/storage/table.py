"""Parquet-backed mutable-table emulation (SURVEY §1.3, §4).

Emulates the reference's ClickHouse storage behaviors on immutable parquet:

- MergeTree layout: ``PARTITION BY toYYYYMM(trade_date) ORDER BY (symbol,
  trade_date)`` (reference: src/clickhouse/price_client.py:92-95) becomes
  hive-partitioned parquet on a derived ``trade_month`` column plus
  ``sortWithinPartitions`` so row-group min/max stats provide the same data
  skipping as the clustered index.
- ReplacingMergeTree + OPTIMIZE FINAL (reference:
  src/clickhouse/stock_master.py:28,289-297) becomes an explicit
  ``compact()`` job (window row_number dedup + rewrite); ``read_current``
  applies the dedup window on read for not-yet-compacted tables.
- ALTER UPDATE / DELETE (reference: src/clickhouse/stock_master.py:95-111,
  src/clickhouse/price_client.py:249-273) become read-modify-overwrite of
  only the affected partitions.

At 100 TB: appends touch only new partition directories; compaction and
deletes rewrite only partitions whose predicate matches (partition pruning
on ``trade_month``); the dim table is small enough to rewrite whole.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from market_data_pipeline_spark.operators.upsert import dedup_latest, insert_if_absent
from market_data_pipeline_spark.sources.catalog import read_parquet_cached_schema


def _link(src: str, dst: str) -> None:
    """Hard-link ``src`` to ``dst`` (a metadata-only copy), or copy it
    where the FS has no hard links or crosses devices."""
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


class ParquetTable:
    """A keyed, optionally version-deduped, optionally partitioned parquet
    table."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: list[str],
        version_col: str | None = None,
        partition_col: str | None = None,
        partition_expr=None,
        sort_cols: list[str] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.key = key
        self.version_col = version_col
        self.partition_col = partition_col
        self.partition_expr = partition_expr
        self.sort_cols = sort_cols or key

    # -- helpers --------------------------------------------------------
    def exists(self) -> bool:
        return os.path.exists(self.path)

    def _with_partition(self, df: DataFrame) -> DataFrame:
        if self.partition_col and self.partition_col not in df.columns:
            df = df.withColumn(self.partition_col, self.partition_expr)
        return df

    def _write(self, df: DataFrame, mode: str, path: str | None = None) -> None:
        df = self._with_partition(df)
        if self.partition_col:
            # cluster rows by their target partition before the partitioned
            # write: without this every task writes a sliver into every
            # month directory (tasks x months small files); with it each
            # month becomes few large files sorted on (symbol, trade_date)
            # — the MergeTree part layout, and what row-group min/max
            # skipping needs. AQE splits any oversized month.
            df = df.repartition(F.col(self.partition_col))
        writer = df.sortWithinPartitions(*self.sort_cols).write.mode(mode)
        if self.partition_col:
            writer = writer.partitionBy(self.partition_col)
        writer.parquet(path or self.path)

    # -- reads ----------------------------------------------------------
    def read_raw(self) -> DataFrame:
        """All row versions, no dedup.

        Schema comes from the stat-keyed footer cache (sources.catalog):
        every mutation here replaces or touches the table directory
        (overwrite/restore rename it wholesale; append/partition rewrites
        create entries in it), so a changed table re-infers while the
        repeated reads BETWEEN mutations — the upsert/validate/report
        chains read the same state several times per batch — skip the
        ~100ms per-call footer/listing work (r12, guide §1.2)."""
        df = read_parquet_cached_schema(self.spark, self.path)
        return df.drop(self.partition_col) if self.partition_col else df

    def read_current(self) -> DataFrame:
        """Latest version per key — ReplacingMergeTree SELECT...FINAL
        semantics."""
        df = self.read_raw()
        if self.version_col:
            df = dedup_latest(df, self.key, self.version_col)
        return df

    # -- mutations ------------------------------------------------------
    def _swap(self, target: str, write) -> None:
        """Stage-and-swap ``target``: ``write(tmp)`` fills a sibling staging
        directory, which then replaces ``target``. The write may read
        ``target`` itself (read-modify-overwrite is the standard mutation
        idiom here), and Spark cannot overwrite a directory it is still
        scanning. Local FS rename is atomic; on an object store this would
        be a staged prefix + pointer swap (or a table format like
        Delta/Iceberg)."""
        tmp = target.rstrip("/") + ".stage.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        write(tmp)
        shutil.rmtree(target, ignore_errors=True)
        os.rename(tmp, target)
        # drop Spark's cached file listing for this path — later reads in
        # the same session would otherwise reference the replaced part
        # files (FAILED_READ_FILE.FILE_NOT_EXIST)
        self.spark.catalog.refreshByPath(self.path)

    def overwrite(self, df: DataFrame) -> None:
        """Replace the table's contents with ``df`` (stage-and-swap, so
        ``df`` may read from this table)."""
        self._swap(self.path, lambda tmp: self._write(df, "overwrite", path=tmp))

    def append(self, df: DataFrame) -> None:
        self._write(df, "append")
        self.spark.catalog.refreshByPath(self.path)

    def upsert_absent(self, incoming: DataFrame) -> int:
        """Insert-if-absent append (reference:
        scripts/daily_stock_master_update.py:258-294). Returns inserted
        row count — on the bootstrap path (table did not exist) the count
        comes from the freshly WRITTEN table's parquet footers, a
        metadata-only job (the earlier -1 sentinel leaked into run
        reports as a bogus "inserted: -1")."""
        if not self.exists():
            self.overwrite(incoming)
            return self.read_current().count()
        from pyspark.sql import Observation

        new_rows = insert_if_absent(self.read_current(), incoming, self.key)
        # The inserted-row count rides the WRITE job via an Observation
        # instead of a separate count() action (r12 opt): the old
        # two-action pattern computed the anti-join twice — once for the
        # count, once for the append. One job now does both; a no-insert
        # day appends only an empty part file, which read_current ignores
        # and the next compact() folds away. (guide §1.2: same bytes, one
        # pass.)
        obs = Observation()
        self.append(new_rows.observe(obs, F.count(F.lit(1)).alias("n")))
        return int(obs.get["n"])

    # -- partition surgery ------------------------------------------------
    def _partition_values(self, predicate=None) -> list[str]:
        """Distinct partition values, optionally only those containing rows
        matching ``predicate`` (partition pruning + row filter — the scan
        reads only the partition column and predicate columns).

        The collect is bounded by PARTITION COUNT, not row count — months
        of a price series number in the hundreds after decades; if a table
        were ever partitioned by a high-cardinality column this would need
        an iterator/limit, so keep partition columns coarse (that is also
        what keeps file counts sane)."""
        df = self.spark.read.parquet(self.path)
        if predicate is not None:
            df = df.filter(predicate)
        return [str(r[0]) for r in df.select(self.partition_col).distinct().collect()]

    def partition_stats(self) -> DataFrame:
        """Per-partition operational report: on-disk bytes, file count, and
        row count per partition directory — the ``system.parts`` report the
        reference reads for its size summaries (reference:
        src/clickhouse/price_client.py:286-341).

        Bytes/file counts come from a driver-side directory listing (one
        stat per data file — the same metadata a FileIndex scan lists
        anyway, bounded by file count not row count); row counts come from
        ONE Spark count grouped by the partition column, which parquet
        answers from footer statistics without touching data pages.
        Returns (partition value col, n_files, bytes, rows) sorted by the
        partition value.
        """
        if not self.partition_col:
            raise ValueError("partition_stats requires a partitioned table")
        sizes: dict[str, tuple[int, int]] = {}
        prefix = f"{self.partition_col}="
        for entry in os.scandir(self.path):
            if not (entry.is_dir() and entry.name.startswith(prefix)):
                continue
            value = entry.name[len(prefix):]
            n_files = n_bytes = 0
            for root, _dirs, files in os.walk(entry.path):
                for fname in files:
                    if fname.startswith(("_", ".")):
                        continue
                    n_files += 1
                    n_bytes += os.stat(os.path.join(root, fname)).st_size
            sizes[value] = (n_files, n_bytes)
        rows = (
            self.spark.read.parquet(self.path)
            .groupBy(self.partition_col)
            .count()
            .collect()
        )
        data = [
            (
                str(r[self.partition_col]),
                *sizes.get(str(r[self.partition_col]), (0, 0)),
                r["count"],
            )
            for r in rows
        ]
        return self.spark.createDataFrame(
            data, f"{self.partition_col} string, n_files long, bytes long, rows long"
        ).orderBy(self.partition_col)

    def _rewrite_partition(self, value: str, transform) -> None:
        """Stage-and-swap ONE hive partition directory through
        ``transform(df) -> df`` (df excludes the partition column)."""
        pdir = os.path.join(self.path, f"{self.partition_col}={value}")
        out = transform(self.spark.read.parquet(pdir)).sortWithinPartitions(
            *self.sort_cols
        )
        self._swap(pdir, lambda tmp: out.write.mode("overwrite").parquet(tmp))

    def compact(self, partitions: list[str] | None = None) -> None:
        """OPTIMIZE TABLE ... FINAL — keep only latest versions
        (reference: src/clickhouse/client.py:237-251).

        Partitioned tables compact per partition (``partitions`` limits it
        to specific values, e.g. the months an ingest touched): correct
        because the dedup key contains the partition-deriving column, so
        versions of a key never span partitions — and only the affected
        directories are rewritten, the 100 TB discipline the whole layout
        exists for. Unpartitioned (dim) tables rewrite whole.
        """
        if not self.version_col:
            return
        if not self.partition_col:
            self.overwrite(self.read_current())
            return
        values = list(
            partitions if partitions is not None else self._partition_values()
        )

        def xform(df: DataFrame) -> DataFrame:
            return dedup_latest(df, self.key, self.version_col)

        for value in values:
            self._rewrite_partition(value, xform)

    def compact_files(
        self, target_bytes: int = 128 * 1024 * 1024, partitions: list[str] | None = None
    ) -> dict[str, int]:
        """Small-file compaction: rewrite partitions whose data is split
        across more files than ``ceil(bytes / target_bytes)`` into that
        many ~target-size files — the job ClickHouse's background merges
        do implicitly, made explicit for parquet. Append-heavy ingest
        (micro-batches, daily crawls) accumulates slivers; small files
        cost a task + a footer read each at scan time, so at 100 TB the
        file count IS a performance dimension.

        Only oversized-file-count partitions are rewritten (others keep
        their exact bytes); the rewrite goes through repartitionByRange on
        the sort columns + in-file sort, preserving the clustered layout
        row-group skipping relies on. Returns {partition: new_file_count}
        for the rewritten partitions.
        """
        import math

        if not self.partition_col:
            raise ValueError("compact_files requires a partitioned table")
        rewritten: dict[str, int] = {}
        stats = {r[self.partition_col]: r for r in self.partition_stats().collect()}
        for value, row in stats.items():
            if partitions is not None and value not in partitions:
                continue
            want = max(1, math.ceil(row["bytes"] / target_bytes))
            if row["n_files"] <= want:
                continue
            self._rewrite_partition(
                value,
                lambda df, n=want: df.repartitionByRange(
                    n, *[F.col(c) for c in self.sort_cols]
                ),
            )
            rewritten[value] = want
        return rewritten

    def delete_where(self, predicate) -> None:
        """Guarded delete (reference: src/clickhouse/price_client.py:249-273
        — ALTER TABLE DELETE). Caller builds the predicate; unconditional
        deletes are refused upstream.

        Partitioned tables rewrite ONLY the partitions that contain
        matching rows (found with a pruned scan); untouched month
        directories keep their exact files. Unpartitioned tables rewrite
        whole (they are small dims by construction).
        """
        if not self.partition_col:
            self.overwrite(self.read_raw().filter(~predicate))
            return
        for value in self._partition_values(predicate):
            self._rewrite_partition(value, lambda df: df.filter(~predicate))

    # -- snapshots / time travel ------------------------------------------
    def _snapshot_dir(self, tag: str | None = None) -> str:
        base = self.path.rstrip("/") + ".snapshots"
        return os.path.join(base, tag) if tag else base

    def snapshot(self, tag: str) -> str:
        """Create a named snapshot of the table's CURRENT files — the
        poor-man's Delta/Iceberg version pin. On a local FS the data
        files are HARD-LINKED (metadata-only: no bytes copied, and
        later overwrite/compact of the live table cannot disturb the
        pinned inodes); on an object store the same operation is a
        manifest copy. Snapshots live in a sibling ``<path>.snapshots/``
        directory so the live table's scans never pick them up.

        Mutations after a snapshot behave correctly by construction:
        ``append`` adds new files only to the live directory;
        ``overwrite``/``compact`` stage-and-swap the live directory but
        the snapshot's links keep the original file contents alive.
        """
        if not self.exists():
            raise FileNotFoundError(f"cannot snapshot missing table {self.path}")
        dst = self._snapshot_dir(tag)
        if os.path.exists(dst):
            raise FileExistsError(f"snapshot {tag!r} already exists")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copytree(self.path, dst, copy_function=_link)
        return dst

    def snapshots(self) -> list[str]:
        base = self._snapshot_dir()
        if not os.path.isdir(base):
            return []
        return sorted(os.listdir(base))

    def read_snapshot(self, tag: str) -> DataFrame:
        """Time-travel read: the table exactly as of ``snapshot(tag)``,
        with the same version-dedup semantics as ``read_current``."""
        dst = self._snapshot_dir(tag)
        if not os.path.isdir(dst):
            raise FileNotFoundError(f"no snapshot {tag!r} for {self.path}")
        df = self.spark.read.parquet(dst)
        if self.partition_col:
            df = df.drop(self.partition_col)
        if self.version_col:
            df = dedup_latest(df, self.key, self.version_col)
        return df

    def restore(self, tag: str) -> None:
        """Roll the live table back to a snapshot via the same atomic
        stage-and-swap as ``overwrite`` (the snapshot itself is left
        intact, so a restore can be undone by restoring another tag)."""
        dst = self._snapshot_dir(tag)
        if not os.path.isdir(dst):
            raise FileNotFoundError(f"no snapshot {tag!r} for {self.path}")
        self._swap(
            self.path, lambda tmp: shutil.copytree(dst, tmp, copy_function=_link)
        )

    def drop_snapshot(self, tag: str) -> None:
        dst = self._snapshot_dir(tag)
        if not os.path.isdir(dst):
            raise FileNotFoundError(f"no snapshot {tag!r} for {self.path}")
        shutil.rmtree(dst)


def migrate_csv_to_table(
    spark: SparkSession,
    csv_path: str,
    table: ParquetTable,
    schema=None,
    header: bool = True,
) -> int:
    """S9 — legacy-store bulk load: CSV staging files -> the managed
    parquet layout in one distributed pass.

    The reference pages a legacy PostgreSQL table through 1000-row
    offset/limit chunks into temp CSVs piped to clickhouse-client
    (reference: src/setup/setup_clickhouse.py:122-245); in Spark the
    pagination disappears — one partitioned read, one clustered write.
    Returns the row count written.
    """
    reader = spark.read.option("header", str(header).lower())
    df = reader.schema(schema).csv(csv_path) if schema is not None else reader.option(
        "inferSchema", "true"
    ).csv(csv_path)
    table.overwrite(df)
    return table.read_raw().count()


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a hash-bucketed (and in-bucket sorted) managed parquet table.

    Bucketing is the write-time contract that removes the shuffle from
    every later equi-join/aggregation on ``bucket_cols``: two tables
    bucketed the same way join with ZERO Exchange in the plan (asserted in
    tests). This is the Spark analog of the reference's clustered
    ``ORDER BY (symbol, trade_date)`` MergeTree layout
    (reference: src/clickhouse/price_client.py:94-95) for the
    co-located-join use case; at 100 TB, pre-bucketing the fact table by
    symbol is what makes repeated symbol-joins/aggs cheap.

    Requires saveAsTable (bucket metadata lives in the catalog, not the
    files); pick ``num_buckets`` ≈ cluster cores × small factor, stable
    across writers of the same table.
    """
    writer = (
        df.write.mode(mode)
        .format("parquet")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def stock_price_table(spark: SparkSession, path: str) -> ParquetTable:
    """The fact-table layout from the reference DDL
    (reference: src/clickhouse/price_client.py:78-96)."""
    return ParquetTable(
        spark,
        path,
        key=["symbol", "trade_date"],
        version_col="update_dt",
        partition_col="trade_month",
        partition_expr=F.date_format(F.col("trade_date"), "yyyyMM"),
        sort_cols=["symbol", "trade_date"],
    )


def stock_master_table(spark: SparkSession, path: str) -> ParquetTable:
    """The dim-table layout (reference:
    src/clickhouse/stock_master.py:16-30)."""
    return ParquetTable(
        spark,
        path,
        key=["symbol"],
        version_col="update_dt",
        sort_cols=["symbol"],
    )


def zvalue(cols: list, bits: int = 8, boundaries: dict | None = None):
    """Morton (Z-order) key expression over 2+ columns.

    Each column is first bucketized into 2^bits quantile ranks (the
    ``boundaries`` dict maps column name -> sorted split list of length
    2^bits - 1, typically from ``approxQuantile`` — quantile buckets keep
    the curve balanced under skew where linear min-max scaling would
    collapse), then the bucket indices' bits are interleaved.

    The rank count is a literal-array higher-order aggregate (interpreted,
    O(2^bits) per column per row) — paid ONCE at write time and amortized
    over every future pruned read; bits=8 gives a 256x256(xN) grid,
    plenty for file/row-group-level clustering — Z-order sorts FILES,
    not rows-for-lookup.
    """
    ranks = []
    for c in cols:
        splits = boundaries[c] if boundaries else None
        if splits is None:
            raise ValueError(f"no boundaries for {c}; compute via approxQuantile")
        arr = F.lit([float(s) for s in splits])
        v = F.col(c).cast("double")
        rank = F.aggregate(
            F.transform(arr, lambda b: (v >= b).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        ranks.append(rank)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for d, rank in enumerate(ranks):
            bit = F.shiftright(rank, i).bitwiseAND(F.lit(1)).cast("long")
            z = z + (bit * F.lit(1 << (i * len(ranks) + d)).cast("long"))
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    num_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered on a Z-order curve over ``cols`` so
    row-group min/max stats prune scans filtered on ANY of the columns.

    A single-column sort gives perfect pruning on that column and none on
    the others; the Z-curve gives ~sqrt-of-perfect pruning on EACH column
    — the right trade for multi-dimensional point/range lookups (e.g.
    (symbol, trade_date) when queries filter on either alone). This is
    the open-format equivalent of Delta/Iceberg OPTIMIZE ZORDER.

    One pass to estimate per-column quantile boundaries (approxQuantile,
    driver data bounded at 2^bits splits/column), one range-partitioned
    shuffle on the z-value, in-partition sort, write. At 100 TB run it
    per ingest partition (month), not globally.
    """
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    quantiles = df.stat.approxQuantile(cols, probs, 0.001)
    boundaries = {c: qs for c, qs in zip(cols, quantiles)}
    z = zvalue(cols, bits=bits, boundaries=boundaries)
    (
        df.withColumn("_z", z)
        .repartitionByRange(num_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )
