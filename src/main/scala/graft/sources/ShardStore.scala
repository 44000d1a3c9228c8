package graft.sources

import graft.model.Canon._
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{escapePathName, unescapePathName}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField}

/** S3-S5: the storage layer — partitioned Parquet replacing the reference's
  * Irmin/Git shard store + interval index (SURVEY.md §1.3-1.4, §4).
  *
  * Reference layout: one Git KV entry per shard keyed `[series, t1, t2]`
  * (`/root/reference/src/timeseries.re:94-98`) plus a per-series interval
  * index (`src/index.re`) used to prune shards on since/range reads
  * (`src/index.re:92-105`), with overlap-merge compaction on every spill
  * (`src/timeseries.re:119-156`).
  *
  * Spark-first replacement: `series=<id>/day=<yyyy-MM-dd>/part-*.parquet`.
  *  - partition pruning on `series` and `day` IS the interval index — the
  *    driver never lists files outside the queried series/time range;
  *  - parquet row-group min/max stats on `ts_us` (rows sorted within
  *    partitions) prune inside a day — the Complete/Partial shard
  *    classification (`src/timeseries.re:569-588`) for free;
  *  - overlap-merge compaction is unnecessary for correctness (overlapping
  *    files are fine); `compact()` exists for file hygiene only;
  *  - at 100 TB: writes scale out per (series, day); no global coordination,
  *    no driver-side index, append-only — late data just lands in its own
  *    (old-day) partition, giving the reference's unbounded lateness
  *    tolerance without rewrites.
  *
  * This object is the ONE owner of the on-disk layout: the flat and the
  * bucketed partitioning below, the partition columns and their types,
  * and the partition dir names — encoded the way Spark writes them
  * (`escapePathName`), decoded by the inverse filter. Every other module
  * ([[TieredStore]]'s pruned reads and deletes, [[VersionedStore]]'s skip
  * lines and read schema) asks these functions, passing the layout as
  * `Option[Int]` (None = flat `series=/day=`, Some(b) = `bucket=/day=`
  * over b buckets).
  */
object ShardStore {

  private val DAY = "day"
  /** Shard-size analog (`--shard-size`, reference `src/main.re:10`): caps
    * file size so single-partition hotspots still parallelize on read.
    */
  val maxRecordsPerFile = 5000000L

  private def withDay(df: DataFrame): DataFrame =
    df.withColumn(DAY, date_format(timestamp_micros(col(TS_US)), "yyyy-MM-dd"))

  /** Append canonical datapoints. Sorting within partitions by ts_us makes
    * parquet row-group stats tight → row-group pruning on time predicates.
    */
  def append(df: DataFrame, path: String): Unit =
    withDay(df)
      .sortWithinPartitions(col(SERIES), col(TS_US))
      .write
      .partitionBy(SERIES, DAY)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode(SaveMode.Append)
      .parquet(path)

  /** Read the store back in canonical form (partition columns dropped). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(col(SERIES), col(TS_US), col(TAG), col(VALUE), col(RID))

  /** Range read that lets Catalyst prune partitions: the `day` bounds are
    * derived from the µs bounds and applied to the partition column, the
    * exact bounds to `ts_us` (pushed to row-group stats).
    */
  def readRange(spark: SparkSession, path: String, ids: Seq[String],
                fromUs: Long, toUs: Long): DataFrame = {
    val raw = spark.read.parquet(path)
    val pruned = raw
      .filter(col(DAY) >= date_format(timestamp_micros(lit(fromUs)), "yyyy-MM-dd"))
      .filter(col(DAY) <= date_format(timestamp_micros(lit(toUs)), "yyyy-MM-dd"))
      .filter(col(TS_US).between(fromUs, toUs))
    val bySeries = if (ids.isEmpty) pruned else pruned.filter(col(SERIES).isin(ids: _*))
    bySeries.select(col(SERIES), col(TS_US), col(TAG), col(VALUE), col(RID))
  }

  // ---------------------------------------------------------------------
  // Bucketed series layout — the high-cardinality tier. The series=/day=
  // layout above creates ONE DIRECTORY PER SERIES per write: perfect
  // pruning for the reference's handful-of-series model, but an O(series)
  // file-creation bill at sync time once a store holds thousands of
  // series (ManySeriesProbe measured 36s/1k series). The public fix for
  // high-cardinality partition keys applies: hash the series into a fixed
  // bucket count, partition on `bucket=<b>/day=<d>` (≤ buckets×days dirs
  // per write, independent of series cardinality) and demote series to an
  // ordinary column. Reads prune on the bucket ids derived from the
  // queried series (partition pruning) and then on the series column
  // itself (row-group stats — rows are sorted by (series, ts_us) within
  // files, so a bucket's foreign series skip at the stats level).
  // The bucket function is CRC32 mod buckets: public, bit-identical
  // between the Column expression (write/plan side) and the JVM
  // (driver-side pruning literals).

  val BUCKET = "bucket"

  /** Bucket id of a series as a Column (write path / plan side). */
  def bucketCol(series: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.Column =
    pmod(crc32(series.cast("binary")), lit(buckets.toLong))

  /** Bucket id of a series id on the driver (read-path pruning literals);
    * must stay bit-identical to [[bucketCol]].
    */
  def bucketOf(series: String, buckets: Int): Long = {
    val c = new java.util.zip.CRC32()
    val b = series.getBytes("UTF-8")
    c.update(b, 0, b.length)
    java.lang.Math.floorMod(c.getValue, buckets.toLong)
  }

  /** Append canonical datapoints in the bucketed layout. The pre-write
    * repartition on (bucket, day) makes each output dir receive files
    * from few tasks — file count tracks data volume, not series count.
    */
  def appendBucketed(df: DataFrame, path: String, buckets: Int): Unit =
    withDay(df.withColumn(BUCKET, bucketCol(col(SERIES), buckets)))
      .repartition(col(BUCKET), col(DAY))
      .sortWithinPartitions(col(SERIES), col(TS_US))
      .write
      .partitionBy(BUCKET, DAY)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode(SaveMode.Append)
      .parquet(path)

  /** Filter on the top-level partition column selecting every partition
    * that holds `ids`: flat — the ids' own `series` partitions; bucketed —
    * the ids' buckets whole (co-resident series included). */
  def partitionsOf(ids: Seq[String], layout: Option[Int]): Column =
    layout match {
      case Some(b) => col(BUCKET).isin(ids.map(bucketOf(_, b)).distinct: _*)
      case None    => col(SERIES).isin(ids: _*)
    }

  /** The top-level partition dir names holding `ids`, encoded the way
    * Spark writes partition paths — the names a manifest `skip` line
    * carries. [[partitionsNamed]] is the inverse. */
  def partitionNames(ids: Seq[String], layout: Option[Int]): Seq[String] =
    layout match {
      case Some(b) => ids.map(x => s"$BUCKET=${bucketOf(x, b)}").distinct
      case None    => ids.map(x => s"$SERIES=${escapePathName(x)}").distinct
    }

  /** Filter selecting the partitions named by top-level dir `names` (as
    * [[partitionNames]] encodes them). It lands on the partition column,
    * so Catalyst prunes at listing time: a name the data never held costs
    * no IO. */
  def partitionsNamed(names: Seq[String], layout: Option[Int]): Column =
    layout match {
      case Some(_) =>
        col(BUCKET).isin(names.map(_.stripPrefix(BUCKET + "=").toLong): _*)
      case None =>
        col(SERIES).isin(names.map(n => unescapePathName(n.stripPrefix(SERIES + "="))): _*)
    }

  /** The layout's partition columns beyond the canonical schema, with
    * their types (flat: `day`, whose `series` partition IS the canonical
    * column; bucketed: `bucket`, `day`). */
  def partitionFields(layout: Option[Int]): Seq[StructField] =
    layout.map(_ => StructField(BUCKET, LongType)).toSeq :+ StructField(DAY, StringType)

  /** File-hygiene compaction (the overlap-merge analog, S4): rewrite the
    * store coalescing small files; correctness never depends on it.
    */
  def compact(spark: SparkSession, path: String, outPath: String): Unit =
    append(read(spark, path).repartition(col(SERIES)), outPath)

  /** Bucketed-layout compaction (VERDICT r9/r10 item): every append drops
    * ≥1 file into each touched `bucket=/day=` dir, so a long-lived
    * high-cardinality store accretes O(appends × dirs) small files. One
    * rewrite through [[appendBucketed]]'s (bucket, day) repartition
    * coalesces each dir to task-count files (typically 1) with the same
    * within-file (series, ts_us) sort — content identical, row-group
    * stats as tight as a fresh write. Out-of-place like [[compact]];
    * the live in-place form is `TieredStore.compactDisk` (manifest-
    * chain commit + expiry).
    */
  def compactBucketed(spark: SparkSession, path: String, outPath: String,
                      buckets: Int): Unit =
    appendBucketed(read(spark, path), outPath, buckets)

  /** Production bucketed layout for id-keyed corpus tables (documents,
    * embeddings): hash-bucketed AND sorted on the join id, so every
    * id-equi join / semi-join between co-bucketed tables plans with ZERO
    * exchange on either side (proven by `BucketedLayoutSpec` against the
    * final AQE plan). At 100 TB this converts the per-query id shuffle
    * of joins like filtered vector search, decontamination and funnel
    * stages into a pure scan-side merge. Bucket metadata lives in the
    * session catalog (Spark bucketing is table-scoped, not path-scoped);
    * pass `path` to pin the parquet files to an external location.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int, path: Option[String] = None): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .option("maxRecordsPerFile", maxRecordsPerFile)
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** Read a bucketed table back with its bucket metadata attached (a
    * plain `spark.read.parquet` of the same files would lose it).
    */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** D1 physical delete: rewrite the store without rows matching the
    * predicate-bearing `survivors` frame (callers build it via
    * TimeSeries.deleteRange/deleteSince). Partition-granular overwrite.
    */
  def rewrite(survivors: DataFrame, outPath: String): Unit =
    withDay(survivors)
      .sortWithinPartitions(col(SERIES), col(TS_US))
      .write.partitionBy(SERIES, DAY)
      .mode(SaveMode.Overwrite)
      .parquet(outPath)
}
