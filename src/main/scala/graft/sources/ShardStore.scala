package graft.sources

import graft.model.Canon._
import java.util.concurrent.{Callable, Executors}
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.LongStatistics
import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField}
import scala.jdk.CollectionConverters._

/** S3-S5: the storage layer — partitioned Parquet replacing the reference's
  * Irmin/Git shard store + interval index (SURVEY.md §1.3-1.4, §4).
  *
  * Reference layout: one Git KV entry per shard keyed `[series, t1, t2]`
  * (`/root/reference/src/timeseries.re:94-98`) plus a per-series interval
  * index (`src/index.re`) used to prune shards on since/range reads
  * (`src/index.re:92-105`), with overlap-merge compaction on every spill
  * (`src/timeseries.re:119-156`).
  *
  * Spark-first replacement: `bucket=<b>/day=<yyyy-MM-dd>/part-*.parquet`,
  * where `b` is the series id hashed into a fixed bucket count and
  * `series` is an ordinary column.
  *  - partition pruning on `bucket` and `day` IS the interval index — the
  *    driver never lists files outside the queried series' buckets and
  *    time range; inside a bucket, rows are sorted by (series, ts_us), so
  *    parquet row-group min/max stats skip a bucket's foreign series and
  *    prune inside a day — the Complete/Partial shard classification
  *    (`src/timeseries.re:569-588`) for free;
  *  - a write creates at most buckets × days dirs, independent of series
  *    cardinality, and a partition dir name is a number: no series id,
  *    whatever its characters or the file system's charset, ever becomes
  *    a path;
  *  - overlap-merge compaction is unnecessary for correctness (overlapping
  *    files are fine); `compact()` exists for file hygiene only;
  *  - at 100 TB: writes scale out per (bucket, day); no global
  *    coordination, no driver-side index, append-only — late data just
  *    lands in its own (old-day) partition, giving the reference's
  *    unbounded lateness tolerance without rewrites.
  *
  * This object is the ONE owner of the on-disk layout: the partitioning,
  * the partition columns and their types, and the partition dir names.
  * Every other module ([[TieredStore]]'s pruned reads and deletes,
  * [[VersionedStore]]'s skip and `max` lines and read schema) asks these functions,
  * passing the bucket count the data was written with (a
  * [[VersionedStore]] manifest records it per commit).
  */
object ShardStore {

  private val DAY = "day"
  val BUCKET = "bucket"
  /** Bucket count of a new store: enough write parallelism, a bounded dir
    * count per write; series stay row-group-sorted inside each bucket, so
    * any cardinality prunes well. */
  val Buckets = 64
  /** Shard-size analog (`--shard-size`, reference `src/main.re:10`): caps
    * file size so single-partition hotspots still parallelize on read.
    */
  val maxRecordsPerFile = 5000000L

  /** Bucket id of a series as a Column (write path / plan side): CRC32 mod
    * buckets — public, bit-identical to [[bucketOf]]. */
  def bucketCol(series: Column, buckets: Int): Column =
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

  /** The pre-write repartition on (bucket, day) makes each output dir
    * receive files from few tasks — file count tracks data volume, not
    * series count; sorting by (series, ts_us) inside each makes parquet
    * row-group stats tight → row-group pruning on series and time. */
  private def write(df: DataFrame, path: String, buckets: Int, mode: SaveMode): Unit =
    df.withColumn(BUCKET, bucketCol(col(SERIES), buckets))
      .withColumn(DAY, date_format(timestamp_micros(col(TS_US)), "yyyy-MM-dd"))
      .repartition(col(BUCKET), col(DAY))
      .sortWithinPartitions(col(SERIES), col(TS_US))
      .write
      .partitionBy(BUCKET, DAY)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode(mode)
      .parquet(path)

  /** Append canonical datapoints. */
  def append(df: DataFrame, path: String, buckets: Int = Buckets): Unit =
    write(df, path, buckets, SaveMode.Append)

  /** Read the store back in canonical form (partition columns dropped). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(col(SERIES), col(TS_US), col(TAG), col(VALUE), col(RID))

  /** Range read that lets Catalyst prune partitions: the ids' buckets and
    * the `day` bounds derived from the µs bounds land on the partition
    * columns, the exact bounds on `series`/`ts_us` (pushed to row-group
    * stats). The store must have been written with [[Buckets]] buckets.
    */
  def readRange(spark: SparkSession, path: String, ids: Seq[String],
                fromUs: Long, toUs: Long): DataFrame = {
    val raw = spark.read.parquet(path)
    val pruned = raw
      .filter(daysFrom(fromUs))
      .filter(col(DAY) <= dayOf(toUs))
      .filter(col(TS_US).between(fromUs, toUs))
    val bySeries =
      if (ids.isEmpty) pruned
      else pruned.filter(partitionsOf(ids, Buckets)).filter(col(SERIES).isin(ids: _*))
    bySeries.select(col(SERIES), col(TS_US), col(TAG), col(VALUE), col(RID))
  }

  private def dayOf(us: Long): Column = date_format(timestamp_micros(lit(us)), "yyyy-MM-dd")

  /** Filter on the `day` partition column keeping the days that can hold a
    * timestamp at or past `fromUs`. */
  def daysFrom(fromUs: Long): Column = col(DAY) >= dayOf(fromUs)

  /** Filter on the top-level partition column selecting every partition
    * that holds `ids`: their buckets whole, co-resident series included. */
  def partitionsOf(ids: Seq[String], buckets: Int): Column =
    col(BUCKET).isin(ids.map(bucketOf(_, buckets)).distinct: _*)

  /** The top-level partition dir names holding `ids` — the names a
    * manifest `skip` line carries. [[partitionsNamed]] is the inverse. */
  def partitionNames(ids: Seq[String], buckets: Int): Seq[String] =
    ids.map(x => s"$BUCKET=${bucketOf(x, buckets)}").distinct

  /** Filter selecting the partitions named by top-level dir `names` (as
    * [[partitionNames]] encodes them). It lands on the partition column,
    * so Catalyst prunes at listing time: a name the data never held costs
    * no IO. */
  def partitionsNamed(names: Seq[String]): Column =
    col(BUCKET).isin(names.map(_.stripPrefix(BUCKET + "=").toLong): _*)

  /** The newest `ts_us` in each top-level partition of the files under
    * `path`, keyed by [[partitionNames]]' encoding: the max of the
    * footers' column statistics, so no Spark job runs. It walks
    * `bucket=<b>/day=<d>` with `listStatus`; empty when no file was
    * written. A footer without `ts_us` statistics gives `Long.MaxValue`,
    * a bound no buffered point can pass. The buckets are walked on up to
    * [[FooterThreads]] threads: a bulk write or a compaction leaves one
    * file per (bucket, day). */
  private[sources] def partitionMaxTs(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def children(p: Path, key: String) =
      fs.listStatus(p).toSeq.filter(st => st.isDirectory && st.getPath.getName.startsWith(key + "="))
    def fileMax(st: org.apache.hadoop.fs.FileStatus): Long =
      ParquetFileReader.readFooter(conf, st, NO_FILTER).getBlocks.asScala.iterator
        .map(_.getColumns.asScala.find(_.getPath.toDotString == TS_US).map(_.getStatistics) match {
          case Some(s: LongStatistics) if s.hasNonNullValue => s.getMax
          case _ => Long.MaxValue
        }).foldLeft(Long.MinValue)(math.max)
    def bucketMax(b: Path): Option[Long] = {
      val files = children(b, DAY).flatMap(d => fs.listStatus(d.getPath))
        .filter(_.getPath.getName.endsWith(".parquet"))
      if (files.isEmpty) None else Some(files.map(fileMax).max)
    }
    if (!fs.exists(root)) Nil
    else {
      val buckets = children(root, BUCKET).map(_.getPath)
      val pool = Executors.newFixedThreadPool(math.max(1, math.min(FooterThreads, buckets.size)))
      try buckets.map(b => b.getName -> pool.submit(new Callable[Option[Long]] {
          def call() = bucketMax(b)
        })).flatMap { case (name, m) => m.get.map(name -> _) }.sortBy(_._1)
      finally pool.shutdown()
    }
  }

  private val FooterThreads = 8

  /** The partition columns beyond the canonical schema, with their types. */
  val partitionFields: Seq[StructField] =
    Seq(StructField(BUCKET, LongType), StructField(DAY, StringType))

  /** File-hygiene compaction (the overlap-merge analog, S4): every append
    * drops ≥1 file into each touched `bucket=/day=` dir, so a long-lived
    * store accretes O(appends × dirs) small files. One rewrite through
    * the writer's (bucket, day) repartition coalesces each dir to
    * task-count files (typically 1) with the same within-file (series,
    * ts_us) sort — content identical, row-group stats as tight as a
    * fresh write; correctness never depends on it. Out-of-place; the live
    * in-place form is `TieredStore.compactDisk` (manifest-chain commit +
    * expiry).
    */
  def compact(spark: SparkSession, path: String, outPath: String,
              buckets: Int = Buckets): Unit =
    append(read(spark, path), outPath, buckets)

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
    * TimeSeries.deleteRange/deleteSince), overwriting `outPath`.
    */
  def rewrite(survivors: DataFrame, outPath: String): Unit =
    write(survivors, outPath, Buckets, SaveMode.Overwrite)
}
