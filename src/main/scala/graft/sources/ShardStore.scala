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
  *  - partition pruning on `bucket` is half the interval index — a
  *    series-scoped read never lists files outside the queried series'
  *    buckets; inside a bucket, rows are sorted by (series, ts_us), so
  *    parquet row-group min/max stats skip a bucket's foreign series and
  *    prune by time — the Complete/Partial shard classification
  *    (`src/timeseries.re:569-588`) for free. The other half is the
  *    manifest's per-(dir, bucket) `max` lines ([[VersionedStore]]);
  *    `day` prunes only the overlap probe ([[daysFrom]]);
  *  - a write creates at most buckets × days dirs, independent of series
  *    cardinality, and a partition dir name is a number: no series id,
  *    whatever its characters or the file system's charset, ever becomes
  *    a path;
  *  - overlap-merge compaction is unnecessary for correctness (overlapping
  *    files are fine); [[VersionedStore.compact]] (live:
  *    `TieredStore.compactDisk`) exists for file hygiene only;
  *  - at 100 TB: writes scale out per (bucket, day); no global
  *    coordination, no driver-side index, append-only — late data just
  *    lands in its own (old-day) partition, giving the reference's
  *    unbounded lateness tolerance without rewrites.
  *
  * This object is the ONE owner of the on-disk layout: the partitioning,
  * the partition columns and their types, and the partition dir names.
  * It has no read, delete or compaction of its own: a series persists
  * only through the [[VersionedStore]] manifest chain, whose data dirs
  * this writer fills. Every other module ([[TieredStore]]'s pruned reads
  * and deletes, [[VersionedStore]]'s skip and `max` lines and read
  * schema) asks these functions, passing the bucket count the data was
  * written with (a [[VersionedStore]] manifest records it per commit).
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
  private val maxRecordsPerFile = 5000000L

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

  /** Append canonical datapoints under `path`. The pre-write repartition
    * on (bucket, day) makes each output dir receive files from few tasks —
    * file count tracks data volume, not series count; sorting by (series,
    * ts_us) inside each makes parquet row-group stats tight → row-group
    * pruning on series and time. Only [[VersionedStore]] writes here, one
    * fresh data dir per commit: a bare path has no manifest, so nothing
    * else can read it as a store. */
  private[graft] def append(df: DataFrame, path: String, buckets: Int): Unit =
    df.withColumn(BUCKET, bucketCol(col(SERIES), buckets))
      .withColumn(DAY, date_format(timestamp_micros(col(TS_US)), "yyyy-MM-dd"))
      .repartition(col(BUCKET), col(DAY))
      .sortWithinPartitions(col(SERIES), col(TS_US))
      .write
      .partitionBy(BUCKET, DAY)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode(SaveMode.Append)
      .parquet(path)

  /** Filter on the `day` partition column keeping the days that can hold a
    * timestamp at or past `fromUs`. */
  def daysFrom(fromUs: Long): Column =
    col(DAY) >= date_format(timestamp_micros(lit(fromUs)), "yyyy-MM-dd")

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
}
