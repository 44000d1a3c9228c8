package graft

import graft.functions.Tags
import graft.model.Canon
import graft.operators.{TimeSeries => TS}
import graft.sources.ShardStore

/** End-to-end storage integration at sf0.1: the full events corpus through
  * the partitioned store must answer every core query identically to the
  * direct parquet read — and do it through pruned scans.
  */
class StoreIntegrationSpec extends SparkSuite {
  import spark.implicits._

  private val R1 = 1704844800000000L
  private val R2 = 1705708800000000L

  lazy val direct = Canon.events(spark, "/root/testdata/sf0.1")
  lazy val store: String = {
    val p = tmpDir("store_sf01")
    ShardStore.append(direct, p)
    p
  }

  private def viaStore = ShardStore.read(spark, store)

  test("full corpus round-trips (100k rows, 5 series, 30 day partitions)") {
    assert(viaStore.count() == direct.count())
    val days = new java.io.File(
      s"$store/${ShardStore.partitionNames(Seq("click"), ShardStore.Buckets).head}").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("day="))
    assert(days >= 29, s"$days day partitions")
  }

  test("range + tag filter + aggregate identical via store and direct") {
    def run(df: org.apache.spark.sql.DataFrame) =
      TS.aggregate(TS.tagFilter(TS.readRange(df, Seq("click", "error"), R1, R2),
        Seq(Tags.Group("u", Seq("3"), Tags.Eq))), TS.Sum).as[Double].head()
    assert(run(viaStore) == run(direct))
  }

  test("pruned store range read touches only the partitions in range") {
    val q = ShardStore.readRange(spark, store, Seq("click"), R1, R2)
    val files = q.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.toString.split('\n')).mkString("\n")
    assert(q.count() == TS.readRange(direct, Seq("click"), R1, R2).count())
    val scanned = q.rdd.partitions.length // post-pruning input partitions
    assert(scanned > 0)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"), plan)
  }

  test("per-series top-n identical via store") {
    val a = TS.readLast(viaStore, Seq("click", "view"), 20).select("rid").as[Long].collect().toSeq
    val b = TS.readLast(direct, Seq("click", "view"), 20).select("rid").as[Long].collect().toSeq
    assert(a == b)
  }

  test("mutation lifecycle: split append → compact ×2 → delete-rewrite → bucketed, " +
      "results identical at every step") {
    // The reference's S4 overlap-merge invariant (timeseries.re:119-156):
    // storage mutations never change query results. Expressed here as one
    // store driven through the full mutation lifecycle with an
    // order-independent content fingerprint checked after every step.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val src = Canon.events(spark, "/root/testdata/sf0.01")
    def fp(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)),
        sum(hash(col("series"), col("ts_us"), col("tag"), col("value"),
          col("rid")).cast("long"))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    def parquetFiles(p: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(p))
    }
    val want = fp(src)
    // two appends split mid-range: the second is "late" data landing in
    // day partitions interleaved with the first (append-only, no rewrite)
    val p1 = tmpDir("store_lc")
    ShardStore.append(src.filter($"ts_us" < R1), p1)
    ShardStore.append(src.filter($"ts_us" >= R1), p1)
    assert(fp(ShardStore.read(spark, p1)) == want, "after split append")
    // compaction is file hygiene only — results identical, never more files
    val p2 = tmpDir("store_lc_c1")
    ShardStore.compact(spark, p1, p2)
    assert(fp(ShardStore.read(spark, p2)) == want, "after compact")
    assert(parquetFiles(p2) <= parquetFiles(p1),
      s"compaction grew the store: ${parquetFiles(p1)} -> ${parquetFiles(p2)}")
    // idempotence: compacting the compacted store changes nothing
    val p3 = tmpDir("store_lc_c2")
    ShardStore.compact(spark, p2, p3)
    assert(fp(ShardStore.read(spark, p3)) == want, "after re-compact")
    // D1 delete-rewrite: survivors of a range delete, rewritten physically,
    // must equal the logical delete over the pristine source
    val survivors = TS.deleteRange(ShardStore.read(spark, p3), Seq("click"), R1, R2)
    val p4 = tmpDir("store_lc_d")
    ShardStore.rewrite(survivors, p4)
    val wantDel = fp(TS.deleteRange(src, Seq("click"), R1, R2))
    assert(wantDel._1 < want._1, "the delete must remove rows")
    assert(fp(ShardStore.read(spark, p4)) == wantDel, "after delete-rewrite")
    // bucketed production rewrite of the mutated store: same content again
    try {
      ShardStore.writeBucketed(ShardStore.read(spark, p4),
        "store_lc_bucketed", "series", 4)
      assert(fp(ShardStore.readBucketed(spark, "store_lc_bucketed")
        .select("series", "ts_us", "tag", "value", "rid")) == wantDel,
        "after bucketed rewrite")
    } finally spark.sql("DROP TABLE IF EXISTS store_lc_bucketed")
  }
}
