package graft

import graft.api.Router
import graft.functions.Tags
import graft.model.Canon
import graft.operators.{TimeSeries => TS}
import graft.sources.{ShardStore, TieredStore}
import org.apache.spark.sql.functions.col

/** End-to-end storage integration at sf0.1: the full events corpus through
  * the served store (the [[TieredStore]] that answers HTTP) must answer
  * every core query identically to the direct parquet read — and do it
  * through pruned scans.
  */
class StoreIntegrationSpec extends SparkSuite {
  import spark.implicits._

  private val R1 = 1704844800000000L
  private val R2 = 1705708800000000L

  lazy val direct = Canon.events(spark, "/root/testdata/sf0.1")
  lazy val store: TieredStore = {
    val st = new TieredStore(spark, tmpDir("store_sf01"))
    st.appendDisk(direct)
    st
  }

  test("full corpus round-trips (100k rows, 5 series, 30 day partitions)") {
    assert(store.snapshot.count() == direct.count())
    val Seq(dir) = store.diskVersions.last.dirs
    val bucket = ShardStore.partitionNames(Seq("click"), ShardStore.Buckets).head
    val days = new java.io.File(s"${store.root}/data/v=$dir/$bucket").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("day="))
    assert(days >= 29, s"$days day partitions")
  }

  test("range + tag filter + aggregate identical via store and direct") {
    def run(df: org.apache.spark.sql.DataFrame) =
      TS.aggregate(TS.tagFilter(TS.readRange(df, Seq("click", "error"), R1, R2),
        Seq(Tags.Group("u", Seq("3"), Tags.Eq))), TS.Sum).as[Double].head()
    assert(run(store.snapshot(Seq("click", "error"))) == run(direct))
  }

  test("served range read prunes the ids' buckets and pushes ts_us to the scan") {
    val q = Router.run(store, s"ts/click/range/$R1/$R2")
    val plan = q.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).nonEmpty, plan)
    assert("PushedFilters: \\[[^\\]]*ts_us".r.findFirstIn(plan).nonEmpty, plan)
    assert(q.count() == TS.readRange(direct, Seq("click"), R1, R2).count())
  }

  test("per-series top-n identical via store") {
    def rids(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("ts_us").desc, col("rid").desc).select("rid").as[Long].collect().toSeq
    assert(rids(store.readLast(Seq("click", "view"), 20)) ==
      rids(TS.readLast(direct, Seq("click", "view"), 20)))
  }

  test("mutation lifecycle: split append → compact ×2 → delete → reopen, " +
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
    import StoreTestUtil.parquetFiles
    val want = fp(src)
    // two appends split mid-range: the second is "late" data landing in
    // day partitions interleaved with the first (append-only, no rewrite)
    val root = tmpDir("store_lc")
    val st = new TieredStore(spark, root)
    st.appendDisk(src.filter($"ts_us" < R1))
    st.appendDisk(src.filter($"ts_us" >= R1))
    assert(fp(st.snapshot) == want, "after split append")
    // compaction is file hygiene only — results identical, never more files
    val filesBefore = parquetFiles(root)
    st.compactDisk()
    assert(fp(st.snapshot) == want, "after compact")
    assert(parquetFiles(root) <= filesBefore,
      s"compaction grew the store: $filesBefore -> ${parquetFiles(root)}")
    // idempotence: compacting the compacted store changes nothing
    st.compactDisk()
    assert(fp(st.snapshot) == want, "after re-compact")
    // D1 live delete: the store's survivors must equal the logical delete
    // over the pristine source
    val wantDel = fp(TS.deleteRange(src, Seq("click"), R1, R2))
    assert(wantDel._1 < want._1, "the delete must remove rows")
    assert(st.delete(Seq("click"), R1, R2) == want._1 - wantDel._1)
    assert(fp(st.snapshot) == wantDel, "after delete")
    assert(fp(st.snapshot(Seq("click"))) ==
      fp(TS.deleteRange(src, Seq("click"), R1, R2).filter($"series" === "click")),
      "after delete, series-scoped")
    // the manifest chain alone carries the content across a reopen
    assert(fp(new TieredStore(spark, root).snapshot) == wantDel, "after reopen")
  }
}
