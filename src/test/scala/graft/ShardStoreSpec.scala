package graft

import graft.model.Canon.{Datapoint, TagEntry}
import graft.model.Canon
import graft.operators.{TimeSeries => TS}
import graft.sources.{ShardStore, TieredStore, VersionedStore}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Storage layout: roundtrip fidelity + pruning actually reaching the scan,
  * through the manifest chain that is the only way to disk. The pruning
  * assertions are the scale contract: at 100 TB the query must read only
  * the partitions/row-groups its predicate names (SURVEY §4).
  */
class ShardStoreSpec extends SparkSuite {
  import spark.implicits._

  private val DAY_US = 86400000000L

  lazy val data = (0 until 1000).map { i =>
    Datapoint(if (i % 2 == 0) "alpha" else "beta",
      1704067200000000L + i * (DAY_US / 100), // 10 days of data
      Some(Seq(TagEntry("k", (i % 7).toString))),
      i.toDouble, i.toLong)
  }

  lazy val store: String = {
    val p = tmpDir("shardstore")
    VersionedStore.append(data.toDF(), p)
    p
  }

  test("roundtrip preserves every row and the canonical schema") {
    val back = VersionedStore.read(spark, store)
    assert(back.count() == 1000)
    assert(back.columns.toSeq == Seq("series", "ts_us", "tag", "value", "rid"))
    val row = back.filter($"rid" === 13L)
      .selectExpr("series", "ts_us", "tag[0].value", "value").head()
    assert(row.getString(0) == "beta" && row.getString(2) == "6")
  }

  test("partition layout is bucket=/day= (the interval-index analog)") {
    // one commit, one data dir: data/v=<dir>/bucket=<b>/day=<yyyy-MM-dd>
    val Seq(dir) = VersionedStore.versions(spark, store).last.dirs
    assert(new java.io.File(s"$store/data").list().toSeq == Seq(s"v=$dir"))
    val dirs = new java.io.File(s"$store/data/v=$dir").listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(dirs.toSeq == ShardStore.partitionNames(Seq("alpha", "beta"), ShardStore.Buckets).sorted)
    dirs.foreach { d =>
      val days = new java.io.File(s"$store/data/v=$dir/$d").listFiles().filter(_.isDirectory).map(_.getName)
      assert(days.length >= 10 && days.forall(_.startsWith("day=")), d)
    }
  }

  test("range read prunes partitions and pushes ts filter to the scan") {
    // the served range read: the ids' snapshot, then the range filter
    val st = new TieredStore(spark, store)
    val q = TS.readRange(st.snapshot(Seq("alpha")), Seq("alpha"),
      1704067200000000L + 2 * DAY_US, 1704067200000000L + 3 * DAY_US)
    val plan = q.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).nonEmpty, plan)
    assert("PushedFilters: \\[[^\\]]*ts_us".r.findFirstIn(plan).nonEmpty, plan)
    // correctness of the pruned read
    val viaStore = q.select("rid").as[Long].collect().toSet
    val viaMemory = TS.readRange(data.toDF(), Seq("alpha"),
      1704067200000000L + 2 * DAY_US, 1704067200000000L + 3 * DAY_US)
      .select("rid").as[Long].collect().toSet
    assert(viaStore == viaMemory)
  }

  test("append twice = bag union (late data lands without rewrites)") {
    val p = tmpDir("shardstore2")
    VersionedStore.append(data.take(10).toDF(), p)
    VersionedStore.append(data.take(10).toDF(), p)
    assert(VersionedStore.read(spark, p).count() == 20)
    // the second commit carries the first's dir by reference
    val Seq(v1, v2) = VersionedStore.versions(spark, p)
    assert(v2.dirs.size == 2 && v2.dirs.contains(v1.dirs.head))
  }

  test("partition names round-trip: encoded = written dirs, decode selects them") {
    // ids a path would have to escape, plus a non-ASCII one: none of them
    // reaches the file system, a partition dir is named by its bucket
    val odd = Seq("a/b", "a=b", "100%", "{x}", "a:b", "\u00e9t\u00e9")
    val all = odd ++ Seq("a", "b", "x", "100")
    val rows = all.zipWithIndex.flatMap { case (s, i) =>
      (0L until 3L).map(j =>
        Datapoint(s, 1704067200000000L + j * DAY_US, None, j.toDouble, i * 10L + j))
    }
    val df = rows.toDF()
    val buckets = 4 // few buckets, so some ids share one
    val p = tmpDir("shardstore_names")
    ShardStore.append(df, p, buckets)
    val dirs = new java.io.File(p).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(ShardStore.partitionNames(all, buckets).toSet == dirs, dirs)
    val raw = spark.read
      .schema(StructType(Canon.schema.fields ++ ShardStore.partitionFields))
      .parquet(p)
    def seriesOf(df: org.apache.spark.sql.DataFrame) =
      df.select("series").distinct().as[String].collect().toSet
    (odd.map(Seq(_)) :+ odd).foreach { xs =>
      // decode(encode(xs)) is the forward filter's selection: the xs'
      // buckets, co-resident ids too
      val sel = seriesOf(raw.filter(
        ShardStore.partitionsNamed(ShardStore.partitionNames(xs, buckets))))
      assert(sel == seriesOf(raw.filter(ShardStore.partitionsOf(xs, buckets))), xs)
      assert(xs.toSet.subsetOf(sel), xs)
    }
    // a live delete of each such id in turn spares every other id
    val st = new TieredStore(spark, tmpDir("shardstore_names_live"))
    st.appendDisk(df)
    odd.indices.foreach { k =>
      assert(st.delete(Seq(odd(k)), Long.MinValue, Long.MaxValue) == 3L, odd(k))
      val left = st.snapshot.select("series", "rid").as[(String, Long)].collect().toSet
      val want = rows.filterNot(d => odd.take(k + 1).contains(d.series))
        .map(d => (d.series, d.rid)).toSet
      assert(left == want, odd(k))
    }
  }

  test("deletePartitions (delete path) drops matched rows from the store") {
    val p = tmpDir("shardstore3")
    VersionedStore.append(data.take(100).toDF(), p)
    val tip = VersionedStore.versions(spark, p).last
    // the rewrite unit is alpha's bucket: its rows whole, minus the matched
    val affected = VersionedStore.read(spark, p).filter(
      ShardStore.bucketCol(col("series"), tip.buckets) === ShardStore.bucketOf("alpha", tip.buckets))
    val matched = TS.deleteMatch(Seq("alpha"), 1704067200000000L, 1704067200000000L + DAY_US)
    val deleted = affected.filter(matched).count()
    VersionedStore.deletePartitions(affected.filter(!matched), p,
      ShardStore.partitionNames(Seq("alpha"), tip.buckets), tip)
    val back = VersionedStore.read(spark, p)
    assert(deleted > 0 && back.count() == 100 - deleted)
    assert(back.filter($"series" === "alpha").count() < 50)
    assert(back.filter($"series" === "beta").count() == 50)
  }
}
