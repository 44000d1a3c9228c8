package graft

import graft.model.Canon.{Datapoint, TagEntry}
import graft.model.Canon
import graft.operators.{TimeSeries => TS}
import graft.sources.{ShardStore, TieredStore}
import org.apache.spark.sql.types.StructType

/** Storage layout: roundtrip fidelity + pruning actually reaching the scan.
  * The pruning assertions are the scale contract: at 100 TB the query must
  * read only the partitions/row-groups its predicate names (SURVEY §4).
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
    ShardStore.append(data.toDF(), p)
    p
  }

  test("roundtrip preserves every row and the canonical schema") {
    val back = ShardStore.read(spark, store)
    assert(back.count() == 1000)
    assert(back.columns.toSeq == Seq("series", "ts_us", "tag", "value", "rid"))
    val row = back.filter($"rid" === 13L)
      .selectExpr("series", "ts_us", "tag[0].value", "value").head()
    assert(row.getString(0) == "beta" && row.getString(2) == "6")
  }

  test("partition layout is series=/day= (the interval-index analog)") {
    val dirs = new java.io.File(store).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("series=alpha", "series=beta"))
    val days = new java.io.File(s"$store/series=alpha").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(days.length >= 10 && days.forall(_.startsWith("day=")))
  }

  test("range read prunes partitions and pushes ts filter to the scan") {
    val q = ShardStore.readRange(spark, store, Seq("alpha"),
      1704067200000000L + 2 * DAY_US, 1704067200000000L + 3 * DAY_US)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("PushedFilters") && plan.contains("ts_us"), plan)
    // correctness of the pruned read
    val viaStore = q.select("rid").as[Long].collect().toSet
    val viaMemory = TS.readRange(data.toDF(), Seq("alpha"),
      1704067200000000L + 2 * DAY_US, 1704067200000000L + 3 * DAY_US)
      .select("rid").as[Long].collect().toSet
    assert(viaStore == viaMemory)
  }

  test("append twice = bag union (late data lands without rewrites)") {
    val p = tmpDir("shardstore2")
    ShardStore.append(data.take(10).toDF(), p)
    ShardStore.append(data.take(10).toDF(), p)
    assert(ShardStore.read(spark, p).count() == 20)
  }

  test("partition names round-trip on both layouts: encoded = written dirs, decode selects them") {
    // ids Spark must escape in a partition path, plus a non-ASCII one
    val odd = Seq("a/b", "a=b", "100%", "{x}", "a:b", "\u00e9t\u00e9")
    // the flat layout names a dir after the raw id: an id the JVM's
    // file-name charset cannot encode (a non-UTF-8 locale) never reaches
    // disk intact, so it joins the flat case only where it can
    val fsCharset = java.nio.charset.Charset.forName(System.getProperty("sun.jnu.encoding"))
    val neighbours = Seq("a", "b", "x", "100")
    def rows(ids: Seq[String]) = ids.zipWithIndex.flatMap { case (s, i) =>
      (0L until 3L).map(j =>
        Datapoint(s, 1704067200000000L + j * DAY_US, None, j.toDouble, i * 10L + j))
    }
    Seq(None, Some(4)).foreach { layout =>
      val ids = odd.filter(id => layout.nonEmpty || fsCharset.newEncoder().canEncode(id))
      val all = ids ++ neighbours
      val p = tmpDir("shardstore_names")
      val df = rows(all).toDF()
      layout.fold(ShardStore.append(df, p))(ShardStore.appendBucketed(df, p, _))
      val dirs = new java.io.File(p).listFiles().filter(_.isDirectory).map(_.getName).toSet
      assert(ShardStore.partitionNames(all, layout).toSet == dirs, s"$layout: $dirs")
      val raw = spark.read
        .schema(StructType(Canon.schema.fields ++ ShardStore.partitionFields(layout)))
        .parquet(p)
      def seriesOf(df: org.apache.spark.sql.DataFrame) =
        df.select("series").distinct().as[String].collect().toSet
      def decoded(xs: Seq[String]) = seriesOf(raw.filter(
        ShardStore.partitionsNamed(ShardStore.partitionNames(xs, layout), layout)))
      (ids.map(Seq(_)) :+ ids).foreach { xs =>
        // decode(encode(xs)) is the forward filter's selection: flat —
        // exactly the xs; bucketed — their buckets, co-resident ids too
        val sel = decoded(xs)
        assert(sel == seriesOf(raw.filter(ShardStore.partitionsOf(xs, layout))), s"$layout $xs")
        assert(if (layout.isEmpty) sel == xs.toSet else xs.toSet.subsetOf(sel), s"$layout $xs")
      }
      // a live delete of each such id in turn spares its neighbours,
      // co-resident series of a bucketed partition included
      val st = new TieredStore(spark, tmpDir("shardstore_names_live"), seriesBuckets = layout)
      st.appendDisk(df)
      ids.indices.foreach { k =>
        assert(st.delete(Seq(ids(k)), Long.MinValue, Long.MaxValue) == 3L, s"$layout ${ids(k)}")
        val left = st.snapshot.select("series", "rid").as[(String, Long)].collect().toSet
        val want = rows(all).filterNot(d => ids.take(k + 1).contains(d.series))
          .map(d => (d.series, d.rid)).toSet
        assert(left == want, s"$layout ${ids(k)}")
      }
    }
  }

  test("rewrite (delete path) drops matched rows from the store") {
    val p = tmpDir("shardstore3")
    ShardStore.append(data.take(100).toDF(), p)
    val survivors = TS.deleteRange(ShardStore.read(spark, p), Seq("alpha"),
      1704067200000000L, 1704067200000000L + DAY_US)
    ShardStore.rewrite(survivors, p + "_v2")
    val back = ShardStore.read(spark, p + "_v2")
    assert(back.filter($"series" === "alpha").count() < 50)
    assert(back.filter($"series" === "beta").count() == 50)
  }
}
