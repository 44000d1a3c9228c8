package graft

import graft.api.{Router, Wire}
import graft.model.Canon.{Datapoint, TagEntry}

/** Route-string parity: the reference's exact URL queries, interpreted. */
class RouterSpec extends SparkSuite {
  import spark.implicits._

  private def tag(pairs: (String, String)*) = Some(pairs.map { case (n, v) => TagEntry(n, v) })

  lazy val df = Seq(
    Datapoint("s1", 100L, tag("loc" -> "1", "sci" -> "lang"), 1.0, 1),
    Datapoint("s1", 200L, tag("loc" -> "2", "sci" -> "perp"), 2.0, 2),
    Datapoint("s1", 300L, None, 4.0, 3),
    Datapoint("s2", 150L, tag("loc" -> "1"), 10.0, 4),
    Datapoint("s2", 250L, tag("loc" -> "2"), 20.0, 5)
  ).toDF()

  test("read routes") {
    assert(Router.run(df, "s1,s2/last/1").select("rid").as[Long].collect().toSet == Set(3L, 5L))
    assert(Router.run(df, "s1/first/2").select("rid").as[Long].collect().toSeq == Seq(1L, 2L))
    assert(Router.run(df, "s1,s2/since/200").count() == 3)
    assert(Router.run(df, "s2/range/100/200/count").as[Double].head() == 1.0)
    assert(Router.run(df, "names").as[String].collect().toSeq == Seq("s1", "s2"))
    assert(Router.run(df, "s1/length").as[Long].head() == 3L)
  }

  test("xargs filter + aggregate routes") {
    // multi-value OR: the name repeats per value (zip semantics, shard.re:176-180)
    assert(Router.run(df, "s1,s2/last/10/filter/loc,loc/equals/1,2/sum")
      .as[Double].head() == 33.0)
    assert(Router.run(df, "s1/last/10/filter/sci/contains/per")
      .select("rid").as[Long].collect().toSeq == Seq(2L))
    assert(Router.run(df, "s1,s2/since/0/mean").as[Double].head() == 37.0 / 5)
  }

  test("bad routes reject") {
    intercept[IllegalArgumentException] { Router.run(df, "s1/lastish/3") }
    intercept[IllegalArgumentException] { Router.run(df, "s1/last/3/p99") }
    intercept[IllegalArgumentException] { Router.run(df, "s1/last/3/filter/a/like/b") }
  }

  test("every reference GET route string dispatches (main.re:177-192)") {
    // ts_us chosen so s1 spans two utc-day shards, s2 one
    val day = 86400000000L
    val idx = Seq(
      Datapoint("s1", 100L, None, 1.0, 1),
      Datapoint("s1", day + 500L, None, 2.0, 2),
      Datapoint("s2", 300L, None, 3.0, 3)
    ).toDF()
    // the five routes wired in r8, flat-frame overload:
    assert(Router.run(idx, "s1,s2/index/length").as[Long].head() == 3L)
    val shards = Router.run(idx, "s1/index")
      .select("shard_day_us", "min_ts_us", "max_ts_us", "length")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(shards == Seq((0L, 100L, 100L, 1L), (day, day + 500L, day + 500L, 1L)))
    // a comma list on the single-id index route must REJECT, not filter
    // for a series literally named "s1,s2" (plausible-looking empty frame)
    intercept[IllegalArgumentException] { Router.run(idx, "s1,s2/index") }
    assert(Router.run(idx, "info/ts/names").as[String].collect().toSeq == Seq("s1", "s2"))
    assert(Router.run(idx, "info/ts/stats").select("series", "length")
      .as[(String, Long)].collect().toSeq == Seq(("s1", 2L), ("s2", 1L)))
    assert(Router.run(idx, "ctl/ts/sync").head().getString(0) == "ok")
    // full reference URL paths replay with the ts/ prefix intact
    assert(Router.run(idx, "ts/s1/last/1").select("rid").as[Long].head() == 2L)
    assert(Router.run(idx, "/ts/s1,s2/length").as[Long].head() == 3L)
    // every GET route shape from the reference dispatch table runs
    val all = Seq("ts/s1/last/2", "ts/s1/latest", "ts/s1/first/2", "ts/s1/earliest",
      "ts/s1/since/0", "ts/s1/range/0/500", "ts/s1/length", "ts/s1,s2/index/length",
      "ts/s1/index", "info/ts/names", "info/ts/stats", "info/status", "ctl/ts/sync")
    all.foreach(r => assert(Router.run(idx, r).collect().nonEmpty, r))
  }

  test("ctl/ts/sync against a live store flushes every buffered series") {
    import graft.sources.TieredStore
    val st = new TieredStore(spark, tmpDir("routersync"))
    st.appendDisk(Seq(Datapoint("s1", 100L, None, 1.0, 1)).toDF())
    st.appendMemory(
      Seq(Datapoint("s1", 900L, None, 2.0, 2), Datapoint("s2", 901L, None, 3.0, 3)).toDF())
    assert(st.bufferedCount() == 2L)
    assert(Router.run(st, "ctl/ts/sync").head().getString(0) == "ok")
    assert(st.bufferedCount() == 0L)
    val split = st.lengthSplit(Seq("s1", "s2")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(split == Seq(("s1", 0L, 2L), ("s2", 0L, 1L)))
    // store overload also replays ts-prefixed reference paths
    assert(Router.run(st, "ts/s1/memory/length").as[Long].head() == 0L)
    assert(Router.run(st, "ts/s1,s2/disk/length").as[Long].head() == 3L)
    // idempotent second sync
    assert(Router.run(st, "ctl/ts/sync").head().getString(0) == "ok")
  }

  test("info/status and a no-op sync touch nothing under the store's data dir") {
    import graft.sources.TieredStore
    val root = tmpDir("routerhealth")
    new TieredStore(spark, root).appendDisk((0L until 50L).map(i =>
      Datapoint(s"s${i % 5}", 100L + i, None, i.toDouble, i)).toDF())
    val st = new TieredStore(spark, root) // reopened: no relation built yet
    def dataCalls(op: => Unit): Int = {
      DataCallFs.count.set(0)
      DataCallFs.under = new java.io.File(root, "data").getCanonicalPath
      spark.conf.set("fs.file.impl", classOf[DataCallFs].getName)
      spark.conf.set("fs.file.impl.disable.cache", "true")
      try op finally {
        spark.conf.unset("fs.file.impl")
        spark.conf.unset("fs.file.impl.disable.cache")
      }
      DataCallFs.count.get
    }
    // the counter sees a whole-store read
    assert(dataCalls(Router.run(st, "names").collect()) > 0)
    val fresh = new TieredStore(spark, root)
    assert(dataCalls(assert(Router.run(fresh, "info/status").head().getString(0) == "ok")) == 0,
      "info/status")
    assert(dataCalls(assert(Router.run(fresh, "ctl/ts/sync").head().getString(0) == "ok")) == 0,
      "no-op sync")
  }

  test("POST ts/<id>: single point, batch array, quarantine — read back through GET") {
    import graft.sources.TieredStore
    val st = new TieredStore(spark, tmpDir("router_post"))
    // single object (reference post_req `O(_)` branch)
    val r1 = Router.runPost(st, "ts/s1",
      """{"timestamp": 1704067200000000, "value": 1.5}""")
      .as[(Long, Long)].head()
    assert(r1 == ((1L, 0L)))
    // array body (the `A(lis)` branch) with one invalid element: good
    // elements land, the bad one quarantines (count surfaced)
    val r2 = Router.runPost(st, "ts/s1",
      """[{"timestamp": 1704067200000001, "value": 2.5},
        | {"nope": 1},
        | {"timestamp": 1704067200000002, "tag": [{"loc": "x"}], "value": 3.5}]""".stripMargin)
      .as[(Long, Long)].head()
    assert(r2 == ((2L, 1L)))
    // the posted points answer through the GET surface, tier-invisibly
    assert(Router.run(st, "ts/s1/length").as[Long].head() == 3L)
    assert(Router.run(st, "ts/s1/last/1").select("value").as[Double].head() == 3.5)
    assert(Router.run(st, "ts/s1/last/10/filter/loc/equals/x/count").as[Double].head() == 1.0)
    // tiny spill threshold: the POST path spills per series like the
    // streaming ingest (buffer drains to disk, answers unchanged)
    val r3 = Router.runPost(st, "ts/s2",
      """[{"timestamp": 1, "value": 1}, {"timestamp": 2, "value": 2}]""",
      spillThreshold = 2L).as[(Long, Long)].head()
    assert(r3 == ((2L, 0L)))
    assert(Router.run(st, "ts/s2/disk/length").as[Long].head() == 2L)
    intercept[IllegalArgumentException] { Router.runPost(st, "ts/a/b/c", "{}") }
  }

  test("POST of an in-order array past the disk bound: last/n reads memory only") {
    import graft.sources.TieredStore
    val st = new TieredStore(spark, tmpDir("router_post_tail"))
    st.appendDisk(Seq(Datapoint("h", 100L, None, 1.0, 1), Datapoint("h", 200L, None, 2.0, 2),
      Datapoint("h", 300L, None, 3.0, 3)).toDF())
    // ten points in time order; their content-hash rids are in no order
    val body = (0 until 10).map(i => s"""{"timestamp": ${1000 + i}, "value": $i}""")
      .mkString("[", ",", "]")
    assert(Router.runPost(st, "ts/h", body).as[(Long, Long)].head() == ((10L, 0L)))
    val q = Router.run(st, "ts/h/last/5")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan"), plan) // M1: the buffer alone answers
    assert(q.select("ts_us").as[Long].collect().toSeq == (1009L to 1005L by -1L))
    assert(Router.run(st, "ts/h/memory/length").as[Long].head() == 10L) // not flushed
  }

  test("POST acks: empty, all-invalid and spilling bodies; no job of the route's own") {
    import graft.sources.TieredStore
    import org.scalatest.concurrent.{Signaler, ThreadSignaler}
    import org.scalatest.concurrent.TimeLimits.failAfter
    import org.scalatest.time.SpanSugar._
    // each case is bounded, so a POST that blocks fails the test
    implicit val signaler: Signaler = ThreadSignaler
    val st = new TieredStore(spark, tmpDir("router_post_ack"))
    def post(body: String, spill: Long = 20000L): ((Long, Long), Seq[String]) =
      failAfter(120.seconds) {
        JobProbe.sites(spark) {
          Router.runPost(st, "ts/p", body, spillThreshold = spill).as[(Long, Long)].head()
        }
      }
    val (empty, s1) = post("[]")
    assert(empty == ((0L, 0L)))
    val (bad, s2) = post("""[{"nope": 1}, 5, "x", {"value": "42"}]""")
    assert(bad == ((0L, 4L)))
    assert(st.bufferedCount() == 0L)
    // 8 points past a threshold of 5: acked in full, spilled to disk
    val body = (0 until 8).map(i => s"""{"timestamp": ${100 + i}, "value": $i}""")
      .mkString("[", ",", "]")
    val (spilled, s3) = post(body, spill = 5L)
    assert(spilled == ((8L, 0L)))
    assert(Router.run(st, "ts/p/disk/length").as[Long].head() == 8L)
    assert(Router.run(st, "ts/p/memory/length").as[Long].head() == 0L)
    // none of the jobs the route started (the ack frame's own `head`
    // aside) is Router's
    val routeSites = Seq(s1, s2, s3).flatten.filterNot(_.contains("RouterSpec.scala"))
    assert(routeSites.nonEmpty && !routeSites.exists(_.contains("Router.scala")), routeSites)
  }

  test("a POST that spills nothing runs no job") {
    import graft.sources.TieredStore
    val st = new TieredStore(spark, tmpDir("router_post_no_job"))
    val body = """[{"timestamp": 100, "value": 1}, {"nope": 1}, {"timestamp": 101, "value": 2}]"""
    val (ack, sites) = JobProbe.sites(spark)(Router.runPost(st, "ts/j", body))
    assert(sites.isEmpty, sites)
    assert(ack.as[(Long, Long)].head() == ((2L, 1L)))
    assert(st.bufferedCount() == 2L)
  }

  test("a spilling POST runs only its write's jobs") {
    import graft.sources.TieredStore
    val st = new TieredStore(spark, tmpDir("router_post_spill_jobs"))
    val body = (0 until 4).map(i => s"""{"timestamp": ${100 + i}, "value": $i}""")
      .mkString("[", ",", "]")
    val (ack, sites) = JobProbe.sites(spark)(Router.runPost(st, "ts/w", body, spillThreshold = 3L))
    assert(sites.nonEmpty && sites.forall(s =>
      s.contains("ShardStore.scala") || s.contains("VersionedStore.scala")), sites)
    assert(ack.as[(Long, Long)].head() == ((4L, 0L)))
    assert(st.bufferedCount() == 0L)
    assert(Router.run(st, "ts/w/disk/length").as[Long].head() == 4L)
  }

  test("POST: a timestamp outside the 64-bit range quarantines its element, not the batch") {
    import graft.sources.TieredStore
    val st = new TieredStore(spark, tmpDir("router_post_ts_range"))
    val body = Seq("12345678901234567890", "9.3e18", "-9.3e18", "1e400", "1704067200000000")
      .map(t => s"""{"timestamp": $t, "value": 1}""").mkString("[", ",", "]")
    assert(Router.runPost(st, "ts/r", body).as[(Long, Long)].head() == ((1L, 4L)))
    assert(Router.run(st, "ts/r/last/5").select("ts_us").as[Long].collect().toSeq ==
      Seq(1704067200000000L))
  }

  test("DELETE against a live store: buffer flush, shard rewrite, reads see it") {
    import graft.sources.TieredStore
    val st = new TieredStore(spark, tmpDir("router_delete"))
    st.appendDisk(Seq(
      Datapoint("s1", 100L, tag("u" -> "3"), 1.0, 1),
      Datapoint("s1", 200L, tag("u" -> "5"), 2.0, 2),
      Datapoint("s1", 300L, None, 4.0, 3),
      Datapoint("s2", 150L, tag("u" -> "3"), 10.0, 4)).toDF())
    // a buffered point inside the delete range: the reference flushes
    // membufs before touching shards (timeseries.re:295-303) — ours must
    // flush it and then delete it from the rewritten partition
    st.appendMemory(Seq(Datapoint("s1", 400L, tag("u" -> "3"), 8.0, 5)).toDF())
    assert(st.bufferedCount() == 1L)
    val ack = Router.runDelete(st, "ts/s1/range/100/400/filter/u/equals/3")
    assert(ack.select("deleted").as[Long].head() == 2L) // rid 1 (disk) + rid 5 (was buffered)
    assert(st.bufferedCount() == 0L)
    // subsequent GETs through the SAME store see the deletion; the
    // untouched series is unaffected
    assert(Router.run(st, "ts/s1/length").as[Long].head() == 2L)
    assert(Router.run(st, "ts/s1/since/0").select("rid").as[Long].collect().toSet
      == Set(2L, 3L))
    assert(Router.run(st, "ts/s2/length").as[Long].head() == 1L)
    // since-form, no pipe
    assert(Router.runDelete(st, "ts/s1/since/300").select("deleted").as[Long].head() == 1L)
    assert(Router.run(st, "ts/s1/length").as[Long].head() == 1L)
    // disk bounds were recomputed from the rewritten partition: a fresh
    // buffered tail must still merge with the surviving disk row, never
    // shadow it (stale-absent bounds would elect a memory-only read)
    st.appendMemory(Seq(Datapoint("s1", 350L, None, 9.0, 6)).toDF())
    assert(Router.run(st, "ts/s1/last/2").select("rid").as[Long].collect().toSet
      == Set(2L, 6L))
    // deleting a series' every point removes its partition entirely
    assert(Router.runDelete(st, "ts/s2/since/0").select("deleted").as[Long].head() == 1L)
    assert(Router.run(st, "ts/s2/length").as[Long].head() == 0L)
    assert(Router.run(st, "ts/s1/length").as[Long].head() == 2L)
    // no-match delete is a clean zero; grammar violations reject
    assert(Router.runDelete(st, "ts/s1/range/5000/6000").select("deleted").as[Long].head() == 0L)
    intercept[IllegalArgumentException] { Router.runDelete(st, "ts/s1/nope/1") }
  }

  test("wire JSON: reference field order, tag omitted when absent") {
    val rows = Wire.toJsonRows(Router.run(df, "s1/first/3"))
      .as[String].collect()
    assert(rows(0) ==
      """{"timestamp":100,"tag":[{"loc":"1"},{"sci":"lang"}],"value":1.0}""")
    assert(rows(2) == """{"timestamp":300,"value":4.0}""") // untagged → no tag key
    val agg = Wire.aggToJson(Router.run(df, "s1/last/10/sum")).as[String].head()
    assert(agg == """{"sum":7.0}""")
  }
}

/** A local file system that counts the status, listing and open calls on
  * paths under one directory. */
class DataCallFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path}
  private def seen(f: Path): Unit =
    if (Option(DataCallFs.under).exists(u => f.toUri.getPath.startsWith(u))) DataCallFs.count.incrementAndGet()
  override def listStatus(f: Path): Array[FileStatus] = { seen(f); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { seen(f); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { seen(f); super.open(f, bufferSize) }
}

object DataCallFs {
  val count = new java.util.concurrent.atomic.AtomicInteger()
  @volatile var under: String = _
}
