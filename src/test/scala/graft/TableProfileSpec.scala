package graft

import graft.operators.TableProfile
import org.apache.spark.sql.functions._

class TableProfileSpec extends SparkSuite {
  import spark.implicits._

  test("profile: counts, nulls, exact distincts, typed min/max per column") {
    val df = Seq(
      (1L, Some("a"), Some(10)),
      (2L, Some("a"), None),
      (3L, None, Some(9)),
      (4L, Some("c"), Some(10))
    ).toDF("id", "s", "v")
    val got = TableProfile.profile(df)
      .as[(String, Long, Long, Long, Option[String], Option[String])]
      .collect().toSeq
    assert(got == Seq(
      ("id", 4L, 0L, 4L, Some("1"), Some("4")),
      ("s", 4L, 1L, 2L, Some("a"), Some("c")),
      // typed min/max: 9 < 10 numerically even though "10" < "9" as strings
      ("v", 4L, 1L, 2L, Some("9"), Some("10"))))
  }

  test("profileDrift: per-column a/b stats plus deltas; disjoint columns survive") {
    val a = Seq((1L, Some("x")), (2L, Some("y")), (3L, None))
      .toDF("id", "s")
    val b = Seq((1L, Some("x")), (4L, Some("x"))).toDF("id", "s")
    val got = TableProfile.profileDrift(a, b)
      .select("column", "n_rows_a", "n_distinct_a", "n_rows_b", "n_distinct_b",
        "d_rows", "d_distinct")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("id", 3L, 3L, 2L, 2L, -1L, -1L),
      ("s", 3L, 2L, 2L, 1L, -1L, -1L)))
    // min/max ride through as the profile strings
    val mm = TableProfile.profileDrift(a, b)
      .filter(col("column") === "id")
      .select("min_a", "max_a", "min_b", "max_b")
      .as[(String, String, String, String)].head()
    assert(mm == ("1", "3", "1", "4"))
    // sides profiled on DIFFERENT columns still report (full-outer):
    // the absent side's stats are null, deltas treat them as zero
    val c = Seq((9L, 1.5)).toDF("id", "w")
    val dj = TableProfile.profileDrift(a.select("s"), c.select("w"))
      .select("column", "d_rows").as[(String, Long)].collect().toMap
    assert(dj == Map("s" -> -3L, "w" -> 1L))
  }

  /** (job group, description) of every job `f` starts, in start order. */
  private def jobsOf[T](f: => T): (scala.util.Try[T], Seq[(String, String)]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).map(_.getProperty(k)).orNull
        if (prop("spark.job.description") == sentinel) done.countDown()
        else seen.add((prop("spark.jobGroup.id"), prop("spark.job.description")))
      }
    }
    sc.addSparkListener(l)
    try {
      val r = scala.util.Try(f)
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      (r, seen.asScala.toSeq)
    } finally { sc.removeSparkListener(l); sc.clearJobGroup() }
  }

  test("profileDrift: side b's jobs carry the caller's group; a failing side a stops side b") {
    val sc = spark.sparkContext
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "s")
    val b = Seq((3L, "z")).toDF("id", "s")
    // two calls with different groups: a worker thread that outlives one
    // call must not carry its group into the next
    Seq(1, 2).foreach { k =>
      val (r, jobs) = jobsOf {
        sc.setJobGroup(s"drift-$k", s"drift report $k")
        TableProfile.profileDrift(a, b).collect()
      }
      assert(r.isSuccess, r)
      // two jobs per side plus the result's own
      assert(jobs.size >= 5 && jobs.forall(_ == ((s"drift-$k", s"drift report $k"))), jobs)
    }
    // side a throws while side b is still running: the call fails, and
    // side b's job is cancelled, not left to run on
    val boom = udf { (x: Long) => if (x >= 0) throw new IllegalStateException("side a"); x }
    val slow = udf { (x: Long) => Thread.sleep(60000); x }
    val failA = spark.range(0, 4, 1, 4).select(boom(col("id")).as("id"))
    // one slow task: the other slots stay free for side a's tasks
    val slowB = spark.range(0, 1, 1, 1).select(slow(col("id")).as("id"))
    val (r, _) = jobsOf(TableProfile.profileDrift(failA, slowB))
    assert(r.isFailure)
    def running = sc.statusTracker.getActiveJobIds().length +
      sc.statusTracker.getExecutorInfos.map(_.numRunningTasks).sum
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (running > 0 && System.nanoTime() < deadline) Thread.sleep(100)
    assert(running == 0, "side b's job or its tasks outlived the failed call")
  }

  test("profile: non-atomic columns excluded by default, override validated") {
    val df = Seq((1L, Seq(1, 2))).toDF("id", "arr")
    assert(TableProfile.profile(df).select("column").as[String].collect().toSeq == Seq("id"))
    intercept[IllegalArgumentException] { TableProfile.profile(df, Seq("nope")) }
    intercept[IllegalArgumentException] {
      TableProfile.profile(df.select(array(lit(1)).as("only_arr")))
    }
  }

  test("profileApprox: one-pass wide tier tracks the exact tier within HLL rsd") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = TableProfile.profile(docs)
      .select("column", "n_distinct").as[(String, Long)].collect().toMap
    val approx = TableProfile.profileApprox(docs)
    assert(approx.columns.toSeq == Seq("column", "n_rows", "n_nulls",
      "n_distinct_approx", "min_val", "max_val"))
    approx.select("column", "n_distinct_approx").as[(String, Long)].collect()
      .foreach { case (c, est) =>
        val truth = exact(c).toDouble
        // default rsd 5%; allow 4 sigma
        assert(math.abs(est - truth) <= truth * 0.2 + 2, s"$c: est=$est truth=$truth")
      }
    // nulls and min/max come from the same wide aggregate — identical to exact
    val em = TableProfile.profile(docs)
      .select("column", "n_nulls", "min_val", "max_val").collect().toSeq
    val am = approx.select("column", "n_nulls", "min_val", "max_val").collect().toSeq
    assert(em == am)
  }

  test("profile: all-null column has null min/max and zero distincts") {
    val df = Seq((1L, Option.empty[String]), (2L, None)).toDF("id", "s")
    val s = TableProfile.profile(df).filter($"column" === "s")
      .as[(String, Long, Long, Long, Option[String], Option[String])].head()
    assert(s == (("s", 2L, 2L, 0L, None, None)))
  }
}
