package perfbench

import graft.{CacheLedger, SparkEntry}
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** A fixed slice of the `SparkEntry` operator roster: one member of each
  * of four families whose queries need no per-process store fixture. Each
  * query is materialized through the noop sink, serially, under
  * `CacheLedger.scoped` after `clearCache`, as `graft.Bench` times them.
  * The measured window is whole passes over the slice; the seed fixes the
  * order of each pass. */
final class Batch(spark: SparkSession, seed: Long, data: Path, work: Path, out: Path) {
  import Batch._

  private var attempted = 0L
  private var failed = 0L

  /** Copy the input tables to a fresh directory and open each one. */
  private def stage(i: Int): (Path, Double) = {
    val t0 = System.nanoTime()
    val dir = Files.createDirectories(work.resolve(s"input-$i"))
    Tables.foreach { t =>
      Files.copy(data.resolve(Scale).resolve(s"$t.parquet"), dir.resolve(s"$t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      spark.read.parquet(dir.resolve(s"$t.parquet").toString).count()
    }
    (dir, (System.nanoTime() - t0) / 1e9)
  }

  private def build(q: String, dir: Path): DataFrame = SparkEntry.queries(q)(spark, dir.toString)

  /** Wall seconds of one noop-sink materialization. */
  private def timed(q: String, dir: Path): Double = CacheLedger.scoped {
    spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(s"bench:$q")
    val t0 = System.nanoTime()
    build(q, dir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Row count and order-independent content hash, the same hash the
    * golden oracle rows use: xxhash64 of each row's columns in name
    * order, summed. */
  private def fingerprint(q: String, dir: Path): (Long, String) = CacheLedger.scoped {
    val df = build(q, dir)
    val parts = df.columns.sorted.map(c => coalesce(col(c).cast("string"), lit("\u0000")))
    val r = df.select(xxhash64(concat_ws("\u0001", parts: _*)).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0)).cast("string")).head()
    (r.getLong(0), r.getString(1))
  }

  private def check(q: String, got: (Long, String)): Unit = synchronized {
    attempted += 1
    val want = Expected.get(q)
    if (!want.contains(got)) {
      failed += 1
      System.err.println(s"[perfbench] FAIL $q: rows/hash $got, want ${want.getOrElse("unrecorded")}")
    }
  }

  private def order: Seq[String] = new scala.util.Random(seed).shuffle(Slice.map(_._1))

  /** The warm pass: first execution of every query (codegen, JIT,
    * fixture staging), its output checked against the recorded values.
    * It runs on a pool of one thread per core, as `graft.Bench` warms up:
    * Spark interleaves the queries' jobs. */
  private def warm(dir: Path): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism)
    try order.map(q => pool.submit(new Runnable {
      def run(): Unit = {
        val t0 = System.nanoTime()
        check(q, fingerprint(q, dir))
        Main.log(f"warm $q ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
    })).foreach(_.get())
    finally pool.shutdown()
  }

  def run(seconds: Double, trace: Boolean): Outcome = {
    val staged = (1 to 3).map(stage)
    val dir = staged.last._1
    warm(dir)
    if (trace) traced(dir) else untraced(dir, staged.map(_._2), seconds)
  }

  private def untraced(dir: Path, setups: Seq[Double], seconds: Double): Outcome = {
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      new scala.util.Random(seed + pass).shuffle(Slice.map(_._1)).foreach(q => samples(q) :+= timed(q, dir))
      pass += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val all = samples.values.flatten.map(_ * 1000)
    val perQuery = samples.map { case (q, v) => q -> Stats.median(v) * 1000 }
    System.err.println(s"[perfbench] batch_roster passes=$pass " +
      perQuery.toSeq.sortBy(-_._2).map { case (q, ms) => f"$q=$ms%.0fms" }.mkString(" "))
    Outcome(attempted, failed, Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      // the median over queries, not executions: with few queries of
      // different cost, a median over executions jumps between them
      Metric("op_p50_ms", Stats.median(perQuery.values), "ms"),
      Metric("op_geomean_ms", Stats.geomean(all), "ms"),
      Metric("ops_per_s", all.size / wall, "1/s"),
      Metric("heap_live_mb", Main.heapLiveMb(), "MB")))
  }

  /** One untraced pass, then one pass with the listeners attached. */
  private def traced(dir: Path): Outcome = {
    val plain = order.map(q => q -> timed(q, dir)).toMap
    val col = new Collector(spark)
    col.install()
    val spans = order.map { q =>
      val id = Trace.nextId()
      col.pendingSpan.set(id)
      val t0 = Trace.nowMs()
      col.within(id)(timed(q, dir))
      val t1 = Trace.nowMs()
      Bus.drain(spark.sparkContext)
      Span(id, s"query $q", t0, t1, 0L, id, "batch")
    }
    col.uninstall()
    val jobs = col.jobs.values.asScala.toSeq
    val qes = col.qes.asScala.toSeq
    Trace.writeSpans(out.resolve(s"batch_roster-seed$seed-spans.jsonl"), spans ++
      jobs.sortBy(_.jobId).map(j => Span(Trace.nextId(), s"job ${j.jobId} ${j.site}",
        j.start.toDouble, j.end.toDouble, j.span, j.span, j.module)))
    val family = Slice.groupBy(_._2).map { case (f, qs) => s"batch.${f}_s" -> qs.map(q => plain(q._1)).sum }
    val taskDur = jobs.map(_.taskDurMs).sum.toDouble
    val m = family ++ Map(
      "batch.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "batch.sched_delay_share" -> (if (taskDur == 0) 0.0 else jobs.map(_.schedDelayMs).sum / taskDur),
      "batch.plan_ms" -> qes.map(_.planMs).sum,
      "batch.shuffle_bytes" -> jobs.map(_.shuffleBytes).sum.toDouble,
      "batch.spill_bytes" -> jobs.map(_.spillBytes).sum.toDouble,
      "trace.overhead_pct" -> 100.0 * (spans.map(_.ms).sum / (plain.values.sum * 1000) - 1))
    Outcome(attempted, failed, Layers.complete(m ++ Main.hostMetrics(work)))
  }

  /** One staging and one checked query, unmeasured. */
  def train(): Unit = {
    val (dir, _) = stage(0)
    check(Slice.last._1, fingerprint(Slice.last._1, dir))
  }

  /** Writes the rows/hash of every slice query, for `Expected`. */
  def record(to: Path): Unit = {
    val (dir, _) = stage(0)
    val lines = Slice.map(_._1).map { q =>
      val (n, h) = fingerprint(q, dir)
      s"""  "$q": {"rows": $n, "hash": "$h"}"""
    }
    Files.writeString(to, lines.mkString("{\n", ",\n", "\n}\n"))
  }

  private lazy val Expected: Map[String, (Long, String)] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(data.resolve("batch_expected.json")))
    node.fields.asScala.map(e => e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asText)).toMap
  }
}

object Batch {
  /** Input tables: copies of the generated sf0.01 test tables
    * (TESTDATA.md), the scale the oracle check runs at. */
  val Scale = "sf0.01"
  val Tables = Seq("documents", "events")

  /** (query, family). The store and tier families are left out: their
    * queries first build a versioned store fixture, which adds about 12 s
    * of warm-up to every run. So are the crawl and sim families, to keep
    * the run short. */
  val Slice: Seq[(String, String)] = Seq(
    "q_stream_state" -> "stream", "q_dedup_ngram" -> "dedup", "q_text_lmscore" -> "text",
    "q_ts_gaps" -> "ts")
}
