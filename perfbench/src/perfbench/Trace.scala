package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** A span: a bench call (request, route, render, query) or a Spark job
  * attributed to the bench span that was open when it ran. Times are epoch
  * milliseconds. */
final case class Span(id: Long, name: String, start: Double, end: Double,
                      parent: Long, req: Long, module: String) {
  def ms: Double = end - start
  def json: String = Json.obj(Seq(
    "span" -> id.toString, "name" -> Json.str(name), "start" -> f"$start%.3f",
    "end" -> f"$end%.3f", "parent" -> parent.toString, "req" -> req.toString,
    "module" -> Json.str(module)))
}

/** Work Spark did for one job, summed over its tasks. */
final class JobStat(val jobId: Int, val span: Long, val site: String, val desc: String,
                    val start: Long) {
  @volatile var end: Long = start
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var schedDelayMs = 0L
  var taskDurMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  def ms: Double = (end - start).toDouble

  /** Module the job belongs to: Spark's leaf-file listing, else the source
    * file of the job's call site. */
  def module: String =
    if (desc != null && desc.startsWith("Listing leaf files")) "listing"
    else Trace.moduleOf(site)

  /** Paths named in a listing job's description. */
  def pathsListed: Long =
    if (module != "listing") 0L
    else "for (\\d+) paths".r.findFirstMatchIn(desc).map(_.group(1).toLong).getOrElse(0L)
}

/** Planning and scan figures of one query execution. */
final case class QeStat(span: Long, planMs: Double, files: Long, rowsScanned: Long,
                        listingMs: Long)

/** Listeners registered from the benchmark's own code: a SparkListener for
  * jobs, stages and tasks and a QueryExecutionListener for planning phases
  * and scan metrics. Jobs are tied to bench spans through a local property
  * set around each bench call. */
final class Collector(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  import Collector._
  val jobs = new ConcurrentHashMap[Int, JobStat]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val qes = new java.util.concurrent.ConcurrentLinkedQueue[QeStat]()

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Run `f` as bench span `id`: its jobs carry the id. */
  def within[T](id: Long)(f: => T): T = {
    val sc = spark.sparkContext
    val prior = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, id.toString)
    try f finally sc.setLocalProperty(SpanKey, prior)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    val span = Option(p).flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong).getOrElse(-1L)
    val desc = Option(p).map(_.getProperty("spark.job.description")).orNull
    // jobs of a SQL execution (AQE runs their stages from a pool thread)
    // take the call site of the thread that started the execution
    val site = Option(p).flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .flatMap(x => Option(execSite.get(x.toLong)))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    val j = new JobStat(e.jobId, span, site, desc, e.time)
    j.stages = e.stageInfos.size
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, j)
  }

  /** SQL execution id -> its short call site. */
  private val execSite = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSite.put(s.executionId, Trace.shortSite(s.details))
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      val m = e.taskMetrics
      val i = e.taskInfo
      j.synchronized {
        j.tasks += 1
        j.taskDurMs += i.duration
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
          j.gcMs += m.jvmGCTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  /** A query execution belongs to the request in `pendingSpan`: the runs
    * set it before each request and drain the bus before the next. */
  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val plan = phases.values.map(_.durationMs.toDouble).sum
    val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
    def metric(s: FileSourceScanExec, k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
    qes.add(QeStat(pendingSpan.get, plan, scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "numOutputRows")).sum, scans.map(metric(_, "metadataTime")).sum))
  }

  /** The request the query executions now being delivered belong to. */
  val pendingSpan = new AtomicLong(-1L)
}

object Collector {
  val SpanKey = "perfbench.span"
}

object Trace {
  private val ids = new AtomicLong(0L)
  def nextId(): Long = ids.incrementAndGet()

  private val epochAtStart = System.currentTimeMillis().toDouble
  private val nanoAtStart = System.nanoTime()
  /** Epoch milliseconds from the monotonic clock. */
  def nowMs(): Double = epochAtStart + (System.nanoTime() - nanoAtStart) / 1e6

  /** `<Spark method> at <File>:<line>` from a long call site: the first
    * frame is the Spark API method, the first frame outside Spark, Scala
    * and the JDK is the caller. */
  def shortSite(details: String): String = {
    val frames = details.split('\n').toSeq
    val method = frames.headOption.fold("")(_.takeWhile(_ != '(').split('.').last)
    frames.find(f => !Seq("org.apache.spark.", "scala.", "java.").exists(f.startsWith))
      .fold(frames.headOption.getOrElse(""))(u => s"$method at ${u.dropWhile(_ != '(').drop(1).takeWhile(_ != ')')}")
  }

  def moduleOf(site: String): String = {
    val file = "(\\w+)\\.scala".r.findFirstMatchIn(site).map(_.group(1)).getOrElse("")
    file match {
      case "HttpBinding" | "Router" | "Wire" | "Render" => "api"
      case "JsonIngest" => "ingest"
      case "TieredStore" => "tiered"
      case "VersionedStore" | "ShardStore" | "DurableWrite" => "versioned"
      case "TimeSeries" | "Tags" => "operators"
      case "" => "spark"
      case other => other
    }
  }

  def writeSpans(path: java.nio.file.Path, spans: Iterable[Span]): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s => w.write(s.json); w.write("\n") } finally w.close()
  }

  /** Active milliseconds of the union of job intervals. */
  def unionMs(js: Iterable[JobStat]): Double = {
    val iv = js.map(j => (j.start, j.end)).toSeq.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total.toDouble
  }
}
