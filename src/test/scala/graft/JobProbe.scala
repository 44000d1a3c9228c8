package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.jdk.CollectionConverters._

/** Records the Spark jobs a block runs, each as its call site: the first
  * stack frame outside Spark, Scala and the JDK (`Router.scala:117`).
  * A job of a SQL execution takes the site of the thread that started the
  * execution (AQE submits stages from a pool thread). Listener events
  * arrive asynchronously, so after the block a sentinel job runs and
  * [[sites]] waits until the listener has seen it: every job the block
  * started was posted before the sentinel's.
  */
object JobProbe {
  private val Key = "graft.test.jobprobe"

  def sites[T](spark: SparkSession)(f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val tag = s"probe-${java.util.UUID.randomUUID()}"
    val sentinel = s"$tag-sentinel"
    val seen = new ConcurrentLinkedQueue[String]()
    val execDetails = new ConcurrentHashMap[Long, String]()
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execDetails.put(s.executionId, s.details)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        p.map(_.getProperty(Key)).orNull match {
          case `tag` =>
            val details = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
              .flatMap(x => Option(execDetails.get(x.toLong)))
              .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
            seen.add(userFrame(details))
          case `sentinel` => done.countDown()
          case _ =>
        }
      }
    }
    sc.addSparkListener(listener)
    val prior = sc.getLocalProperty(Key)
    try {
      sc.setLocalProperty(Key, tag)
      val r = try f finally sc.setLocalProperty(Key, sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      (r, seen.asScala.toSeq)
    } finally {
      sc.setLocalProperty(Key, prior)
      sc.removeSparkListener(listener)
    }
  }

  private def userFrame(details: String): String =
    details.split('\n').map(_.trim)
      .find(f => f.nonEmpty && !Seq("org.apache.spark.", "scala.", "java.").exists(f.startsWith))
      .getOrElse(details.takeWhile(_ != '\n'))
}
