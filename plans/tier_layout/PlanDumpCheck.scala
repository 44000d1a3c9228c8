package graft

import graft.model.Canon.{Datapoint, TagEntry}
import graft.sources.TieredStore
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Dumps the executed plans of `TieredStore`'s tier paths on the
  * `bucket=/day=` disk layout — `readLast` on the M1, M2 and M3 paths,
  * `lengthSplit`, the series-scoped `snapshot(ids)` a router GET reads
  * through, every execution a `delete` runs (its affected-partition read
  * included), and the reads and CDC after the delete's skip lines —
  * normalized so two commits' dumps diff cleanly (expression ids, plan
  * ids, temp roots and data-dir UUIDs masked). Every plan that scans
  * parquet for named series carries a `bucket IN` partition filter. Not
  * part of the test sources; run it from the repo root with
  *
  *   PLANDUMP_OUT=/path/plans.txt sbt \
  *     'set Test / unmanagedSourceDirectories += file("plans/tier_layout")' \
  *     "testOnly graft.PlanDumpCheck"
  *
  * `plans.txt` beside this file is its output. */
class PlanDumpCheck extends SparkSuite {
  import spark.implicits._
  private val T0 = 1704067200000000L
  private def dp(s: String, ts: Long, rid: Long) =
    Datapoint(s, ts, Some(Seq(TagEntry("k", "1"))), rid.toDouble, rid)

  test("dump") {
    val out = new StringBuilder
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        captured.add(s"[$f]\n" + qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    var marker = 900000L
    def during(name: String)(f: => Any): Unit = {
      captured.clear()
      f
      marker += 1
      spark.range(marker).count()
      while (!captured.toArray.exists(_.toString.contains(s"Range (0, $marker"))) Thread.sleep(50)
      val plans = captured.toArray.map(_.toString).filterNot(_.contains(s"Range (0, $marker"))
      out ++= s"==== $name (${plans.length} executions)\n"
      plans.foreach(p => out ++= p + "\n")
    }
    locally {
      val root = tmpDir("plandump")
      val st = new TieredStore(spark, root)
      def plan(name: String, df: org.apache.spark.sql.DataFrame): Unit =
        out ++= s"==== $name\n" + df.queryExecution.executedPlan.toString + "\n"
      st.appendDisk(Seq("a", "b", "c/d", "e").flatMap(s =>
        (0L until 100L).map(i => dp(s, T0 + i * 1000L, s.hashCode.abs % 1000 * 1000L + i))).toDF())
      st.appendMemory((0L until 20L).map(i => dp("a", T0 + 1000000L + i * 1000L, 500000L + i)).toDF())
      st.appendMemory((0L until 5L).map(i => dp("b", T0 + 500L + i * 1000L, 600000L + i)).toDF())
      plan("M1 readLast(a,10)", st.readLast(Seq("a"), 10))
      plan("M2 readLast(a,30)", st.readLast(Seq("a"), 30))
      plan("lengthSplit(a,b,c/d)", st.lengthSplit(Seq("a", "b", "c/d")))
      plan("GET a,e/since/0 (snapshot(a,e))", graft.api.Router.run(st, "a,e/since/0"))
      plan("GET e/range/T0/T0+50000/count (snapshot(e))", graft.api.Router.run(st, s"e/range/$T0/${T0 + 50000L}/count"))
      var m3: org.apache.spark.sql.DataFrame = null
      during("M3 readLast(b,5) executions") { m3 = st.readLast(Seq("b"), 5) }
      plan("M3 readLast(b,5)", m3)
      val v0 = st.diskVersions.last.version
      during("delete(c/d, a)") { st.delete(Seq("c/d", "a"), T0 + 10000L, T0 + 2000000L) }
      val v1 = st.diskVersions.last.version
      plan("after delete readLast(c/d,a,e,5)", st.readLast(Seq("c/d", "a", "e"), 5))
      plan("after delete lengthSplit", st.lengthSplit(Seq("a", "b", "c/d", "e")))
      plan("diskChanges", st.diskChanges(v0, v1))
      out ++= "==== answers\n" + st.snapshot.orderBy("series", "ts_us", "rid")
        .collect().mkString("\n") + "\n"
      val norm = out.toString.replace(root, "ROOT")
      out.clear(); out ++= norm
    }
    spark.listenerManager.unregister(l)
    val text = out.toString
      .replaceAll("#\\d+L?", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      // Spark truncates the path list at a length that moves with the temp
      // root's name: keep the path count, mask the list
      .replaceAll("InMemoryFileIndex\\((\\d+) paths\\)\\[file:[^ ]*,", "InMemoryFileIndex($1 paths)[ROOT/data/...],")
      .replaceAll("(d\\d{8}-[a-z]+)-[0-9a-f]{8}", "$1-X")
      // a lambda's class name and hash move with every JVM
      .replaceAll("\\$\\$Lambda[^ ,]*", "\\$\\$Lambda")
    java.nio.file.Files.write(java.nio.file.Paths.get(sys.env("PLANDUMP_OUT")), text.getBytes("UTF-8"))
  }
}
