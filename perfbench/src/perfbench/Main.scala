package perfbench

import graft.{Graft, GraftSession}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One benchmark run: `--workload --seed --seconds --trace` as the
  * perfbench/README.md describes them, plus the directories perfbench/run.py
  * passes (`--work` scratch, `--out` traces, `--data` batch inputs).
  * Prints the result JSON as the last stdout line. `--record <file>`
  * instead writes the batch slice's row counts and content hashes;
  * `--workload train` runs a small hot_tail store and one batch query,
  * without a result, for perfbench/run.py's class-data-sharing archive. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    val data = Paths.get(opts("data")).toAbsolutePath
    val out = Paths.get(opts.getOrElse("out", opts("work"))).toAbsolutePath
    val seed = opts.getOrElse("seed", "1").toLong
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", Files.createDirectories(work.resolve("spark")).toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Graft.register(spark)
    log("session ready")
    // exit explicitly: a lingering non-daemon thread must not keep the
    // process alive past its result
    val code = try {
      opts.get("record") match {
        case Some(file) => new Batch(spark, seed, data, work, out).record(Paths.get(file))
        case None if opts("workload") == "train" =>
          new HttpRun(spark, HotTail, seed, work, out).train()
          new Batch(spark, seed, data, work, out).train()
        case None =>
          val seconds = opts("seconds").toDouble
          val trace = opts("trace") == "1"
          val o = opts("workload") match {
            case "hot_tail" => new HttpRun(spark, HotTail, seed, work, out).run(seconds, trace)
            case "cold_scan" => new HttpRun(spark, ColdScan, seed, work, out).run(seconds, trace)
            case "batch_roster" => new Batch(spark, seed, data, work, out).run(seconds, trace)
            case w => throw new IllegalArgumentException(s"unknown workload $w")
          }
          val host = hostMetrics(work)
          System.err.println(s"[perfbench] host ${host.map { case (k, v) => f"$k=$v%.4f" }.mkString(" ")}")
          val line = Json.result(o)
          Files.writeString(out.resolve(s"${opts("workload")}-seed$seed-trace${opts("trace")}.json"),
            line + "\n")
          println(line)
      }
      0
    } catch {
      case e: Throwable => e.printStackTrace(); 1
    } finally spark.stop()
    sys.exit(code)
  }

  /** Host context, probed once per run and kept for every later caller. */
  private var host: Option[Map[String, Double]] = None
  def hostMetrics(work: Path): Map[String, Double] = synchronized {
    if (host.isEmpty) host = Some(Map(
      "host.cpu_cal_s" -> Host.cpuCalSeconds(), "host.fsync_ms" -> Host.fsyncMs(work)))
    host.get
  }

  /** A progress line on stderr, stamped with the JVM's uptime. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs $msg")

  def heapLiveMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
}
