package perfbench

/** Order statistics over samples. Quantiles interpolate linearly between
  * closest ranks, as Python's `statistics.quantiles(method="inclusive")`. */
object Stats {
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def geomean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}

final case class Metric(name: String, value: Double, unit: String)

/** One workload run's outcome: operations attempted and failed (non-200,
  * wrong answer or timeout), and the metrics it reports. */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[Metric])

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def result(o: Outcome): String = obj(Seq(
    "correct" -> (o.failed == 0).toString,
    "attempted" -> o.attempted.toString,
    "failed" -> o.failed.toString,
    "metrics" -> obj(o.metrics.map(m =>
      m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))))
}

/** Host context recorded with every run: fixed CPU work and a fixed
  * small-file write + fsync loop, so drift between sessions can be told
  * apart from a change in the program. */
object Host {
  def cpuCalSeconds(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 50000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      if (x == 42L) println("")
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Stats.median(Seq.fill(3)(once()))
  }

  def fsyncMs(dir: java.nio.file.Path): Double = {
    import java.nio.ByteBuffer
    import java.nio.channels.FileChannel
    import java.nio.file.StandardOpenOption._
    val f = dir.resolve("fsync-probe.bin")
    val buf = new Array[Byte](4096)
    val samples = (1 to 20).map { i =>
      java.util.Arrays.fill(buf, i.toByte)
      val t0 = System.nanoTime()
      val ch = FileChannel.open(f, CREATE, WRITE, TRUNCATE_EXISTING)
      try { ch.write(ByteBuffer.wrap(buf)); ch.force(true) } finally ch.close()
      (System.nanoTime() - t0) / 1e6
    }
    java.nio.file.Files.deleteIfExists(f)
    Stats.median(samples)
  }
}
