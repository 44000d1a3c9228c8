package perfbench

import java.util.Random

/** One HTTP request of a workload. `cls` groups requests for latency
  * reporting: write (POST), last (last/latest/first/earliest), scan
  * (since/range with or without filter and aggregate), meta (length,
  * names) and delete. `stamp` is the server clock value for a body whose
  * points carry no timestamp (-1 = none). */
final case class Op(method: String, path: String, body: String,
                    cls: String, points: Int, stamp: Long, expect: Expect)

/** The client's deterministic request stream. The model is updated when a
  * write or delete is generated, so each op's expectation reflects every
  * earlier op. */
trait Gen { def next(): Op }

/** A seeded HTTP workload: its series, initial data and request streams.
  * Every call with the same seed yields the same data and streams. */
trait HttpSpec {
  def name: String
  def spillThreshold: Long
  /** Initial disk-tier content. */
  def preload: Preload
  /** Whether set-up reopens the store after the preload (a server restart). */
  def reopen: Boolean
  def gen(seed: Long, model: StoreModel): Gen
  /** Requests per traced run (fixed, so the counts repeat). */
  def traceOps: Int
  /** Requests of the warm-up before the measured window. */
  def warmOps: Int
  /** Requests per deck: the measured window is whole decks of a fixed
    * composition. */
  def deck: Int
}

object Gen {
  val T0: Long = 1700000000000000L
  val Locs: IndexedSeq[String] = Vector("L0", "L1", "L2", "L3")
  val Words: IndexedSeq[String] = Vector("alpha", "beta", "gamma", "delta", "epsilon")

  def value(r: Random): Double = (r.nextInt(20001) - 10000) / 100.0

  def tags(r: Random, taggedShare: Double): Vector[(String, String)] =
    if (r.nextDouble() >= taggedShare) Vector.empty
    else Vector("loc" -> Locs(r.nextInt(Locs.size)), "sci" -> Words(r.nextInt(Words.size)))

  /** One element the server must quarantine: a string value, an extra key,
    * the wrong key order, or a tag that is not an array. */
  def invalid(r: Random, ts: Long): String = r.nextInt(4) match {
    case 0 => """{"value":"42"}"""
    case 1 => s"""{"timestamp":$ts,"value":1.5,"extra":1}"""
    case 2 => s"""{"value":1.5,"timestamp":$ts}"""
    case _ => """{"tag":"loc","value":1.5}"""
  }

  def pick[T](r: Random, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))

  def distinct(r: Random, xs: IndexedSeq[String], k: Int): Seq[String] = {
    val pool = scala.collection.mutable.ArrayBuffer(xs: _*)
    (1 to k).map(_ => pool.remove(r.nextInt(pool.size)))
  }
}

/** Initial data as a function of the point index `id`: series
  * `id % S`, slot `id / S`, timestamp `T0 + id * stepUs`, and value and
  * tags drawn from xxhash64 of (seed, id). Spark generates the frames
  * from the same formulas the model uses, so the store and the model
  * start identical without shipping rows through the Spark driver. */
final case class Preload(series: IndexedSeq[String], perSeries: Int, commits: Int,
                         stepUs: Long, taggedTenths: Int) {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  import org.apache.spark.sql.functions._
  private val S = series.size

  private def h(seed: Long, id: Long): Long = XXH64.hashLong(id, XXH64.hashLong(seed, 42L))

  def point(seed: Long, id: Long): Pt = {
    val tags =
      if (Math.floorMod(h(seed + 1, id), 10L) >= taggedTenths) Vector.empty
      else Vector("loc" -> s"L${Math.floorMod(h(seed + 2, id), 4L)}",
        "sci" -> Gen.Words(Math.floorMod(h(seed + 3, id), 5L).toInt))
    Pt(Gen.T0 + id * stepUs, (Math.floorMod(h(seed, id), 20001L) - 10000).toDouble / 100.0, tags)
  }

  def model(seed: Long): StoreModel = {
    val m = new StoreModel(series)
    (0L until S.toLong * perSeries).foreach(id => m.add(series((id % S).toInt), point(seed, id)))
    m
  }

  /** One frame per commit, each holding a contiguous run of slots. */
  def frames(spark: org.apache.spark.sql.SparkSession, seed: Long)
      : Seq[org.apache.spark.sql.DataFrame] = {
    import graft.model.Canon._
    val id = col("id")
    def hc(salt: Long) = xxhash64(lit(seed + salt), id)
    val per = perSeries / commits
    (0 until commits).map { b =>
      spark.range(b.toLong * per * S, (b + 1).toLong * per * S).select(
        element_at(typedLit(series), (pmod(id, lit(S.toLong)) + 1).cast("int")).as(SERIES),
        (lit(Gen.T0) + id * stepUs).as(TS_US),
        when(pmod(hc(1), lit(10L)) < taggedTenths, array(
          struct(lit("loc").as("name"), concat(lit("L"), pmod(hc(2), lit(4L)).cast("string")).as("value")),
          struct(lit("sci").as("name"),
            element_at(typedLit(Gen.Words), (pmod(hc(3), lit(5L)) + 1).cast("int")).as("value"))))
          .otherwise(lit(null).cast(tagType)).as(TAG),
        ((pmod(hc(0), lit(20001L)) - 10000).cast("double") / lit(100.0)).as(VALUE),
        (lit(Gen.T0) + id * stepUs).as(RID))
    }
  }
}

/** Array body of timestamped points plus about 1% invalid elements; the
  * model takes only the valid points. */
private[perfbench] final class BodyBuilder(r: Random) {
  var bad = 0
  val parts = Vector.newBuilder[String]
  def point(p: Pt): Unit = parts += p.wire(withTs = true)
  def maybeInvalid(ts: Long): Unit =
    if (r.nextDouble() < 0.01) { bad += 1; parts += Gen.invalid(r, ts) }
  def json: String = parts.result().mkString("[", ",", "]")
}

/** The monitoring pattern: one client POSTs to one of 4 series and
  * reads its last 20 points, in cycles of 4 iterations with a fixed
  * composition. A cycle's bodies are 10 points, one single object,
  * 100 points and 1000 points (about 1% of a multi-point body's elements
  * are invalid); its last iteration also reads `latest` across the 4
  * series and deletes an old range window of 5–24 points. The single
  * object takes the four wire shapes in turn, one per cycle: timestamped
  * or stamped by the server clock, with or without tags. The seed draws
  * values, tags, invalid elements and delete windows. */
object HotTail extends HttpSpec {
  val name = "hot_tail"
  val spillThreshold = 400L
  val preloadPoints = 100
  val reopen = false
  /** 4 POSTs, 4 `last/20`, one `latest`, one DELETE. */
  val deck = 10
  val warmOps = deck
  val traceOps = deck
  private val series: IndexedSeq[String] = (0 until 4).map(j => s"h$j")
  val preload = Preload(series, preloadPoints, commits = 1, stepUs = 1000L, taggedTenths = 6)
  /** Timestamps are unique across all series: slot k of series g is
    * T0 + (k * 4 + g) ms, as in the preload. */
  private def ts(g: Int, k: Long): Long = Gen.T0 + (k * series.size + g) * 1000L

  def gen(seed: Long, model: StoreModel): Gen = new Client(new Random(seed * 1000003L), model)

  private final class Client(r: Random, m: StoreModel) extends Gen {
    private val cursor = Array.fill(series.size)(preloadPoints.toLong)
    private val queue = scala.collection.mutable.Queue.empty[Op]
    private var iter = 0

    def next(): Op = {
      if (queue.isEmpty) iteration()
      queue.dequeue()
    }

    private def nextTs(g: Int): Long = { val t = ts(g, cursor(g)); cursor(g) += 1; t }

    /** The series of an iteration is fixed by its position, so every
      * seed spills the same series at the same points of a cycle. */
    private def iteration(): Unit = {
      val (cycle, k) = (iter / 4, iter % 4)
      val s = series((cycle + k) % series.size)
      queue += post(cycle, k, s)
      queue += Op("GET", s"/ts/$s/last/20", null, "last", 0, -1, Expect.Points(m.last(Seq(s), 20)))
      if (k == 3) {
        queue += Op("GET", s"/ts/${series.mkString(",")}/latest", null, "last", 0, -1,
          Expect.Points(m.last(series, 1)))
        val a = r.nextInt(30)
        val w = 5 + r.nextInt(20)
        val (lo, hi) = (m.nth(s, a).ts, m.nth(s, a + w - 1).ts)
        queue += Op("DELETE", s"/ts/$s/range/$lo/$hi", null, "delete", 0, -1,
          Expect.Counts(Seq("deleted" -> m.remove(s, lo, hi).toLong)))
      }
      iter += 1
    }

    private def post(cycle: Int, k: Int, s: String): Op = {
      val g = series.indexOf(s)
      if (k == 1) {
        val (withTs, tagged) = (cycle % 4 < 2, cycle % 2 == 0)
        val p = Pt(nextTs(g), Gen.value(r), if (tagged) Gen.tags(r, 1.0) else Vector.empty)
        m.add(s, p)
        Op("POST", s"/ts/$s", p.wire(withTs), "write", 1, if (withTs) -1 else p.ts,
          Expect.Counts(Seq("ingested" -> 1L, "quarantined" -> 0L)))
      } else {
        val size = Vector(10, 0, 100, 1000)(k)
        val b = new BodyBuilder(r)
        (0 until size).foreach { _ =>
          val p = Pt(nextTs(g), Gen.value(r), Gen.tags(r, 0.6))
          m.add(s, p)
          b.point(p)
          b.maybeInvalid(p.ts)
        }
        Op("POST", s"/ts/$s", b.json, "write", size, -1,
          Expect.Counts(Seq("ingested" -> size.toLong, "quarantined" -> b.bad.toLong)))
      }
    }
  }
}

/** Analytic reads over disk-resident history: 16 series preloaded in 2
  * commits and reopened, then one client over the whole GET grammar with
  * 10% small POSTs, half of them out of order. */
object ColdScan extends HttpSpec {
  val name = "cold_scan"
  val nSeries = 16
  val pointsPerSeries = 25000
  val commits = 2
  val spillThreshold = 20000L
  val reopen = true
  val warmOps = 14
  /** The warm-up sequence: one request of each kind. */
  val traceOps = warmOps
  val deck = 14
  private val series: IndexedSeq[String] = (0 until nSeries).map(i => f"c$i%02d")
  /** Slot k of series g at T0 + (k * 16 + g) s; out-of-order points land
    * between slots, so timestamps stay unique across all series. */
  private def ts(g: Int, k: Long): Long = Gen.T0 + (k * nSeries + g) * 100000L
  val preload = Preload(series, pointsPerSeries, commits, stepUs = 100000L, taggedTenths = 7)

  def gen(seed: Long, model: StoreModel): Gen = new Client(new Random(seed * 1000003L), model)

  private final class Client(r: Random, m: StoreModel) extends Gen {
    private val cursor = Array.fill(nSeries)(pointsPerSeries.toLong)
    private def one(): String = Gen.pick(r, series)
    private def get(path: String, cls: String, e: Expect) = Op("GET", path, null, cls, 0, -1, e)

    /** Timestamp window over the newest/any `w` points of series `s`. */
    private def window(s: String, w: Int, atEnd: Boolean): (Long, Long) = {
      val n = m.size(s)
      val a = if (atEnd) n - w else r.nextInt(n - w)
      (m.nth(s, a).ts, m.nth(s, a + w - 1).ts)
    }

    private def aggOver(pts: Iterable[Pt], agg: String): Expect =
      Expect.Agg(agg, Aggs.eval(agg, pts.map(_.value).toSeq))

    /** One op of each kind, in a fixed order: the warm-up. */
    private val warmKinds = Vector("last100", "latest", "first", "earliest", "since", "sinceAgg",
      "range", "rangeFilterAgg", "rangeContains", "multiRange", "multiSinceSum", "length",
      "postInOrder", "postOutOfOrder")
    /** A deck of 14 ops; the measured window is whole decks, each shuffled
      * by the seed, so every run measures the same composition. */
    private val deckKinds = Vector("last1", "last1000", "latest", "first", "earliest", "since",
      "sinceAggWide", "range", "rangeFilterAgg", "rangeContains", "multiRange",
      "lengthOrNames", "postInOrder", "postOutOfOrder")
    private val pending = scala.collection.mutable.Queue[String](warmKinds: _*)
    private var decks = 0

    def next(): Op = {
      if (pending.isEmpty) {
        pending ++= new scala.util.Random(r.nextLong()).shuffle(deckKinds)
        decks += 1
      }
      op(pending.dequeue())
    }

    /** The series of the last POST, read by the next last-type op: after
      * an in-order POST that read takes the memory-then-disk path (M2),
      * after an out-of-order one it forces a flush first (M3). */
    private var posted: Option[String] = None
    private def tail(): String = { val s = posted.getOrElse(one()); posted = None; s }

    /** Sizes are fixed per kind, so decks cost the same whatever the seed
      * picks for series, positions and aggregates. */
    private def op(kind: String): Op = kind match {
      case "last1" | "last100" | "last1000" =>
        val s = tail(); val n = kind.stripPrefix("last").toInt
        get(s"/ts/$s/last/$n", "last", Expect.Points(m.last(Seq(s), n)))
      case "latest" =>
        val ids = Gen.distinct(r, series, 3)
        get(s"/ts/${ids.mkString(",")}/latest", "last", Expect.Points(m.last(ids, 1)))
      case "first" =>
        val s = one()
        get(s"/ts/$s/first/10", "last", Expect.Points(m.first(Seq(s), 10)))
      case "earliest" =>
        val ids = Gen.distinct(r, series, 2)
        get(s"/ts/${ids.mkString(",")}/earliest", "last", Expect.Points(m.first(ids, 1)))
      case "since" =>
        val s = one(); val (lo, _) = window(s, 200, atEnd = true)
        get(s"/ts/$s/since/$lo", "scan", Expect.Points(m.range(Seq(s), lo, Long.MaxValue)))
      case "sinceAgg" | "sinceAggWide" =>
        val s = one(); val agg = Gen.pick(r, Aggs.names)
        val (lo, _) = window(s, if (kind == "sinceAgg") 2000 else 8000, atEnd = true)
        get(s"/ts/$s/since/$lo/$agg", "scan", aggOver(m.between(s, lo, Long.MaxValue), agg))
      case "range" =>
        val s = one(); val (lo, hi) = window(s, 200, atEnd = false)
        get(s"/ts/$s/range/$lo/$hi", "scan", Expect.Points(m.range(Seq(s), lo, hi)))
      case "rangeFilterAgg" =>
        val s = one(); val agg = Gen.pick(r, Aggs.names)
        val f = Filter("loc", "equals", Gen.pick(r, Gen.Locs))
        val (lo, hi) = window(s, 2000, atEnd = false)
        get(s"/ts/$s/range/$lo/$hi/${f.path}/$agg", "scan",
          aggOver(m.between(s, lo, hi).filter(f.keep), agg))
      case "rangeContains" =>
        val s = one(); val f = Filter("sci", "contains", Gen.pick(r, Vector("ta", "al", "mm", "eps")))
        val (lo, hi) = window(s, 300, atEnd = false)
        get(s"/ts/$s/range/$lo/$hi/${f.path}", "scan",
          Expect.Points(m.range(Seq(s), lo, hi).filter(f.keep)))
      case "multiRange" =>
        val ids = Gen.distinct(r, series, 3); val (lo, hi) = window(ids.head, 100, atEnd = false)
        get(s"/ts/${ids.mkString(",")}/range/$lo/$hi", "scan", Expect.Points(m.range(ids, lo, hi)))
      case "multiSinceSum" =>
        val ids = Gen.distinct(r, series, 3); val (lo, _) = window(ids.head, 2000, atEnd = true)
        get(s"/ts/${ids.mkString(",")}/since/$lo/sum", "scan",
          aggOver(ids.flatMap(m.between(_, lo, Long.MaxValue)), "sum"))
      case "length" | "lengthOrNames" if kind == "length" || decks % 2 == 1 =>
        val ids = Gen.distinct(r, series, 2)
        get(s"/ts/${ids.mkString(",")}/length", "meta",
          Expect.Counts(Seq("length" -> ids.map(m.size(_).toLong).sum)))
      case "lengthOrNames" => get("/ts/names", "meta", Expect.Names(series))
      case "postInOrder" => post(inOrder = true)
      case "postOutOfOrder" => post(inOrder = false)
    }

    private def post(inOrder: Boolean): Op = {
      val g = r.nextInt(nSeries)
      val s = series(g)
      val n = 8
      val b = new BodyBuilder(r)
      posted = Some(s)
      (0 until n).foreach { i =>
        val t =
          if (inOrder) { val t = ts(g, cursor(g)); cursor(g) += 1; t }
          else Iterator.continually(ts(g, r.nextInt(pointsPerSeries)) + 1000L + r.nextInt(98000))
            .dropWhile(m.contains(s, _)).next()
        val p = Pt(t, Gen.value(r), Gen.tags(r, 0.7))
        m.add(s, p)
        b.point(p)
        b.maybeInvalid(t)
      }
      Op("POST", s"/ts/$s", b.json, "write", n, -1,
        Expect.Counts(Seq("ingested" -> n.toLong, "quarantined" -> b.bad.toLong)))
    }
  }
}
