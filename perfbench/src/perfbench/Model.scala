package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** One acknowledged datapoint as the load generator wrote it. `tags` is
  * the ordered wire assoc list (empty = untagged point). */
final case class Pt(ts: Long, value: Double, tags: Vector[(String, String)]) {
  /** First-match tag lookup, as the route filters resolve a name. */
  def tag(name: String): Option[String] = tags.collectFirst { case (`name`, v) => v }

  def wire(withTs: Boolean): String = {
    val t = if (withTs) s""""timestamp":$ts,""" else ""
    val g = if (tags.isEmpty) ""
      else tags.map { case (n, v) => s"""{"$n":"$v"}""" }.mkString("\"tag\":[", ",", "],")
    s"{$t$g\"value\":$value}"
  }
}

/** The reply a request must produce, computed from the model before the
  * request is sent. */
sealed trait Expect
object Expect {
  /** Raw points, in reply order (timestamps are unique, so order is exact). */
  final case class Points(pts: Seq[Pt]) extends Expect
  /** One aggregate object `{"<agg>": v}`; None is the empty reply `{}`. */
  final case class Agg(name: String, value: Option[Double]) extends Expect
  /** One object of whole-number fields (length, acks). */
  final case class Counts(fields: Seq[(String, Long)]) extends Expect
  final case class Names(names: Seq[String]) extends Expect
}

/** Per-series model of every acknowledged point. */
final class StoreModel(val series: IndexedSeq[String]) {
  private val pts: Map[String, java.util.TreeMap[java.lang.Long, Pt]] =
    series.map(_ -> new java.util.TreeMap[java.lang.Long, Pt]()).toMap

  def add(s: String, p: Pt): Unit = {
    val prior = pts(s).put(p.ts, p)
    require(prior == null, s"generator reused timestamp ${p.ts} in $s")
  }
  def contains(s: String, ts: Long): Boolean = pts(s).containsKey(ts)
  def size(s: String): Int = pts(s).size
  def live: Long = pts.values.map(_.size.toLong).sum
  /** Ascending. */
  def all(s: String): Iterable[Pt] = pts(s).values.asScala
  def nth(s: String, i: Int): Pt = all(s).drop(i).head

  def between(s: String, lo: Long, hi: Long): Iterable[Pt] =
    if (lo > hi) Nil else pts(s).subMap(lo, true, hi, true).values.asScala

  def remove(s: String, lo: Long, hi: Long): Int = {
    val m = pts(s).subMap(lo, true, hi, true)
    val n = m.size
    m.clear()
    n
  }

  private def desc(xs: Iterable[Pt]): Seq[Pt] = xs.toSeq.sortBy(-_.ts)
  private def asc(xs: Iterable[Pt]): Seq[Pt] = xs.toSeq.sortBy(_.ts)

  def last(ids: Seq[String], n: Int): Seq[Pt] =
    desc(ids.flatMap(s => pts(s).descendingMap().values.asScala.take(n)))
  def first(ids: Seq[String], n: Int): Seq[Pt] =
    asc(ids.flatMap(s => all(s).take(n)))
  def range(ids: Seq[String], lo: Long, hi: Long): Seq[Pt] =
    desc(ids.flatMap(s => between(s, lo, hi)))
}

/** Tag filter as the route grammar states it: one name, one value,
  * equality or substring match; untagged points never match. */
final case class Filter(name: String, op: String, value: String) {
  def path: String = s"filter/$name/$op/$value"
  def keep(p: Pt): Boolean = p.tag(name).exists(v =>
    if (op == "equals") v == value else v.contains(value))
}

object Aggs {
  val names: IndexedSeq[String] = Vector("sum", "count", "max", "min", "mean", "sd", "median")

  /** The reference's empty-input rules: sum and count answer 0, the
    * others reply `{}`; a sample deviation needs two points. */
  def eval(name: String, xs: Seq[Double]): Option[Double] = {
    val n = xs.size
    name match {
      case "sum" => Some(xs.sum)
      case "count" => Some(n.toDouble)
      case _ if n == 0 => None
      case "max" => Some(xs.max)
      case "min" => Some(xs.min)
      case "mean" => Some(xs.sum / n)
      case "sd" =>
        if (n < 2) None
        else {
          val m = xs.sum / n
          Some(math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (n - 1)))
        }
      case "median" =>
        val s = xs.sorted
        val pos = 0.5 * (n - 1)
        val lo = math.floor(pos).toInt
        Some(s(lo) + (pos - lo) * (s(math.min(lo + 1, n - 1)) - s(lo)))
    }
  }
}

/** Reply verification. Returns None when the reply matches, else a short
  * reason. Aggregates must agree within 1e-9 relative (scaled by at least
  * 1, so sums that cancel to near zero are not held to an impossible
  * relative bound); everything else must match exactly. */
object Check {
  private val mapper = new ObjectMapper()

  def apply(exp: Expect, status: Int, body: String): Option[String] =
    if (status != 200) Some(s"status $status: ${body.take(200)}")
    else try verify(exp, mapper.readTree(body))
    catch { case e: Exception => Some(s"unparseable reply: ${e.getMessage}") }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  private def verify(exp: Expect, node: JsonNode): Option[String] = exp match {
    case Expect.Points(want) =>
      if (!node.isArray) Some("not an array")
      else if (node.size != want.size) Some(s"${node.size} points, want ${want.size}")
      else want.zipWithIndex.collectFirst {
        case (p, i) if !samePoint(p, node.get(i)) =>
          s"point $i is ${node.get(i)}, want ${p.wire(withTs = true)}"
      }
    case Expect.Agg(_, None) =>
      if (node.isObject && node.size == 0) None else Some(s"$node, want {}")
    case Expect.Agg(name, Some(v)) =>
      val got = node.get(name)
      if (got != null && got.isNumber && close(got.asDouble, v)) None
      else Some(s"$node, want {$name: $v}")
    case Expect.Counts(fields) =>
      val ok = node.isObject && node.size == fields.size && fields.forall {
        case (k, v) => node.has(k) && node.get(k).isIntegralNumber && node.get(k).asLong == v
      }
      if (ok) None else Some(s"$node, want ${fields.mkString(",")}")
    case Expect.Names(want) =>
      val got = if (node.isArray) node.elements.asScala.map(_.asText).toSeq else Nil
      if (got == want) None else Some(s"names $got, want $want")
  }

  private def samePoint(p: Pt, n: JsonNode): Boolean = {
    val tags = Option(n.get("tag")).map(_.elements.asScala.map { o =>
      val f = o.fields.next()
      f.getKey -> f.getValue.asText
    }.toVector).getOrElse(Vector.empty)
    n.has("timestamp") && n.get("timestamp").asLong == p.ts &&
      n.has("value") && n.get("value").asDouble == p.value && tags == p.tags
  }
}
