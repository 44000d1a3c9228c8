package graft.api

import graft.functions.Tags
import graft.operators.{TimeSeries => TS}
import graft.sources.JsonIngest
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's query surface IS its URL path (SURVEY.md: "the query
  * plan is the URL path"). This interpreter maps a nibbledb route string to
  * the equivalent DataFrame plan, so a user of the reference can run their
  * exact queries unchanged:
  *
  * {{{
  *   Router.run(df, "s1,s2/last/100/filter/loc/equals/1,2/sum")
  *   Router.run(df, "s1/range/1000/2000/filter/sci/contains/per")
  *   Router.run(df, "s1,s2/since/1000/mean")
  *   Router.run(df, "names") ; Router.run(df, "s1/length")
  * }}}
  *
  * Route grammar (reference `src/main.re:177-192`, xargs dispatch
  * `src/timeseries.re:502-511`):
  *   <ids>/last/<n>[/xargs] | <ids>/latest[/xargs] | <ids>/first/<n>[/xargs]
  *   | <ids>/earliest[/xargs] | <ids>/since/<t>[/xargs]
  *   | <ids>/range/<t1>/<t2>[/xargs] | <ids>/length
  *   | <ids>/memory/length | <ids>/disk/length | <ids>/index/length
  *   | <id>/index | names | info/ts/names | info/ts/stats | info/status
  *   | ctl/ts/sync
  * A leading `ts/` segment (the reference URL prefix for series routes,
  * `main.re:177`) is accepted and stripped so full reference paths replay
  * verbatim; a series literally named "ts" must be addressed without the
  * prefix.
  * xargs: filter/<name>/<equals|contains>/<value>[/<agg>] | <agg>
  *
  * Divergence (documented, SURVEY §7.5 #3): `equals` with a trailing
  * aggregation performs TRUE equality here; the reference accidentally
  * substring-matches on that one path (`src/timeseries.re:506`).
  */
object Router {

  /** Thrown ONLY when no route pattern matches the path. The reference
    * replies 400 `Error:unknown path` for these (`src/main.re:192,200`;
    * its 404 helper is dead code), a FIXED body distinct from the
    * specific messages argument errors inside a matched route carry (bad
    * filter grammar, unknown aggregate, non-numeric bounds — plain
    * [[IllegalArgumentException]]s, also 400). The binding dispatches on
    * the TYPE, not a message prefix, so the two reply shapes can never
    * shadow each other.
    */
  final class UnknownRouteException(route: String)
    extends IllegalArgumentException(s"unknown path: $route")

  /** I7 `GET /info/status` (reference `src/main.re:169-173,190`): the
    * health probe, `{"status":"ok"}` as a one-row frame. Pure — reaching
    * the route IS the health signal, as in the reference — so it reads
    * no store.
    */
  def health(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq("ok").toDF("status")
  }

  /** Route interpretation against a LIVE dual-tier store: the bare
    * last/latest routes take the tier-aware read (M1 can skip the disk
    * scan entirely); the I2 `memory/length` / `disk/length` routes
    * (`src/main.re:184-185`) read the split; the health probe and the
    * sync ack read no store; every other series-scoped
    * route runs over the ids' memory∪disk snapshot (disk pruned to their
    * buckets), and names/info over the whole store's — the tier seam is
    * invisible either way (property-tested), so only the hot-tail paths
    * need awareness.
    */
  def run(store: graft.sources.TieredStore, route: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, lit, sum}
    val parts = route.stripPrefix("/").stripSuffix("/").split('/').toList
    def tierLength(col: String, ids: String): DataFrame =
      store.lengthSplit(ids.split(',').toSeq)
        .agg(coalesce(sum(col), lit(0L)).as("length"))
    parts match {
      case "ts" :: rest if rest.nonEmpty => run(store, rest.mkString("/"))
      case "ctl" :: "ts" :: "sync" :: Nil => store.sync(); health(store.session)
      case "info" :: "status" :: Nil => health(store.session)
      case ids :: "last" :: n :: Nil => store.readLast(ids.split(',').toSeq, n.toInt)
      case ids :: "latest" :: Nil => store.readLast(ids.split(',').toSeq, 1)
      case ids :: "memory" :: "length" :: Nil => tierLength("mem_len", ids)
      case ids :: "disk" :: "length" :: Nil => tierLength("disk_len", ids)
      case "info" :: _ => run(store.snapshot, route)
      case ids :: _ :: _ => run(store.snapshot(ids.split(',').toSeq), route)
      case _ => run(store.snapshot, route) // names, or an unknown route
    }
  }

  /** POST `ts/<id>` (reference `src/main.re:60-74`): the body is ONE
    * point object or an ARRAY of them ([[graft.sources.JsonIngest]]'s
    * 4-shape grammar per element; the array branch mirrors the
    * reference's `A(lis)` iteration, as `explodeBatches` does). Good
    * elements buffer into the tiered store exactly like the streaming
    * path — per-series spill at `spillThreshold` (the reference's
    * `--shard-size` discipline); invalid elements are the 400 path,
    * returned as a count so the caller can surface them. The returned
    * one-row frame `(ingested, quarantined)` is the reference's "ok"
    * reply, as data — completing the router's method triangle
    * (GET [[run]], DELETE [[runDelete]], POST here).
    */
  def runPost(store: graft.sources.TieredStore, route: String, body: String,
              ingestTimeUs: Long = 0L, spillThreshold: Long = 20000L): DataFrame = {
    val parts = route.stripPrefix("/").stripSuffix("/").split('/').toList
    val id = parts match {
      case "ts" :: i :: Nil if i.nonEmpty => i
      case i :: Nil if i.nonEmpty => i
      case _ => throw new UnknownRouteException(route)
    }
    val session = store.session
    import session.implicits._
    // the body's elements are evaluated on the driver by the grammar's own
    // compiled expressions and buffered as rows, so no Spark job runs
    // unless a series spills; the ack counts come with the rows
    val b = JsonIngest.ingestBody(session, id, body, ingestTimeUs)
    store.ingestRows(b.good.toSeq, spillThreshold)
    Seq((b.good.length.toLong, (b.elements - b.good.length).toLong))
      .toDF("ingested", "quarantined")
  }

  def run(df: DataFrame, route: String): DataFrame = {
    val parts = route.stripPrefix("/").stripSuffix("/").split('/').toList
    parts match {
      case "ts" :: rest if rest.nonEmpty => run(df, rest.mkString("/"))
      case "names" :: Nil => TS.names(df)
      case "info" :: "ts" :: "names" :: Nil => TS.names(df)
      case "info" :: "ts" :: "stats" :: Nil => TS.stats(df)
      case "info" :: "status" :: Nil => health(df.sparkSession)
      // sync against a flat frame: nothing is buffered, ack like the
      // reference's empty-membuf flush (`src/timeseries.re:166-168`)
      case "ctl" :: "ts" :: "sync" :: Nil => health(df.sparkSession)
      case ids :: rest =>
        val series = ids.split(',').toSeq
        rest match {
          case "last" :: n :: xargs => pipe(TS.readLast(df, series, n.toInt), xargs)
          case "latest" :: xargs => pipe(TS.latest(df, series), xargs)
          case "first" :: n :: xargs => pipe(TS.readFirst(df, series, n.toInt), xargs)
          case "earliest" :: xargs => pipe(TS.earliest(df, series), xargs)
          case "since" :: t :: xargs => pipe(TS.readSince(df, series, t.toLong), xargs)
          case "range" :: t1 :: t2 :: xargs =>
            pipe(TS.readRange(df, series, t1.toLong, t2.toLong), xargs)
          case "length" :: Nil => TS.length(df, series)
          case "index" :: "length" :: Nil => TS.indexLength(df, series)
          // per-series index (reference get_index is single-id): a comma
          // list must fail LOUDLY — passing the raw segment through would
          // filter for a series literally named "a,b" and return a
          // plausible-looking empty index instead of an error
          case "index" :: Nil if series.size == 1 => TS.index(df, series.head)
          case "index" :: Nil => throw new IllegalArgumentException(
            s"index takes exactly one series, got ${series.size}: $route")
          case _ => throw new UnknownRouteException(route)
        }
      case _ => throw new UnknownRouteException(route)
    }
  }

  /** DELETE against the LIVE store (reference `src/main.re:97-118`): the
    * route's matched rows are physically removed — touched membufs
    * flushed first, affected shard partitions rewritten
    * ([[graft.sources.TieredStore.delete]]) — so subsequent [[run]]
    * reads through the same store see fewer points, exactly the
    * reference's observable DELETE behavior. Returns `{"deleted": n}` as
    * a one-row frame (the reference replies a bare ok; the count is this
    * engine's observable ack, like [[runPost]]'s). Grammar
    * (`main.re:196-202`): `<ids>/since/<t>[/filter/...]` |
    * `<ids>/range/<t1>/<t2>[/filter/...]`; leading `ts/` accepted.
    */
  def runDelete(store: graft.sources.TieredStore, route: String): DataFrame = {
    val session = store.session
    import session.implicits._
    def ack(n: Long): DataFrame = Seq(n).toDF("deleted")
    val parts = route.stripPrefix("/").stripSuffix("/").split('/').toList
    parts match {
      case "ts" :: rest if rest.nonEmpty => runDelete(store, rest.mkString("/"))
      case ids :: "since" :: t :: xargs =>
        ack(store.delete(ids.split(',').toSeq, t.toLong, Long.MaxValue,
          pipeGroups(xargs)))
      case ids :: "range" :: t1 :: t2 :: xargs =>
        ack(store.delete(ids.split(',').toSeq, t1.toLong, t2.toLong,
          pipeGroups(xargs)))
      case _ => throw new UnknownRouteException(route)
    }
  }

  /** xargs dispatch mirroring `process_data` (`src/timeseries.re:502-511`). */
  private def pipe(df: DataFrame, xargs: List[String]): DataFrame = xargs match {
    case Nil => df
    case "filter" :: name :: op :: value :: rest =>
      val filtered = TS.tagFilter(df, Tags.parseGroups(name, value, matchKind(op)))
      rest match {
        case Nil => filtered
        case agg :: Nil => TS.aggregate(filtered, agg)
        case _ => throw new IllegalArgumentException(s"bad pipe arguments: $xargs")
      }
    case agg :: Nil => TS.aggregate(df, agg)
    case _ => throw new IllegalArgumentException(s"bad pipe arguments: $xargs")
  }

  private def pipeGroups(xargs: List[String]): Seq[Tags.Group] = xargs match {
    case Nil => Nil
    case "filter" :: name :: op :: value :: Nil =>
      Tags.parseGroups(name, value, matchKind(op))
    case _ => throw new IllegalArgumentException(s"bad pipe arguments: $xargs")
  }

  private def matchKind(op: String): Tags.Match = op match {
    case "equals" => Tags.Eq
    case "contains" => Tags.Contains
    case other => throw new IllegalArgumentException(s"bad filter match kind: $other")
  }
}
