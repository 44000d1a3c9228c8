package graft.api

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer, HttpsConfigurator, HttpsServer}
import graft.model.Canon
import graft.sources.TieredStore
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.OnePartition

/** The reference's HTTP listener as a thin JDK binding over [[Router]] —
  * the last surface delta between "same query grammar" and "drop-in": a
  * reference user's curl/client workloads (`/root/reference/test/
  * client.re:24-36`) replay against a bound port unchanged.
  *
  * Method triangle (reference `src/main.re:205-214`):
  * GET → [[Router.run]], POST → [[Router.runPost]] (body = one wire point
  * or an array; points without a timestamp are server-stamped via `clock`,
  * the reference's `timestamp_from_seconds(time())`, `timeseries.re:37-44`),
  * DELETE → [[Router.runDelete]] (live-store mutation). Responses mirror
  * the reference shapes (`main.re:120-173`): raw reads are a JSON array of
  * wire points, `length`/aggregate/status replies are a single object,
  * `names` is an array of strings, and error replies are 400 with the
  * reference's `Error:<msg>\n` text body — unmatched paths get its exact
  * `Error:unknown path` (`main.re:192,200`), validation failures inside a
  * matched route carry their specific message (`main.re:216-223`). POST/DELETE acks carry this engine's observable
  * counts (`{"ingested":…,"quarantined":…}` / `{"deleted":…}`) where the
  * reference replies an empty ok — a documented extension.
  *
  * Concurrency: every request runs on ONE executor thread — the
  * reference's global request mutex (`main.re:225-227`), and the right
  * call discipline for a single shared SparkSession. TLS mirrors the
  * reference's optional `--tls-mode` (`main.re:13,233`): pass an
  * [[javax.net.ssl.SSLContext]] and the same routes serve HTTPS.
  *
  * Replies go out with `TCP_NODELAY`: the JDK server writes a reply's
  * headers and body as two sends, and with Nagle's algorithm on the body
  * waits for the client's delayed ACK of the headers (40+ ms per
  * request on Linux). The JDK reads its `sun.net.httpserver.nodelay`
  * property once, when its server classes load, so the companion sets it
  * before the first server is created, unless the JVM's user already set
  * it.
  *
  * Scale note: the HTTP surface is the reference's INTERACTIVE protocol —
  * replies are built in memory like the reference's Ezjsonm bodies, so it
  * is for bounded, human-scale queries. The 100 TB path is the library
  * surface (DataFrames from [[Router]]/operators), not this socket.
  *
  * One partition per reply: the reference answers a read inside one
  * process from a few shards, and a reply here is bounded the same way,
  * so this surface evaluates every frame it renders as one partition
  * ([[org.apache.spark.sql.graft.OnePartition]]). A GET then plans no
  * exchange and runs one stage, one task and one job. Planned as
  * [[Router]] builds it, a `last n` runs 5 jobs: a shuffle-map job and an
  * adaptive re-plan for each exchange of its window, its global sort (and
  * that sort's range-sampling job) and its aggregates, over a few KB — a
  * fixed per-stage cost that bounds the latency, not the data. Only the
  * socket's frames are rewritten; [[Router]] and [[TieredStore]] frames
  * keep their distributed plans for library callers.
  */
final class HttpBinding(store: TieredStore, port: Int = 0,
                        ssl: Option[javax.net.ssl.SSLContext] = None,
                        spillThreshold: Long = 20000L,
                        clock: () => Long = () => System.currentTimeMillis() * 1000L) {
  HttpBinding.noDelay

  private val server: HttpServer = ssl match {
    case Some(ctx) =>
      val s = HttpsServer.create(new InetSocketAddress(port), 0)
      s.setHttpsConfigurator(new HttpsConfigurator(ctx))
      s
    case None => HttpServer.create(new InetSocketAddress(port), 0)
  }

  server.createContext("/", new HttpHandler {
    def handle(ex: HttpExchange): Unit =
      try {
        val path = ex.getRequestURI.getPath
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val reply = ex.getRequestMethod match {
          case "GET"    => render(Router.run(store, path))
          case "POST"   => render(Router.runPost(store, path, body, clock(), spillThreshold))
          case "DELETE" => render(Router.runDelete(store, path))
          case m => throw new IllegalArgumentException(s"unknown method $m")
        }
        respond(ex, 200, "application/json", reply)
      } catch {
        case _: Router.UnknownRouteException =>
          // the router's typed unmatched-route signal. The reference
          // replies 400 `Error:unknown path` for unmatched paths
          // (`main.re:192,200` — its not_found helper, `main.re:36`, is
          // dead code), so that exact reply is reproduced here; the TYPE
          // dispatch keeps the fixed body from ever shadowing a matched
          // route's specific validation message below
          respond(ex, 400, "text/plain", "Error:unknown path\n")
        case e: IllegalArgumentException =>
          // everything else within a matched route (bad numbers, bad
          // filter/pipe grammar, unknown aggregate) is the reference's 400
          respond(ex, 400, "text/plain", s"Error:${e.getMessage}\n")
        case e: Exception =>
          respond(ex, 500, "text/plain", s"Error:${e.getMessage}\n")
      } finally ex.close()
  })
  server.setExecutor(Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "graft-http"); t.setDaemon(true); t
  })

  def start(): HttpBinding = { server.start(); this }

  /** The actual bound port (pass port=0 for an ephemeral one). */
  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = server.stop(0)

  private def respond(ex: HttpExchange, code: Int, contentType: String,
                      body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1L else bytes.length.toLong)
    if (bytes.nonEmpty) {
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
  }

  /** A route's frame as its reply body, evaluated as one partition. */
  private def render(df: DataFrame): String = HttpBinding.reply(OnePartition(df))
}

object HttpBinding {
  private lazy val noDelay: Unit =
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")

  /** Reference reply shapes, decided by the frame's column set: canonical
    * rows → wire point array; the names route's single `series` column →
    * array of bare strings; otherwise one object per row (0 rows → `{}`,
    * the reference's empty-aggregate shape; >1 → an array of objects for
    * the tabular info routes, this engine's stats/index generalizations).
    * `df` is evaluated as it is planned.
    */
  private[graft] def reply(df: DataFrame): String = {
    val cols = df.columns.toSeq
    if (cols == Canon.schema.fieldNames.toSeq)
      Wire.toJsonRows(df).collect().map(_.getString(0)).mkString("[", ",", "]")
    else if (cols == Seq(Canon.SERIES))
      df.collect().map(r => quote(r.getString(0))).mkString("[", ",", "]")
    else {
      val rows = Wire.aggToJson(df).collect().map(_.getString(0))
      rows.length match {
        case 0 => "{}"
        case 1 => rows(0)
        case _ => rows.mkString("[", ",", "]")
      }
    }
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
