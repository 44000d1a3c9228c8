package graft

import graft.api.HttpBinding
import graft.model.Canon.{Datapoint, TagEntry}
import graft.sources.{ShardStore, TieredStore}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.http.HttpRequest.BodyPublishers
import java.net.http.HttpResponse.BodyHandlers
import org.apache.spark.sql.DataFrame

/** Real HTTP requests through a bound port — the reference's client
  * workload (`test/client.re:24-36`) and curl grammar replayed against
  * [[HttpBinding]], asserting the reference's reply shapes and status
  * codes (`main.re:28-41,120-173,216-223`).
  */
class HttpBindingSpec extends SparkSuite {

  private lazy val client = HttpClient.newHttpClient()
  private def req(base: String, path: String) =
    HttpRequest.newBuilder(URI.create(base + path))
  private def get(base: String, path: String): HttpResponse[String] =
    client.send(req(base, path).GET().build(), BodyHandlers.ofString())
  private def post(base: String, path: String, body: String): HttpResponse[String] =
    client.send(req(base, path).POST(BodyPublishers.ofString(body)).build(),
      BodyHandlers.ofString())
  private def delete(base: String, path: String): HttpResponse[String] =
    client.send(req(base, path).DELETE().build(), BodyHandlers.ofString())

  test("reference client workload replays over a bound port, reply shapes exact") {
    val st = new TieredStore(spark, tmpDir("http_store"))
    // spill at 3 so the workload straddles both tiers mid-test
    val http = new HttpBinding(st, clock = () => 999L, spillThreshold = 3L).start()
    try {
      val base = s"http://127.0.0.1:${http.boundPort}"
      // the reference load client's default request verbatim: POST
      // {"value": 42} to /ts/foo — the server stamps the timestamp
      // (timeseries.re:37-44; here the injected clock, 999)
      val r1 = post(base, "/ts/foo", """{"value": 42}""")
      assert(r1.statusCode() == 200, r1.body())
      assert(r1.body() == """{"ingested":1,"quarantined":0}""")
      assert(get(base, "/ts/foo/latest").body() ==
        """[{"timestamp":999,"value":42.0}]""")
      // array body with one invalid element: good points land, bad one
      // quarantines, counts surface in the ack
      val r2 = post(base, "/ts/foo",
        """[{"timestamp": 1000, "value": 1.5},
          | {"oops": true},
          | {"timestamp": 2000, "tag": [{"u": "3"}], "value": 2.5}]""".stripMargin)
      assert(r2.body() == """{"ingested":2,"quarantined":1}""")
      // GET reply shapes: length object, wire point array (ts desc),
      // filter+agg object, status object, names string array
      assert(get(base, "/ts/foo/length").body() == """{"length":3}""")
      assert(get(base, "/ts/foo/range/1000/2000").body() ==
        """[{"timestamp":2000,"tag":[{"u":"3"}],"value":2.5},{"timestamp":1000,"value":1.5}]""")
      assert(get(base, "/ts/foo/since/0/filter/u/equals/3/sum").body() == """{"sum":2.5}""")
      assert(get(base, "/info/status").body() == """{"status":"ok"}""")
      assert(get(base, "/info/ts/names").body() == """["foo"]""")
      assert(get(base, "/ctl/ts/sync").body() == """{"status":"ok"}""")
      // empty-result shapes: raw read → empty array, max over nothing →
      // the reference's {} empty-aggregate reply, sum → its 0 identity
      assert(get(base, "/ts/other/since/0").body() == "[]")
      assert(get(base, "/ts/other/since/0/max").body() == "{}")
      assert(get(base, "/ts/other/since/0/sum").body() == """{"sum":0.0}""")
      // DELETE verb mutates the live store through the same socket
      val d = delete(base, "/ts/foo/range/0/1500")
      assert(d.statusCode() == 200 && d.body() == """{"deleted":2}""", d.body())
      assert(get(base, "/ts/foo/length").body() == """{"length":1}""")
      // error replies: both classes are 400 like the reference, but an
      // unmatched path gets its exact fixed body `Error:unknown path`
      // (main.re:192,200) while grammar args carry a specific message
      val nf = get(base, "/nope")
      assert(nf.statusCode() == 400 && nf.body() == "Error:unknown path\n", nf.body())
      val bad = get(base, "/ts/foo/last/xx")
      assert(bad.statusCode() == 400 && bad.body().startsWith("Error:")
        && bad.body() != "Error:unknown path\n")
      assert(delete(base, "/ts/foo/nope/1").body() == "Error:unknown path\n")
      assert(post(base, "/ts/a/b/c", "{}").body() == "Error:unknown path\n")
      // argument errors inside a MATCHED route must keep their specific
      // message — truncated filter grammar, bad match kind, unknown
      // aggregate; the r9/r10 bug was prefix-matching these into the
      // unmatched-path reply
      assert(get(base, "/ts/foo/since/0/filter/u/equals").statusCode() == 400)
      assert(get(base, "/ts/foo/since/0/filter/u/near/1").statusCode() == 400)
      assert(get(base, "/ts/foo/since/0/variance").statusCode() == 400)
      assert(delete(base, "/ts/foo/since/0/filter/u/equals").statusCode() == 400)
    } finally http.stop()
  }

  /** The binding's `render(DataFrame): String`, found and called the way
    * perfbench's in-process replays find and call it. */
  private def renderOf(http: HttpBinding): Option[DataFrame => String] =
    classOf[HttpBinding].getDeclaredMethods.find(m =>
      (m.getName == "render" || m.getName.endsWith("$$render")) &&
        m.getParameterTypes.toSeq == Seq(classOf[DataFrame]) &&
        m.getReturnType == classOf[String]).map { m =>
      m.setAccessible(true)
      df => try m.invoke(http, df).asInstanceOf[String]
        catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
    }

  test("HttpBinding declares render(DataFrame): String, the benchmark's replay hook") {
    // without it perfbench's replays fall back to a copy of the old
    // render, and their traced counts stop measuring this binding
    val http = new HttpBinding(new TieredStore(spark, tmpDir("http_hook")))
    try assert(renderOf(http).nonEmpty) finally http.stop()
  }

  private val T0 = 1704067200000000L
  // integer values, so an aggregate's sum does not depend on the order
  // its partial sums merge in
  private def dp(s: String, ts: Long, rid: Long) =
    Datapoint(s, ts, Some(Seq(TagEntry("k", (rid % 2).toString))), rid.toDouble, rid)

  /** Series a, b and c with 60 hourly points each on disk; a buffers 20
    * points past its disk range, b one point inside it. */
  private def grammarStore(name: String): TieredStore = {
    import spark.implicits._
    val st = new TieredStore(spark, tmpDir(name))
    st.appendDisk(Seq("a", "b", "c").flatMap(s =>
      (0L until 60L).map(i => dp(s, T0 + i * 3600000000L, s.head.toLong * 1000L + i))).toDF())
    st.appendMemory((0L until 20L).map(i => dp("a", T0 + 400000000000L + i, 900000L + i)).toDF())
    st.appendMemory(Seq(dp("b", T0 + 1000L, 800000L)).toDF())
    st
  }

  /** Every GET route of the reference's grammar, over [[grammarStore]]'s series. */
  private val grammar: Seq[String] = {
    val reads = Seq("last/5", "latest", "first/3", "earliest", s"since/${T0 + 50 * 3600000000L}",
      s"range/$T0/${T0 + 10 * 3600000000L}")
    val xargs = Seq("", "/filter/k/equals/1", "/sum", "/filter/k/contains/0/mean",
      "/count", "/max", "/min", "/median")
    Seq("a/last/30", "b/last/5") ++
      (for (r <- reads; x <- xargs) yield s"a,c/$r$x") ++
      Seq("a,b/length", "a,b/memory/length", "a,b/disk/length", "a,b/index/length", "a/index",
        "names", "info/ts/names", "info/ts/stats")
  }

  test("every GET route renders as one job with no exchange, byte-equal to the plain frame's reply") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // a: buffered past its disk range (M1, and M2 for last/30); b: one
    // buffered point inside its disk range, merged with b's disk rows
    val st = grammarStore("http_grammar")
    val http = new HttpBinding(st)
    val render = renderOf(http).get
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    var marker = 700000L
    /** The plans the block executed: a marker query runs after it, and its
      * listener event arrives after theirs. */
    def executed(f: => Unit): Seq[SparkPlan] = {
      plans.clear()
      f
      marker += 1
      spark.range(marker).count()
      def isMarker(qe: QueryExecution) = qe.executedPlan.toString.contains(s"Range (0, $marker")
      val deadline = System.nanoTime() + 60000000000L
      while (!plans.toArray.exists(q => isMarker(q.asInstanceOf[QueryExecution])) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      plans.toArray.toSeq.map(_.asInstanceOf[QueryExecution]).filterNot(isMarker).map(_.executedPlan)
    }
    spark.listenerManager.register(listener)
    try grammar.foreach { route =>
      val frame = graft.api.Router.run(st, route)
      val plain = HttpBinding.reply(frame)
      var (got, sites) = ("", Seq.empty[String])
      val ran = executed { JobProbe.sites(spark)(render(frame)) match { case (r, s) => got = r; sites = s } }
      assert(got == plain, route)
      assert(sites.size == 1 && ran.nonEmpty, s"$route ran ${sites.size} jobs:\n${ran.mkString("\n")}")
      ran.foreach(p => assert(!nodes(p).exists(_.isInstanceOf[ShuffleExchangeExec]), s"$route:\n$p"))
      if (route == "a/last/30") // M2: the buffer's 20 points and 10 from disk
        assert(frame.queryExecution.executedPlan.toString.contains("FileScan") &&
          got.split("\"timestamp\"").length - 1 == 30 && st.memStatsView.contains("a"))
      if (route == "b/last/5") // the overlapping point was merged, not flushed
        assert(frame.queryExecution.executedPlan.toString.contains("FileScan") &&
          st.memStatsView.contains("b"))
    } finally {
      spark.listenerManager.unregister(listener)
      http.stop()
    }
  }

  test("no GET route publishes a version or moves the buffer") {
    import spark.implicits._
    // x shares a's bucket and its disk tail is newer than a's buffer, so
    // a's buffer fails its bucket's bound; b's buffer overlaps its own
    // disk range
    assert(Seq("a", "x").map(ShardStore.bucketOf(_, ShardStore.Buckets)) == Seq(3L, 3L))
    val st = grammarStore("http_no_write")
    st.appendDisk(Seq(dp("x", T0 + 500000000000L, 700000L)).toDF())
    val (version, buffer) = (st.diskVersions.last.version, st.memStatsView)
    assert(buffer.keySet == Set("a", "b"))
    val http = new HttpBinding(st).start()
    try grammar.foreach { route =>
      val r = get(s"http://127.0.0.1:${http.boundPort}", "/" + route)
      assert(r.statusCode() == 200, s"$route: ${r.body()}")
      assert(st.diskVersions.last.version == version, route)
      assert(st.memStatsView == buffer, route)
    } finally http.stop()
  }

  test("a binding turns the JDK server's TCP_NODELAY on before creating its server") {
    val http = new HttpBinding(new TieredStore(spark, tmpDir("http_nodelay")))
    try assert(System.getProperty("sun.net.httpserver.nodelay") == "true")
    finally http.stop()
  }

  test("the method triangle replays over a REAL TLS socket (reference --enable-tls, main.re:13,230-235)") {
    import javax.net.ssl.{KeyManagerFactory, SSLContext, TrustManagerFactory}
    // self-signed keystore generated test-locally with the JDK's keytool
    // (the reference ships cert files alongside its --tls-mode flag;
    // here the cert is throwaway per-run). SAN=IP is required: the JDK
    // client verifies the peer identity against the URL's 127.0.0.1.
    val ksPath = new java.io.File(tmpDir("tls"), "ks.p12").getAbsolutePath
    val keytool = new ProcessBuilder(
      sys.props("java.home") + "/bin/keytool",
      "-genkeypair", "-alias", "graft", "-keyalg", "RSA", "-keysize", "2048",
      "-validity", "2", "-storepass", "changeit", "-keypass", "changeit",
      "-dname", "CN=127.0.0.1", "-ext", "SAN=IP:127.0.0.1",
      "-keystore", ksPath, "-storetype", "PKCS12").start()
    assert(keytool.waitFor() == 0, "keytool keystore generation failed")
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = new java.io.FileInputStream(ksPath)
    try ks.load(in, "changeit".toCharArray) finally in.close()
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "changeit".toCharArray)
    val serverCtx = SSLContext.getInstance("TLS")
    serverCtx.init(kmf.getKeyManagers, null, null)
    // the client trusts exactly this self-signed cert (the keystore
    // doubles as its truststore) — no trust-all shortcuts, so a wrong
    // server cert would fail this test
    val tmf = TrustManagerFactory.getInstance(TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(ks)
    val clientCtx = SSLContext.getInstance("TLS")
    clientCtx.init(null, tmf.getTrustManagers, null)
    val st = new TieredStore(spark, tmpDir("https_store"))
    val http = new HttpBinding(st, ssl = Some(serverCtx), clock = () => 999L).start()
    try {
      val tls = HttpClient.newBuilder().sslContext(clientCtx).build()
      val base = s"https://127.0.0.1:${http.boundPort}"
      def tget(p: String) =
        tls.send(req(base, p).GET().build(), BodyHandlers.ofString())
      // POST → GET → DELETE — the full verb triangle over the TLS socket
      val r1 = tls.send(req(base, "/ts/tls").POST(
        BodyPublishers.ofString("""{"value": 42}""")).build(), BodyHandlers.ofString())
      assert(r1.statusCode() == 200 &&
        r1.body() == """{"ingested":1,"quarantined":0}""", r1.body())
      assert(tget("/ts/tls/latest").body() == """[{"timestamp":999,"value":42.0}]""")
      val d = tls.send(req(base, "/ts/tls/range/0/99999").DELETE().build(),
        BodyHandlers.ofString())
      assert(d.statusCode() == 200 && d.body() == """{"deleted":1}""", d.body())
      assert(tget("/ts/tls/length").body() == """{"length":0}""")
      // and the error surface is intact through TLS
      val nf = tget("/nope")
      assert(nf.statusCode() == 400 && nf.body() == "Error:unknown path\n", nf.body())
      // an untrusting client is refused at the HANDSHAKE — the socket
      // really speaks TLS, not plaintext on a fancy port
      intercept[javax.net.ssl.SSLHandshakeException] {
        HttpClient.newHttpClient().send(
          req(base, "/info/status").GET().build(), BodyHandlers.ofString())
      }
    } finally http.stop()
  }
}
