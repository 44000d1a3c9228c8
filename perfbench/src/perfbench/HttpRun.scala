package perfbench

import graft.api.{HttpBinding, Router}
import graft.sources.{JsonIngest, TieredStore}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.time.Duration
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Result of one request: latency, reply size and, if the reply was
  * wrong, why. */
final case class Sample(op: Op, ms: Double, bytes: Int, failure: Option[String])

/** Drives one HTTP workload against a real [[HttpBinding]] over a
  * [[TieredStore]], with every reply checked against the model. One
  * client, closed loop: the next request is sent when the previous reply
  * has been checked.
  *
  * Untraced (`--trace 0`): set up three times (setup_s is the median; a
  * restart workload preloads once and restarts three times), warm up,
  * then run whole decks for the measured seconds.
  * Traced (`--trace 1`): a fixed request count through HTTP, then the same
  * request sequence replayed in-process twice on identical fresh stores,
  * untraced and traced, and the per-layer metrics from the traced replay. */
final class HttpRun(spark: SparkSession, spec: HttpSpec, seed: Long, work: Path, out: Path) {
  /** The server clock: set to a server-stamped body's stamp before it is
    * sent, so its points get the generator's timestamp. */
  @volatile private var clock = 0L
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  final class Server(val store: TieredStore, val binding: HttpBinding, val root: Path) {
    def stop(): Unit = binding.stop()
  }

  /** Preload (and for a restart workload, reopen) a fresh store root, bind
    * the server and wait for its first reply. */
  def setup(i: Int): (Server, Double) = {
    val t0 = System.nanoTime()
    val root = work.resolve(s"store-$i")
    var store = new TieredStore(spark, root.toString)
    spec.preload.frames(spark, seed).foreach(store.appendDisk)
    if (spec.reopen) store = new TieredStore(spark, root.toString)
    (bind(store, root), (System.nanoTime() - t0) / 1e9)
  }

  /** A server restart on `srv`'s root: a fresh store over its files, bound
    * and answering. */
  def restart(srv: Server): (Server, Double) = {
    srv.stop()
    val t0 = System.nanoTime()
    val next = bind(new TieredStore(spark, srv.root.toString), srv.root)
    (next, (System.nanoTime() - t0) / 1e9)
  }

  private def bind(store: TieredStore, root: Path): Server = {
    val binding = new HttpBinding(store, 0, None, spec.spillThreshold, () => clock).start()
    val (status, body) = send(binding.boundPort, "GET", "/ts/info/status", null)
    require(status == 200 && body.contains("ok"), s"server not ready: $status $body")
    new Server(store, binding, root)
  }

  private def send(port: Int, method: String, path: String, body: String): (Int, String) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(Duration.ofSeconds(60))
    val req = method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case "POST" => b.POST(HttpRequest.BodyPublishers.ofString(body))
    }
    val r = http.send(req.build(), HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }

  private def viaHttp(port: Int, op: Op): (Int, String) =
    try {
      if (op.stamp >= 0) clock = op.stamp
      send(port, op.method, op.path, op.body)
    } catch { case e: Exception => (-1, s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** The route call HttpBinding makes for a request, without the socket. */
  private def route(store: TieredStore, op: Op) = op.method match {
    case "GET" => Router.run(store, op.path)
    case "POST" => Router.runPost(store, op.path, op.body, math.max(op.stamp, 0L), spec.spillThreshold)
    case "DELETE" => Router.runDelete(store, op.path)
  }

  private def record(op: Op, ms: Double, status: Int, body: String): Sample = {
    val f = Check(op.expect, status, body)
    attempted += 1
    f.foreach { why =>
      failed += 1
      if (failures.size < 20) failures += s"${op.method} ${op.path.take(120)}: $why"
    }
    Sample(op, ms, if (body == null) 0 else body.length, f)
  }

  /** `n` requests of `gen` through HTTP. */
  private def loop(srv: Server, gen: Gen, n: Int): Seq[Sample] =
    (1 to n).map { _ =>
      val op = gen.next()
      val s0 = System.nanoTime()
      val (status, body) = viaHttp(srv.binding.boundPort, op)
      record(op, (System.nanoTime() - s0) / 1e6, status, body)
    }

  /** Whole decks through HTTP, the fewest that last `seconds`; returns
    * the samples and the wall seconds they took. */
  private def decks(srv: Server, gen: Gen, seconds: Double): (Seq[Sample], Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val samples = mutable.ArrayBuffer.empty[Sample]
    while (samples.isEmpty || System.nanoTime() < deadline) samples ++= loop(srv, gen, spec.deck)
    (samples.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  private def classLatency(samples: Seq[Sample]): Map[String, Seq[Double]] = {
    val by = samples.groupBy(_.op.cls).map { case (k, v) => k -> v.map(_.ms) }
    by + ("read" -> samples.filter(s => Set("last", "scan", "meta")(s.op.cls)).map(_.ms))
  }

  private def dirBytes(root: Path): (Long, Long) = {
    val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    (files.count(_.toString.endsWith(".parquet")).toLong, files.map(Files.size).sum)
  }

  /** One set-up and a few requests, unmeasured. */
  def train(): Unit = {
    val (srv, _) = setup(1)
    loop(srv, spec.gen(seed, spec.preload.model(seed)), 4)
    srv.stop()
  }

  def run(seconds: Double, trace: Boolean): Outcome =
    if (trace) traced() else untraced(seconds)

  private def untraced(seconds: Double): Outcome = {
    val (srv, setups) =
      if (spec.reopen) {
        // a restart workload: preload once, then time three restarts
        var (srv, s) = setup(0)
        Main.log(f"preload and first open ${s}%.2fs")
        val restarts = (1 to 3).map { i =>
          val (next, t) = restart(srv)
          srv = next
          Main.log(f"restart $i ${t}%.2fs")
          t
        }
        (srv, restarts)
      } else {
        // keep only the server of the last set-up, so the earlier stores
        // are garbage by the time the heap is read
        val all = (1 to 3).map { i =>
          val (srv, s) = setup(i)
          Main.log(f"setup $i ${s}%.2fs")
          if (i < 3) { srv.stop(); Main.deleteTree(srv.root); (None, s) } else (Some(srv), s)
        }
        (all.last._1.get, all.map(_._2))
      }
    val metrics = Metric("setup_s", Stats.median(setups), "s") +: measure(srv, seconds)
    srv.stop()
    // last, once the load generator's model and samples are garbage: the
    // heap the server process keeps for its store and Spark
    val heap = Main.heapLiveMb()
    java.lang.ref.Reference.reachabilityFence(srv)
    report()
    Outcome(attempted, failed, metrics :+ Metric("heap_live_mb", heap, "MB"))
  }

  /** Warm-up and measured window on `srv`; keeps no reference to the
    * model or the samples once it returns. */
  private def measure(srv: Server, seconds: Double): Seq[Metric] = {
    val model = spec.preload.model(seed)
    val gen = spec.gen(seed, model)
    loop(srv, gen, spec.warmOps)
    Main.log("warm-up done")
    val (samples, wall) = decks(srv, gen, seconds)
    Main.log(s"measured ${samples.size} requests")
    val lat = classLatency(samples)
    val points = samples.filter(s => s.op.cls == "write" && s.failure.isEmpty).map(_.op.points).sum
    val (_, bytes) = dirBytes(srv.root)
    val detail = Seq("write", "read", "last", "scan", "meta", "delete").filter(lat.contains).map(c =>
      f"$c n=${lat(c).size} p50=${Stats.median(lat(c))}%.1fms p90=${Stats.quantile(lat(c), 0.9)}%.1fms")
    System.err.println(s"[perfbench] ${spec.name} ${detail.mkString("; ")}; " +
      f"points_per_s=${points / wall}%.1f disk_bytes_per_point=${bytes.toDouble / model.live}%.1f")
    Seq(
      Metric("op_p50_ms", Stats.median(samples.map(_.ms)), "ms"),
      Metric("op_geomean_ms", Stats.geomean(samples.map(_.ms)), "ms"),
      Metric("ops_per_s", samples.size / wall, "1/s"))
  }

  private def report(): Unit =
    failures.foreach(f => System.err.println(s"[perfbench] FAIL $f"))

  /** Replays the first `n` requests in-process on a fresh identical store;
    * with a collector, every call is a span and Spark's work is
    * attributed. The reply is HttpBinding's own render of the route's
    * frame. */
  private def replay(i: Int, n: Int, col: Option[Collector])
      : (Seq[Sample], Seq[ReqTrace], Server, StoreModel) = {
    val (srv, _) = setup(i)
    srv.stop()
    val render = Render.of(srv.binding)
    val model = spec.preload.model(seed)
    val gen = spec.gen(seed, model)
    col.foreach(_.install())
    val reqs = (1 to n).map { _ =>
      val op = gen.next()
      val req = Trace.nextId()
      col.foreach(_.pendingSpan.set(req))
      val before = col.map(_ => srv.store.diskVersions.size).getOrElse(0)
      val (routeId, renderId) = (Trace.nextId(), Trace.nextId())
      val t0 = Trace.nowMs()
      var t1 = t0
      val (status, body) =
        try {
          val df = col.fold(route(srv.store, op))(_.within(routeId)(route(srv.store, op)))
          t1 = Trace.nowMs()
          (200, col.fold(render(df))(_.within(renderId)(render(df))))
        } catch {
          case e: IllegalArgumentException => (400, s"Error:${e.getMessage}")
          case e: Exception => (500, s"Error:${e.getMessage}")
        }
      val t2 = Trace.nowMs()
      col.foreach(_ => Bus.drain(spark.sparkContext))
      val after = col.map(_ => srv.store.diskVersions.size).getOrElse(0)
      val s = record(op, t2 - t0, status, body)
      (s, ReqTrace(req, routeId, renderId, op, t0, t1, t2, s.bytes, after - before))
    }
    col.foreach(_.uninstall())
    (reqs.map(_._1), reqs.map(_._2), srv, model)
  }

  private def traced(): Outcome = {
    val n = spec.traceOps
    val (srvA, _) = setup(1)
    loop(srvA, spec.gen(seed, spec.preload.model(seed)), spec.warmOps)
    srvA.stop()
    Main.deleteTree(srvA.root)
    // the measured HTTP phase starts on a fresh store so that the replays,
    // which start fresh too, see the identical request sequence
    val (srvH, _) = setup(2)
    val t0 = System.nanoTime()
    val httpSamples = loop(srvH, spec.gen(seed, spec.preload.model(seed)), n)
    val wall = (System.nanoTime() - t0) / 1e9
    srvH.stop()
    Main.deleteTree(srvH.root)
    Main.log("HTTP phase done")
    val (plain, _, srvB, _) = replay(3, n, None)
    Main.deleteTree(srvB.root)
    Main.log("untraced replay done")
    val col = new Collector(spark)
    val (_, reqs, srvC, model) = replay(4, n, Some(col))
    Main.log("traced replay done")
    val jobs = col.jobs.values.asScala.toSeq
    val qes = col.qes.asScala.toSeq
    val spans = spansOf(reqs, jobs)
    val tag = s"${spec.name}-seed$seed"
    Trace.writeSpans(out.resolve(s"$tag-spans.jsonl"), spans)
    val m = layerMetrics(reqs, jobs, qes, srvC, model.live) ++ httpMetrics(httpSamples, wall) ++ Map(
      "api.http_ms" -> (Stats.median(httpSamples.map(_.ms)) - Stats.median(plain.map(_.ms))),
      "trace.overhead_pct" -> 100.0 * (reqs.map(r => r.end - r.start).sum / plain.map(_.ms).sum - 1),
      "ingest.parse_ms_per_kpoint" -> parseMsPerKpoint(reqs.map(_.op)))
    report()
    Outcome(attempted, failed, Layers.complete(m ++ Main.hostMetrics(work)))
  }

  private def httpMetrics(samples: Seq[Sample], wall: Double): Map[String, Double] = {
    val lat = classLatency(samples)
    def q(c: String, p: Double) = lat.get(c).fold(0.0)(Stats.quantile(_, p))
    Map("api.write_p50_ms" -> q("write", 0.5), "api.write_p90_ms" -> q("write", 0.9),
      "api.read_p50_ms" -> q("read", 0.5), "api.read_p90_ms" -> q("read", 0.9),
      "api.last_p50_ms" -> q("last", 0.5), "api.scan_p50_ms" -> q("scan", 0.5),
      "api.delete_p50_ms" -> q("delete", 0.5),
      "api.points_per_s" -> samples.filter(_.op.cls == "write").map(_.op.points).sum / wall)
  }

  /** Standalone JsonIngest cost on the workload's own POST bodies:
    * explode + validate + parse, both outputs materialized. */
  private def parseMsPerKpoint(ops: Seq[Op]): Double = {
    import spark.implicits._
    val posts = ops.filter(_.method == "POST")
    if (posts.isEmpty) return 0.0
    val wire = posts.map(o => (o.path.stripPrefix("/ts/"), o.body)).toDF("series", "json")
    val points = posts.map(_.points).sum
    def once(): Double = {
      val t0 = System.nanoTime()
      val r = JsonIngest.ingest(JsonIngest.explodeBatches(wire), 0L)
      r.good.write.format("noop").mode("overwrite").save()
      r.bad.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }
    once()
    once() / points * 1000
  }

  private def spansOf(reqs: Seq[ReqTrace], jobs: Seq[JobStat]): Seq[Span] = {
    val reqOf = reqs.flatMap(r => Seq(r.routeId -> r.id, r.renderId -> r.id)).toMap
    reqs.flatMap { r =>
      val routeName = r.op.method match {
        case "GET" => "Router.run"; case "POST" => "Router.runPost"; case _ => "Router.runDelete"
      }
      Seq(Span(r.id, s"${r.op.method} ${r.op.cls}", r.start, r.end, 0L, r.id, "bench"),
        Span(r.routeId, routeName, r.start, r.routeEnd, r.id, r.id, "api"),
        Span(r.renderId, "render", r.routeEnd, r.end, r.id, r.id, "api"))
    } ++ jobs.sortBy(_.jobId).map(j =>
      Span(Trace.nextId(), s"job ${j.jobId} ${j.site}", j.start.toDouble, j.end.toDouble,
        j.span, reqOf.getOrElse(j.span, -1L), j.module))
  }

  private def layerMetrics(reqs: Seq[ReqTrace], jobs: Seq[JobStat], qes: Seq[QeStat],
                           srv: Server, livePoints: Long): Map[String, Double] = {
    val jobsOf = jobs.groupBy(j => j.span)
    def js(r: ReqTrace): Seq[JobStat] =
      jobsOf.getOrElse(r.routeId, Nil) ++ jobsOf.getOrElse(r.renderId, Nil)
    val qeOf = qes.groupBy(_.span)
    def qs(r: ReqTrace): Seq[QeStat] = qeOf.getOrElse(r.id, Nil)
    val reads = reqs.filter(_.op.method == "GET")
    val writes = reqs.filter(_.op.method == "POST")
    val deletes = reqs.filter(_.op.method == "DELETE")
    def perReq(rs: Seq[ReqTrace])(f: ReqTrace => Double): Double = Stats.mean(rs.map(f))
    val tieredJobs = jobs.filter(_.module == "tiered")
    def isCheckpoint(j: JobStat) = j.module == "tiered" && j.site.toLowerCase.contains("checkpoint")
    val spills = writes.map(_.versionsAdded).sum
    val committed = reqs.map(_.versionsAdded).sum
    val lastReads = reads.filter(r => r.op.path.contains("/last/") || r.op.path.endsWith("/latest"))
    val versions = srv.store.diskVersions
    val (files, bytes) = dirBytes(srv.root)
    val manifestMs = Stats.median((1 to 5).map { _ =>
      val t0 = System.nanoTime(); srv.store.diskVersions; (System.nanoTime() - t0) / 1e6
    })
    val readRows = reads.map(_.rowsOut).sum
    val classJobs = Seq("read" -> reads, "write" -> writes, "delete" -> deletes)
    Map(
      "api.route_ms" -> Stats.median(reqs.map(r => r.routeEnd - r.start)),
      "api.render_ms" -> Stats.median(reqs.map(r => r.end - r.routeEnd)),
      "api.reply_bytes" -> Stats.median(reqs.map(_.bytes.toDouble)),
      "api.ack_count_ms" -> (if (writes.isEmpty) 0.0 else Stats.median(writes.map(r =>
        js(r).filter(_.site.contains("Router.scala")).map(_.ms).sum))),
      "tiered.checkpoint_ms" -> perReq(writes)(r => js(r).filter(isCheckpoint).map(_.ms).sum),
      "tiered.checkpoint_jobs" -> jobs.count(isCheckpoint).toDouble / reqs.size,
      "tiered.qualify_ms" -> perReq(reqs)(r =>
        js(r).filter(j => j.module == "tiered" && !isCheckpoint(j)).map(_.ms).sum),
      "tiered.mem_tasks" -> Stats.mean(tieredJobs.map(_.tasks.toDouble)),
      "tiered.mem_only_frac" -> (if (lastReads.isEmpty) 0.0 else lastReads.count(r =>
        js(r).map(_.inputBytes).sum == 0L && qs(r).map(_.files).sum == 0L).toDouble / lastReads.size),
      "tiered.spills" -> spills.toDouble,
      "tiered.forced_flushes" -> reads.map(_.versionsAdded).sum.toDouble,
      "tiered.delete_ms" -> (if (deletes.isEmpty) 0.0 else Stats.median(deletes.map(r => r.routeEnd - r.start))),
      "tiered.buffered_points" -> srv.store.bufferedCount().toDouble,
      "versioned.chain_len" -> versions.size.toDouble,
      "versioned.data_dirs" -> versions.lastOption.fold(0)(_.dirs.size).toDouble,
      "versioned.files" -> files.toDouble,
      "versioned.bytes" -> bytes.toDouble,
      "versioned.bytes_per_point" -> bytes.toDouble / math.max(1L, livePoints),
      "versioned.manifest_list_ms" -> manifestMs,
      "versioned.write_ms" -> (if (committed == 0) 0.0
        else reqs.map(r => js(r).filter(_.module == "versioned").map(_.ms).sum).sum / committed),
      "versioned.listing_ms" -> perReq(reads)(r =>
        js(r).filter(_.module == "listing").map(_.ms).sum + qs(r).map(_.listingMs).sum),
      "versioned.paths_listed" -> perReq(reads)(r => js(r).map(_.pathsListed).sum.toDouble),
      "versioned.files_read" -> perReq(reads)(r => qs(r).map(_.files).sum.toDouble),
      "versioned.bytes_read" -> perReq(reads)(r => js(r).map(_.inputBytes).sum.toDouble),
      "versioned.rows_scanned_per_row_out" ->
        reads.flatMap(qs).map(_.rowsScanned).sum.toDouble / math.max(1L, readRows),
      "spark.plan_ms" -> perReq(reqs)(r => qs(r).map(_.planMs).sum),
      "spark.task_ms" -> perReq(reqs)(r => js(r).map(_.taskMs).sum.toDouble),
      "spark.sched_delay_ms" -> perReq(reqs)(r => js(r).map(_.schedDelayMs).sum.toDouble),
      "spark.gc_ms" -> perReq(reqs)(r => js(r).map(_.gcMs).sum.toDouble),
      "spark.shuffle_bytes" -> perReq(reqs)(r => js(r).map(_.shuffleBytes).sum.toDouble),
      "spark.driver_ms" -> perReq(reqs)(r => (r.end - r.start) - Trace.unionMs(js(r)))
    ) ++ classJobs.flatMap { case (c, rs) => Seq(
      s"spark.jobs_per_$c" -> perReq(rs)(r => js(r).size.toDouble),
      s"spark.stages_per_$c" -> perReq(rs)(r => js(r).map(_.stages).sum.toDouble),
      s"spark.tasks_per_$c" -> perReq(rs)(r => js(r).map(_.tasks).sum.toDouble))
    }
  }

}

/** One replayed request: its bench span ids, times (epoch ms), reply size
  * and the disk versions it committed. */
final case class ReqTrace(id: Long, routeId: Long, renderId: Long, op: Op, start: Double,
                          routeEnd: Double, end: Double, bytes: Int, versionsAdded: Int) {
  /** Rows in the reply: the points of a raw read, else one object. */
  def rowsOut: Long = op.expect match {
    case Expect.Points(p) => p.size.toLong
    case _ => 1L
  }
}
