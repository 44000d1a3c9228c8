package graft

import graft.functions.Tags
import graft.model.Canon
import graft.operators.{AsofJoin, Bpe, Dedup, Layout, Multimodal, RangeJoin, Sampling, Similarity, TableProfile, TextOps, UrlOps, TimeSeries => TS}
import graft.sources.{JsonIngest, TieredStore, VersionedStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one named query per implemented operator (SURVEY.md §2),
  * each with equivalent DuckDB SQL in [[SparkEntry.oracleSql]].
  *
  * Oracle-determinism rules used throughout (see SURVEY §7.5 #10):
  *  - timestamps surface as epoch-µs BIGINT (`ts_us`) on both sides;
  *  - every result is totally ordered (unique tiebreak column);
  *  - aggregates over doubles are rounded (sum→4dp, mean/sd→6dp) so
  *    summation-order differences between engines can't flip the hash;
  *  - tag semantics are exercised through FILTERS (which rows survive),
  *    while outputs carry `rid` (= event_id) as row identity, so the
  *    ARRAY<STRUCT> tag column itself never needs cross-engine serialization.
  */
object SparkEntry {

  // Fixed time constants (events span 2024-01-01 .. 2024-01-30 UTC).
  private val R1 = 1704844800000000L // 2024-01-10 00:00:00 UTC in µs
  private val R2 = 1705708800000000L // 2024-01-20 00:00:00 UTC in µs
  private val SINCE = 1706140800000000L // 2024-01-25 00:00:00 UTC in µs
  private val HOUR_US = 3600000000L

  private val IDS3 = Seq("click", "error", "purchase")
  private val IDS2 = Seq("signup", "view")
  private val IDS5 = (IDS3 ++ IDS2).sorted

  /** Server-assigned ingest timestamp for the shape-fixture query (the
    * reference reads the wall clock per point; injected for determinism).
    */
  private val INGEST_T0 = 1700000000000000L

  /** The wire-JSON shape fixture (FIXTURES.md §1.3). Classpath-resolved so
    * sbt run/test find it without configuration; falls back to the repo
    * path (the driver runs from the repo root).
    */
  private[graft] def wireFixturePath: String = {
    val res = getClass.getClassLoader.getResource("graft/ingest_wire.jsonl")
    if (res != null && res.getProtocol == "file") res.getPath
    else "/root/repo/src/main/resources/graft/ingest_wire.jsonl"
  }

  /** Per-process scratch directories for the streaming queries' sink
    * parquet (the returned frame reads the sink LAZILY, so the directory
    * must outlive the call — an in-call delete is impossible). One
    * deterministic directory per query name per JVM: repeated
    * bench/verify invocations overwrite instead of leaking a fresh
    * tempdir each, and a shutdown hook removes the whole set at exit.
    */
  private object StreamScratch {
    private val dirs = scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]
    private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(
      new Thread(() => dirs.values.foreach(deleteTree), "graft-stream-scratch-cleanup"))
    private def deleteTree(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => try java.nio.file.Files.deleteIfExists(f) catch {
            case scala.util.control.NonFatal(_) => ()
          })
      }
    /** The (created) scratch directory for `name`, stable for this JVM. */
    def dir(name: String): String = {
      hook
      dirs.getOrElseUpdate(name, {
        val p = java.nio.file.Paths.get(
          sys.props.getOrElse("java.io.tmpdir", "/tmp"),
          s"graft_stream_${name}_pid${ProcessHandle.current().pid()}")
        java.nio.file.Files.createDirectories(p)
        p
      }).toString
    }
  }

  /** Build-once-per-process 4-version store over `d`'s canonical events:
    * split append ×2 → range delete (the D1 shape) → compact. Single
    * writer by contract (the reference's global request mutex,
    * main.re:225-227); the mutations are warmup cost, so the timed
    * q_store_timetravel measures pure time-travel reads. Per-process
    * scratch (pid-suffixed) makes every process build from empty.
    */
  private val ttStores = scala.collection.concurrent.TrieMap.empty[String, String]
  private def timetravelStore(s: SparkSession, d: String): String =
    ttStores.synchronized {
      ttStores.getOrElseUpdate(d, {
        val root = StreamScratch.dir("ttstore_" + Integer.toHexString(d.hashCode))
        val src = Canon.events(s, d)
        VersionedStore.append(src.filter(col("rid") % 2 === 0), root)
        VersionedStore.append(src.filter(col("rid") % 2 =!= 0), root)
        VersionedStore.deleteRewrite(
          VersionedStore.read(s, root).filter(
            !(col("series") === "click" && col("ts_us").between(R1, R2))), root)
        VersionedStore.compact(s, root)
        root
      })
    }

  /** Build-once-per-process LIVE TieredStore with a 3-version disk
    * history: append (even rids) → append (odd rids) → live D1 delete
    * (IDS2 × [R1,R2], the q_delete_range predicate). Since r13 the disk
    * tier commits every mutation to the VersionedStore manifest chain,
    * so the LIVE store itself answers time-travel and CDC reads — this
    * store puts that under the oracle (VERDICT r11/r12 item 1's done
    * criterion). Mutations are warmup cost; the timed rows read history.
    */
  private val tierTtStores = scala.collection.concurrent.TrieMap.empty[String, TieredStore]
  private def tierTtStore(s: SparkSession, d: String): TieredStore =
    tierTtStores.synchronized {
      tierTtStores.getOrElseUpdate(d, {
        val st = new TieredStore(s,
          StreamScratch.dir("tier_tt_" + Integer.toHexString(d.hashCode)))
        val src = Canon.events(s, d)
        st.appendDisk(src.filter(col("rid") % 2 === 0)) // v1
        st.appendDisk(src.filter(col("rid") % 2 =!= 0)) // v2
        st.delete(IDS2, R1, R2)                         // v3
        st
      })
    }

  /** Build-once-per-process END-TO-END reference lifecycle store
    * (VERDICT r7 item 2): canonical events — deduped to unique
    * (series, ts_us) so last-n reads are independent of the content-derived
    * rid tiebreak — are serialized to the reference's POST wire shape
    * `{"series": s, "point": {"timestamp":…, "tag":[…], "value":…}}`,
    * landed as files, and stream-ingested through `startTieredFileStream`
    * (validate → memory buffer → per-series spill at the threshold), one
    * micro-batch per file. The end state straddles both tiers; the
    * composed q_e2e_lifecycle row then queries it THROUGH the router and
    * serializes THROUGH the wire sink, so the full reference data path —
    * wire in, tiered store, URL query, wire out — sits under one oracle.
    */
  private val e2eStores = scala.collection.concurrent.TrieMap.empty[String, TieredStore]
  private def e2eStore(s: SparkSession, d: String): TieredStore =
    e2eStores.synchronized {
      e2eStores.getOrElseUpdate(d, {
        val tagId = Integer.toHexString(d.hashCode)
        val in = StreamScratch.dir(s"e2e_in_$tagId")
        val ckpt = StreamScratch.dir(s"e2e_ckpt_$tagId")
        val st = new TieredStore(s, StreamScratch.dir(s"e2e_store_$tagId"))
        val point = wirePointJson
        e2eUnique(ev(s, d))
          .select(concat(lit("{\"series\":\""), col("series"),
            lit("\",\"point\":"), point, lit("}")).as("value"))
          .repartition(6)
          .write.mode("overwrite").text(in)
        val q = graft.streaming.Ingest.startTieredFileStream(s, in, st, ckpt,
          spillThreshold = 1100L,
          org.apache.spark.sql.streaming.Trigger.AvailableNow(),
          maxFilesPerTrigger = Some(1))
        require(q.awaitTermination(300000L), "e2e ingest stream did not terminate in 300s")
        st
      })
    }

  /** Events deduped to one row per (series, ts_us), lowest rid kept — the
    * e2e corpus whose last-n reads don't depend on the rid tiebreak.
    */
  /** One canonical row as a reference wire point object: tag entries
    * with null values dropped (props without a k key), tag omitted when
    * empty — the reference's optional-tag shapes; to_json emits
    * timestamp/tag/value in wire key order.
    */
  private def wirePointJson: org.apache.spark.sql.Column = {
    val tagClean = filter(col("tag"), e => e.getField("value").isNotNull)
    to_json(struct(
      col("ts_us").as("timestamp"),
      transform(
        when(size(tagClean) > 0, tagClean).otherwise(lit(null).cast(Canon.tagType)),
        e => map(e.getField("name"), e.getField("value"))).as("tag"),
      col("value").as("value")))
  }

  /** Store behind q_post_lifecycle: the first 500 unique-ts signup
    * points POSTed as ONE reference-shaped array body (the `A(lis)`
    * batch branch) through [[graft.api.Router.runPost]], spilling at 200
    * so the buffer→disk path engages mid-batch. Cached per process like
    * [[e2eStore]].
    */
  /** Per-process memo of q_stream_drift's staged two-file input dirs. */
  private val streamDriftIns = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-process memo of q_stream_crawl's staged two-file WARC input. */
  private val streamCrawlIns = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Per-process memo of staged SYNTHETIC-FIXTURE parquet (one dir per
    * (fixture, sf dir)): the synthetic corpora are pure column arithmetic
    * over `documents`, so rebuilding them inside every timed run measured
    * fixture assembly, not the operator under test — and, worse, an
    * inline assembly expression gets CollapseProject-duplicated into
    * every downstream consumer of its columns (measured 3.9s vs 1.2s on
    * the crawl pipeline: the WARC-byte concat re-evaluated per reference).
    * Staging once per process per sf dir (the e2eStore pattern) keeps the
    * oracles unchanged — the staged bytes are the identical
    * column-arithmetic output — while the bench times the parse/operator.
    * (r15 VERDICT item 4; extended r16 to every remaining inline fixture.)
    */
  // per-key futures instead of one global lock (ADVICE r16): the r16
  // shape serialized ALL fixture staging across the bench's concurrent
  // warmup threads behind one monitor for the duration of each parquet
  // write. Here the winner of putIfAbsent stages with NO lock held, so
  // independent fixtures stage concurrently — and the intentional nested
  // call (sitemapFixture's build invokes hostsFixture) needs no monitor
  // reentrancy, it is just a second putIfAbsent on a different key. A
  // failed build removes its future so a later call can retry, and every
  // caller sees the build's own exception, not the future's wrapper.
  private val fixtureDirs = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[String]]()
  private[graft] def stagedFixture(tag: String, s: SparkSession, d: String)
                           (build: => DataFrame): DataFrame = {
    val key = s"$tag#$d"
    val mine = new java.util.concurrent.CompletableFuture[String]()
    val fut = fixtureDirs.putIfAbsent(key, mine) match {
      case null =>
        try {
          val out = java.nio.file.Files.createTempDirectory(s"q_${tag}_").toString
          build.write.mode("overwrite").parquet(out)
          mine.complete(out)
        } catch { case e: Throwable =>
          fixtureDirs.remove(key, mine)
          mine.completeExceptionally(e)
        }
        mine
      case prior => prior
    }
    val dir = try fut.join() catch {
      case e: java.util.concurrent.CompletionException if e.getCause != null => throw e.getCause
    }
    s.read.parquet(dir)
  }

  private def videoFixture(s: SparkSession, d: String): DataFrame =
    stagedFixture("video_media", s, d)(
      operators.Mp4Meta.syntheticMp4FromDocuments(Canon.documents(s, d)))

  private def cidPdfFixture(s: SparkSession, d: String): DataFrame =
    stagedFixture("pdf_cid", s, d)(
      operators.PdfText.syntheticCidPdfFromDocuments(Canon.documents(s, d)))

  /** The sitemap-corpus fixture (q_url_sitemaps / frontier / recrawl). */
  private def sitemapFixture(s: SparkSession, d: String): DataFrame =
    stagedFixture("sitemaps", s, d)(
      operators.SitemapOps.syntheticSitemaps(
        hostsFixture(s, d)))

  /** The distinct lowered hosts of the synthetic URL corpus — fans into
    * the sitemap/robots/fetched fixture branches of four queries. */
  private def hostsFixture(s: SparkSession, d: String): DataFrame =
    stagedFixture("hosts", s, d)(
      operators.UrlOps.syntheticUrls(Canon.documents(s, d))
        .select(lower(operators.UrlOps.host(col("url"))).as("host"))
        .filter(col("host").isNotNull).distinct())

  /** The URL-flavored WARC fixture (q_crawl_cdx/pipeline/curated,
    * q_stream_crawl's input split). */
  private def urlWarcFixture(s: SparkSession, d: String): DataFrame =
    stagedFixture("urlwarc", s, d)(
      sources.WarcIngest.syntheticWarcFromDocuments(
        UrlOps.syntheticUrls(Canon.documents(s, d))))

  /** The document-URI WARC fixture (q_warc_records/extract). */
  private def warcFixture(s: SparkSession, d: String): DataFrame =
    stagedFixture("warc", s, d)(
      sources.WarcIngest.syntheticWarcFromDocuments(Canon.documents(s, d)))

  private def charsetWarcFixture(s: SparkSession, d: String): DataFrame =
    stagedFixture("charsetwarc", s, d)(
      sources.WarcIngest.syntheticCharsetWarc(Canon.documents(s, d)))

  private def mediaFixture(s: SparkSession, d: String): DataFrame =
    stagedFixture("media", s, d)(
      Multimodal.syntheticMediaFromDocuments(Canon.documents(s, d)))

  private def pixelMediaFixture(s: SparkSession, d: String): DataFrame =
    stagedFixture("pixel_media", s, d)(
      Multimodal.syntheticPixelMedia(Canon.documents(s, d)))

  private def jpegMediaFixture(s: SparkSession, d: String): DataFrame =
    stagedFixture("jpeg_media", s, d)(
      Multimodal.syntheticJpegMedia(Canon.documents(s, d)))

  private def audioFixture(s: SparkSession, d: String): DataFrame =
    stagedFixture("audio", s, d)(
      Multimodal.syntheticAudioFromDocuments(Canon.documents(s, d)))

  private def pdfFixture(s: SparkSession, d: String): DataFrame =
    stagedFixture("pdf", s, d)(
      operators.PdfText.syntheticPdfFromDocuments(Canon.documents(s, d)))

  /** Per-process memo of q_wat_roundtrip's staged WAT output. */
  private val watDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def watDir(s: SparkSession, d: String): String =
    watDirs.synchronized {
      watDirs.getOrElseUpdate(d, {
        val dir = java.nio.file.Files.createTempDirectory("q_wat_").toString
        sources.WarcIngest.writeWat(
          sources.WarcIngest.records(
            sources.WarcIngest.syntheticWarcFromDocuments(Canon.documents(s, d))),
          dir, nFiles = 8)
        dir
      })
    }

  /** Per-process memo of q_wet_roundtrip's staged WET output. */
  private val wetDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def wetDir(s: SparkSession, d: String): String =
    wetDirs.synchronized {
      wetDirs.getOrElseUpdate(d, {
        val dir = java.nio.file.Files.createTempDirectory("q_wet_").toString
        sources.WarcIngest.writeWet(
          Canon.documents(s, d).select(col("doc_id"),
            concat(lit("https://example.com/doc/"), col("doc_id").cast("string")).as("url"),
            col("text")),
          dir, nFiles = 8)
        dir
      })
    }

  /** Per-process memo of q_warc_stream_files' staged .warc.gz directory:
    * the q_warc_records fixture written as REAL gzipped files on disk so
    * the streaming file source (FileSystem.open → gunzip → record parse,
    * no whole-file materialization) runs under the same exact oracle.
    */
  private val warcStreamDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def warcStreamDir(s: SparkSession, d: String): String =
    warcStreamDirs.synchronized {
      warcStreamDirs.getOrElseUpdate(d, {
        val dir = java.nio.file.Files.createTempDirectory("q_warc_stream_")
        sources.WarcIngest.syntheticWarcFromDocuments(Canon.documents(s, d))
          .select("media_id", "media").collect().foreach { r =>
            val out = new java.util.zip.GZIPOutputStream(
              java.nio.file.Files.newOutputStream(
                dir.resolve(f"f${r.getLong(0)}%06d.warc.gz")))
            out.write(r.getAs[Array[Byte]](1)); out.close()
          }
        dir.toString
      })
    }

  private val postStores = scala.collection.concurrent.TrieMap.empty[String, TieredStore]
  private def postStore(s: SparkSession, d: String): TieredStore =
    postStores.synchronized {
      postStores.getOrElseUpdate(d, {
        val st = new TieredStore(s,
          StreamScratch.dir("post_store_" + Integer.toHexString(d.hashCode)))
        val pts = e2eUnique(ev(s, d)).filter(col("series") === "signup")
          .orderBy("ts_us").limit(500)
          .select(wirePointJson.as("p")).as[String](org.apache.spark.sql.Encoders.STRING)
          .collect() // bounded: 500 wire objects
        val body = pts.mkString("[", ",", "]")
        graft.api.Router.runPost(st, "ts/signup", body, spillThreshold = 200L)
        st
      })
    }

  /** Store + captured mutation facts behind q_delete_lifecycle (VERDICT
    * r8 item 1): the reference's full HTTP method triangle against ONE
    * live store. POST the first 500 unique-ts signup wire points as an
    * array body spilling at 200 (they land on disk), POST the next 100
    * with a high threshold (they sit in the membuf), then DELETE a
    * tag-piped time range through the route grammar — which flushes the
    * touched buffer and physically rewrites the shard partitions
    * (TieredStore.delete) — and capture the deleted count. The mutation
    * runs ONCE per process; the query row reads the post-delete store
    * through the GET routes plus the captured count, so repeated
    * invocations (bench iterations) are pure reads of the same end state.
    * Delete bounds are PROPORTIONAL positions in the collected slice —
    * (n*299)/600 and (n*549)/600 — which at the oracle's sf0.01 (where
    * ≥600 unique-ts points exist, so n=600) are exactly the 300th/550th
    * timestamps the SQL mirror pins with rn 300/550. At smaller sf (the
    * unit suites run sf0.001 with only ~199 points) the same recipe
    * scales down instead of indexing out of bounds — the r9 AIOOBE that
    * reddened sbt test and aborted the roster-wide plan gates.
    */
  private val deleteStores = scala.collection.concurrent.TrieMap.empty[String, (TieredStore, Long)]
  private def deleteStore(s: SparkSession, d: String): (TieredStore, Long) =
    deleteStores.synchronized {
      deleteStores.getOrElseUpdate(d, {
        val st = new TieredStore(s,
          StreamScratch.dir("delete_store_" + Integer.toHexString(d.hashCode)))
        val pts = e2eUnique(ev(s, d)).filter(col("series") === "signup")
          .orderBy("ts_us").limit(600)
          .select(col("ts_us"), wirePointJson.as("p"))
          .collect() // bounded: 600 wire objects
        val n = pts.length
        require(n > 0, s"deleteStore: no signup points under $d")
        val (disk, buf) = pts.splitAt((n * 500) / 600)
        if (disk.nonEmpty) graft.api.Router.runPost(st, "ts/signup",
          disk.map(_.getString(1)).mkString("[", ",", "]"), spillThreshold = 200L)
        if (buf.nonEmpty) graft.api.Router.runPost(st, "ts/signup",
          buf.map(_.getString(1)).mkString("[", ",", "]"), spillThreshold = 100000L)
        val ts = pts.map(_.getLong(0))
        val deleted = graft.api.Router.runDelete(st,
          s"ts/signup/range/${ts((n * 299) / 600)}/${ts((n * 549) / 600)}/filter/u/equals/3")
          .collect()(0).getLong(0) // one-row ack
        (st, deleted)
      })
    }

  /** Facts behind q_http_lifecycle: the SAME lifecycle as [[deleteStore]]
    * but driven over a real bound socket — two POSTs (array bodies), a
    * DELETE and two GETs through [[graft.api.HttpBinding]], the reply
    * JSON parsed back. One spill threshold (200) gives the same tiering
    * AT THE ORACLE'S SF: with the proportional (n*500)/600 split, the
    * first body flushes on arrival only when it exceeds the 200-point
    * threshold (guaranteed at n=600 / sf0.01; at unit-suite sf both
    * batches may stay buffered until the DELETE flushes them — the
    * observable survivors are identical either way). Runs ONCE per process; the
    * query row is the captured (deleted, length, sum) — the oracle is
    * byte-identical to q_delete_lifecycle's, so "drop-in over HTTP"
    * is a CORRECTNESS row, not a claim.
    */
  private val httpLifecycles = scala.collection.concurrent.TrieMap.empty[String, (Long, Long, Double)]
  private def httpLifecycle(s: SparkSession, d: String): (Long, Long, Double) =
    httpLifecycles.synchronized {
      httpLifecycles.getOrElseUpdate(d, {
        val st = new TieredStore(s,
          StreamScratch.dir("http_store_" + Integer.toHexString(d.hashCode)))
        val http = new graft.api.HttpBinding(st, spillThreshold = 200L).start()
        try {
          val base = s"http://127.0.0.1:${http.boundPort}"
          val client = java.net.http.HttpClient.newHttpClient()
          def call(method: String, path: String, body: Option[String]): String = {
            val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
            val req = (method match {
              case "POST" => b.POST(java.net.http.HttpRequest.BodyPublishers.ofString(body.get))
              case "DELETE" => b.DELETE()
              case _ => b.GET()
            }).build()
            val r = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
            require(r.statusCode() == 200, s"$method $path -> ${r.statusCode()}: ${r.body()}")
            r.body()
          }
          def field(json: String, key: String): String =
            // full JSON number grammar — Jackson renders small doubles with
            // a negative exponent (1.5E-4), which the old -?[0-9.eE+]+
            // class could not match (ADVICE r9)
            ("\"" + key + "\":(-?[0-9]+(?:\\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)").r
              .findFirstMatchIn(json)
              .getOrElse(sys.error(s"no $key in $json")).group(1)
          val pts = e2eUnique(ev(s, d)).filter(col("series") === "signup")
            .orderBy("ts_us").limit(600)
            .select(col("ts_us"), wirePointJson.as("p"))
            .collect() // bounded: 600 wire objects
          val n = pts.length
          require(n > 0, s"httpLifecycle: no signup points under $d")
          // same proportional split/bounds as deleteStore — n=600 at the
          // oracle's sf0.01 reproduces the rn 300/550 SQL mirror exactly
          val (disk, buf) = pts.splitAt((n * 500) / 600)
          if (disk.nonEmpty)
            call("POST", "/ts/signup", Some(disk.map(_.getString(1)).mkString("[", ",", "]")))
          if (buf.nonEmpty)
            call("POST", "/ts/signup", Some(buf.map(_.getString(1)).mkString("[", ",", "]")))
          val ts = pts.map(_.getLong(0))
          val deleted = field(call("DELETE",
            s"/ts/signup/range/${ts((n * 299) / 600)}/${ts((n * 549) / 600)}/filter/u/equals/3",
            None), "deleted").toLong
          val length = field(call("GET", "/ts/signup/length", None), "length").toLong
          val sum = field(call("GET", "/ts/signup/since/0/sum", None), "sum").toDouble
          (deleted, length, sum)
        } finally http.stop()
      })
    }

  private def e2eUnique(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series"), col("ts_us")).orderBy(col("rid"))
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Build-once-per-process dual-tier stores (M1-M3/I2, TieredStore).
    * Scenario "sorted": disk = everything at-or-before SINCE, memory = the
    * newer tail — the buffer lies beyond the disk bound, so reads qualify
    * for the M1/M2 paths and nothing mutates. Scenario "overlap": a 1-in-7
    * rid sample buffered — its timestamps straddle the whole disk range,
    * so the first read takes the M3 forced-flush path; later reads see the
    * post-flush disk-only store (same rows either way). Store builds and
    * the one-time flush are warmup cost, like ttStores.
    */
  private val tierStores = scala.collection.concurrent.TrieMap.empty[String, TieredStore]
  private def tierStore(s: SparkSession, d: String, scenario: String): TieredStore =
    tierStores.synchronized {
      tierStores.getOrElseUpdate(s"$d#$scenario", {
        val root = StreamScratch.dir(
          s"tier_${scenario}_" + Integer.toHexString(d.hashCode))
        val st = new TieredStore(s, root)
        val evd = ev(s, d)
        if (scenario == "sorted") {
          st.appendDisk(evd.filter(col("ts_us") <= SINCE))
          st.appendMemory(evd.filter(col("ts_us") > SINCE))
        } else {
          st.appendDisk(evd.filter(col("rid") % 7 =!= 0))
          st.appendMemory(evd.filter(col("rid") % 7 === 0))
        }
        st
      })
    }

  /** DuckDB mirror of Canon.canonicalizeEvents. */
  private val CANON_SQL =
    """WITH c AS (
      |  SELECT event_type AS series, epoch_us(ts) AS ts_us,
      |         json_extract_string(props, '$.k') AS tag_k,
      |         CAST(user_id % 10 AS VARCHAR) AS tag_u,
      |         value, event_id AS rid
      |  FROM events
      |)""".stripMargin

  private val ROW = "series, ts_us, value, rid"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * range read → tag filter → per-series mean/count (the reference's whole
    * pipeline, plus the group-by it lacks).
    */
  def entry(spark: SparkSession): DataFrame = {
    val df = Canon.events(spark, "/root/testdata/sf0.001")
    val ranged = TS.readRange(df, Nil, R1, R2)
    val filtered = TS.tagFilter(ranged, Seq(Tags.Group("u", Seq("1", "2", "3"), Tags.Eq)))
    filtered.groupBy("series")
      .agg(round(avg("value"), 6).as("mean"), count(lit(1)).as("n"))
      .orderBy("series")
  }

  private def ev(s: SparkSession, dir: String): DataFrame = Canon.events(s, dir)

  private def raw(df: DataFrame, asc: Boolean = false): DataFrame = {
    val sorted = if (asc) df.orderBy(col("ts_us").asc, col("rid").asc)
                 else df.orderBy(col("ts_us").desc, col("rid").desc)
    sorted.select("series", "ts_us", "value", "rid")
  }

  private val baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- Q1-Q6: point lookups & range scans (SURVEY §2.2)
    "q_last_n" -> ((s, d) => raw(TS.readLast(ev(s, d), IDS3, 50))),
    "q_latest" -> ((s, d) => raw(TS.latest(ev(s, d), Nil))),
    "q_first_n" -> ((s, d) => raw(TS.readFirst(ev(s, d), IDS3, 50), asc = true)),
    "q_earliest" -> ((s, d) => raw(TS.earliest(ev(s, d), Nil), asc = true)),
    "q_since" -> ((s, d) => raw(TS.readSince(ev(s, d), IDS2, SINCE))),
    "q_range" -> ((s, d) => raw(TS.readRange(ev(s, d), IDS3, R1, R2))),
    // beyond parity: counter rate / successive differences and
    // missing-data gaps per series — the hot-key-safe lag (series is a
    // 5-value key; a per-series window would serialize it)
    "q_ts_delta" -> ((s, d) => TS.deltas(ev(s, d), Nil)),
    "q_ts_gaps" -> ((s, d) => TS.gaps(ev(s, d), Nil, thresholdUs = 7200000000L)),
    "q_layout_zorder" -> ((s, d) => // Z-order layout effectiveness report:
      // 64 Morton buckets over (user_id, ts) with per-bucket min/max — the
      // spans being tight on BOTH dims is the file-skipping claim as data
      Layout.zorderStats(Canon.eventsRaw(s, d).select("user_id", "ts_us"),
        Seq("user_id", "ts_us"), bits = 12, buckets = 64)),
    // ----- S1/S2/S7: wire-JSON ingest over the checked-in shape fixture —
    // all four accepted object shapes, batch arrays (exploded in order),
    // and the full must-reject corpus (FIXTURES.md §1.3); good lane =
    // canonical rows (tag rendered name=value for oracle comparability),
    // bad lane = the quarantined raw payloads. The oracle mirrors the
    // order-sensitive shape grammar in DuckDB over the same file.
    "q_store_timetravel" -> ((s, d) => { // Git-history semantics under the
      // oracle: append/append/delete/compact = versions 1..4, then read
      // EVERY version via time travel and aggregate it exactly (µ-quantized
      // value sums). v2 must still see rows v3 deleted.
      val root = timetravelStore(s, d)
      (1 to 4).map { v =>
        VersionedStore.readAt(s, root, v)
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 1e6).cast("long")).as("sum_qv"))
          .withColumn("version", lit(v.toLong))
          .select("version", "n", "sum_qv")
      }.reduce(_ unionByName _).orderBy("version")
    }),
    "q_store_cdc" -> ((s, d) => { // CDC over the same chain (VERDICT r8
      // item 4): per version pair, the change-feed counts AND the
      // to-version RECONSTRUCTED as from + changes — one aggregate over
      // a tagged union (no joins beyond the CDC anti-joins themselves),
      // oracled against the to-version's content computed directly.
      // (1,2) exercises the append-only O(delta) fast path, (2,3) the
      // delete-rewrite diff, (3,4) the compact no-op, (1,3) a mixed chain.
      val root = timetravelStore(s, d)
      val CT = VersionedStore.CHANGE_TYPE
      Seq((1, 2), (2, 3), (3, 4), (1, 3)).map { case (f, t) =>
        // the change feed fans into three consumers, but they live in ONE
        // action — ReuseExchange dedups the diff's shuffles across them,
        // so caching here only adds materialization barriers (measured
        // +0.5s in r16; reverted). r17 measured the OTHER restructure the
        // r16 verdict proposed — union the pairs before the anti-joins
        // (one pair-tagged plan, 3 anti-joins instead of 10) — and it
        // REGRESSED too (med 2.49→3.98s store / 2.04→2.62s tier, 7-sample
        // same-window A/B): the pair-tag literals make the per-pair
        // subtrees non-canonical, so ReuseExchange stops deduplicating
        // the shared readAt/scan shuffles (readAt(1) serves two pairs
        // here), and the lost reuse costs more than the saved stages.
        // Per-pair + ReuseExchange stands as the measured optimum.
        val ch = VersionedStore.readChanges(s, root, f, t)
        val recon = VersionedStore.applyChanges(VersionedStore.readAt(s, root, f), ch)
        ch.select(col(CT).as("t"), lit(0L).as("qv"))
          .unionByName(recon.select(lit("row").as("t"),
            round(col("value") * 1e6).cast("long").as("qv")))
          .agg(count(when(col("t") === "insert", 1)).as("ins"),
            count(when(col("t") === "delete", 1)).as("del"),
            count(when(col("t") === "row", 1)).as("n"),
            coalesce(sum(when(col("t") === "row", col("qv"))), lit(0L)).as("sum_qv"))
          .select(lit(f.toLong).as("from_v"), lit(t.toLong).as("to_v"),
            col("ins"), col("del"), col("n"), col("sum_qv"))
      }.reduce(_ unionByName _).orderBy("from_v", "to_v")
    }),
    "q_store_dedup_cdc" -> ((s, d) => { // CDC × incremental dedup (VERDICT
      // r9 item 6): the nightly-crawl composition — v1→v2 is the
      // append-only O(delta) manifest fast path, whose inserts feed the
      // seen-store anti-join + first-in-batch window. "Content" here is
      // the rendered series+tag payload (the TS analog of a document's
      // text): survivors are the label combinations never seen at v1,
      // min-rid winner within the delta.
      val root = timetravelStore(s, d)
      val content = concat(col("series"), lit("|"),
        coalesce(element_at(col("tag"), 1).getField("value"), lit("")), lit("|"),
        element_at(col("tag"), 2).getField("value"))
      VersionedStore.dedupChangesSince(s, root, 1, 2, content)
    }),
    "q_store_profile_drift" -> ((s, d) => { // profile drift across the
      // delete (v2 -> v3) — the "what changed since the version I last
      // trusted" report paired with CDC: both sides are exact profiles
      // reduced to model parameters, so the drift join is #cols local
      // rows. Long/string columns only (value's double-to-string
      // rendering is engine-specific — the documented oracle rule).
      val root = timetravelStore(s, d)
      graft.operators.TableProfile.profileDrift(
        VersionedStore.readAt(s, root, 2),
        VersionedStore.readAt(s, root, 3),
        Seq("series", "ts_us", "rid"))
    }),
    "q_ingest_shapes" -> ((s, _) => {
      val wire = s.read.schema("series STRING, json STRING").json(wireFixturePath)
      val r = JsonIngest.ingest(JsonIngest.explodeBatches(wire), ingestTimeUs = INGEST_T0)
      val good = r.good.select(
        lit(true).as("ok"), col("series"), col("ts_us"),
        when(col("tag").isNull, lit(null).cast("string"))
          .otherwise(array_join(transform(col("tag"),
            t => concat(t.getField("name"), lit("="), t.getField("value"))), ","))
          .as("tag_s"),
        col("value"), lit(null).cast("string").as("raw"))
      val bad = r.bad.select(
        lit(false).as("ok"), col("series"), lit(null).cast("long").as("ts_us"),
        lit(null).cast("string").as("tag_s"), lit(null).cast("double").as("value"),
        col("json").as("raw"))
      // asc_nulls_last matches DuckDB's default NULLS LAST
      good.unionByName(bad).orderBy(
        Seq("ok", "series", "ts_us", "tag_s", "value", "raw")
          .map(c => col(c).asc_nulls_last): _*)
    }),
    // ----- F1-F3: tag-filter algebra (SURVEY §2.4)
    "q_filter_equals" -> ((s, d) =>
      raw(TS.tagFilter(TS.readRange(ev(s, d), Nil, R1, R2), Seq(Tags.Group("k", Seq("42"), Tags.Eq))))),
    "q_filter_contains" -> ((s, d) =>
      raw(TS.tagFilter(TS.readSince(ev(s, d), Nil, SINCE), Seq(Tags.Group("k", Seq("4"), Tags.Contains))))),
    "q_filter_multi" -> ((s, d) =>
      raw(TS.tagFilter(TS.readRange(ev(s, d), Nil, R1, R2), Seq(
        Tags.Group("k", Seq("7", "42", "77"), Tags.Eq),
        Tags.Group("u", Seq("3", "4"), Tags.Eq))))),
    // ----- A1-A7: aggregations over a multi-series range read (SURVEY §2.5)
    "q_agg_sum" -> ((s, d) =>
      TS.aggregate(TS.readRange(ev(s, d), IDS3, R1, R2), TS.Sum).select(round(col("sum"), 4).as("sum"))),
    "q_agg_count" -> ((s, d) => TS.aggregate(TS.readRange(ev(s, d), IDS3, R1, R2), TS.Count)),
    "q_agg_max" -> ((s, d) => TS.aggregate(TS.readRange(ev(s, d), IDS3, R1, R2), TS.Max)),
    "q_agg_min" -> ((s, d) => TS.aggregate(TS.readRange(ev(s, d), IDS3, R1, R2), TS.Min)),
    "q_agg_mean" -> ((s, d) =>
      TS.aggregate(TS.readRange(ev(s, d), IDS3, R1, R2), TS.Mean).select(round(col("mean"), 6).as("mean"))),
    "q_agg_sd" -> ((s, d) =>
      TS.aggregate(TS.readRange(ev(s, d), IDS3, R1, R2), TS.Sd).select(round(col("sd"), 6).as("sd"))),
    "q_agg_median" -> ((s, d) =>
      TS.aggregate(TS.readRange(ev(s, d), IDS3, R1, R2), TS.Median).select(round(col("median"), 4).as("median"))),
    "q_filter_agg" -> ((s, d) => // filter → aggregate pipeline (xargs with agg)
      TS.aggregate(TS.tagFilter(TS.readSince(ev(s, d), Nil, SINCE), Seq(Tags.Group("u", Seq("5"), Tags.Eq))), TS.Mean)
        .select(round(col("mean"), 6).as("mean"))),
    // ----- D1: delete (surviving rows; SURVEY §2.8)
    "q_delete_range" -> ((s, d) =>
      raw(TS.deleteRange(ev(s, d), IDS2, R1, R2)).orderBy(col("rid"))),
    "q_delete_tagged" -> ((s, d) => // delete with tag pipe (xargs-piped delete)
      raw(TS.deleteRange(ev(s, d), IDS2, R1, R2,
        Seq(Tags.Group("u", Seq("3"), Tags.Eq)))).orderBy(col("rid"))),
    // ----- M1-M3/I2: dual-tier memory+disk reads over real store
    // instances (TieredStore, reference timeseries.re:357-434).
    // q_tier_read: the buffer qualifies (sorted, beyond disk) but holds
    // fewer than n points per series at sf0.01 — the M2 memory-then-disk
    // merge engages; the tier split must be invisible in the result.
    "q_tier_read" -> ((s, d) =>
      raw(tierStore(s, d, "sorted").readLast(IDS5, 500))),
    // q_tier_flush: out-of-order buffer → M3 forced flush, disk-only read
    "q_tier_flush" -> ((s, d) =>
      raw(tierStore(s, d, "overlap").readLast(IDS5, 25))),
    // q_tier_split: I2 memory/disk length split (timeseries.re:187-213)
    "q_tier_split" -> ((s, d) => tierStore(s, d, "sorted").lengthSplit(IDS5)),
    // time travel over the LIVE store's disk tier (VERDICT r11/r12
    // item 1): the unified manifest protocol makes every tiered mutation
    // a version — append/append/delete = v1..v3, each read back exactly
    // (µ-quantized value sums, the q_store_timetravel shape). v2 must
    // still see the rows the live delete removed at v3.
    "q_tier_timetravel" -> ((s, d) => {
      val st = tierTtStore(s, d)
      (1 to 3).map { v =>
        st.readDiskAt(v)
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 1e6).cast("long")).as("sum_qv"))
          .withColumn("version", lit(v.toLong))
          .select("version", "n", "sum_qv")
      }.reduce(_ unionByName _).orderBy("version")
    }),
    // CDC over the SAME live chain: (1,2) the append-only O(delta) fast
    // path, (2,3) the partition-scoped delete's manifest-narrowed diff
    // (skip exclusions + one survivors dir), (1,3) a mixed chain. Each
    // pair also reconstructs the to-version as from + changes.
    // (Per-pair on purpose: the r17 single-plan pair-tagged variant
    // measured SLOWER — see the q_store_cdc comment.)
    "q_tier_cdc" -> ((s, d) => {
      val st = tierTtStore(s, d)
      val CT = VersionedStore.CHANGE_TYPE
      Seq((1, 2), (2, 3), (1, 3)).map { case (f, t) =>
        val ch = st.diskChanges(f, t)
        val recon = VersionedStore.applyChanges(st.readDiskAt(f), ch)
        ch.select(col(CT).as("t"), lit(0L).as("qv"))
          .unionByName(recon.select(lit("row").as("t"),
            round(col("value") * 1e6).cast("long").as("qv")))
          .agg(count(when(col("t") === "insert", 1)).as("ins"),
            count(when(col("t") === "delete", 1)).as("del"),
            count(when(col("t") === "row", 1)).as("n"),
            coalesce(sum(when(col("t") === "row", col("qv"))), lit(0L)).as("sum_qv"))
          .select(lit(f.toLong).as("from_v"), lit(t.toLong).as("to_v"),
            col("ins"), col("del"), col("n"), col("sum_qv"))
      }.reduce(_ unionByName _).orderBy("from_v", "to_v")
    }),
    // I7 health route (main.re:169-173): the route grammar answers it
    "q_health" -> ((s, d) => graft.api.Router.run(ev(s, d), "info/status")),
    // ----- U2/I1/I5/I6: metadata (SURVEY §2.7/§2.9), answered THROUGH
    // the reference's own URL routes (main.re:183-192) so the route
    // surface itself sits under the oracle
    "q_names" -> ((s, d) => graft.api.Router.run(ev(s, d), "info/ts/names")),
    "q_length" -> ((s, d) => TS.length(ev(s, d), IDS3)),
    "q_stats" -> ((s, d) => graft.api.Router.run(ev(s, d), "info/ts/stats")),
    "q_index_info" -> ((s, d) => TS.indexInfo(ev(s, d))),
    // I3/I4 index routes (main.re:186-187): shard = (series, utc-day)
    "q_index" -> ((s, d) =>
      graft.api.Router.run(ev(s, d), "ts/click/index")),
    "q_index_length" -> ((s, d) =>
      graft.api.Router.run(ev(s, d), s"ts/${IDS3.mkString(",")}/index/length")),
    // S6 ctl/ts/sync (main.re:188) against a LIVE tier store: the flush
    // is observable as the whole corpus landing on the disk tier
    "q_sync" -> ((s, d) => {
      val st = tierStore(s, d, "sync")
      graft.api.Router.run(st, "ctl/ts/sync").collect() // drive the flush
      st.lengthSplit(IDS5)
    }),
    // ----- the FULL reference lifecycle in one row (VERDICT r7 item 2):
    // POST wire JSON → streaming tiered ingest (buffer → per-series
    // spill) → reference URL query through the router → wire JSON out.
    // The wire output is parsed back so the oracle compares the number,
    // not cross-engine float formatting.
    "q_e2e_lifecycle" -> ((s, d) => {
      val st = e2eStore(s, d)
      val agg = graft.api.Router.run(st,
        "ts/click,error/last/200/filter/u/equals/3/sum")
      graft.api.Wire.aggToJson(agg).select(
        round(get_json_object(col("json"), "$.sum").cast("double"), 4).as("sum"))
    }),
    // the POST third of the lifecycle: a reference client's exact POST
    // body (JSON array of wire points) through Router.runPost into a
    // fresh tiered store, answered back through the GET surface + wire —
    // the full write path a reference user exercises, as one oracle row
    "q_post_lifecycle" -> ((s, d) => {
      val st = postStore(s, d)
      val agg = graft.api.Router.run(st, "ts/signup/last/100/mean")
      graft.api.Wire.aggToJson(agg).select(
        round(get_json_object(col("json"), "$.mean").cast("double"), 6).as("mean"))
    }),
    // the DELETE third of the method triangle as a LIVE mutation (VERDICT
    // r8 item 1): POST → DELETE (range + tag pipe, buffer flushed, shards
    // physically rewritten) → GET, all through the router against one
    // store. The row is (deleted, length, sum): the mutation ack plus two
    // post-delete reads; the 1×1 crossJoin of the one-row acks is a
    // bounded shape (PlanAuditSpec allowlist).
    "q_delete_lifecycle" -> ((s, d) => {
      val (st, deleted) = deleteStore(s, d)
      val len = graft.api.Router.run(st, "ts/signup/length")
      val sum = graft.api.Router.run(st, "ts/signup/since/0/sum")
      len.crossJoin(sum).select(lit(deleted).as("deleted"), col("length"),
        round(col("sum"), 4).as("sum"))
    }),
    // the same lifecycle over a real HTTP socket (VERDICT r8 item 2):
    // POST/DELETE/GET through HttpBinding with the replies parsed back;
    // identical oracle to q_delete_lifecycle, so the wire surface is
    // drop-in under the correctness gate. The row is the captured facts
    // (a local literal — the Spark work happened inside the server).
    "q_http_lifecycle" -> ((s, d) => {
      val (deleted, length, sum) = httpLifecycle(s, d)
      import s.implicits._
      Seq((deleted, length, BigDecimal(sum).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("deleted", "length", "sum")
    }),
    // ----- beyond parity: group-by + time-window generalizations
    "q_agg_by_series" -> ((s, d) =>
      TS.aggregateBySeries(ev(s, d), TS.Mean).select(col("series"), round(col("mean"), 6).as("mean"))),
    "q_agg_quantiles" -> ((s, d) => // per-series p50/p90/p99 (exact interpolated)
      TS.quantilesBySeries(ev(s, d))),
    "q_agg_quantiles_approx" -> ((s, d) => // KLL-style sketch; rows-only check
      ev(s, d).groupBy(col("series"))
        .agg(percentile_approx(col("value"), array(lit(0.5), lit(0.9), lit(0.99)), lit(1000))
          .as("approx_q"))
        .select(col("series"), element_at(col("approx_q"), 1).as("p50"),
          element_at(col("approx_q"), 2).as("p90"),
          element_at(col("approx_q"), 3).as("p99"))
        .orderBy("series")),
    "q_window_hourly" -> ((s, d) =>
      TS.windowAggregate(TS.readRange(ev(s, d), IDS3, R1, R2), HOUR_US, TS.Sum)
        .select(col("series"), col("bucket_us"), round(col("sum"), 4).as("sum"))),
    // per-series 5-row moving average (sliding ROWS frame). The frame sum
    // runs in exact MICRO-UNITS: DuckDB evaluates sliding frames with a
    // segment tree whose addition order differs from Spark's sequential
    // WindowExec — integer sums are order-independent, double sums can
    // flip the 6dp round
    "q_moving_avg" -> ((s, d) => {
      // NOT Window.partitionBy(series): 5 series ⇒ 5 tasks carry the whole
      // range at 100 TB. The distributed two-pass prefix aggregation
      // (Windowing.movingSumCount) reproduces the ROWS frame exactly
      val in = TS.readRange(ev(s, d), IDS3, R1, R2)
        .select(col("series"), col("ts_us"), col("rid"),
          round(col("value") * 1000000).cast("long").as("__vmicro"))
      operators.Windowing.movingSumCount(in, Seq("series"),
          Seq(col("ts_us").asc, col("rid").asc), col("__vmicro"), 5, "__fs", "__fc")
        .select(col("series"), col("ts_us"), col("rid"),
          round(col("__fs").cast("double") / (col("__fc") * lit(1000000.0)), 6).as("ma5"))
        .orderBy("series", "ts_us", "rid")
    }),
    // quality deciles over the corpus-wide ranking. NOT Spark's ntile —
    // an unpartitioned window funnels the whole corpus through ONE task
    // (Exchange SinglePartition, the r4 verdict's scale-killer); the
    // two-pass distributed rank reproduces ntile's bucket sizes exactly
    "q_ntile_quality" -> ((s, d) =>
      operators.Ranking.withNtile(TextOps.qualityScore(Canon.documents(s, d)), 10,
          Seq(col("quality").desc, col("doc_id").asc), "decile")
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          min("quality").as("min_q"), max("quality").as("max_q"))
        .orderBy("decile")),
    // daily × event-type pivot (count matrix); absent cells are 0, not
    // null, so the frame matches a CASE-pivot on any engine
    "q_pivot_daily" -> ((s, d) => {
      val names = Seq("click", "error", "purchase", "signup", "view")
      ev(s, d)
        .groupBy(expr("ts_us DIV 86400000000").as("day"))
        .pivot("series", names).count()
        .na.fill(0L, names)
        .orderBy("day")
    }),
    // ----- beyond parity: text analysis (documents)
    "q_text_tokens" -> ((s, d) =>
      Canon.documents(s, d).select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.tokenCountBpeish(col("text")).cast("long").as("n_bpeish"))
        .orderBy("doc_id")),
    "q_text_quality" -> ((s, d) =>
      TextOps.quality(Canon.documents(s, d))
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("n_tokens").cast("long").as("n_tokens"), col("mean_token_len"),
          col("punct_ratio"), col("stopword_ratio"))
        .orderBy("doc_id")),
    "q_text_score" -> ((s, d) =>
      TextOps.qualityScore(Canon.documents(s, d)).orderBy("doc_id")),
    "q_text_gopher" -> ((s, d) => // Gopher rules (Rae et al. 2021): each
      // published pre-filter heuristic as a flag + the keep conjunction
      TextOps.gopherRules(Canon.documents(s, d)).orderBy("doc_id")),
    "q_text_langid" -> ((s, d) =>
      TextOps.langId(Canon.documents(s, d)).orderBy("doc_id")),
    // the REAL language-ID algorithm (Cavnar–Trenkle char-n-gram rank
    // profiles) self-trained on the corpus's lang labels. The corpus
    // text is language-agnostic filler, so the fixture plants a
    // per-language character signal (8× " x<lang>") — the classifier
    // must then RECOVER the labels, and the oracle replays the same
    // planting + the same integer rank-distance arithmetic bit-for-bit
    "q_text_langid_ngram" -> ((s, d) => {
      val planted = Canon.documents(s, d).select(col("doc_id"), col("lang"),
        concat(col("text"), repeat(concat(lit(" x"), col("lang")), 8)).as("text"))
      TextOps.langIdNgram(planted, planted).orderBy("doc_id")
    }),
    // the shipped default profiles (resource, the PSL precedent): docs
    // planted with their language's sample text classify through
    // langIdNgramDefault; the oracle trains on the SAME samples (VALUES
    // generated from the same loaded resource) and replays the exact
    // integer rank-profile algorithm end-to-end
    "q_text_langid_default" -> ((s, d) => {
      // plant the sample's first 120 chars, not the whole ~330: the doc
      // gram window is the cost center and recovery is already decisive
      // at 120 (bench: 8.5s → ~6s, in the langid_ngram band)
      val sample = TextOps.defaultLangSamples.foldLeft(lit("")) {
        case (acc, (l, t)) => when(col("lang") === l, lit(t.substring(0, math.min(120, t.length)))).otherwise(acc)
      }
      val planted = Canon.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" "), sample).as("text"))
      TextOps.langIdNgramDefault(planted).orderBy("doc_id")
    }),
    "q_text_fingerprint" -> ((s, d) =>
      TextOps.fingerprints(Canon.documents(s, d)).orderBy("doc_id")),
    "q_text_repetition" -> ((s, d) => // Gopher-style in-doc n-gram repetition
      TextOps.repetitionRatio(Canon.documents(s, d)).orderBy("doc_id")),
    "q_text_vocab" -> ((s, d) => // corpus vocabulary head (top-20 tokens)
      TextOps.vocabHead(Canon.documents(s, d), 20)),
    "q_text_bigrams" -> ((s, d) => // top-20 adjacent pairs (BPE merge step 1)
      TextOps.bigramHead(Canon.documents(s, d), 20)),
    "q_text_bpe" -> ((s, d) => // 10 rounds of distributed BPE merge training
      Bpe.mergesDf(s, Canon.documents(s, d), 10)),
    "q_text_bpe_encode" -> ((s, d) => { // the full tokenizer pipeline:
      // train 10 merges (one corpus pass + vocab-table rounds; fit once
      // per process -- the trainCellsCached model-parameter precedent),
      // then subword-encode the corpus with them (map-only, zero shuffles)
      val docs = Canon.documents(s, d)
      Bpe.encodeDf(docs, Bpe.trainMergesCached(docs, 10))
    }),
    "q_text_commonness" -> ((s, d) => // mean global token frequency per doc
      TextOps.commonness(Canon.documents(s, d)).orderBy("doc_id")),
    "q_text_novelty" -> ((s, d) => // fraction of doc's 3-grams unique to it
      TextOps.ngramNovelty(Canon.documents(s, d), n = 3).orderBy("doc_id")),
    "q_text_tfidf" -> ((s, d) => // top-3 salient terms per doc (tf/df rank)
      TextOps.salientTerms(Canon.documents(s, d), k = 3).orderBy("doc_id", "rk")),
    "q_text_heavyhit" -> ((s, d) => // Misra-Gries corpus top-20; capacity 4096 >> vocab → exact regime
      TextOps.heavyHitters(Canon.documents(s, d), capacity = 4096, k = 20)),
    "q_drift" -> ((s, d) => // per-source KL vs corpus blend over capped vocab + OOV bucket
      TextOps.driftReport(Canon.documents(s, d), vocabSize = 24)),
    "q_drift_psi" -> ((s, d) => // PSI variant: symmetric (p−q)·ln(p/q), same capped matrix
      TextOps.driftReportMetric(Canon.documents(s, d), "psi", vocabSize = 24)),
    "q_drift_jsd" -> ((s, d) => // Jensen-Shannon variant: bounded by ln 2, comparable across sources
      TextOps.driftReportMetric(Canon.documents(s, d), "jsd", vocabSize = 24)),
    // CCNet-style LM quality filter: bigram add-one model trained on the
    // 'en' slice, every doc scored; the ln lands inside the drift-report
    // nano-unit trick so both engines sum exact integers
    "q_text_lmscore" -> ((s, d) =>
      TextOps.lmScore(Canon.documents(s, d),
          Canon.documents(s, d).filter(col("lang") === "en"))
        .orderBy("doc_id")),
    "q_text_bm25" -> ((s, d) => // BM25 top-50 for a fixed query (Lucene
      // formulation); corpus stats reduce to driver literals, top-k is
      // TakeOrderedAndProject — no full sort, no shuffle but k rows
      TextOps.bm25(Canon.documents(s, d),
        Seq("join", "hash", "scan", "filter", "merge"), k = 50)),
    "q_dedup_spans" -> ((s, d) => // Lee-et-al-style duplicated-substring coverage
      Dedup.duplicatedSpans(Canon.documents(s, d), n = 3).orderBy("doc_id")),
    // referential QA before the doc⋈embedding join: counts, dup ids,
    // orphans each way — one integer summary row
    "q_integrity" -> ((s, d) =>
      operators.Integrity.report(
        Canon.documents(s, d), Canon.embeddings(s, d), "doc_id", "vec_id")),
    // PII redaction with an EXACT oracle: the corpus is digit-free word
    // salad, so id-derived planted PII is the only match surface — the
    // masked text and per-class counts mirror in DuckDB regexp_replace
    // (both engines are leftmost-first with ASCII \b on this input)
    "q_text_redact" -> ((s, d) => {
      val id = col("doc_id")
      val planted = Canon.documents(s, d).select(id,
        concat(col("text"),
          lit(" contact user"), id.cast("string"), lit("@example.com"),
          lit(" from 10."), (id % 256).cast("string"),
          lit(".0."), ((id * 7) % 256).cast("string"),
          lit(" ssn 123-45-"), lpad((id % 10000).cast("string"), 4, "0"),
          lit(" call (415) 555-"), lpad((id % 10000).cast("string"), 4, "0")
        ).as("text"))
      TextOps.redact(planted)
        .select(id, col("text").as("redacted"),
          col("n_email").cast("long").as("n_email"),
          col("n_ip").cast("long").as("n_ip"),
          col("n_ssn").cast("long").as("n_ssn"),
          col("n_phone").cast("long").as("n_phone"))
        .orderBy("doc_id")
    }),
    // HTML extraction with an EXACT oracle: each doc's text is escaped
    // and wrapped into a full page (script/style/comment junk, inline
    // markup, entities); the strip chain is RE2-compatible by design, so
    // the oracle replays TextOps.htmlStripStages op-for-op in DuckDB
    "q_text_html" -> ((s, d) => {
      val id = col("doc_id")
      val esc = regexp_replace(regexp_replace(regexp_replace(col("text"),
        "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
      val html = concat(
        lit("<html><head><title>doc "), id.cast("string"),
        lit("</title><script type=\"text/javascript\">var x = 1 < 2 && v > 3;</script>"),
        lit("<style>p { margin: 0; }</style></head><body><!-- crawl junk -->"),
        lit("<h1 class=\"t\">Doc "), id.cast("string"), lit("</h1><p>"),
        esc,
        lit("</p><div><a href=\"/next\">next &amp; prev</a>&nbsp;&#39;q&#39;</div>"),
        lit("</body></html>"))
      TextOps.htmlToText(Canon.documents(s, d).select(id, html.as("html")))
        .select(id, col("n_tags").cast("long").as("n_tags"),
          col("n_links").cast("long").as("n_links"),
          col("n_blocks").cast("long").as("n_blocks"), col("text"))
        .orderBy("doc_id")
    }),
    // Unicode normalization with an EXACT oracle: the ASCII corpus gets
    // planted non-NFC content (combining acute, ANGSTROM SIGN), a BEL
    // control and a CRLF; the native NFC expression + published
    // cleanupStages must agree with DuckDB's nfc_normalize + the same
    // regex chain codepoint-for-codepoint
    "q_text_normalize" -> ((s, d) => {
      val planted = Canon.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" caf"), lit("e\u0301"), // decomposed: composes to U+00E9 under NFC
          lit("\u0007"),               // BEL -> stripped by cleanupStages
          lit("\r\n"),                 // CRLF -> LF
          lit("\u212B"),               // ANGSTROM SIGN -> U+00C5 under NFC
          lit("end")).as("text"))
      TextOps.normalizeText(planted)
        .select(col("doc_id"), col("text"),
          col("n_chars_in").cast("long").as("n_chars_in"),
          col("n_chars_out").cast("long").as("n_chars_out"), col("changed"))
        .orderBy("doc_id")
    }),
    // URL parsing + canonicalization with an EXACT oracle: id-derived
    // URLs (UrlOps.syntheticUrls) hit every parser branch; the RFC 3986
    // Appendix B regex and the eTLD+1 / normalize logic are RE2- and
    // CASE-mirrorable, so DuckDB replays them verbatim
    "q_url_parse" -> ((s, d) =>
      UrlOps.parse(UrlOps.syntheticUrls(Canon.documents(s, d)))
        .orderBy("doc_id")),
    // per-domain cap (CCNet/RefinedWeb diversity control): keep the top-3
    // docs per registrable domain by (n_chars desc, doc_id) — the engine
    // runs the two-phase skew-safe top-k, the oracle the plain window;
    // both are exact because the order is total
    "q_url_domcap" -> ((s, d) =>
      UrlOps.domainCap(UrlOps.syntheticUrls(Canon.documents(s, d)),
          "url", cap = 3, rankCol = "n_chars")
        .select(col("domain"), col("rn").cast("long").as("rn"),
          col("doc_id"), col("n_chars"))
        .orderBy("domain", "rn")),
    // RFC 9309 robots governance: the fixture derives each host's policy
    // from the host string itself (a * group everywhere; even-length
    // hosts add a graftbot group that REPLACES it per the election
    // rule), the engine runs the real line parser + LIKE-compiled
    // longest-match, and the oracle replays match+decision with the
    // enumerated rules (the parse cancels by construction, like the WARC
    // framing; parser internals are unit-pinned in RobotsOpsSpec)
    "q_url_robots" -> ((s, d) => {
      val urls = UrlOps.syntheticUrls(Canon.documents(s, d))
      val hosts = hostsFixture(s, d)
      val rob = operators.RobotsOps.rules(operators.RobotsOps.syntheticRobots(hosts))
      operators.RobotsOps.evaluate(urls, rob, "GraftBot")
        .orderBy("doc_id")
    }),
    // the non-rule robots directives (Crawl-delay under the same group
    // election; position-independent Sitemap lines); oracle replays the
    // host-length arithmetic the fixture derives them from
    "q_url_robots_directives" -> ((s, d) =>
      operators.RobotsOps.directives(
          operators.RobotsOps.syntheticRobots(hostsFixture(s, d)), "GraftBot")
        .orderBy("host")),
    // sitemap protocol parse + one-level index resolution (as a JOIN,
    // never a driver loop): the fixture derives every document from the
    // host string, the engine runs the real regex/entity parse, and the
    // oracle rebuilds the expected entries with arithmetic — the parse
    // cancels by construction (the robots/WARC pattern)
    "q_url_sitemaps" -> ((s, d) => {
      operators.SitemapOps.urlEntries(sitemapFixture(s, d))
        .select(col("host"), col("sitemap_url"), col("via_index"),
          col("entry_idx").cast("long").as("entry_idx"),
          col("loc"), col("lastmod"), col("changefreq"), col("priority"),
          col("same_host"))
        .orderBy("host", "sitemap_url", "via_index", "entry_idx")
    }),
    // the crawl FRONTIER: sitemaps → normalize/dedup → minus fetched
    // history → robots gate (election varies by host parity) → per-host
    // skew-safe cap → politeness schedule. Every stage is an
    // already-mirrored formulation, so the composition sits under one
    // exact oracle that replays the semantics with host arithmetic
    "q_crawl_frontier" -> ((s, d) => {
      // hosts + sitemaps are staged fixture parquet (r16): the robots and
      // fetched branches are cheap column arithmetic over the tiny hosts
      // table, so the timed region is the frontier chain itself
      val hosts = hostsFixture(s, d)
      // history: the k=0 full entry of every len%3==0 host already fetched
      val fetched = hosts.filter(length(col("host")) % 3 === 0)
        .select(concat(lit("https://"), col("host"), lit("/p/0-0?a=1&b="),
          (length(col("host")) % 7).cast("string")).as("url"))
      operators.Frontier.frontier(
          sitemapFixture(s, d),
          operators.Frontier.syntheticFrontierRobots(hosts),
          fetched, "GraftBot", perHostCap = 2)
        .orderBy("host", "rank")
    }),
    // WARC ingestion with an EXACT oracle: Spark assembles genuine
    // ISO 28500 response records (Content-Length framing, HTTP headers,
    // chunked transfer-encoding on the %5 schedule, 4 records per file),
    // WarcIngest runs the real byte parser, and the oracle recomputes
    // every field from the same id arithmetic over `documents`
    "q_warc_records" -> ((s, d) =>
      sources.WarcIngest.records(warcFixture(s, d))
        .filter(col("ok"))
        .select(col("file_id"), col("rec_idx").cast("long").as("rec_idx"),
          col("warc_type"), col("target_uri"), col("record_id"),
          col("content_type"),
          col("http_status").cast("long").as("http_status"),
          col("http_content_type"), col("payload_len"), col("body"))
        .orderBy("file_id", "rec_idx")),
    // the SAME fixture through the streaming FILE source: records are
    // parsed straight off FileSystem.open's gunzipping stream (task heap
    // = one record, no binaryFile byte-array ceiling) — the oracle is
    // q_warc_records' verbatim, with file_id recovered from the staged
    // file NAME (the path hash is physical identity, not data)
    "q_warc_stream_files" -> ((s, d) =>
      sources.WarcIngest.readRecordsStreamed(s, warcStreamDir(s, d) + "/*.warc.gz",
          targetBytesPerPartition = 1L << 20)
        .filter(col("ok"))
        .select(
          regexp_extract(col("path"), "f(\\d+)\\.warc\\.gz", 1)
            .cast("long").as("file_id"),
          col("rec_idx").cast("long").as("rec_idx"),
          col("warc_type"), col("target_uri"), col("record_id"),
          col("content_type"),
          col("http_status").cast("long").as("http_status"),
          col("http_content_type"), col("payload_len"), col("body"))
        .orderBy("file_id", "rec_idx")),
    // the recrawl tier: sitemap lastmod vs fetch history — len%3==0
    // hosts fetched their k=0 entry BEFORE its lastmod (stale), %3==1
    // hosts fetched their k=1 entry AFTER (fresh, excluded), %3==2
    // hosts have no history; ISO-date string compare, oracle replays
    "q_crawl_recrawl" -> ((s, d) => {
      val hosts = hostsFixture(s, d)
      val fetched = hosts.filter(length(col("host")) % 3 === 0)
        .select(concat(lit("https://"), col("host"), lit("/p/0-0?a=1&b="),
            (length(col("host")) % 7).cast("string")).as("url"),
          lit("2025-02-05").as("fetched_at"))
        .unionByName(hosts.filter(length(col("host")) % 3 === 1)
          .select(concat(lit("https://"), col("host"), lit("/p/1-0?a=1&b="),
              (length(col("host")) % 7).cast("string")).as("url"),
            lit("2025-03-01").as("fetched_at")))
      operators.Frontier.staleFetches(
          sitemapFixture(s, d), fetched)
        .orderBy("host", "url")
    }),
    // the CDX capture index over URL-fixture WARC records: SURT keys
    // (reversed host labels, non-default port, path+query) computed by
    // the engine, replayed by the oracle from the parsed d2 columns
    "q_crawl_cdx" -> ((s, d) =>
      sources.WarcIngest.cdxIndex(
          sources.WarcIngest.records(urlWarcFixture(s, d)))
        .orderBy("file_id", "rec_idx")),
    // WAT round-trip: records described as WARC metadata JSON (the
    // Common Crawl sidecar), re-read through the streaming source and
    // parsed back with from_json — framing and the fixed-key JSON
    // construction cancel, so the oracle is documents arithmetic
    "q_wat_roundtrip" -> ((s, d) => {
      val watSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "Envelope STRUCT<`WARC-Header-Metadata`: STRUCT<`WARC-Target-URI`: STRING, " +
          "`WARC-Type`: STRING>, `Payload-Metadata`: STRUCT<" +
          "`Actual-Content-Length`: BIGINT, `HTTP-Response-Metadata`: STRUCT<" +
          "`Response-Message`: STRUCT<Status: BIGINT>, " +
          "Headers: STRUCT<`Content-Type`: STRING>>>>")
      sources.WarcIngest.readRecordsStreamed(s, watDir(s, d) + "/*.gz")
        .filter(col("ok"))
        .withColumn("j", from_json(col("body"), watSchema))
        .select(
          (regexp_extract(col("record_id"), "urn:graft:wat:([0-9]+):", 1).cast("long") * 4 +
            regexp_extract(col("record_id"), "urn:graft:wat:[0-9]+:([0-9]+)", 1).cast("long"))
            .as("doc_id"),
          col("j.Envelope.WARC-Header-Metadata.WARC-Target-URI").as("described_uri"),
          col("j.Envelope.WARC-Header-Metadata.WARC-Type").as("described_type"),
          col("j.Envelope.Payload-Metadata.Actual-Content-Length").as("described_len"),
          col("j.Envelope.Payload-Metadata.HTTP-Response-Metadata.Response-Message.Status").as("described_status"),
          col("j.Envelope.Payload-Metadata.HTTP-Response-Metadata.Headers.Content-Type").as("described_ct"))
        .orderBy("doc_id")
    }),
    // WET round-trip: the extraction frame written as WARC `conversion`
    // records (the Common Crawl interchange format) through the
    // distributed gzip text sink, re-read through the STREAMING file
    // source — framing and Content-Length cancel by construction, so
    // the oracle is plain documents arithmetic
    "q_wet_roundtrip" -> ((s, d) =>
      sources.WarcIngest.readRecordsStreamed(s, wetDir(s, d) + "/*.gz")
        .filter(col("ok"))
        .select(
          regexp_extract(col("record_id"), "urn:graft:doc:([0-9]+)", 1)
            .cast("long").as("doc_id"),
          col("warc_type"), col("target_uri"), col("content_type"),
          col("payload_len"), col("body"))
        .orderBy("doc_id")),
    // the crawl front half composed end-to-end: WARC bytes → record
    // parse → HTML extraction; the oracle replays the construction and
    // the published htmlStripStages chain (same stages as q_text_html)
    "q_warc_extract" -> ((s, d) => {
      val recs = sources.WarcIngest.records(warcFixture(s, d))
        .filter(col("ok"))
      TextOps.htmlToText(recs.select(
          regexp_extract(col("record_id"), "urn:doc:([0-9]+)", 1)
            .cast("long").as("doc_id"),
          col("body").as("html")))
        .select(col("doc_id"), col("n_tags").cast("long").as("n_tags"),
          col("text"))
        .orderBy("doc_id")
    }),
    // PDF text extraction (planning tier): id-derived 4-object PDFs whose
    // content streams exercise Tj / kerned TJ / quote-next-line / Td line
    // moves plus escape and hex strings on schedules; the oracle replays
    // the expected text with string arithmetic (the parse cancels by
    // construction; escapes/Flate/framing are unit-pinned in PdfTextSpec)
    "q_pdf_extract" -> ((s, d) =>
      operators.PdfText.extract(pdfFixture(s, d))
        .filter(col("ok"))
        .select(col("file_id").as("doc_id"),
          col("n_objects").cast("long").as("n_objects"),
          col("n_streams").cast("long").as("n_streams"),
          col("text"), col("n_chars"))
        .orderBy("doc_id")),
    // PDF tier 2 under the same exact-oracle pattern: each doc becomes a
    // PDF 1.5 file whose page tree lives in an /ObjStm object stream,
    // the xref is a cross-reference STREAM (Flate + PNG Up predictor),
    // and the doc text shows through a Type0 font's ToUnicode CMap
    // (2-byte codes 0x10nn → U+00nn; bfchar incl. multi-unit dst on %3)
    // — the layout and font shape MODERN real-world PDFs actually use
    "q_pdf_cid" -> ((s, d) =>
      operators.PdfText.extract(cidPdfFixture(s, d))
        .filter(col("ok"))
        .select(col("file_id").as("doc_id"),
          col("n_objects").cast("long").as("n_objects"),
          col("n_streams").cast("long").as("n_streams"),
          col("text"), col("n_chars"))
        .orderBy("doc_id")),
    // charset-aware body decode under an EXACT oracle: the fixture plants
    // raw windows-1252 / Shift-JIS / BOM bytes (ISO-8859-1 file encoding
    // makes chr(n) == byte n), the parser sniffs per the WHATWG
    // precedence (BOM > transport > <meta> prescan > Latin-1), and the
    // oracle pins the decoded Unicode with plain literals
    "q_warc_charset" -> ((s, d) =>
      sources.WarcIngest.records(charsetWarcFixture(s, d))
        .filter(col("ok"))
        .select(
          regexp_extract(col("record_id"), "urn:doc:([0-9]+)", 1)
            .cast("long").as("doc_id"),
          col("charset"), col("payload_len"), col("body"))
        .orderBy("doc_id")),
    // the whole crawl pipeline under ONE exact oracle: WARC bytes with
    // id-derived URLs → record parse → HTML extraction → NFC/cleanup →
    // quality gate → per-domain cap → per-domain rollup. Every stage is
    // the published mirrorable formulation; the oracle replays them all.
    "q_crawl_pipeline" -> ((s, d) => {
      val recs = sources.WarcIngest.records(urlWarcFixture(s, d))
        .filter(col("ok") && col("http_status") === 200)
      operators.Curation.crawlReport(recs.select(
        regexp_extract(col("record_id"), "urn:doc:([0-9]+)", 1)
          .cast("long").as("doc_id"),
        col("target_uri").as("url"), col("body").as("html")))
    }),
    // the CCNet-ordered curation chain (extract → exact dedup → langid
    // gate → reference-LM percentile gate → quality gate → domain cap)
    // under ONE exact oracle: the LM is the q_text_lmscore reference
    // bigram model, the percentile is exact ntile over a total order,
    // and every stage reuses an already-green mirrored formulation
    "q_crawl_curated" -> ((s, d) => {
      val recs = sources.WarcIngest.records(urlWarcFixture(s, d))
        .filter(col("ok") && col("http_status") === 200)
      operators.Curation.crawlReportCurated(
        recs.select(
          regexp_extract(col("record_id"), "urn:doc:([0-9]+)", 1)
            .cast("long").as("doc_id"),
          col("target_uri").as("url"), col("body").as("html")),
        ref = Canon.documents(s, d).filter(col("lang") === "en"))
    }),
    // trained quality classifier (the DCLM/fastText-style step above the
    // Gopher heuristics): fixed-point logistic regression over the
    // mirrored quality signals, 8 full-batch GD steps — deterministic
    // integer arithmetic end-to-end, so the oracle replays TRAINING
    // ITSELF as 8 unrolled CTE steps and the scores match exactly
    "q_text_classifier" -> ((s, d) => {
      val feat = operators.Classifier.features(
        operators.Classifier.syntheticLabeled(Canon.documents(s, d)),
        col("doc_id") % 2 === 0)
      operators.Classifier.trainAndScore(feat)
        .select(col("doc_id"), col("y"), col("score_nano"), col("pred"))
        .orderBy("doc_id")
    }),
    "q_text_winnowing" -> ((s, d) => // splitmix64-valued; rows-only +
      // golden. A full-size DuckDB mirror costs ~100s of interpreted
      // lambda arithmetic per t2 run (and round 9's unbiased draft was
      // 74 pairs off — unsigned HUGEINT min vs the kernel's signed min);
      // the bounded q_winnow_mirror row below carries the exact
      // cross-engine check for the same kernel instead.
      TextOps.winnowingOverlapPairs(Canon.documents(s, d), minShared = 3)),
    // the winnowing kernel under an EXACT cross-engine oracle (VERDICT r8
    // item 6): the identical operator over a deterministic 120-doc slice,
    // mirrored in DuckDB SQL (winnowMirrorSql) — splitmix64 via HUGEINT
    // limb arithmetic, sign-biased window minima, distinct, df<=50
    // filter, pair join — the q_layout_zorder integer-exactness precedent
    // applied to the 64-bit hash. Bounded so the oracle stays seconds,
    // not ~100s.
    "q_winnow_mirror" -> ((s, d) =>
      TextOps.winnowingOverlapPairs(
        Canon.documents(s, d).filter(col("doc_id") < 120), minShared = 3)),
    // ----- beyond parity: dedup (documents)
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exact(Canon.documents(s, d)).orderBy("keep_id")),
    "q_dedup_stats" -> ((s, d) => // corpus duplication report
      Dedup.stats(Canon.documents(s, d))),
    "q_dedup_ngram" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Canon.documents(s, d), n = 3, tau = 0.6)),
    // paragraph-level dedup (CCNet boilerplate removal): a banner planted
    // in EVERY doc and a footer on the evens must survive only in doc 0;
    // the corpus's own duplicate texts dedup as middle paragraphs too,
    // while the %3 docs' blank line (empty paragraph = structure, not
    // content) survives in every one of them
    "q_dedup_paragraphs" -> ((s, d) => {
      val id = col("doc_id")
      val planted = Canon.documents(s, d).select(id,
        concat(lit("subscribe to our newsletter\n"), col("text"),
          when(id % 3 === 0, lit("\n")).otherwise(lit("")),
          when(id % 2 === 0, lit("\nall rights reserved")).otherwise(lit("")),
          lit("\nunique tail "), id.cast("string")).as("text"))
      Dedup.dedupParagraphs(planted)
        .select(id, col("text"), col("n_paras_kept"))
        .orderBy("doc_id")
    }),
    // the nightly-crawl version: boilerplate learned from PAST crawls
    // (the %3==0 docs' paragraph-hash store) strips from tonight's batch
    // (%3!=0), which then first-occurrence-dedups against itself; the
    // %3==1 docs' blank line exercises the structure bypass in-batch
    "q_dedup_paragraphs_incremental" -> ((s, d) => {
      val id = col("doc_id")
      val planted = Canon.documents(s, d).select(id,
        concat(lit("subscribe to our newsletter\n"), col("text"),
          when(id % 3 === 1, lit("\n")).otherwise(lit("")),
          when(id % 2 === 0, lit("\nall rights reserved")).otherwise(lit("")),
          lit("\nunique tail "), id.cast("string")).as("text"))
      Dedup.dedupParagraphsIncremental(
          planted.filter(id % 3 =!= 0),
          Dedup.paragraphHashes(planted.filter(id % 3 === 0)))
        .select(id, col("text"), col("n_paras_kept"))
        .orderBy("doc_id")
    }),
    "q_dedup_clusters" -> ((s, d) => // connected components over verified pairs → keep-list
      Dedup.duplicateClusters(Canon.documents(s, d), n = 3, tau = 0.6)),
    "q_dedup_keepers" -> ((s, d) => // quality-preferring keeper election:
      // keep each cluster's argmax(quality, min id), not an arbitrary id
      Dedup.qualityKeepers(Canon.documents(s, d), n = 3, tau = 0.6)),
    "q_dedup_containment" -> ((s, d) => // small-set-in-big-set near-dup (asymmetric)
      Dedup.containmentPairs(Canon.documents(s, d), t = 0.8)),
    "q_dedup_minhash" -> ((s, d) => // LSH candidates + exact verify; rows-only check
      Dedup.minhashLshPairs(Canon.documents(s, d), n = 3, k = 64, bands = 16, tau = 0.6)),
    "q_dedup_keepers_lsh" -> ((s, d) => // keeper election over the LSH pair tier
      // (the 100 TB dedup shape: banded buckets, never all-pairs)
      Dedup.qualityKeepersLsh(Canon.documents(s, d), n = 3, k = 64, bands = 16, tau = 0.6)),
    "q_dedup_incremental" -> ((s, d) => { // nightly-crawl shape: new batch vs seen-store
      val docs = Canon.documents(s, d)
      Dedup.incrementalNew(docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0).select(md5(col("text")).as("content_hash")))
    }),
    "q_profile_docs" -> ((s, d) => // ANALYZE-shaped per-column corpus profile
      TableProfile.profile(Canon.documents(s, d))),
    "q_profile_docs_approx" -> ((s, d) => // wide-table tier: ONE aggregate, HLL distincts
      TableProfile.profileApprox(Canon.documents(s, d))),
    "q_dedup_cross_lsh" -> ((s, d) => { // near-dups of the new batch vs the old corpus only
      val docs = Canon.documents(s, d)
      Dedup.crossCorpusLshPairs(docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 === 0), n = 3, k = 64, bands = 16, tau = 0.6)
    }),
    "q_dedup_simhash" -> ((s, d) => // hash-valued; rows-only check
      Dedup.simhashPairs(Canon.documents(s, d), maxHamming = 3)),
    "q_decontaminate" -> ((s, d) => // eval-set n-gram overlap report
      Dedup.decontaminationReport(Canon.documents(s, d), col("doc_id") % 10 === 0, n = 5)),
    "q_decontaminate_bloom" -> ((s, d) => // scale tier: eval grams as a bloom bit table, join-free probe
      Dedup.decontaminateBloom(Canon.documents(s, d), col("doc_id") % 10 === 0, n = 5)
        .select("doc_id", "source").orderBy("doc_id")),
    // ----- beyond parity: deterministic sampling (documents)
    "q_sample_hash" -> ((s, d) => // uniform hash-gated sample, rate 64/256
      Sampling.hashSample(Canon.documents(s, d), 64)
        .select("doc_id", "lang", "source").orderBy("doc_id")),
    "q_sample_stratified" -> ((s, d) => // per-language deterministic top-20
      Sampling.stratifiedSample(Canon.documents(s, d), "lang", 20)
        .select("doc_id", "lang").orderBy("lang", "doc_id")),
    "q_sample_mixture" -> ((s, d) => // per-source weighted mixing report
      Sampling.mixtureReport(Canon.documents(s, d), "source",
        Seq("src0" -> 192, "src1" -> 128, "src2" -> 64), default256 = 32)),
    "q_sample_budget" -> ((s, d) => // token-budget allocation: temperature-
      // flattened per-source budgets (w ∝ sqrt(tokens), exact integer
      // split), filled as a deterministic md5-ordered prefix
      Sampling.tokenBudgetReport(Canon.documents(s, d), totalBudget = 20000L)),
    // end-to-end curation pipeline: quality-filter → exact-dedup (keep min
    // doc_id per content hash) → deterministic sample → per-language
    // report; see Curation.report for the one-scan/one-shuffle design
    "q_pipeline_curate" -> ((s, d) =>
      operators.Curation.report(Canon.documents(s, d), minQuality = 0.5, rate256 = 128)),
    // fixed-size overlapping token chunks (pre-packing fan-out)
    "q_text_chunks" -> ((s, d) =>
      TextOps.chunks(Canon.documents(s, d), maxTokens = 32, overlap = 8)
        .orderBy("doc_id", "chunk_id")),
    // sequence packing: chunks → fixed-token-budget packs by contiguous
    // greedy fill; the running token count is the corpus-global prefix
    // sum via the two-pass machinery (no single-partition window)
    "q_text_pack" -> ((s, d) =>
      TextOps.packChunks(
          // drop the chunk TEXT before packing: the pack summary only
          // needs ids + counts, and the packer persists its input
          TextOps.chunks(Canon.documents(s, d), 32, 8)
            .select("doc_id", "chunk_id", "n_tokens"),
          256L, Seq(col("doc_id").asc, col("chunk_id").asc))
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").as("n_tokens"))
        .orderBy("pack_id")),
    // token-count magnitude histogram (decimal-digit buckets — exact and
    // portable, unlike floor(log2(n)) whose libm rounding can flip a
    // boundary bucket between engines)
    "q_len_histogram" -> ((s, d) =>
      Canon.documents(s, d)
        .select(TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
        .groupBy(length(col("n_tokens").cast("string")).cast("long").as("magnitude"))
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
          min("n_tokens").as("min_tokens"), max("n_tokens").as("max_tokens"))
        .orderBy("magnitude")),
    // ----- beyond parity: similarity search (embeddings)
    "q_sim_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(Canon.embeddings(s, d), QIDS, k = 10)
        .withColumn("rn", col("rn").cast("long"))),
    "q_sim_neardup" -> ((s, d) =>
      Similarity.nearDupPairs(Canon.embeddings(s, d), tau = 0.4)),
    "q_sim_clusters" -> ((s, d) => // semantic dedup keep-list over cosine pairs
      Dedup.semanticClusters(Canon.embeddings(s, d), tau = 0.4)),
    "q_sim_clusters_ivf" -> ((s, d) => // SemDeDup scale tier; approximate → rows-only
      Dedup.semanticClustersIvf(Canon.embeddings(s, d), tau = 0.4)),
    "q_sim_ivf" -> ((s, d) =>
      Similarity.ivfTopK(Canon.embeddings(s, d), QIDS, k = 10)
        .withColumn("rn", col("rn").cast("long"))),
    "q_sim_ann" -> ((s, d) => // approximate (recall<1); rows-only check
      Similarity.annTopK(Canon.embeddings(s, d), QIDS, k = 10, dim = 64)
        .withColumn("rn", col("rn").cast("long"))),
    "q_sim_ivf_trained" -> ((s, d) => // trained k-means cells; approximate → rows-only
      Similarity.ivfTopKTrained(Canon.embeddings(s, d), QIDS, k = 10)
        .withColumn("rn", col("rn").cast("long"))),
    "q_sim_pq" -> ((s, d) => // product-quantization ADC + exact refine;
      // approximate → rows-only, golden-pinned + recall floor in spec
      Similarity.pqTopK(Canon.embeddings(s, d), QIDS, k = 10)
        .withColumn("rn", col("rn").cast("long"))),
    "q_vec_quantize" -> ((s, d) => // int8 quantization summary (exact arithmetic)
      Similarity.quantizeInt8(Canon.embeddings(s, d))),
    "q_embed_outliers" -> ((s, d) => // bottom-5 cosine-to-label-centroid per label
      Similarity.labelCentroidOutliers(Canon.embeddings(s, d), k = 5)
        .orderBy("label", "rk")),
    // filtered vector search: metadata predicate on the aligned documents
    // table restricts the corpus via a PINNED shuffle semi-join on the id
    // (at 100 TB the filtered doc-id set is itself fact-scale — billions
    // of ids — so broadcasting it is the same trap as broadcasting a
    // filtered fact table); query vectors still come from the FULL set
    "q_sim_filtered" -> ((s, d) => {
      val emb = Canon.embeddings(s, d)
      val enIds = Canon.documents(s, d).filter(col("lang") === "en")
        .select(col("doc_id").as("vec_id"))
      Similarity.topKOverIds(emb, enIds, emb.filter(col("vec_id").isin(QIDS: _*)), k = 10)
        .withColumn("rn", col("rn").cast("long"))
    }),
    // ----- beyond parity: multimodal (real header decode + pixel tier)
    "q_multimodal_bytes" -> ((s, d) =>
      Multimodal.mediaFromDocuments(Canon.documents(s, d))
        .select("media_id", "kind", "n_bytes").orderBy("media_id")),
    "q_multimodal_features" -> ((s, d) =>
      // REAL round trip: column expressions assemble genuine PNG/JPEG/GIF
      // headers (dims derived from doc_id), HeaderDecoder parses the
      // bytes back, and the oracle checks the arithmetic — an exact gate
      // over actual byte-level decode, not stub arithmetic (r4 item 6)
      Multimodal.decodeHeaders(mediaFixture(s, d))
        .filter(col("ok"))
        .select(col("media_id"), col("format"), col("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"))
        .orderBy("media_id")),
    "q_multimodal_resize" -> ((s, d) =>
      // the PLANNING tier end-to-end: byte-volume partitioning →
      // per-partition fit geometry from REAL parsed bytes (all three
      // container formats); oracle checks the id arithmetic
      Multimodal.resizePlanBatched(mediaFixture(s, d), 224, 224)
        .orderBy("media_id")),
    "q_multimodal_pixels" -> ((s, d) =>
      // the REAL pixel tier (r6 item 3): Spark assembles genuinely
      // LZW-compressed GIF animations + raw-RGB tensors from id
      // arithmetic, the kernel fully decodes (GifCodec) and NN-resamples
      // them, and the oracle recomputes the resampled pixel checksum —
      // an exact gate over actual pixel decode, zero stubs
      Multimodal.resizePixels(pixelMediaFixture(s, d), 4, 4)
        .orderBy("media_id")),
    "q_multimodal_jpeg" -> ((s, d) =>
      // the JPEG lane (r8 — the last codec boundary erased): Spark
      // assembles complete spec-valid JPEG interchange streams (custom
      // canonical Huffman tables, DC-only 8x8 blocks; three variants:
      // baseline gray, baseline interleaved 4:4:4 color, and a
      // two-scan PROGRESSIVE gray), JpegCodec runs the full decode
      // (DHT table build, category/extend entropy decode, DC
      // prediction, SOF2 multi-scan coefficient accumulation, dequant,
      // exact IDCT, YCbCr->RGB), and the oracle recomputes the
      // resampled checksum from the same id arithmetic
      Multimodal.resizePixels(jpegMediaFixture(s, d), 12, 12)
        .orderBy("media_id")),
    "q_multimodal_audio" -> ((s, d) =>
      // the audio lane: Spark assembles complete PCM16 RIFF/WAVE files
      // from id arithmetic (text bytes as trailing junk — the decoder
      // must honor chunk lengths), WavDecoder walks the chunks and
      // decodes the samples, and the oracle recomputes every statistic
      // as exact integer math over the same sample formula
      Multimodal.decodeAudio(audioFixture(s, d))
        .filter(col("ok"))
        .select(col("media_id"), col("n_bytes"), col("channels"),
          col("sample_rate"), col("n_frames"), col("duration_us"),
          col("peak_abs"), col("sum_abs"), col("sum_sq"), col("clipped"))
        .orderBy("media_id")),
    "q_video_meta" -> ((s, d) =>
      // the VIDEO lane (ISO/IEC 14496-12): Spark assembles spec-valid
      // isom files (ftyp/moov/mvhd/trak/tkhd/mdhd/hdlr/stbl with 16.16
      // geometry, 90kHz media ticks, every-12th-sample stss, the doc
      // text inside mdat), Mp4Meta walks the real box tree, and the
      // oracle recomputes every field from the same id arithmetic
      operators.Mp4Meta.videoMeta(videoFixture(s, d))
        .filter(col("ok"))
        .select(col("media_id"), col("brand"), col("movie_duration_us"),
          col("track_id"), col("handler"), col("codec"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("lang"),
          col("n_samples"), col("n_keyframes"), col("duration_us"))
        .orderBy("media_id")),
    "q_video_frames" -> ((s, d) =>
      // the video frame-sample plan: every 2nd sync sample of each parsed
      // track — the row set a GPU decode stage would read
      operators.Mp4Meta.keyframeSamplePlan(
          operators.Mp4Meta.videoMeta(videoFixture(s, d)),
          stride = 2)
        .orderBy("media_id", "k_idx")),
    // ----- beyond parity: scale-bearing relational queries (lineitem/orders)
    "q_tpch_pricing" -> ((s, d) =>
      Canon.table(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),
    // TPC-H Q3 shape: selective dim filter broadcast into a 3-way join,
    // partial-agg'd revenue, top-10 — the canonical shuffle-join + topn mix
    "q_tpch_shipping" -> ((s, d) => {
      val cust = Canon.table(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      // parquet stores these as TIMESTAMP_NTZ; with a UTC session the
      // ntz→ltz cast is identity-on-the-wall-clock, matching DuckDB's
      // naive-timestamp epoch_ms
      val cutoff = lit("1995-06-01").cast("timestamp_ntz")
      val ord = Canon.table(s, d, "orders").filter(col("o_orderdate") < cutoff)
      val li = Canon.table(s, d, "lineitem").filter(col("l_shipdate") > cutoff)
      // Join strategy is pinned, not left to statistics: the shipdate
      // filter keeps ~half of lineitem, and at bench scale AQE's size
      // estimate put that filtered FACT table under a BroadcastExchange
      // (r2 verdict: 7.9s, and an OOM at 100×). customer is the only
      // broadcastable side; orders⋈lineitem must stay a shuffle join on
      // orderkey with the (smaller, dim-filtered) orders side as build.
      ord.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .hint("shuffle_hash")
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("o_date_ms"),
          col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),
    // TPC-H Q14 shape: fact filtered by time window, part dimension
    // broadcast, conditional aggregation → one promo-revenue ratio
    "q_tpch_promo" -> ((s, d) => {
      val lo = lit("1996-01-01").cast("timestamp_ntz")
      val hi = lit("1997-01-01").cast("timestamp_ntz")
      val li = Canon.table(s, d, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
      val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
      // part is SF-scaled (200k rows/SF) and needed UNFILTERED for the
      // p_type lookup — a fact-scale build side, never a broadcast
      li.join(Canon.table(s, d, "part").hint("shuffle_hash"),
          col("l_partkey") === col("p_partkey"))
        .agg(round(sum(when(col("p_type") === "PROMO", disc).otherwise(lit(0.0))), 2)
            .as("promo_rev"),
          round(sum(disc), 2).as("total_rev"))
        // ratio of the ROUNDED sums — bit-mirrorable in ANSI SQL
        .select(col("promo_rev"), col("total_rev"),
          round(col("promo_rev") * 100.0 / col("total_rev"), 6).as("promo_pct"))
    }),
    // TPC-H Q18 shape: a HAVING-aggregate over the fact table semi-joined
    // back into the orders⋈customer join — the aggregated side stays a
    // shuffle join (its leaves are the lineitem fact scan; broadcasting it
    // is the same 100× OOM trap the shipping query pins against)
    "q_tpch_bigorders" -> ((s, d) => {
      val big = Canon.table(s, d, "lineitem")
        .groupBy("l_orderkey")
        .agg(round(sum("l_quantity"), 2).as("total_qty"))
        .filter(col("total_qty") > 300)
      val ord = Canon.table(s, d, "orders")
      val cust = Canon.table(s, d, "customer")
      big.hint("shuffle_hash")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        // unfiltered customer is fact-scaled — never a broadcast side
        .join(cust.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("o_date_ms"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey").asc)
        .limit(20)
    }),
    // TPC-H Q5 shape: the 6-way join — fixed-size dims (region, nation)
    // broadcast; every SF-scaled table (customer, orders, lineitem,
    // supplier) pinned to shuffle hash joins, because at 100 TB none of
    // them is broadcastable and leaving the choice to bench-scale
    // statistics is exactly the r2 fact-broadcast trap. Supplier carries
    // the region filter (dim pushdown); the c_nationkey = s_nationkey
    // "local supplier" condition rides the suppkey join as a residual.
    "q_tpch_regional" -> ((s, d) => {
      val lo = lit("1996-01-01").cast("timestamp_ntz")
      val hi = lit("1997-01-01").cast("timestamp_ntz")
      val natAsia = Canon.table(s, d, "nation")
        .join(broadcast(Canon.table(s, d, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val sup = Canon.table(s, d, "supplier")
        .join(broadcast(natAsia), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val ord = Canon.table(s, d, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      val co = ord.join(Canon.table(s, d, "customer").hint("shuffle_hash"),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_nationkey"))
      // revenue accumulates in integer CENTS: per-row round(x*100) is one
      // IEEE multiply + one half-away round — identical in any engine —
      // and integer addition is order-independent, so the aggregate can't
      // flip a 2dp boundary under Spark's nondeterministic partial-agg
      // order (a plain round(sum(double),2) did, on a .xx5 landing)
      val lco = co.hint("shuffle_hash")
        .join(Canon.table(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"), col("c_nationkey"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long").as("rev_cents"))
      lco.join(sup.hint("shuffle_hash"),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg((sum("rev_cents").cast("double") / 100).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    }),
    // TPC-H Q10 shape: returned-item revenue per customer — two filtered
    // fact scans shuffle-joined on orderkey, customer shuffle-joined on
    // custkey (unfiltered customer is NOT broadcastable at 100 TB),
    // fixed-size nation broadcast, top-20
    "q_tpch_returns" -> ((s, d) => {
      val lo = lit("1996-01-01").cast("timestamp_ntz")
      val hi = lit("1996-07-01").cast("timestamp_ntz")
      val li = Canon.table(s, d, "lineitem").filter(col("l_returnflag") === "R")
      val ord = Canon.table(s, d, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      // hints mark the intended BUILD side: the dim-filtered orders under
      // the lineitem join, and customer (150k/SF rows) under the custkey
      // join — hinting the (orders⋈lineitem) fact output would build the
      // hash table over the WIDE fact side and stream the smaller customer
      ord.hint("shuffle_hash")
        .join(li, col("l_orderkey") === col("o_orderkey"))
        .join(Canon.table(s, d, "customer").hint("shuffle_hash"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Canon.table(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        // integer-cents sum — see q_tpch_regional for why
        .agg((sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long")).cast("double") / 100).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),
    // sessionization: 30-min-gap sessions per user (lag + cumulative flag)
    "q_sessionize" -> ((s, d) => {
      val e = Canon.eventsRaw(s, d)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
      val flagged = e.withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .withColumn("new_sess",
          when(col("gap").isNull || col("gap") > 1800000000L, 1L).otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess"))
          .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      flagged.groupBy("user_id")
        .agg(max(col("sess_id")).as("n_sessions"), count(lit(1)).as("n_events"))
        .withColumn("events_per_session",
          round(col("n_events").cast("double") / col("n_sessions"), 6))
        .orderBy("user_id")
    }),
    // the same sessionization through the HOT-KEY-SAFE two-pass path
    // (Events.sessionizeScalable): identical semantics and oracle, no
    // per-user task — the variant for a single user too big for one task
    "q_sessionize_hotkey" -> ((s, d) =>
      operators.Events.sessionizeScalable(Canon.eventsRaw(s, d), 1800000000L)
        .groupBy("user_id")
        .agg(max(col("sess_id")).as("n_sessions"), count(lit(1)).as("n_events"))
        .withColumn("events_per_session",
          round(col("n_events").cast("double") / col("n_sessions"), 6))
        .orderBy("user_id")),
    // the SAME sessions through Structured Streaming: session_window
    // under a watermark, materialized per micro-batch by foreachBatch
    // (complete mode → the last batch carries the full state), read back
    // and rolled up to the q_sessionize output shape — so the streaming
    // path shares the batch oracle verbatim. stream==batch is the
    // CORRECTNESS-gated claim here; the equivalence units in
    // StreamingWindowSpec carry the per-window detail.
    "q_stream_sessions" -> ((s, d) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val src = s"$d/events.parquet"
      // the file stream source needs a directory; stage the table into one
      val inDir = java.nio.file.Files.createTempDirectory("q_stream_in_")
      java.nio.file.Files.copy(java.nio.file.Paths.get(src),
        inDir.resolve("events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val outDir = StreamScratch.dir("q_stream_sessions")
      val schema = s.read.parquet(src).schema
      // state partitions derived from input volume, not the batch
      // contract's core count — see StreamTuning (guide §2). The sink is
      // NOT coalesced: the per-user session table is corpus-scale.
      val ss = streaming.StreamTuning.sessionFor(s, inDir.toString)
      ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = ss.readStream.schema(schema).parquet(inDir.toString)
        .select(col("user_id"), Canon.tsUsExpr(s.read.parquet(src)).as("ts_us"),
          col("value"))
      val sessions = streaming.WindowedAggs.sessionsByKey(raw, "user_id")
      val q = sessions.writeStream
        .outputMode("complete")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // a timed-out stream would leave outDir with partial (or zero)
      // batches and SILENTLY verify wrong — fail loudly instead
      val finished = q.awaitTermination(300000L)
      q.stop()
      require(finished, "q_stream_sessions: stream did not terminate in 300s")
      // the staged input copy is dead once the stream terminates (the
      // RESULT parquet in outDir must outlive this call — the returned
      // frame reads it lazily); repeated bench/verify invocations would
      // otherwise accumulate corpus copies in tmp
      java.nio.file.Files.deleteIfExists(inDir.resolve("events.parquet"))
      java.nio.file.Files.deleteIfExists(inDir)
      s.read.parquet(outDir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
        .withColumn("events_per_session",
          round(col("n_events").cast("double") / col("n_sessions"), 6))
        .orderBy("user_id")
    }),
    // custom streaming STATE e2e (flatMapGroupsWithState): the per-series
    // running stats from streaming.StatefulOps accumulate as managed
    // group state across micro-batches; every batch's updates are
    // appended, the FINAL cumulative state per series (the update with
    // the max count — counts are strictly increasing per emit) is rolled
    // up and checked against the same plain batch aggregate in DuckDB.
    // Third streaming roster entry, third state-management strategy:
    // session_window (q_stream_sessions), and now arbitrary user state.
    "q_stream_state" -> ((s, d) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val src = s"$d/events.parquet"
      val inDir = java.nio.file.Files.createTempDirectory("q_streamstate_in_")
      java.nio.file.Files.copy(java.nio.file.Paths.get(src),
        inDir.resolve("events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val outDir = StreamScratch.dir("q_stream_state")
      val schema = s.read.parquet(src).schema
      // volume-derived state partitions (StreamTuning, guide §2); the
      // sink appends per-batch updates and is not coalesced
      val ss = streaming.StreamTuning.sessionFor(s, inDir.toString)
      ss.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      import ss.implicits._
      val raw = ss.readStream.schema(schema).parquet(inDir.toString)
        .select(col("event_type").as("series"),
          Canon.tsUsExpr(s.read.parquet(src)).as("ts_us"),
          lit(null).cast(Canon.tagType).as("tag"),
          col("value"), col("event_id").as("rid"))
        .as[Canon.Datapoint]
      val updates = streaming.StatefulOps.runningSeriesStats(raw)(ss)
      val q = updates.toDF.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // overwrite on the FIRST batch clears a previous invocation's
          // content from the reused per-process scratch dir
          batch.write.mode(if (batchId == 0) "overwrite" else "append")
            .parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val finished = q.awaitTermination(300000L)
      q.stop()
      require(finished, "q_stream_state: stream did not terminate in 300s")
      java.nio.file.Files.deleteIfExists(inDir.resolve("events.parquet"))
      java.nio.file.Files.deleteIfExists(inDir)
      s.read.parquet(outDir)
        .groupBy("series")
        .agg(max_by(struct(col("count"), col("sum"), col("maxTs")),
          col("count")).as("f"))
        .select(col("series"), col("f.count").as("n"),
          round(col("f.sum"), 4).as("sum_v"),
          round(col("f.sum") / col("f.count"), 6).as("mean_v"),
          col("f.maxTs").as("max_ts"))
        .orderBy("series")
    }),
    // streaming exact dedup e2e (dropDuplicatesWithinWatermark): the
    // corpus is staged TWICE into the stream source (the sf corpora have
    // no exact duplicates), so the bounded-state dedup must collapse
    // 2× rows to exactly the corpus's distinct content hashes (single
    // AvailableNow batch → every duplicate is within-watermark). Event
    // time is synthesized deterministically from doc_id; only the slim
    // hash column hits the sink. Fourth streaming entry, third state
    // strategy (session windows, arbitrary user state, and now
    // watermark-EXPIRED dedup state — the shape whose state stays
    // bounded at 100 TB key cardinality).
    "q_stream_dedup" -> ((s, d) => {
      val src = s"$d/documents.parquet"
      val inDir = java.nio.file.Files.createTempDirectory("q_streamdedup_in_")
      for (copy <- Seq("documents_a.parquet", "documents_b.parquet"))
        java.nio.file.Files.copy(java.nio.file.Paths.get(src),
          inDir.resolve(copy),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val outDir = StreamScratch.dir("q_stream_dedup")
      val schema = s.read.parquet(src).schema
      // volume-derived state partitions (StreamTuning, guide §2); the
      // sink carries one slim hash column per surviving row (corpus-
      // scale at 100 TB) and is not coalesced
      val ss = streaming.StreamTuning.sessionFor(s, inDir.toString)
      val raw = ss.readStream.schema(schema).parquet(inDir.toString)
        .withColumn("__etime", timestamp_micros(lit(INGEST_T0) + col("doc_id")))
      val deduped = streaming.StreamDedup.dedupByContent(raw, "__etime")
      val q = deduped.select("content_hash").writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.write.mode(if (batchId == 0) "overwrite" else "append")
            .parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val finished = q.awaitTermination(300000L)
      q.stop()
      require(finished, "q_stream_dedup: stream did not terminate in 300s")
      for (copy <- Seq("documents_a.parquet", "documents_b.parquet"))
        java.nio.file.Files.deleteIfExists(inDir.resolve(copy))
      java.nio.file.Files.deleteIfExists(inDir)
      s.read.parquet(outDir).select("content_hash").orderBy("content_hash")
    }),
    // streaming corpus monitor e2e (fourth streaming strategy: running
    // aggregation state in complete mode): per-(source, term) counts
    // accumulate across micro-batches (the corpus is staged as TWO files
    // with maxFilesPerTrigger=1, so state genuinely carries between
    // triggers); the FINAL running table feeds the same capped-vocab
    // drift matrix as q_drift — counts are exact integers however the
    // stream batched them, so the oracle is q_drift's, verbatim.
    "q_stream_drift" -> ((s, d) => {
      val src = s"$d/documents.parquet"
      val docs = s.read.parquet(src)
      // split the corpus into two PLAIN parquet files: >= 2 micro-batches
      // of genuinely accumulated state under maxFilesPerTrigger=1.
      // Staged ONCE per process per sf dir (the e2eStore memo pattern:
      // bench/verify invoke each query several times; the split content
      // is a pure function of the source table)
      val inDir = streamDriftIns.synchronized {
        streamDriftIns.getOrElseUpdate(d, {
          val dir = java.nio.file.Files.createTempDirectory("q_streamdrift_in_")
          for ((pred, name) <- Seq(
            (col("doc_id") % 2 === 0, "documents_even.parquet"),
            (col("doc_id") % 2 =!= 0, "documents_odd.parquet"))) {
            val tmp = java.nio.file.Files.createTempDirectory("q_streamdrift_split_")
            docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
            val part = new java.io.File(tmp.toString).listFiles()
              .find(_.getName.endsWith(".parquet")).get
            java.nio.file.Files.move(part.toPath, dir.resolve(name),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
          }
          dir.toString
        })
      }
      val outDir = StreamScratch.dir("q_stream_drift")
      // volume-derived state partitions (StreamTuning, guide §2)
      val ss = streaming.StreamTuning.sessionFor(s, inDir)
      val raw = ss.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val counts = streaming.CorpusMonitor.runningTermCounts(raw)
      // snapshot sink COALESCED (guide §6 small files): this complete-
      // mode table is (source, term) counts over the SOURCE VOCABULARY —
      // bounded by construction however large the corpus grows (the same
      // reason the drift matrix caps its support), so one snapshot file
      // per trigger is scale-safe; a deployment with a genuinely huge
      // vocabulary raises spark.graft.stream.snapshotPartitions
      val snapParts = s.conf.getOption("spark.graft.stream.snapshotPartitions")
        .map(_.toInt).getOrElse(1)
      val q = counts.writeStream
        .outputMode("complete") // each trigger emits the full running table
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.coalesce(snapParts).write.mode("overwrite").parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val finished = q.awaitTermination(300000L)
      q.stop()
      require(finished, "q_stream_drift: stream did not terminate in 300s")
      TextOps.driftFromTermCounts(s.read.parquet(outDir), "kl", vocabSize = 24)
    }),
    // the crawl front half as a STREAM: micro-batched WARC files → the
    // SAME record parse / extract / quality scan → per-domain running
    // rollup (counts + exact micro-unit sums, so stream == batch is
    // bit-exact and the oracle is plain batch SQL). The domain CAP stays
    // batch-only by design — a rank needs the corpus, a rollup doesn't.
    "q_stream_crawl" -> ((s, d) => {
      val media = urlWarcFixture(s, d)
      val inDir = streamCrawlIns.synchronized {
        streamCrawlIns.getOrElseUpdate(d, {
          val dir = java.nio.file.Files.createTempDirectory("q_streamcrawl_in_")
          for ((pred, name) <- Seq(
            (col("media_id") % 2 === 0, "warc_even.parquet"),
            (col("media_id") % 2 =!= 0, "warc_odd.parquet"))) {
            val tmp = java.nio.file.Files.createTempDirectory("q_streamcrawl_split_")
            media.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
            val part = new java.io.File(tmp.toString).listFiles()
              .find(_.getName.endsWith(".parquet")).get
            java.nio.file.Files.move(part.toPath, dir.resolve(name),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
          }
          dir.toString
        })
      }
      val outDir = StreamScratch.dir("q_stream_crawl")
      // volume-derived state partitions (StreamTuning, guide §2)
      val ss = streaming.StreamTuning.sessionFor(s, inDir)
      val raw = ss.readStream.schema(media.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val rollup = streaming.CrawlIngest.domainRollup(
        sources.WarcIngest.records(raw))
      // snapshot sink COALESCED (guide §6 small files): the per-domain
      // running rollup is domains-scale, not pages-scale — registrable
      // domains number in the millions at web scale, a few hundred MB of
      // rollup rows, inside the guide's one-file band; a deployment
      // beyond that raises spark.graft.stream.snapshotPartitions. The
      // per-USER session table (q_stream_sessions) is corpus-scale and
      // deliberately NOT coalesced.
      val snapParts = s.conf.getOption("spark.graft.stream.snapshotPartitions")
        .map(_.toInt).getOrElse(1)
      val q = rollup.writeStream
        .outputMode("complete")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.coalesce(snapParts).write.mode("overwrite").parquet(outDir)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val finished = q.awaitTermination(300000L)
      q.stop()
      require(finished, "q_stream_crawl: stream did not terminate in 300s")
      streaming.CrawlIngest.report(s.read.parquet(outDir))
    }),
    // ordered conversion funnel + weekly cohort retention — see
    // operators.Events for the per-user join shapes
    "q_funnel" -> ((s, d) =>
      operators.Events.funnelCounts(Canon.eventsRaw(s, d), Seq("view", "click", "purchase"))),
    "q_retention" -> ((s, d) =>
      operators.Events.weeklyRetention(Canon.eventsRaw(s, d))),
    // distinct counts: exact (oracle) + HLL sketch (rows-only scale path)
    "q_distinct_users" -> ((s, d) =>
      Canon.eventsRaw(s, d).groupBy(col("event_type").as("series"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("series")),
    "q_approx_distinct_users" -> ((s, d) => // HLL sketch; rows-only check
      Canon.eventsRaw(s, d).groupBy(col("event_type").as("series"))
        .agg(approx_count_distinct(col("user_id")).as("n_users_approx"))
        .orderBy("series")),
    // rollup: multi-level aggregation in one pass (reference has no group-by
    // at all; Spark gives hierarchical totals for free)
    "q_rollup" -> ((s, d) =>
      Canon.table(s, d, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),
    // cube: every grouping-set combination in one pass (Expand + one
    // shuffle) — the corpus-slicing report (per lang, per source, per
    // pair, grand total) a curation dashboard reads
    "q_agg_cube" -> ((s, d) =>
      Canon.documents(s, d)
        .cube("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("n_chars"))
        .orderBy(col("lang").asc_nulls_first, col("source").asc_nulls_first)),
    // as-of join: for each click, the user's latest prior purchase value
    "q_asof_join" -> ((s, d) => {
      val e = Canon.eventsRaw(s, d)
      val clicks = e.filter(col("event_type") === "click")
        .select("user_id", "ts_us", "event_id", "value")
      val purchases = AsofJoin.reduceRight(
        e.filter(col("event_type") === "purchase")
          .select("user_id", "ts_us", "value"),
        Seq("user_id"), "ts_us", "value")
      AsofJoin.asof(clicks, purchases, Seq("user_id"), "ts_us", "value")
        .orderBy("event_id")
    }),
    // range join: events landing inside each user's first-48h window
    "q_range_join" -> ((s, d) => {
      val e = Canon.eventsRaw(s, d)
      val iv = e.groupBy("user_id").agg(
        min(col("ts_us")).as("start_us"),
        (min(col("ts_us")) + lit(172800000000L)).as("end_us"))
      RangeJoin.join(e.select("event_id", "user_id", "ts_us"), iv,
          Seq("user_id"), "ts_us", "start_us", "end_us", bucketUs = 21600000000L)
        .select("event_id", "user_id")
        .orderBy("event_id")
    }),
    "q_join_top_customers" -> ((s, d) => {
      val orders = Canon.table(s, d, "orders")
      val customer = Canon.table(s, d, "customer")
      // UNFILTERED customer is fact-scaled (150k rows/SF) — NOT
      // broadcastable at 100 TB; pin the build side exactly as
      // q_tpch_returns does (same table, same cardinality).
      //
      // Why shuffle_hash here when the dedup corpus joins pin MERGE: a
      // shuffled-hash build holds ONE PARTITION of slim rows (a few
      // key/agg columns after pruning), and shuffle partitions are
      // provisioned to scale with SF (spark.sql.shuffle.partitions ≈
      // cluster cores; AQE re-splits oversized partitions), so the
      // per-task build is |table|/parts — bounded by operations, not
      // luck. The dedup joins pin merge because their build rows carry
      // WIDE payloads (shingle arrays) whose per-partition size blew the
      // 128 MB page at a mere ×10 (r5) — the same arithmetic, the other
      // verdict. If a deployment can't scale partitions with SF, flip
      // these hints to merge and pay ~20-30%. PlanAuditSpec asserts the
      // ShuffledHashJoin shape and this rationale is restated there.
      orders.join(customer.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(10)
    })
  )

  /** Query-vector ids for the similarity-search queries. */
  private val QIDS = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L)

  /** The 8 hash-valued / approximate queries with no SQL-expressible
    * DuckDB oracle. Each gets a `<name>_golden` companion: a canonical
    * order-independent content hash of its full output, oracle'd against
    * a PINNED constant (computed once at the driver's verify SF, 0.01).
    * That turns every rows-only row into a falsifiable exact CORRECTNESS
    * row — any semantic drift in the underlying operator flips the
    * companion red — while recall-floor/equivalence units keep carrying
    * the semantic argument (VERDICT r5 item 3). The hash is xxhash64 of
    * the U+0001-joined stringified row (columns in name order, nulls as a
    * sentinel), summed over rows: insensitive to row order, sensitive to
    * any value/schema change.
    */
  private[graft] val goldenBases = Seq(
    "q_agg_quantiles_approx", "q_approx_distinct_users", "q_dedup_cross_lsh",
    "q_dedup_keepers_lsh", "q_profile_docs_approx",
    "q_dedup_minhash", "q_dedup_simhash", "q_sim_ann", "q_sim_clusters_ivf",
    "q_sim_ivf_trained", "q_sim_pq", "q_text_bpe", "q_text_bpe_encode",
    "q_text_winnowing")

  private[graft] def contentHash(df: DataFrame): DataFrame = {
    // \u0001 separator + \u0000 null sentinel: unambiguous for any cell
    // content these outputs can hold (no control chars in results)
    val parts = df.columns.sorted.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000")))
    // decimal sum: ANSI mode would overflow a long sum of 64-bit hashes
    df.select(xxhash64(concat_ws("\u0001", parts: _*)).cast("decimal(20,0)").as("h"))
      .agg(coalesce(sum(col("h")), lit(0)).cast("string").as("content_hash"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ goldenBases.map { b =>
      s"${b}_golden" -> ((s: SparkSession, d: String) => contentHash(baseQueries(b)(s, d)))
    }

  // one sessionization truth, three execution strategies: the per-user
  // window (q_sessionize), the hot-key two-pass (q_sessionize_hotkey),
  // and the streaming session_window rollup (q_stream_sessions) all
  // hash-compare against THIS text
  private val sessionizeSql =
    """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id FROM events),
      |f AS (SELECT user_id, ts_us, event_id,
      |  CASE WHEN lag(ts_us) OVER w IS NULL
      |         OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC)),
      |g AS (SELECT user_id,
      |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |  FROM f)
      |SELECT user_id, CAST(max(sess_id) AS BIGINT) AS n_sessions,
      |  count(*) AS n_events,
      |  round(CAST(count(*) AS DOUBLE) / CAST(max(sess_id) AS BIGINT), 6) AS events_per_session
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  def oracleSql: Map[String, String] = {
    val idsIn3 = "series IN ('click','error','purchase')"
    val idsIn2 = "series IN ('signup','view')"
    val range = s"ts_us BETWEEN $R1 AND $R2"
    // DELETE lifecycle (shared by the in-process router row and the
    // over-HTTP row — same store recipe, same observable state): first
    // 600 unique-ts signup points posted, then the [300th ts, 550th ts]
    // range with tag u='3' deleted, then length + sum of the survivors
    // through the GET surface. Bounds are PROPORTIONAL to the collected
    // count — rn = (n*299)//600 + 1 / (n*549)//600 + 1, the exact SQL
    // image of the Scala recipe's 0-based ts((n*299)/600) indices — so
    // an oracle corpus with fewer than 600 unique signup timestamps
    // still mirrors the Scala deletion instead of silently comparing
    // against deleted=0 (ADVICE r10). At n=600 this reproduces the old
    // rn 300/550 bounds exactly.
    val deleteLifecycleSql =
      s"""$CANON_SQL, u AS (
         |  SELECT * FROM c WHERE series = 'signup'
         |  QUALIFY row_number() OVER (PARTITION BY ts_us ORDER BY rid) = 1
         |), p AS (
         |  SELECT *, row_number() OVER (ORDER BY ts_us ASC) AS rn FROM u
         |  QUALIFY rn <= 600
         |), b AS (
         |  SELECT min(CASE WHEN rn = (n*299)//600 + 1 THEN ts_us END) AS t1,
         |         min(CASE WHEN rn = (n*549)//600 + 1 THEN ts_us END) AS t2
         |  FROM p, (SELECT count(*) AS n FROM p)
         |), s AS (
         |  SELECT p.*, coalesce(
         |    ts_us BETWEEN b.t1 AND b.t2 AND tag_u = '3', false) AS matched
         |  FROM p, b
         |)
         |SELECT count(*) FILTER (WHERE matched) AS deleted,
         |       count(*) FILTER (WHERE NOT matched) AS length,
         |       round(sum(value) FILTER (WHERE NOT matched), 4) AS sum
         |FROM s""".stripMargin
    Map(
      "q_last_n" ->
        s"""$CANON_SQL SELECT $ROW FROM (
           |  SELECT *, row_number() OVER (PARTITION BY series ORDER BY ts_us DESC, rid DESC) AS rn
           |  FROM c WHERE $idsIn3) t
           |WHERE rn <= 50 ORDER BY ts_us DESC, rid DESC""".stripMargin,
      "q_latest" ->
        s"""$CANON_SQL SELECT $ROW FROM (
           |  SELECT *, row_number() OVER (PARTITION BY series ORDER BY ts_us DESC, rid DESC) AS rn
           |  FROM c) t
           |WHERE rn <= 1 ORDER BY ts_us DESC, rid DESC""".stripMargin,
      "q_first_n" ->
        s"""$CANON_SQL SELECT $ROW FROM (
           |  SELECT *, row_number() OVER (PARTITION BY series ORDER BY ts_us ASC, rid ASC) AS rn
           |  FROM c WHERE $idsIn3) t
           |WHERE rn <= 50 ORDER BY ts_us ASC, rid ASC""".stripMargin,
      "q_earliest" ->
        s"""$CANON_SQL SELECT $ROW FROM (
           |  SELECT *, row_number() OVER (PARTITION BY series ORDER BY ts_us ASC, rid ASC) AS rn
           |  FROM c) t
           |WHERE rn <= 1 ORDER BY ts_us ASC, rid ASC""".stripMargin,
      "q_since" ->
        s"$CANON_SQL SELECT $ROW FROM c WHERE $idsIn2 AND ts_us >= $SINCE ORDER BY ts_us DESC, rid DESC",
      "q_range" ->
        s"$CANON_SQL SELECT $ROW FROM c WHERE $idsIn3 AND $range ORDER BY ts_us DESC, rid DESC",
      // hot-key-safe lag vs the plain SQL window: bit-identical by
      // construction (double subtraction + one rounded division); equal
      // timestamps yield a NULL rate, not a division by zero
      "q_ts_delta" ->
        s"""$CANON_SQL SELECT series, ts_us, rid,
           |  round(value - pv, 6) AS delta_v,
           |  ts_us - pts AS delta_us,
           |  CASE WHEN ts_us > pts
           |    THEN round((value - pv) / ((ts_us - pts) / 1000000.0), 6) END AS rate_per_s
           |FROM (SELECT series, ts_us, rid, value,
           |        lag(value) OVER w AS pv, lag(ts_us) OVER w AS pts
           |      FROM c WINDOW w AS (PARTITION BY series ORDER BY ts_us ASC, rid ASC)) t
           |WHERE pts IS NOT NULL
           |ORDER BY series, ts_us, rid""".stripMargin,
      "q_ts_gaps" ->
        s"""$CANON_SQL SELECT series, pts AS gap_start_us, ts_us AS gap_end_us,
           |  ts_us - pts AS gap_us
           |FROM (SELECT series, ts_us, lag(ts_us) OVER w AS pts
           |      FROM c WINDOW w AS (PARTITION BY series ORDER BY ts_us ASC, rid ASC)) t
           |WHERE pts IS NOT NULL AND ts_us - pts > 7200000000
           |ORDER BY series, gap_start_us, gap_end_us""".stripMargin,
      // exact-integer Morton math, mirrored op-for-op: signed normShift via
      // length(bin(range)) (bitLength — no floating log2), stretch-or-
      // compress CASE, and the 24 interleave terms generated by ZTERMS
      "q_layout_zorder" ->
        s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
           |b AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
           |             min(ts_us) AS tmin, max(ts_us) AS tmax FROM e),
           |s AS (SELECT umin, tmin,
           |  (CASE WHEN umax > umin THEN length(bin(umax - umin)) ELSE 0 END) - 12 AS su,
           |  (CASE WHEN tmax > tmin THEN length(bin(tmax - tmin)) ELSE 0 END) - 12 AS st
           |  FROM b),
           |n AS (SELECT e.user_id, e.ts_us,
           |  (CASE WHEN s.su >= 0 THEN (e.user_id - s.umin) >> s.su
           |        ELSE (e.user_id - s.umin) << (-s.su) END) AS nu,
           |  (CASE WHEN s.st >= 0 THEN (e.ts_us - s.tmin) >> s.st
           |        ELSE (e.ts_us - s.tmin) << (-s.st) END) AS nt
           |  FROM e CROSS JOIN s),
           |z AS (SELECT user_id, ts_us, ($ZTERMS) AS zv FROM n)
           |SELECT (zv >> 18) AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
           |  min(user_id) AS user_id_min, max(user_id) AS user_id_max,
           |  min(ts_us) AS ts_us_min, max(ts_us) AS ts_us_max,
           |  min(zv) AS z_min, max(zv) AS z_max
           |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
      // mirrors JsonIngest.isValidShape + explodeBatches: order-sensitive
      // key-list equality, numeric value/timestamp, tag = array of
      // non-empty objects; timestamps truncate toward zero
      // (Int64.of_float, timeseries.re:73); batch arrays exploded in order
      "q_store_timetravel" -> // v1 = even rids, v2 = all, v3 = v4 = post
        // range-delete; µ-quantized exact value sums (the 1e6 precedent)
        s"""$CANON_SQL
           |, q AS (SELECT series, ts_us, rid,
           |               CAST(round(value * 1000000) AS BIGINT) AS qv FROM c)
           |SELECT CAST(1 AS BIGINT) AS version, count(*) AS n,
           |       CAST(sum(qv) AS BIGINT) AS sum_qv FROM q WHERE rid % 2 = 0
           |UNION ALL
           |SELECT CAST(2 AS BIGINT), count(*), CAST(sum(qv) AS BIGINT) FROM q
           |UNION ALL
           |SELECT CAST(3 AS BIGINT), count(*), CAST(sum(qv) AS BIGINT) FROM q
           |WHERE NOT (series = 'click' AND ts_us BETWEEN $R1 AND $R2)
           |UNION ALL
           |SELECT CAST(4 AS BIGINT), count(*), CAST(sum(qv) AS BIGINT) FROM q
           |WHERE NOT (series = 'click' AND ts_us BETWEEN $R1 AND $R2)
           |ORDER BY version""".stripMargin,
      "q_store_cdc" -> // change feed between version pairs + the
        // to-version reconstructed as from + changes; `dead` = the v3
        // delete predicate. (1,2): inserts are the odd-rid append; (2,3):
        // deletes are the dead rows; (3,4): compact is a CDC no-op;
        // (1,3): mixed — odd rids that survived in, dead even rids out.
        s"""$CANON_SQL
           |, q AS (SELECT rid,
           |          CAST(round(value * 1000000) AS BIGINT) AS qv,
           |          (series = 'click' AND ts_us BETWEEN $R1 AND $R2) AS dead
           |        FROM c)
           |SELECT CAST(1 AS BIGINT) AS from_v, CAST(2 AS BIGINT) AS to_v,
           |       count(*) FILTER (WHERE rid % 2 <> 0) AS ins,
           |       CAST(0 AS BIGINT) AS del,
           |       count(*) AS n, CAST(sum(qv) AS BIGINT) AS sum_qv FROM q
           |UNION ALL
           |SELECT CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT),
           |       count(*) FILTER (WHERE dead),
           |       count(*) FILTER (WHERE NOT dead),
           |       CAST(sum(qv) FILTER (WHERE NOT dead) AS BIGINT) FROM q
           |UNION ALL
           |SELECT CAST(3 AS BIGINT), CAST(4 AS BIGINT), CAST(0 AS BIGINT),
           |       CAST(0 AS BIGINT),
           |       count(*) FILTER (WHERE NOT dead),
           |       CAST(sum(qv) FILTER (WHERE NOT dead) AS BIGINT) FROM q
           |UNION ALL
           |SELECT CAST(1 AS BIGINT), CAST(3 AS BIGINT),
           |       count(*) FILTER (WHERE rid % 2 <> 0 AND NOT dead),
           |       count(*) FILTER (WHERE rid % 2 = 0 AND dead),
           |       count(*) FILTER (WHERE NOT dead),
           |       CAST(sum(qv) FILTER (WHERE NOT dead) AS BIGINT) FROM q
           |ORDER BY from_v, to_v""".stripMargin,
      "q_store_dedup_cdc" -> // v1 = even rids (the seen store), v1→v2
        // delta = odd-rid inserts; survivors = content (series|k|u)
        // absent from v1, min-rid first within the delta. NOT EXISTS, not
        // NOT IN: the anti-join must not tri-value on a hypothetical NULL
        s"""$CANON_SQL
           |, h AS (SELECT rid, md5(series || '|' || coalesce(tag_k, '')
           |                        || '|' || tag_u) AS content_hash FROM c)
           |, seen AS (SELECT DISTINCT content_hash FROM h WHERE rid % 2 = 0)
           |, d AS (SELECT h.rid, h.content_hash FROM h WHERE rid % 2 <> 0
           |        AND NOT EXISTS (SELECT 1 FROM seen s
           |                        WHERE s.content_hash = h.content_hash))
           |SELECT rid, content_hash FROM (
           |  SELECT rid, content_hash,
           |         row_number() OVER (PARTITION BY content_hash ORDER BY rid) AS rn
           |  FROM d)
           |WHERE rn = 1 ORDER BY rid""".stripMargin,
      "q_store_profile_drift" -> // v2 (all rows) vs v3 (survivors of the
        // range delete): per-column count/nulls/distinct/min-max on both
        // sides + deltas, one SELECT per column over the shared frame
        // with FILTER carrying the v3 predicate
        (s"""$CANON_SQL, q AS (SELECT series, ts_us, rid,
            |  (series = 'click' AND ts_us BETWEEN $R1 AND $R2) AS dead FROM c)
            |""".stripMargin +
        Seq("series", "ts_us", "rid").map(c =>
          s"""SELECT '$c' AS "column",
             |  CAST(count(*) AS BIGINT) AS n_rows_a,
             |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls_a,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct_a,
             |  CAST(min($c) AS VARCHAR) AS min_a, CAST(max($c) AS VARCHAR) AS max_a,
             |  CAST(count(*) FILTER (WHERE NOT dead) AS BIGINT) AS n_rows_b,
             |  CAST(sum(CASE WHEN $c IS NULL AND NOT dead THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls_b,
             |  CAST(count(DISTINCT $c) FILTER (WHERE NOT dead) AS BIGINT) AS n_distinct_b,
             |  CAST(min($c) FILTER (WHERE NOT dead) AS VARCHAR) AS min_b,
             |  CAST(max($c) FILTER (WHERE NOT dead) AS VARCHAR) AS max_b,
             |  CAST(count(*) FILTER (WHERE NOT dead) AS BIGINT)
             |    - CAST(count(*) AS BIGINT) AS d_rows,
             |  CAST(count(DISTINCT $c) FILTER (WHERE NOT dead) AS BIGINT)
             |    - CAST(count(DISTINCT $c) AS BIGINT) AS d_distinct
             |FROM q""".stripMargin)
          .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")),
      "q_ingest_shapes" ->
        s"""WITH raw AS (
           |  SELECT series, json FROM read_json('$wireFixturePath',
           |    format='newline_delimited', columns={series: 'VARCHAR', json: 'VARCHAR'})
           |),
           |split AS (
           |  SELECT series, json FROM raw
           |  WHERE json_type(TRY_CAST(json AS JSON)) IS DISTINCT FROM 'ARRAY'
           |  UNION ALL
           |  SELECT r.series, CAST(e.elem AS VARCHAR) AS json
           |  FROM raw r, UNNEST(coalesce(TRY_CAST(TRY_CAST(r.json AS JSON) AS JSON[]), [])) AS e(elem)
           |  WHERE json_type(TRY_CAST(r.json AS JSON)) = 'ARRAY'
           |),
           |p AS (SELECT series, json, TRY_CAST(json AS JSON) AS j FROM split),
           |k AS (
           |  SELECT *, CASE WHEN json_type(j) = 'OBJECT' THEN json_keys(j) END AS ks,
           |    coalesce(TRY_CAST(j->'$$.tag' AS JSON[]), []) AS tags FROM p
           |),
           |v AS (
           |  SELECT *,
           |    coalesce((ks = ['value'] OR ks = ['tag','value'] OR ks = ['timestamp','value'] OR ks = ['timestamp','tag','value'])
           |      AND json_type(j, '$$.value') IN ('DOUBLE','BIGINT','UBIGINT')
           |      AND (NOT list_contains(ks, 'timestamp') OR (json_type(j, '$$.timestamp') IN ('DOUBLE','BIGINT','UBIGINT')
           |        AND TRY_CAST(trunc(TRY_CAST(j->>'$$.timestamp' AS DOUBLE)) AS BIGINT) IS NOT NULL))
           |      AND (NOT list_contains(ks, 'tag') OR (json_type(j, '$$.tag') = 'ARRAY'
           |        AND len(list_filter(tags,
           |              e -> json_type(e) != 'OBJECT' OR len(json_keys(e)) = 0)) = 0)), false) AS ok
           |  FROM k
           |)
           |SELECT ok, series,
           |  CASE WHEN ok THEN (CASE WHEN NOT list_contains(ks, 'timestamp') THEN $INGEST_T0
           |    ELSE CAST(trunc(CAST(j->>'$$.timestamp' AS DOUBLE)) AS BIGINT) END) END AS ts_us,
           |  CASE WHEN ok AND list_contains(ks, 'tag') THEN
           |    coalesce(array_to_string(list_transform(tags,
           |      e -> json_keys(e)[1] || '=' || json_extract_string(e, json_keys(e)[1])), ','), '') END AS tag_s,
           |  CASE WHEN ok THEN CAST(j->'$$.value' AS DOUBLE) END AS value,
           |  CASE WHEN NOT ok THEN json END AS raw
           |FROM v
           |ORDER BY ok, series, ts_us, tag_s, value, raw""".stripMargin,
      "q_filter_equals" ->
        s"$CANON_SQL SELECT $ROW FROM c WHERE $range AND tag_k = '42' ORDER BY ts_us DESC, rid DESC",
      "q_filter_contains" ->
        s"$CANON_SQL SELECT $ROW FROM c WHERE ts_us >= $SINCE AND contains(tag_k, '4') ORDER BY ts_us DESC, rid DESC",
      "q_filter_multi" ->
        s"""$CANON_SQL SELECT $ROW FROM c
           |WHERE $range AND tag_k IN ('7','42','77') AND tag_u IN ('3','4')
           |ORDER BY ts_us DESC, rid DESC""".stripMargin,
      "q_agg_sum" ->
        s"""$CANON_SQL SELECT round(sum(value), 4) AS "sum" FROM c WHERE $idsIn3 AND $range""",
      "q_agg_count" ->
        s"""$CANON_SQL SELECT CAST(count(*) AS DOUBLE) AS "count" FROM c WHERE $idsIn3 AND $range""",
      "q_agg_max" ->
        s"""$CANON_SQL SELECT max(value) AS "max" FROM c WHERE $idsIn3 AND $range""",
      "q_agg_min" ->
        s"""$CANON_SQL SELECT min(value) AS "min" FROM c WHERE $idsIn3 AND $range""",
      "q_agg_mean" ->
        s"$CANON_SQL SELECT round(avg(value), 6) AS mean FROM c WHERE $idsIn3 AND $range",
      "q_agg_sd" ->
        s"$CANON_SQL SELECT round(stddev_samp(value), 6) AS sd FROM c WHERE $idsIn3 AND $range",
      "q_agg_median" ->
        s"""$CANON_SQL SELECT round(median(value), 4) AS "median" FROM c WHERE $idsIn3 AND $range""",
      "q_filter_agg" ->
        s"$CANON_SQL SELECT round(avg(value), 6) AS mean FROM c WHERE ts_us >= $SINCE AND tag_u = '5'",
      "q_delete_range" ->
        s"$CANON_SQL SELECT $ROW FROM c WHERE NOT ($idsIn2 AND $range) ORDER BY rid",
      "q_delete_tagged" ->
        s"""$CANON_SQL SELECT $ROW FROM c
           |WHERE NOT coalesce($idsIn2 AND $range AND tag_u = '3', false) ORDER BY rid""".stripMargin,
      "q_names" ->
        s"$CANON_SQL SELECT DISTINCT series FROM c ORDER BY series",
      "q_length" ->
        s"$CANON_SQL SELECT count(*) AS length FROM c WHERE $idsIn3",
      // tier reads must equal the flat read — the memory/disk split is an
      // implementation detail the oracle cannot see
      "q_tier_read" ->
        s"""$CANON_SQL SELECT $ROW FROM (
           |  SELECT *, row_number() OVER (PARTITION BY series ORDER BY ts_us DESC, rid DESC) AS rn
           |  FROM c) t
           |WHERE rn <= 500 ORDER BY ts_us DESC, rid DESC""".stripMargin,
      "q_tier_flush" ->
        s"""$CANON_SQL SELECT $ROW FROM (
           |  SELECT *, row_number() OVER (PARTITION BY series ORDER BY ts_us DESC, rid DESC) AS rn
           |  FROM c) t
           |WHERE rn <= 25 ORDER BY ts_us DESC, rid DESC""".stripMargin,
      "q_tier_timetravel" -> // the LIVE disk tier's history: v1 = even
        // rids, v2 = all, v3 = post live-delete (the q_delete_range
        // predicate); µ-quantized exact value sums (the 1e6 precedent)
        s"""$CANON_SQL
           |, q AS (SELECT series, ts_us, rid,
           |               CAST(round(value * 1000000) AS BIGINT) AS qv FROM c)
           |SELECT CAST(1 AS BIGINT) AS version, count(*) AS n,
           |       CAST(sum(qv) AS BIGINT) AS sum_qv FROM q WHERE rid % 2 = 0
           |UNION ALL
           |SELECT CAST(2 AS BIGINT), count(*), CAST(sum(qv) AS BIGINT) FROM q
           |UNION ALL
           |SELECT CAST(3 AS BIGINT), count(*), CAST(sum(qv) AS BIGINT) FROM q
           |WHERE NOT ($idsIn2 AND $range)
           |ORDER BY version""".stripMargin,
      "q_tier_cdc" -> // live-chain change feed + reconstruction; `dead` =
        // the v3 live-delete predicate. (1,2): inserts are the odd-rid
        // append; (2,3): deletes are the dead rows, via skip exclusions
        // + survivors; (1,3): mixed — surviving odd rids in, dead even out
        s"""$CANON_SQL
           |, q AS (SELECT rid,
           |          CAST(round(value * 1000000) AS BIGINT) AS qv,
           |          ($idsIn2 AND $range) AS dead
           |        FROM c)
           |SELECT CAST(1 AS BIGINT) AS from_v, CAST(2 AS BIGINT) AS to_v,
           |       count(*) FILTER (WHERE rid % 2 <> 0) AS ins,
           |       CAST(0 AS BIGINT) AS del,
           |       count(*) AS n, CAST(sum(qv) AS BIGINT) AS sum_qv FROM q
           |UNION ALL
           |SELECT CAST(1 AS BIGINT), CAST(3 AS BIGINT),
           |       count(*) FILTER (WHERE rid % 2 <> 0 AND NOT dead),
           |       count(*) FILTER (WHERE rid % 2 = 0 AND dead),
           |       count(*) FILTER (WHERE NOT dead),
           |       CAST(sum(qv) FILTER (WHERE NOT dead) AS BIGINT) FROM q
           |UNION ALL
           |SELECT CAST(2 AS BIGINT), CAST(3 AS BIGINT), CAST(0 AS BIGINT),
           |       count(*) FILTER (WHERE dead),
           |       count(*) FILTER (WHERE NOT dead),
           |       CAST(sum(qv) FILTER (WHERE NOT dead) AS BIGINT) FROM q
           |ORDER BY from_v, to_v""".stripMargin,
      "q_tier_split" ->
        s"""$CANON_SQL SELECT series,
           |  count(*) FILTER (WHERE ts_us > $SINCE) AS mem_len,
           |  count(*) FILTER (WHERE ts_us <= $SINCE) AS disk_len,
           |  count(*) AS len
           |FROM c GROUP BY series ORDER BY series""".stripMargin,
      "q_health" -> "SELECT 'ok' AS status",
      "q_stats" ->
        s"$CANON_SQL SELECT series, count(*) AS length FROM c GROUP BY series ORDER BY series",
      "q_index_info" ->
        s"""$CANON_SQL SELECT series, min(ts_us) AS min_ts_us, max(ts_us) AS max_ts_us,
           |count(*) AS length FROM c GROUP BY series ORDER BY series""".stripMargin,
      "q_index" ->
        s"""$CANON_SQL SELECT (ts_us // 86400000000) * 86400000000 AS shard_day_us,
           |min(ts_us) AS min_ts_us, max(ts_us) AS max_ts_us, count(*) AS length
           |FROM c WHERE series = 'click' GROUP BY shard_day_us ORDER BY shard_day_us""".stripMargin,
      "q_index_length" ->
        s"""$CANON_SQL SELECT count(*) AS length FROM (
           |  SELECT DISTINCT series, ts_us // 86400000000 AS d FROM c WHERE $idsIn3) t""".stripMargin,
      // after sync the buffer is empty: every series' points sit on disk
      "q_sync" ->
        s"""$CANON_SQL SELECT series, CAST(0 AS BIGINT) AS mem_len,
           |count(*) AS disk_len, count(*) AS len
           |FROM c GROUP BY series ORDER BY series""".stripMargin,
      // e2e: same dedup the wire generator applies, then the routed query
      // (last 200 per series over click,error; tag u = 3; sum)
      "q_e2e_lifecycle" ->
        s"""$CANON_SQL, u AS (
           |  SELECT * FROM c
           |  QUALIFY row_number() OVER (PARTITION BY series, ts_us ORDER BY rid) = 1
           |), l AS (
           |  SELECT * FROM u WHERE series IN ('click', 'error')
           |  QUALIFY row_number() OVER (PARTITION BY series ORDER BY ts_us DESC) <= 200
           |)
           |SELECT round(sum(value), 4) AS sum FROM l WHERE tag_u = '3'""".stripMargin,
      // POST lifecycle: first 500 unique-ts signup points posted as one
      // array body, then last-100 mean through the GET surface
      "q_post_lifecycle" ->
        s"""$CANON_SQL, u AS (
           |  SELECT * FROM c WHERE series = 'signup'
           |  QUALIFY row_number() OVER (PARTITION BY ts_us ORDER BY rid) = 1
           |), p AS (
           |  SELECT * FROM u QUALIFY row_number() OVER (ORDER BY ts_us ASC) <= 500
           |), l AS (
           |  SELECT * FROM p QUALIFY row_number() OVER (ORDER BY ts_us DESC) <= 100
           |)
           |SELECT round(avg(value), 6) AS mean FROM l""".stripMargin,
      "q_delete_lifecycle" -> deleteLifecycleSql,
      "q_http_lifecycle" -> deleteLifecycleSql,
      "q_agg_by_series" ->
        s"$CANON_SQL SELECT series, round(avg(value), 6) AS mean FROM c GROUP BY series ORDER BY series",
      "q_agg_quantiles" ->
        s"""$CANON_SQL SELECT series, round(quantile_cont(value, 0.5), 6) AS p50,
           |round(quantile_cont(value, 0.9), 6) AS p90,
           |round(quantile_cont(value, 0.99), 6) AS p99
           |FROM c GROUP BY series ORDER BY series""".stripMargin,
      "q_window_hourly" ->
        s"""$CANON_SQL SELECT series, (ts_us // $HOUR_US) * $HOUR_US AS bucket_us,
           |round(sum(value), 4) AS "sum" FROM c WHERE $idsIn3 AND $range
           |GROUP BY series, bucket_us ORDER BY series, bucket_us""".stripMargin,
      "q_moving_avg" ->
        s"""$CANON_SQL SELECT series, ts_us, rid,
           |round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)) OVER w AS DOUBLE)
           |      / (count(*) OVER w * 1000000.0), 6) AS ma5
           |FROM c WHERE $idsIn3 AND $range
           |WINDOW w AS (PARTITION BY series ORDER BY ts_us ASC, rid ASC
           |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
           |ORDER BY series, ts_us, rid""".stripMargin,
      "q_pivot_daily" ->
        s"""$CANON_SQL SELECT ts_us // 86400000000 AS day,
           |  CAST(sum(CASE WHEN series = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           |  CAST(sum(CASE WHEN series = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           |  CAST(sum(CASE WHEN series = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           |  CAST(sum(CASE WHEN series = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           |  CAST(sum(CASE WHEN series = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS "view"
           |FROM c GROUP BY day ORDER BY day""".stripMargin
    ) ++ beyondParityOracles ++ goldenOracles
  }

  /** Pinned content hashes for the `*_golden` companions (see
    * [[goldenBases]]): the oracle is a CONSTANT because the value IS the
    * assertion — computed once by running Verify at the driver's fixed
    * verify scale (sf0.01, local[4]); any drift in the hash-valued /
    * approximate operators flips the row red in CORRECTNESS. Re-pin only
    * with an understood semantic change (and say why in the commit).
    */
  private val goldenHashes = Map(
    "q_agg_quantiles_approx" -> "7257906444385557258",
    "q_approx_distinct_users" -> "23586929313420085341",
    "q_dedup_cross_lsh" -> "-9307677585411723457",
    "q_dedup_keepers_lsh" -> "31246756955863980271",
    "q_profile_docs_approx" -> "-16246895841021856459",
    "q_dedup_minhash" -> "-26197323762737149848",
    "q_dedup_simhash" -> "-10740014342736616752",
    "q_sim_ann" -> "62831741413356666920",
    "q_sim_clusters_ivf" -> "-9728532660618393492",
    "q_sim_ivf_trained" -> "100154140864456300131",
    "q_sim_pq" -> "4786758663279050447", // re-pinned r13: two-level residual PQ
    "q_text_bpe" -> "20492531778356716084",
    "q_text_bpe_encode" -> "-78832791577822915854",
    "q_text_winnowing" -> "436813087055418648453")

  private def goldenOracles: Map[String, String] =
    goldenHashes.map { case (b, h) =>
      s"${b}_golden" -> s"SELECT '$h' AS content_hash"
    }

  // DuckDB mirrors of the text/dedup/similarity operators. Token split,
  // regex replaces (note DuckDB needs the 'g' flag), rounding and tiebreaks
  // textually mirror the Scala column expressions. DuckDB's RE2 \s here is
  // exactly the engine's TextOps.wsClass (the Spark side deliberately
  // excludes vertical tab to match RE2), so '\s+' below is byte-identical
  // to the Spark tokenizer on ANY input, not just the VT-free corpus.
  private val ZTERMS = // 12-bit two-dim Morton interleave: dim 0 (nu) on
    // even positions, dim 1 (nt) on odd — matches Layout.zvalue exactly
    (0 until 12).map(b =>
      s"(((nu >> $b) & 1) << ${2 * b}) | (((nt >> $b) & 1) << ${2 * b + 1})")
      .mkString(" | ")
  private val TOKS =
    """list_filter(string_split_regex(text, '\s+'), x -> x <> '')"""
  private val LTOKS =
    """list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"""
  /** The URL-pipeline fixture + parse, shared by `q_url_parse` and
    * `q_url_domcap`: CTE `u` replays UrlOps.syntheticUrls' id arithmetic,
    * `d2` replays the RFC 3986 Appendix B extraction, host/port split,
    * eTLD+1 and normalization — the Spark side is RE2- and CASE-mirrorable
    * by construction, so every stage here is the same regex/arithmetic.
    */
  private val URL_RE = """^(?:([^:/?#]+):)?(?://([^/?#]*))?([^?#]*)(?:\?([^#]*))?(?:#(.*))?"""
  private val URL_HOST_RE = """^(?:[^@]*@)?(\[[^\]]*\]|[^:]*)"""
  private val URL_BRACKET_RE = """^\["""
  private val URL_IP_RE = """^([0-9]+\.){3}[0-9]+$"""
  private def urlFixtureSql: String = {
    // the two-level suffixes the FIXTURE hits (the engine runs the full
    // PSL; the oracle only needs to replay the schedules the id
    // arithmetic can produce — plus the *.ck wildcard and !www.ck
    // exception branches mirrored below)
    val suffixes = Seq("co.uk", "com.au", "co.nz", "com.pl")
      .map(s => s"'$s'").mkString(", ")
    s"""WITH u AS (SELECT doc_id, n_chars, text,
       |  ['https','http','HTTPS','https','ftp'][CAST(doc_id % 5 + 1 AS INT)] || '://' ||
       |  (CASE WHEN doc_id % 13 = 0 THEN 'u:p@' ELSE '' END) ||
       |  (CASE WHEN doc_id % 17 = 0
       |        THEN '192.168.' || CAST(doc_id % 250 AS VARCHAR) || '.' || CAST((doc_id * 3) % 250 AS VARCHAR)
       |        WHEN doc_id % 19 = 0 THEN 'www.ck'
       |        WHEN doc_id % 19 = 7 THEN ['example','data','crawl','News','archive','mirror'][CAST(doc_id % 6 + 1 AS INT)] || '.shop.ck'
       |        ELSE (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
       |             ['example','data','crawl','News','archive','mirror'][CAST(doc_id % 6 + 1 AS INT)] || '.' ||
       |             ['com','org','co.uk','io','com.au','net','co.nz','com.pl'][CAST(CAST(floor(doc_id / 6) AS BIGINT) % 8 + 1 AS INT)]
       |   END) ||
       |  (CASE WHEN doc_id % 7 = 0 THEN ':8080' WHEN doc_id % 7 = 1 THEN ':443' ELSE '' END) ||
       |  (CASE WHEN doc_id % 11 = 0 THEN '' ELSE '/a' || CAST(doc_id % 10 AS VARCHAR) || '/page-' || CAST(doc_id AS VARCHAR) END) ||
       |  (CASE WHEN doc_id % 3 = 0 THEN '?q=' || CAST(doc_id AS VARCHAR) || '&x=1' ELSE '' END) ||
       |  (CASE WHEN doc_id % 4 = 0 THEN '#sec' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END) AS url
       |FROM documents),
       |p AS (SELECT doc_id, n_chars, text, url,
       |  nullif(regexp_extract(url, '$URL_RE', 1), '') AS scheme,
       |  nullif(regexp_extract(url, '$URL_RE', 2), '') AS auth,
       |  nullif(regexp_extract(url, '$URL_RE', 3), '') AS path,
       |  nullif(regexp_extract(url, '$URL_RE', 4), '') AS query,
       |  nullif(regexp_extract(url, '$URL_RE', 5), '') AS fragment
       |FROM u),
       |hx AS (SELECT *,
       |  nullif(regexp_extract(coalesce(auth, ''), '$URL_HOST_RE', 1), '') AS host,
       |  CAST(nullif(regexp_extract(coalesce(auth, ''), ':([0-9]+)${"$"}', 1), '') AS BIGINT) AS port
       |FROM p),
       |dm AS (SELECT *, string_split(lower(host), '.') AS ls FROM hx),
       |d2 AS (SELECT *,
       |  CASE WHEN regexp_matches(lower(host), '$URL_BRACKET_RE') OR regexp_matches(lower(host), '$URL_IP_RE') THEN lower(host)
       |       WHEN lower(host) = 'www.ck' THEN 'www.ck'
       |       WHEN lower(host) LIKE '%.shop.ck' THEN lower(host)
       |       WHEN len(ls) >= 3 AND (ls[-2] || '.' || ls[-1]) IN ($suffixes) THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
       |       WHEN len(ls) >= 2 THEN ls[-2] || '.' || ls[-1]
       |       ELSE lower(host) END AS domain
       |FROM dm)""".stripMargin
  }

  /** The KL drift oracle — shared by `q_drift` (batch) and
    * `q_stream_drift` (the streaming corpus monitor: exact integer
    * counts make the two paths bit-identical).
    */
  private def driftKlSql: String =
    s"""WITH tk AS (SELECT source, unnest($LTOKS) AS term FROM documents),
       |cnt AS (SELECT source AS src, term, count(*) AS c FROM tk GROUP BY 1,2),
       |corpus AS (SELECT term, sum(c) AS ct FROM cnt GROUP BY 1),
       |top AS (SELECT term, ct FROM corpus ORDER BY ct DESC, term ASC LIMIT 24),
       |tot AS (SELECT sum(c) AS n FROM cnt),
       |tops AS (SELECT sum(ct) AS ts FROM top),
       |st AS (SELECT src, sum(c) AS ns FROM cnt GROUP BY 1),
       |mat AS (SELECT s.src, s.ns, t.term, t.ct, coalesce(c.c, 0) AS cst
       |        FROM st s CROSS JOIN top t LEFT JOIN cnt c ON c.src = s.src AND c.term = t.term),
       |invoc AS (SELECT src, ns,
       |    sum(CAST(round((cst+1)/(ns+25.0) * ln(((cst+1)/(ns+25.0)) / ((ct+1)/((SELECT n FROM tot)+25.0))) * 1e9, 0) AS BIGINT)) AS in_nano,
       |    sum(cst) AS intop
       |  FROM mat GROUP BY 1,2),
       |fin AS (SELECT src, ns, ns - intop AS oov, in_nano,
       |    CAST(round((ns-intop+1)/(ns+25.0) * ln(((ns-intop+1)/(ns+25.0)) / (((SELECT n FROM tot)-(SELECT ts FROM tops)+1)/((SELECT n FROM tot)+25.0))) * 1e9, 0) AS BIGINT) AS oov_nano
       |  FROM invoc)
       |SELECT src AS source, CAST(ns AS BIGINT) AS n_tokens, CAST(oov AS BIGINT) AS oov_tokens,
       |       round((in_nano + oov_nano)/1e9, 6) AS kl
       |FROM fin ORDER BY source""".stripMargin

  /** DuckDB mirror of [[TextOps.driftReportMetric]] for the psi/jsd
    * variants — the same CTE skeleton as the handwritten `q_drift` KL
    * oracle, with the per-bucket contribution swapped to textually match
    * the Scala expression tree (same operand order, so the IEEE doubles
    * agree bit-for-bit before the nano rounding).
    */
  private def driftOracleSql(metric: String): String = {
    val p = "(cst+1)/(ns+25.0)"
    val q = "(ct+1)/((SELECT n FROM tot)+25.0)"
    val op = "(ns-intop+1)/(ns+25.0)"
    val oq = "((SELECT n FROM tot)-(SELECT ts FROM tops)+1)/((SELECT n FROM tot)+25.0)"
    def contrib(pp: String, qq: String): String = metric match {
      case "psi" => s"($pp - $qq) * ln(($pp) / ($qq))"
      case "jsd" =>
        val m = s"(($pp + $qq)/2.0)"
        s"(($pp) * ln(($pp) / $m) + ($qq) * ln(($qq) / $m)) / 2.0"
    }
    s"""WITH tk AS (SELECT source, unnest($LTOKS) AS term FROM documents),
       |cnt AS (SELECT source AS src, term, count(*) AS c FROM tk GROUP BY 1,2),
       |corpus AS (SELECT term, sum(c) AS ct FROM cnt GROUP BY 1),
       |top AS (SELECT term, ct FROM corpus ORDER BY ct DESC, term ASC LIMIT 24),
       |tot AS (SELECT sum(c) AS n FROM cnt),
       |tops AS (SELECT sum(ct) AS ts FROM top),
       |st AS (SELECT src, sum(c) AS ns FROM cnt GROUP BY 1),
       |mat AS (SELECT s.src, s.ns, t.term, t.ct, coalesce(c.c, 0) AS cst
       |        FROM st s CROSS JOIN top t LEFT JOIN cnt c ON c.src = s.src AND c.term = t.term),
       |invoc AS (SELECT src, ns,
       |    sum(CAST(round((${contrib(p, q)}) * 1e9, 0) AS BIGINT)) AS in_nano,
       |    sum(cst) AS intop
       |  FROM mat GROUP BY 1,2),
       |fin AS (SELECT src, ns, ns - intop AS oov, in_nano,
       |    CAST(round((${contrib(op, oq)}) * 1e9, 0) AS BIGINT) AS oov_nano
       |  FROM invoc)
       |SELECT src AS source, CAST(ns AS BIGINT) AS n_tokens, CAST(oov AS BIGINT) AS oov_tokens,
       |       round((in_nano + oov_nano)/1e9, 6) AS $metric
       |FROM fin ORDER BY source""".stripMargin
  }

  private val SHINGLES = // distinct word 3-grams, empty when < 3 tokens
    s"""list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 0)),
       |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))""".stripMargin
  private val COS =
    "round(list_dot_product(qe, e) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))), 6)"
  private val STOP_EN = TextOps.englishStopwords.map(w => s"'$w'").mkString(", ")
  private def lex(lang: String): String =
    TextOps.langLexicons.find(_._1 == lang).get._2.map(w => s"'$w'").mkString(", ")
  private val QIDS_SQL = QIDS.mkString(", ")

  // DuckDB mirror of the winnowing kernel (SketchExpressions.mix64 +
  // winnowingData) for q_winnow_mirror. Unsigned 64-bit arithmetic is
  // emulated in HUGEINT: xor via 32-bit limbs (DuckDB's xor() takes
  // BIGINT), multiply mod 2^64 via the constant's limb split, logical
  // right shift as integer division. The k-gram fold is emitted as 8×6
  // chained list_transform stages (DuckDB vectorizes each stage across
  // every gram of a document) rather than a per-gram list_reduce — the
  // reduce formulation is ~8× slower interpreted.
  //
  // CRITICAL detail: the Scala kernel's sliding-window min compares
  // SIGNED longs, but HUGEINT grams live in [0, 2^64) where min is
  // unsigned — so every gram is biased by +2^63 (mod 2^64) BEFORE
  // window selection. Unsigned order of (g + 2^63 mod 2^64) IS signed
  // order of g, and the bias is a bijection, so fingerprint identity
  // (all the pair join consumes) is preserved. Round 9's unbiased
  // draft produced 72,132 pairs vs the kernel's 72,206 at sf0.01 —
  // exactly this divergence.
  private def winnowMirrorSql: String = {
    // x, b are HUGEINT expressions in [0, 2^64)
    def xor64(a: String, b: String): String =
      s"(CAST(xor(CAST(($a) // 4294967296 AS BIGINT), CAST(($b) // 4294967296 AS BIGINT)) AS HUGEINT) * 4294967296 + " +
        s"CAST(xor(CAST(($a) % 4294967296 AS BIGINT), CAST(($b) % 4294967296 AS BIGINT)) AS HUGEINT))"
    def shr(a: String, bits: Int): String = s"($a // ${1L << bits})"
    def mulMod64(a: String, c: Long): String = {
      val hi = c >>> 32
      val lo = c & 0xffffffffL
      s"((($a) * $lo + ((($a) * $hi) % 4294967296) * 4294967296) % 18446744073709551616)"
    }
    // h = mix64(h ^ codes[i + j]) for char j of the k-gram, as 6
    // vectorized stages over the per-document gram list (i is
    // list_transform's 1-based index = the gram's start position)
    def mixChar(inner: String, j: Int): String = {
      val s1 = s"list_transform($inner, (x, i) -> ${xor64("x", s"codes[i + $j]")})"
      val s2 = s"list_transform($s1, x -> ${xor64("x", shr("x", 30))})"
      val s3 = s"list_transform($s2, x -> ${mulMod64("x", 0xbf58476d1ce4e5b9L)})"
      val s4 = s"list_transform($s3, x -> ${xor64("x", shr("x", 27))})"
      val s5 = s"list_transform($s4, x -> ${mulMod64("x", 0x94d049bb133111ebL)})"
      s"list_transform($s5, x -> ${xor64("x", shr("x", 31))})"
    }
    val folded = (0 until 8) // k = 8
      .foldLeft("list_transform(range(1, m + 1), i -> 0::HUGEINT)")(mixChar)
    // signed-order bias (see scaladoc above)
    val grams =
      s"list_transform($folded, x -> ((x + 9223372036854775808) % 18446744073709551616))"
    s"""WITH d AS (
       |  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS s
       |  FROM documents WHERE doc_id < 120
       |), cs AS (
       |  SELECT doc_id, list_transform(string_split(s, ''), ch -> CAST(unicode(ch) AS HUGEINT)) AS codes,
       |         length(s) - 7 AS m FROM d
       |), g AS (
       |  SELECT doc_id, m, $grams AS grams FROM cs
       |), sel AS (
       |  SELECT doc_id, CASE WHEN m < 1 THEN CAST([] AS HUGEINT[])
       |    WHEN m <= 4 THEN [list_aggregate(grams, 'min')]
       |    ELSE list_transform(range(4, m + 1), p -> list_aggregate(list_slice(grams, p - 3, p), 'min'))
       |  END AS sels FROM g
       |), fp AS (
       |  SELECT doc_id AS id, unnest(list_distinct(sels)) AS fp FROM sel
       |), rare AS (
       |  SELECT fp FROM (SELECT fp, count(*) AS df FROM fp GROUP BY fp) WHERE df <= 50
       |), pruned AS (
       |  SELECT id, fp.fp FROM fp JOIN rare USING (fp)
       |)
       |SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
       |FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.id < b.id
       |GROUP BY 1, 2 HAVING count(*) >= 3
       |ORDER BY id_a, id_b""".stripMargin
  }
  private def beyondParityOracles: Map[String, String] = Map(
    // exact rational arithmetic both sides: long counts, one rounded
    // division; docs with zero tokens/shingles produce no row (unnest of
    // an empty list) in both engines
    "q_text_commonness" ->
      s"""WITH tk AS (SELECT doc_id, unnest($TOKS) AS tok FROM documents),
         |c AS (SELECT tok, count(*) AS tf FROM tk GROUP BY tok)
         |SELECT doc_id, count(*) AS n_tokens,
         |  round(CAST(sum(tf) AS DOUBLE) / count(*), 6) AS mean_token_freq
         |FROM tk JOIN c USING (tok)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_text_novelty" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |s AS (SELECT doc_id, unnest($SHINGLES) AS shingle FROM toks),
         |f AS (SELECT shingle, count(*) AS df FROM s GROUP BY shingle)
         |SELECT doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS novelty
         |FROM s JOIN f USING (shingle)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_text_bigrams" ->
      s"""WITH toks AS (SELECT $LTOKS AS t FROM documents),
         |b AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
         |    i -> t[i] || ' ' || t[i+1])) AS bigram
         |  FROM toks WHERE len(t) >= 2)
         |SELECT bigram, count(*) AS n FROM b GROUP BY bigram
         |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin,
    // salience = tf/df: integer counts, ONE double division — ranked
    // UNROUNDED in both engines (same operands → same IEEE double, so the
    // row_number tie structure matches), rounded only in the output
    // e0-suffixed float literals force DOUBLE (bare 0.5 is DECIMAL in
    // DuckDB — decimal arithmetic would diverge from Spark's doubles);
    // operand order mirrors TextOps.bm25 term by term; ranking uses the
    // ROUNDED score + doc_id so rank agreement needs only 6dp agreement
    "q_text_bm25" -> {
      val terms = Seq("join", "hash", "scan", "filter", "merge")
      val dfcols = terms.map(t =>
        s"sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS df_$t").mkString(", ")
      val tfcols = terms.map(t =>
        s"CAST(len(list_filter(t.toks, x -> x = '$t')) AS DOUBLE) AS tfv_$t").mkString(", ")
      val idfcols = terms.map(t =>
        s"ln((s.n - s.df_$t + 0.5e0) / (s.df_$t + 0.5e0) + 1.0e0) AS idf_$t").mkString(", ")
      val score = terms.map(t =>
        s"idf_$t * tfv_$t / (tfv_$t + 1.2e0 * (0.25e0 + (0.75e0 * dl) / avgdl))").mkString(" + ")
      val outtf = terms.map(t => s"CAST(tfv_$t AS BIGINT) AS tf_$t").mkString(", ")
      s"""WITH t AS (SELECT doc_id, $LTOKS AS toks FROM documents),
         |s AS (SELECT count(*) AS n, sum(len(toks)) AS sumdl, $dfcols FROM t),
         |sc AS (SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
         |  CAST(len(t.toks) AS DOUBLE) AS dl, CAST(s.sumdl AS DOUBLE) / s.n AS avgdl,
         |  $tfcols, $idfcols
         |  FROM t CROSS JOIN s),
         |f AS (SELECT doc_id, n_tokens, round($score, 6) AS score, $outtf FROM sc)
         |SELECT doc_id, n_tokens, score, ${terms.map(t => s"tf_$t").mkString(", ")},
         |  CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank
         |FROM f ORDER BY score DESC, doc_id ASC LIMIT 50""".stripMargin
    },
    "q_text_tfidf" ->
      s"""WITH tk AS (SELECT doc_id, unnest($LTOKS) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM tk GROUP BY doc_id, term),
         |f AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |r AS (SELECT doc_id, term, tf, df, CAST(tf AS DOUBLE) / df AS sal,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY CAST(tf AS DOUBLE) / df DESC, term ASC) AS rk
         |  FROM tf JOIN f USING (term))
         |SELECT doc_id, term, tf, df, round(sal, 6) AS salience,
         |  CAST(rk AS BIGINT) AS rk
         |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    // heavy hitters: capacity 4096 >> the 31-term vocabulary, so the
    // Misra-Gries summary never decrements and IS the exact count table
    // (merges included) — the sketch output equals exact top-k
    "q_text_heavyhit" ->
      s"""WITH tk AS (SELECT unnest($LTOKS) AS term FROM documents)
         |SELECT term, CAST(count(*) AS BIGINT) AS est FROM tk
         |GROUP BY term ORDER BY est DESC, term ASC LIMIT 20""".stripMargin,
    // KL drift: identical expression tree on both engines — per-bucket
    // p·ln(p/q) rounded to nano-units and summed as BIGINTs (float sum
    // order cannot matter), add-one smoothing over top-24 vocab + OOV
    "q_drift" -> driftKlSql,
    // the STREAMING corpus monitor accumulates the same (src, term)
    // counts as streaming state; counts are exact integers however the
    // stream batches them, so the final report is bit-identical
    "q_stream_drift" -> driftKlSql,
    // PSI / Jensen-Shannon drift variants: the same skeleton with the
    // per-bucket contribution swapped (see driftOracleSql)
    "q_drift_psi" -> driftOracleSql("psi"),
    "q_drift_jsd" -> driftOracleSql("jsd"),
    // per-column profile: one SELECT per column (count/nulls/distinct/
    // typed min-max cast to VARCHAR), stitched by UNION ALL — textually
    // mirrors TableProfile's wide aggregate + melt
    "q_profile_docs" ->
      (Seq("doc_id", "lang", "n_chars", "source", "text").map(c =>
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_val, CAST(max($c) AS VARCHAR) AS max_val
           |FROM documents""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")),
    // incremental dedup: anti-join vs the seen hashes, then first-in-batch
    "q_dedup_incremental" ->
      """WITH seen AS (SELECT DISTINCT md5(text) AS content_hash
        |  FROM documents WHERE doc_id % 3 = 0),
        |newb AS (SELECT doc_id, md5(text) AS content_hash
        |  FROM documents WHERE doc_id % 3 <> 0),
        |u AS (SELECT n.doc_id, n.content_hash FROM newb n
        |  LEFT JOIN seen s USING (content_hash) WHERE s.content_hash IS NULL),
        |r AS (SELECT doc_id, content_hash, row_number() OVER (
        |    PARTITION BY content_hash ORDER BY doc_id ASC) AS rn FROM u)
        |SELECT doc_id, content_hash FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // positional word 3-grams on the STRING form (the engine hashes them
    // to longs — grouping by hash equals grouping by string absent a
    // 64-bit collision, the novelty/commonness equivalence); covered
    // positions dedup through DISTINCT before the per-doc count
    "q_dedup_spans" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |b AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t
         |  FROM toks WHERE len(t) >= 3),
         |s AS (SELECT doc_id, u.pos AS pos, u.sh AS sh FROM (
         |  SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 2),
         |    i -> {'pos': i - 1, 'sh': t[i] || ' ' || t[i+1] || ' ' || t[i+2]})) AS u
         |  FROM b)),
         |f AS (SELECT sh FROM s GROUP BY sh HAVING count(DISTINCT doc_id) >= 2),
         |cov AS (SELECT DISTINCT doc_id, cp FROM (
         |  SELECT s.doc_id, unnest([s.pos, s.pos + 1, s.pos + 2]) AS cp
         |  FROM s JOIN f USING (sh))),
         |a AS (SELECT doc_id, count(*) AS n_dup_pos FROM cov GROUP BY doc_id)
         |SELECT b.doc_id, b.n_tokens,
         |  coalesce(a.n_dup_pos, 0) AS n_dup_pos,
         |  round(CAST(coalesce(a.n_dup_pos, 0) AS DOUBLE) / b.n_tokens, 6) AS dup_frac
         |FROM b LEFT JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin,
    // centroid = per-dim SUM of round(x*1e6) longs (exact integer adds in
    // any order; cosine is scale-invariant so the un-divided sum ranks
    // like the mean); cosine operands and order then match the engine's
    // native expression exactly — ranked unrounded, rounded in output
    "q_embed_outliers" ->
      s"""WITH q AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev,
         |    list_transform(embedding,
         |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |e AS (SELECT label, u.i AS dim, u.v AS v FROM (
         |  SELECT label, unnest(list_transform(generate_series(1, len(qv)),
         |    i -> {'i': i, 'v': qv[i]})) AS u FROM q)),
         |s AS (SELECT label, dim, sum(v) AS sv FROM e GROUP BY label, dim),
         |c AS (SELECT label, list(CAST(sv AS DOUBLE) ORDER BY dim) AS cent
         |  FROM s GROUP BY label),
         |r AS (SELECT q.label, q.vec_id,
         |    list_dot_product(ev, cent) /
         |      (sqrt(list_dot_product(ev, ev)) * sqrt(list_dot_product(cent, cent))) AS cos
         |  FROM q JOIN c USING (label)),
         |w AS (SELECT label, vec_id, cos, row_number() OVER (
         |    PARTITION BY label ORDER BY cos ASC, vec_id ASC) AS rk FROM r)
         |SELECT label, vec_id, round(cos, 6) AS cos_centroid, CAST(rk AS BIGINT) AS rk
         |FROM w WHERE rk <= 5 ORDER BY label, rk""".stripMargin,
    // the bounded-state stream dedup must emit exactly the distinct
    // content hashes (all duplicates are within-watermark in one batch)
    "q_stream_dedup" ->
      """SELECT DISTINCT md5(text) AS content_hash FROM documents
        |ORDER BY content_hash""".stripMargin,
    // the streaming-state query's FINAL cumulative per-series stats must
    // equal the plain batch aggregate (mean spelled sum/count — the same
    // one division the state rollup computes)
    "q_stream_state" ->
      s"""$CANON_SQL SELECT series, count(*) AS n,
         |  round(sum(value), 4) AS sum_v,
         |  round(sum(value) / count(*), 6) AS mean_v,
         |  max(ts_us) AS max_ts
         |FROM c GROUP BY series ORDER BY series""".stripMargin,
    "q_integrity" ->
      """WITH l AS (SELECT doc_id AS id, count(*) AS ln FROM documents GROUP BY 1),
        |r AS (SELECT vec_id AS id, count(*) AS rn FROM embeddings GROUP BY 1),
        |j AS (SELECT l.ln, r.rn FROM l FULL OUTER JOIN r USING (id))
        |SELECT CAST(coalesce(sum(ln), 0) AS BIGINT) AS n_left,
        |  count(CASE WHEN ln IS NOT NULL THEN 1 END) AS n_left_ids,
        |  count(CASE WHEN ln > 1 THEN 1 END) AS n_left_dup_ids,
        |  count(CASE WHEN ln IS NOT NULL AND rn IS NULL THEN 1 END) AS n_left_orphans,
        |  CAST(coalesce(sum(rn), 0) AS BIGINT) AS n_right,
        |  count(CASE WHEN rn IS NOT NULL THEN 1 END) AS n_right_ids,
        |  count(CASE WHEN rn > 1 THEN 1 END) AS n_right_dup_ids,
        |  count(CASE WHEN rn IS NOT NULL AND ln IS NULL THEN 1 END) AS n_right_orphans
        |FROM j""".stripMargin,
    "q_text_tokens" ->
      s"""SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS n_tokens,
         |CAST(list_sum(list_transform($TOKS, w -> greatest(1, CAST(ceil(length(w)/4.0) AS INT)))) AS BIGINT) AS n_bpeish
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      s"""WITH q AS (SELECT doc_id, text, $TOKS AS t, $LTOKS AS lt FROM documents)
         |SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(t) AS BIGINT) AS n_tokens,
         |  round(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / greatest(len(t), 1), 4) AS mean_token_len,
         |  round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
         |  round(CAST(len(list_filter(lt, x -> x IN ($STOP_EN))) AS DOUBLE) / greatest(len(t), 1), 6) AS stopword_ratio
         |FROM q ORDER BY doc_id""".stripMargin,
    "q_text_score" ->
      s"""WITH q AS (SELECT doc_id, text, $TOKS AS t, $LTOKS AS lt FROM documents),
         |r AS (SELECT doc_id, len(t) AS n_tokens,
         |  round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
         |  round(CAST(len(list_filter(lt, x -> x IN ($STOP_EN))) AS DOUBLE) / greatest(len(t), 1), 6) AS stopword_ratio
         |FROM q)
         |SELECT doc_id, round(
         |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
         |  least(stopword_ratio * 5.0, 1.0) * 0.4 +
         |  (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2, 6) AS quality
         |FROM r ORDER BY doc_id""".stripMargin,
    "q_ntile_quality" ->
      s"""WITH q AS (SELECT doc_id, text, $TOKS AS t, $LTOKS AS lt FROM documents),
         |r AS (SELECT doc_id, len(t) AS n_tokens,
         |  round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
         |  round(CAST(len(list_filter(lt, x -> x IN ($STOP_EN))) AS DOUBLE) / greatest(len(t), 1), 6) AS stopword_ratio
         |FROM q),
         |s AS (SELECT doc_id, round(
         |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
         |  least(stopword_ratio * 5.0, 1.0) * 0.4 +
         |  (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2, 6) AS quality FROM r),
         |d AS (SELECT quality, ntile(10) OVER (ORDER BY quality DESC, doc_id ASC) AS decile FROM s)
         |SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n_docs,
         |  min(quality) AS min_q, max(quality) AS max_q
         |FROM d GROUP BY decile ORDER BY decile""".stripMargin,
    "q_text_repetition" ->
      s"""WITH q AS (SELECT doc_id, $TOKS AS t FROM documents),
         |r AS (SELECT doc_id, greatest(len(t) - 2, 0) AS n_ngrams,
         |  len($SHINGLES) AS n_distinct FROM q)
         |SELECT doc_id, CAST(n_ngrams AS BIGINT) AS n_ngrams,
         |  CASE WHEN n_ngrams > 0
         |    THEN round(1.0 - CAST(n_distinct AS DOUBLE) / n_ngrams, 6)
         |    ELSE 0.0 END AS repetition
         |FROM r ORDER BY doc_id""".stripMargin,
    "q_text_vocab" ->
      s"""SELECT token, CAST(count(*) AS BIGINT) AS n FROM (
         |  SELECT unnest($LTOKS) AS token FROM documents)
         |GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,
    // same planted-PII construction and the same four patterns applied in
    // the same order; counts are per pattern over the pre-redaction text
    "q_text_redact" ->
      """WITH p AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.' ||
        |  CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) ||
        |  ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |  ' call (415) 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        |    '(?:\b(?:\+?\d{1,2}[ .-]?)?\d{3}|\(\d{3}\))[ .-]?\d{3}[ .-]?\d{4}\b', '<PHONE>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ip,
        |  CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS BIGINT) AS n_ssn,
        |  CAST(len(regexp_extract_all(t, '(?:\b(?:\+?\d{1,2}[ .-]?)?\d{3}|\(\d{3}\))[ .-]?\d{3}[ .-]?\d{4}\b')) AS BIGINT) AS n_phone
        |FROM p ORDER BY doc_id""".stripMargin,
    // the same page construction; the strip chain is generated from
    // TextOps.htmlStripStages so both engines run the IDENTICAL stages
    "q_text_html" -> {
      def lit(s: String) = "'" + s.replace("'", "''") + "'"
      val chain = TextOps.htmlStripStages.foldLeft("h") {
        case (acc, (p, r)) => s"regexp_replace($acc, ${lit(p)}, ${lit(r)}, 'g')"
      }
      s"""WITH p AS (SELECT doc_id,
         |  '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
         |  '</title><script type="text/javascript">var x = 1 < 2 && v > 3;</script>' ||
         |  '<style>p { margin: 0; }</style></head><body><!-- crawl junk -->' ||
         |  '<h1 class="t">Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' ||
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '&', '&amp;', 'g'), '<', '&lt;', 'g'), '>', '&gt;', 'g') ||
         |  '</p><div><a href="/next">next &amp; prev</a>&nbsp;&#39;q&#39;</div>' ||
         |  '</body></html>' AS h
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(h, '<[^>]+>')) AS BIGINT) AS n_tags,
         |  CAST(len(regexp_extract_all(h, '(?i)<a[\\s>]')) AS BIGINT) AS n_links,
         |  CAST(len(regexp_extract_all(h, '(?is)<(script|style)[^>]*>')) AS BIGINT) AS n_blocks,
         |  trim($chain) AS text
         |FROM p ORDER BY doc_id""".stripMargin
    },
    // the same planted construction through DuckDB's nfc_normalize + the
    // published cleanupStages chain (chr(): 769 = combining acute, 7 =
    // BEL, 8491 = ANGSTROM SIGN)
    "q_text_normalize" -> {
      def lit(s: String) = "'" + s.replace("'", "''") + "'"
      val chain = TextOps.cleanupStages.foldLeft("nfc_normalize(t)") {
        case (acc, (p, r)) => s"regexp_replace($acc, ${lit(p)}, ${lit(r)}, 'g')"
      }
      s"""WITH p AS (SELECT doc_id,
         |  text || ' caf' || 'e' || chr(769) || chr(7) || chr(13) || chr(10)
         |       || chr(8491) || 'end' AS t
         |  FROM documents)
         |SELECT doc_id, $chain AS text,
         |  CAST(length(t) AS BIGINT) AS n_chars_in,
         |  CAST(length($chain) AS BIGINT) AS n_chars_out,
         |  ($chain <> t) AS changed
         |FROM p ORDER BY doc_id""".stripMargin
    },
    // the URL fixture + parse CTEs are shared with q_url_domcap
    // (urlFixtureSql); the final projection mirrors UrlOps.normalize
    "q_url_parse" ->
      s"""$urlFixtureSql
         |SELECT doc_id, scheme, host, port, path, query, fragment, domain,
         |  CASE WHEN auth IS NULL OR scheme IS NULL THEN url
         |       ELSE lower(scheme) || '://' || lower(host) ||
         |            (CASE WHEN port IS NULL
         |                    OR (lower(scheme) = 'http' AND port = 80)
         |                    OR (lower(scheme) = 'https' AND port = 443) THEN ''
         |                  ELSE ':' || CAST(port AS VARCHAR) END) ||
         |            coalesce(path, '/') ||
         |            (CASE WHEN query IS NULL THEN '' ELSE '?' || query END)
         |  END AS url_norm
         |FROM d2 ORDER BY doc_id""".stripMargin,
    // plain single window — the engine's two-phase salted top-k must
    // produce the identical keep set because (n_chars DESC, doc_id) is a
    // total order
    "q_url_domcap" ->
      s"""$urlFixtureSql,
         |r AS (SELECT domain, doc_id, n_chars,
         |        row_number() OVER (PARTITION BY domain ORDER BY n_chars DESC, doc_id) AS rn
         |      FROM d2)
         |SELECT domain, CAST(rn AS BIGINT) AS rn, doc_id, n_chars
         |FROM r WHERE rn <= 3 ORDER BY domain, rn""".stripMargin,
    // the robots decision replayed: rules enumerated from the fixture's
    // host arithmetic (even-length hosts elect the graftbot group), LIKE
    // patterns are the published likePattern compile of each rule, and
    // the longest-match/allow/line-order precedence is the same window
    "q_url_robots" ->
      s"""$urlFixtureSql,
         |uu AS (SELECT doc_id, lower(host) AS host, coalesce(path, '/') AS path FROM d2),
         |rl(pat, lp, allow, ridx, spec) AS (VALUES
         |  ('/a1/', '/a1/%', false, 4, 0),
         |  ('/a1/page-1*', '/a1/page-1%%', true, 5, 0),
         |  ('/*7${"$"}', '/%7', false, 6, 0),
         |  ('/a2/', '/a2/%', false, 9, 1),
         |  ('/a2/page-*', '/a2/page-%%', true, 10, 1),
         |  ('/*3${"$"}', '/%3', false, 11, 1)),
         |el AS (SELECT uu.doc_id, uu.host, uu.path, rl.*
         |       FROM uu JOIN rl ON rl.spec = (CASE WHEN length(uu.host) % 2 = 0 THEN 1 ELSE 0 END)),
         |m AS (SELECT *, row_number() OVER (PARTITION BY doc_id
         |         ORDER BY length(pat) DESC, allow DESC, ridx ASC) AS rn
         |      FROM el WHERE path LIKE lp),
         |w AS (SELECT doc_id, allow, pat FROM m WHERE rn = 1)
         |SELECT doc_id, uu.host, uu.path,
         |  coalesce(w.allow, true) AS allowed, w.pat AS matched_pattern
         |FROM uu LEFT JOIN w USING (doc_id) ORDER BY doc_id""".stripMargin,
    // the directive fixture's host-length arithmetic replayed: even
    // hosts elect the graftbot group's delay (len%7), odd fall back to
    // the * group's (len%5); every host carries exactly one Sitemap
    "q_url_robots_directives" ->
      s"""$urlFixtureSql
         |SELECT host,
         |  CAST(CASE WHEN length(host) % 2 = 0 THEN length(host) % 7
         |            ELSE length(host) % 5 END AS DOUBLE) AS crawl_delay,
         |  CAST(1 AS BIGINT) AS n_sitemaps,
         |  'https://' || host || '/sitemap.xml' AS sitemaps
         |FROM (SELECT DISTINCT lower(host) AS host FROM d2)
         |ORDER BY host""".stripMargin,
    // the frontier semantics replayed with host arithmetic: candidates
    // from the sitemap fixture (same-host, direct lane), fetched = the
    // len%3 hosts' k=0 entry, the robots gate by host parity (graftbot
    // election replaces the * group on even hosts), priority/lastmod
    // rank, cap 2, offset = (rank-1) × elected delay
    "q_crawl_frontier" ->
      s"""$urlFixtureSql,
         |hs AS (SELECT DISTINCT lower(host) AS host FROM d2 WHERE host IS NOT NULL),
         |cand AS (
         |  SELECT host,
         |    'https://' || host || '/p/0-0?a=1&b=' || CAST(length(host) % 7 AS VARCHAR) AS url,
         |    '2025-02-10' AS lastmod,
         |    CAST('0.' || CAST(length(host) % 10 AS VARCHAR) AS DOUBLE) AS priority,
         |    '/p/0-0' AS path FROM hs
         |  UNION ALL SELECT host, 'https://' || host || '/p/0-1',
         |    NULL, NULL, '/p/0-1' FROM hs
         |  UNION ALL SELECT host,
         |    'https://' || host || '/p/1-0?a=1&b=' || CAST(length(host) % 7 AS VARCHAR),
         |    '2025-02-11',
         |    CAST('0.' || CAST((length(host) + 1) % 10 AS VARCHAR) AS DOUBLE),
         |    '/p/1-0' FROM hs
         |  UNION ALL SELECT host, 'https://' || host || '/p/1-1',
         |    NULL, NULL, '/p/1-1' FROM hs),
         |fresh AS (SELECT * FROM cand
         |  WHERE NOT (length(host) % 3 = 0 AND path = '/p/0-0')),
         |gated AS (SELECT * FROM fresh WHERE CASE WHEN length(host) % 2 = 0
         |    THEN path <> '/p/0-1' ELSE path NOT LIKE '/p/1-%' END),
         |rk AS (SELECT host, url, priority, lastmod,
         |    row_number() OVER (PARTITION BY host
         |      ORDER BY priority DESC NULLS LAST, lastmod DESC NULLS LAST, url) AS rn
         |  FROM gated)
         |SELECT host, url, CAST(rn AS BIGINT) AS "rank", priority, lastmod,
         |  CAST(CASE WHEN length(host) % 2 = 0 THEN length(host) % 7
         |            ELSE length(host) % 5 END AS DOUBLE) AS crawl_delay,
         |  CAST((rn - 1) * (CASE WHEN length(host) % 2 = 0 THEN length(host) % 7
         |            ELSE length(host) % 5 END) * 1000.0 AS BIGINT) AS fetch_offset_ms
         |FROM rk WHERE rn <= 2 ORDER BY host, "rank"""".stripMargin,
    // the sitemap fixture's expected parse, rebuilt from host arithmetic:
    // two children × (full entry with &amp; entity + minimal padded-loc
    // entry) + the even-host cross-host entry, each appearing twice
    // (direct urlset parse, and via the index join); the cross entry is
    // the only same_host=false row
    "q_url_sitemaps" ->
      s"""$urlFixtureSql,
         |hs AS (SELECT DISTINCT lower(host) AS host FROM d2 WHERE host IS NOT NULL),
         |ch AS (SELECT host, k FROM hs, (VALUES (0),(1)) t(k)),
         |e0 AS (SELECT host, k, 0 AS entry_idx,
         |  'https://' || host || '/p/' || k || '-0?a=1&b=' || CAST(length(host) % 7 AS VARCHAR) AS loc,
         |  '2025-02-1' || k AS lastmod,
         |  CASE k WHEN 0 THEN 'daily' ELSE 'weekly' END AS changefreq,
         |  CAST('0.' || CAST((length(host) + k) % 10 AS VARCHAR) AS DOUBLE) AS priority,
         |  true AS same_host FROM ch),
         |e1 AS (SELECT host, k, 1 AS entry_idx,
         |  'https://' || host || '/p/' || k || '-1' AS loc,
         |  CAST(NULL AS VARCHAR) AS lastmod, CAST(NULL AS VARCHAR) AS changefreq,
         |  CAST(NULL AS DOUBLE) AS priority, true AS same_host FROM ch),
         |e2 AS (SELECT host, 1 AS k, 2 AS entry_idx,
         |  'https://cross.example/x' AS loc,
         |  CAST(NULL AS VARCHAR) AS lastmod, CAST(NULL AS VARCHAR) AS changefreq,
         |  CAST(NULL AS DOUBLE) AS priority,
         |  (host = 'cross.example') AS same_host
         |  FROM hs WHERE length(host) % 2 = 0),
         |ee AS (SELECT * FROM e0 UNION ALL SELECT * FROM e1 UNION ALL SELECT * FROM e2)
         |SELECT host, 'https://' || host || '/sm-' || k || '.xml' AS sitemap_url,
         |  v.via_index, CAST(entry_idx AS BIGINT) AS entry_idx,
         |  loc, lastmod, changefreq, priority, same_host
         |FROM ee, (VALUES (false),(true)) v(via_index)
         |ORDER BY host, sitemap_url, via_index, entry_idx""".stripMargin,
    // the crawl chain replayed stage-for-stage: the WARC framing cancels
    // by construction (body == the built page), then the SAME published
    // strip/nfc-cleanup/quality/cap/rollup formulations the engine ran
    "q_crawl_pipeline" -> {
      def lit(s: String) = "'" + s.replace("'", "''") + "'"
      val strip = TextOps.htmlStripStages.foldLeft("h") {
        case (acc, (p, r)) => s"regexp_replace($acc, ${lit(p)}, ${lit(r)}, 'g')"
      }
      val cleanup = TextOps.cleanupStages.foldLeft("nfc_normalize(x)") {
        case (acc, (p, r)) => s"regexp_replace($acc, ${lit(p)}, ${lit(r)}, 'g')"
      }
      s"""$urlFixtureSql,
         |pg AS (SELECT doc_id, domain,
         |  '<html><body><p>' || text || '</p></body></html>' AS h FROM d2),
         |ex AS (SELECT doc_id, domain, trim($strip) AS x FROM pg),
         |nx AS (SELECT doc_id, domain, $cleanup AS text FROM ex),
         |tq AS (SELECT doc_id, domain, text, $TOKS AS t, $LTOKS AS lt FROM nx),
         |r AS (SELECT doc_id, domain, len(t) AS n_tokens,
         |  round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
         |  round(CAST(len(list_filter(lt, x -> x IN ($STOP_EN))) AS DOUBLE) / greatest(len(t), 1), 6) AS stopword_ratio
         |FROM tq),
         |sq AS (SELECT doc_id, domain, n_tokens, round(
         |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
         |  least(stopword_ratio * 5.0, 1.0) * 0.4 +
         |  (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2, 6) AS quality FROM r),
         |fq AS (SELECT * FROM sq WHERE quality >= 0.3),
         |cq AS (SELECT *, row_number() OVER (PARTITION BY domain ORDER BY quality DESC, doc_id) AS rn FROM fq)
         |SELECT domain, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(CAST(round(quality * 1000000) AS BIGINT)) AS DOUBLE) / (count(*) * 1000000.0), 4) AS mean_quality
         |FROM cq WHERE rn <= 3 GROUP BY domain ORDER BY domain""".stripMargin
    },
    // the CCNet chain replayed stage-for-stage: extraction (as above),
    // md5 keep-min-id dedup, the langid argmax, the q_text_lmscore
    // reference-bigram CTEs verbatim, DuckDB's own exact ntile (the
    // engine's withNtile is pinned byte-identical to it), then the same
    // quality/cap/rollup as q_crawl_pipeline plus the mean LM score
    "q_crawl_curated" -> {
      def lit(s: String) = "'" + s.replace("'", "''") + "'"
      val strip = TextOps.htmlStripStages.foldLeft("h") {
        case (acc, (p, r)) => s"regexp_replace($acc, ${lit(p)}, ${lit(r)}, 'g')"
      }
      val cleanup = TextOps.cleanupStages.foldLeft("nfc_normalize(x)") {
        case (acc, (p, r)) => s"regexp_replace($acc, ${lit(p)}, ${lit(r)}, 'g')"
      }
      s"""$urlFixtureSql,
         |pg AS (SELECT doc_id, domain, '<html><body><p>' || text || '</p></body></html>' AS h FROM d2),
         |ex AS (SELECT doc_id, domain, trim($strip) AS x FROM pg),
         |nx AS (SELECT doc_id, domain, $cleanup AS text FROM ex),
         |dd AS (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS drn FROM nx),
         |tq AS (SELECT doc_id, domain, text, $TOKS AS t, $LTOKS AS lt FROM dd WHERE drn = 1),
         |lid AS (SELECT *,
         |  len(list_filter(lt, x -> x IN (${lex("en")}))) AS h_en,
         |  len(list_filter(lt, x -> x IN (${lex("de")}))) AS h_de,
         |  len(list_filter(lt, x -> x IN (${lex("fr")}))) AS h_fr,
         |  len(list_filter(lt, x -> x IN (${lex("es")}))) AS h_es FROM tq),
         |kl AS (SELECT * FROM lid WHERE CASE WHEN greatest(h_en,h_de,h_fr,h_es)=0 THEN 'unk'
         |  ELSE (list_sort([{'h': h_en, 'l': 'en'}, {'h': h_de, 'l': 'de'},
         |                   {'h': h_fr, 'l': 'fr'}, {'h': h_es, 'l': 'es'}])[-1]).l END = 'en'),
         |rt AS (SELECT $TOKS AS t FROM documents WHERE lang = 'en'),
         |rb AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
         |       FROM rt WHERE len(t) >= 2),
         |big AS (SELECT bg, count(*) AS c2 FROM rb GROUP BY bg),
         |pfx AS (SELECT string_split(bg, ' ')[1] AS w1, count(*) AS c1 FROM rb GROUP BY 1),
         |vv AS (SELECT count(DISTINCT tok) + 1 AS v FROM (SELECT unnest(t) AS tok FROM rt)),
         |db AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
         |       FROM kl WHERE len(t) >= 2),
         |sc AS (SELECT doc_id,
         |         CAST(round(-ln(CAST(coalesce(c2, 0) + 1 AS DOUBLE) /
         |           (coalesce(c1, 0) + (SELECT v FROM vv))) * 1e9) AS BIGINT) AS nll
         |       FROM db LEFT JOIN big USING (bg)
         |               LEFT JOIN pfx ON string_split(db.bg, ' ')[1] = pfx.w1),
         |lm AS (SELECT doc_id, round(CAST(sum(nll) AS DOUBLE) / 1e9 / count(*), 4) AS mean_nll
         |       FROM sc GROUP BY doc_id),
         |nt AS (SELECT kl.*, lm.mean_nll,
         |         ntile(10) OVER (ORDER BY lm.mean_nll ASC, kl.doc_id ASC) AS bucket
         |       FROM kl JOIN lm USING (doc_id)),
         |r AS (SELECT doc_id, domain, mean_nll, len(t) AS n_tokens,
         |  round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
         |  round(CAST(len(list_filter(lt, x -> x IN ($STOP_EN))) AS DOUBLE) / greatest(len(t), 1), 6) AS stopword_ratio
         |FROM nt WHERE bucket <= 7),
         |sq AS (SELECT doc_id, domain, mean_nll, n_tokens, round(
         |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
         |  least(stopword_ratio * 5.0, 1.0) * 0.4 +
         |  (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2, 6) AS quality FROM r),
         |fq AS (SELECT * FROM sq WHERE quality >= 0.3),
         |cq AS (SELECT *, row_number() OVER (PARTITION BY domain ORDER BY quality DESC, doc_id) AS crn FROM fq)
         |SELECT domain, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(CAST(round(quality * 1000000) AS BIGINT)) AS DOUBLE) / (count(*) * 1000000.0), 4) AS mean_quality,
         |  round(CAST(sum(CAST(round(mean_nll * 10000) AS BIGINT)) AS DOUBLE) / (count(*) * 10000.0), 4) AS mean_doc_nll
         |FROM cq WHERE crn <= 3 GROUP BY domain ORDER BY domain""".stripMargin
    },
    // expected parse of the synthetic WARC fixture, straight from the id
    // arithmetic (the parser's framing/dechunking work cancels out by
    // construction: the body round-trips to the page the fixture built)
    "q_warc_records" ->
      """SELECT CAST(floor(doc_id / 4) AS BIGINT) AS file_id,
        |  CAST(doc_id % 4 AS BIGINT) AS rec_idx,
        |  'response' AS warc_type,
        |  'https://example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
        |  '<urn:doc:' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
        |  'application/http; msgtype=response' AS content_type,
        |  CAST(200 AS BIGINT) AS http_status,
        |  'text/html; charset=utf-8' AS http_content_type,
        |  CAST(strlen('<html><body><p>' || text || '</p></body></html>') AS BIGINT) AS payload_len,
        |  '<html><body><p>' || text || '</p></body></html>' AS body
        |FROM documents ORDER BY file_id, rec_idx""".stripMargin,
    // stale = the len%3==0 hosts' k=0 entry: its lastmod 2025-02-10 is
    // newer than the planted 2025-02-05 fetch; the %3==1 hosts' k=1
    // fetch (2025-03-01 > 2025-02-11) stays fresh and yields no row
    "q_crawl_recrawl" ->
      s"""$urlFixtureSql,
         |hs AS (SELECT DISTINCT lower(host) AS host FROM d2 WHERE host IS NOT NULL)
         |SELECT host,
         |  'https://' || host || '/p/0-0?a=1&b=' || CAST(length(host) % 7 AS VARCHAR) AS url,
         |  '2025-02-10' AS lastmod, '2025-02-05' AS fetched_at
         |FROM hs WHERE length(host) % 3 = 0 ORDER BY host, url""".stripMargin,
    // SURT + CDX fields replayed from the parsed URL columns (d2): the
    // WARC framing cancels (status/mime/length are fixture constants)
    "q_crawl_cdx" ->
      s"""$urlFixtureSql
         |SELECT CASE WHEN host IS NULL THEN url ELSE
         |    array_to_string(list_reverse(string_split(lower(host), '.')), ',') ||
         |    (CASE WHEN port IS NULL OR (lower(scheme) = 'http' AND port = 80)
         |               OR (lower(scheme) = 'https' AND port = 443) THEN ''
         |          ELSE ':' || CAST(port AS VARCHAR) END) ||
         |    ')' || coalesce(path, '/') ||
         |    (CASE WHEN query IS NULL THEN '' ELSE '?' || query END)
         |  END AS surt,
         |  url, CAST(200 AS BIGINT) AS status, 'text/html' AS mime,
         |  CAST(strlen('<html><body><p>' || text || '</p></body></html>') AS BIGINT) AS length,
         |  CAST(floor(doc_id / 4) AS BIGINT) AS file_id,
         |  CAST(doc_id % 4 AS BIGINT) AS rec_idx
         |FROM d2 ORDER BY file_id, rec_idx""".stripMargin,
    // the WAT JSON's described fields are the fixture's constants
    "q_wat_roundtrip" ->
      """SELECT doc_id,
        |  'https://example.com/doc/' || CAST(doc_id AS VARCHAR) AS described_uri,
        |  'response' AS described_type,
        |  CAST(strlen('<html><body><p>' || text || '</p></body></html>') AS BIGINT) AS described_len,
        |  CAST(200 AS BIGINT) AS described_status,
        |  'text/html; charset=utf-8' AS described_ct
        |FROM documents ORDER BY doc_id""".stripMargin,
    // WET framing cancels: one conversion record per doc, payload == text
    "q_wet_roundtrip" ->
      """SELECT doc_id, 'conversion' AS warc_type,
        |  'https://example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
        |  'text/plain' AS content_type,
        |  CAST(strlen(text) AS BIGINT) AS payload_len,
        |  text AS body
        |FROM documents ORDER BY doc_id""".stripMargin,
    // identical expected output: the streaming file source must parse the
    // staged .warc.gz files to exactly what the in-memory path produces
    "q_warc_stream_files" ->
      """SELECT CAST(floor(doc_id / 4) AS BIGINT) AS file_id,
        |  CAST(doc_id % 4 AS BIGINT) AS rec_idx,
        |  'response' AS warc_type,
        |  'https://example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
        |  '<urn:doc:' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
        |  'application/http; msgtype=response' AS content_type,
        |  CAST(200 AS BIGINT) AS http_status,
        |  'text/html; charset=utf-8' AS http_content_type,
        |  CAST(strlen('<html><body><p>' || text || '</p></body></html>') AS BIGINT) AS payload_len,
        |  '<html><body><p>' || text || '</p></body></html>' AS body
        |FROM documents ORDER BY file_id, rec_idx""".stripMargin,
    "q_warc_extract" -> {
      def lit(s: String) = "'" + s.replace("'", "''") + "'"
      val chain = TextOps.htmlStripStages.foldLeft("h") {
        case (acc, (p, r)) => s"regexp_replace($acc, ${lit(p)}, ${lit(r)}, 'g')"
      }
      s"""WITH p AS (SELECT doc_id,
         |  '<html><body><p>' || text || '</p></body></html>' AS h
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(h, '<[^>]+>')) AS BIGINT) AS n_tags,
         |  trim($chain) AS text
         |FROM p ORDER BY doc_id""".stripMargin
    },
    // the streaming rollup == the batch SQL: same extraction/quality
    // chain as q_crawl_pipeline, WITHOUT the cap (rollup only — counts
    // and micro-unit sums are batching-invariant, hence bit-exact)
    "q_stream_crawl" -> {
      def lit(s: String) = "'" + s.replace("'", "''") + "'"
      val strip = TextOps.htmlStripStages.foldLeft("h") {
        case (acc, (p, r)) => s"regexp_replace($acc, ${lit(p)}, ${lit(r)}, 'g')"
      }
      val cleanup = TextOps.cleanupStages.foldLeft("nfc_normalize(x)") {
        case (acc, (p, r)) => s"regexp_replace($acc, ${lit(p)}, ${lit(r)}, 'g')"
      }
      s"""$urlFixtureSql,
         |pg AS (SELECT doc_id, domain,
         |  '<html><body><p>' || text || '</p></body></html>' AS h FROM d2),
         |ex AS (SELECT doc_id, domain, trim($strip) AS x FROM pg),
         |nx AS (SELECT doc_id, domain, $cleanup AS text FROM ex),
         |tq AS (SELECT doc_id, domain, text, $TOKS AS t, $LTOKS AS lt FROM nx),
         |r AS (SELECT doc_id, domain, len(t) AS n_tokens,
         |  round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
         |  round(CAST(len(list_filter(lt, x -> x IN ($STOP_EN))) AS DOUBLE) / greatest(len(t), 1), 6) AS stopword_ratio
         |FROM tq),
         |sq AS (SELECT doc_id, domain, n_tokens, round(
         |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
         |  least(stopword_ratio * 5.0, 1.0) * 0.4 +
         |  (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2, 6) AS quality FROM r),
         |fq AS (SELECT * FROM sq WHERE quality >= 0.3)
         |SELECT domain, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(CAST(round(quality * 1000000) AS BIGINT)) AS DOUBLE) / (count(*) * 1000000.0), 4) AS mean_quality
         |FROM fq GROUP BY domain ORDER BY domain""".stripMargin
    },
    // the PDF fixture's expected extraction, straight from the id
    // arithmetic: title line, the TJ-carried doc text, the quote line,
    // and the %3 escape / %4 hex schedules
    "q_pdf_extract" ->
      """WITH e AS (SELECT doc_id,
        |  'Title doc ' || CAST(doc_id AS VARCHAR) || chr(10) || text ||
        |  chr(10) || 'next line ' || CAST(doc_id % 7 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'esc ( ) \ ok' ELSE '' END) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'ABC' ELSE '' END) AS t
        |FROM documents)
        |SELECT doc_id, CAST(4 AS BIGINT) AS n_objects,
        |  CAST(1 AS BIGINT) AS n_streams,
        |  t AS text, CAST(strlen(t) AS BIGINT) AS n_chars
        |FROM e ORDER BY doc_id""".stripMargin,
    // tier-2 expected extraction: the CID decode cancels by construction
    // (code 0x10nn → U+00nn over ASCII text), the bfchar pair adds «AB
    // on the %3 schedule; length() (codepoints) because « is non-ASCII
    "q_pdf_cid" ->
      """WITH e AS (SELECT doc_id,
        |  'Title doc ' || CAST(doc_id AS VARCHAR) || chr(10) || text ||
        |  chr(10) || 'plain ' || CAST(doc_id % 5 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN chr(10) || '«AB' ELSE '' END) AS t
        |FROM documents)
        |SELECT doc_id, CAST(9 AS BIGINT) AS n_objects,
        |  CAST(1 AS BIGINT) AS n_streams,
        |  t AS text, CAST(length(t) AS BIGINT) AS n_chars
        |FROM e ORDER BY doc_id""".stripMargin,
    // charset sniffing replayed: the decoded text per variant is plain
    // Unicode literal arithmetic (0x93/0x94 → U+201C/U+201D under 1252,
    // 0x93 0xFA → U+65E5 under Shift-JIS, BOM stripped under UTF-8);
    // payload_len counts the raw planted bytes incl. BOM
    "q_warc_charset" ->
      """WITH p AS (SELECT doc_id, text,
        |  '<html><body><p>' || text || '</p></body></html>' AS page,
        |  CAST(doc_id % 5 AS INT) AS v FROM documents)
        |SELECT doc_id,
        |  CASE v WHEN 1 THEN 'windows-1252' WHEN 2 THEN 'shift_jis'
        |         WHEN 3 THEN 'windows-1252' ELSE 'utf-8' END AS charset,
        |  CAST(CASE v
        |    WHEN 1 THEN strlen(page) + 2
        |    WHEN 2 THEN strlen(page) + 2
        |    WHEN 3 THEN strlen('<html><head><meta charset="windows-1252"></head><body><p>')
        |                + 1 + strlen(text) + strlen('</p></body></html>')
        |    WHEN 4 THEN strlen(page) + 3
        |    ELSE strlen(page) END AS BIGINT) AS payload_len,
        |  CASE v
        |    WHEN 1 THEN '“' || page || '”'
        |    WHEN 2 THEN '日' || page
        |    WHEN 3 THEN '<html><head><meta charset="windows-1252"></head><body><p>“'
        |                || text || '</p></body></html>'
        |    ELSE page END AS body
        |FROM p ORDER BY doc_id""".stripMargin,
    // TRAINING replayed: the same 8 full-batch GD steps, unrolled as
    // CTEs — integer micro/nano fixed point, HUGEINT-exact gradient
    // sums, the sigmoid nano-rounded at once (the lmScore ln precedent),
    // the weight update through the identical IEEE double expression
    "q_text_classifier" -> {
      val steps = (1 to 8).map { k =>
        s"""p$k AS (SELECT f.*, CAST(round(1e9 / (1 + exp(-(CAST(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 AS DOUBLE) / 1e15)))) AS BIGINT) AS p
           |  FROM ft f, w${k - 1} w),
           |g$k AS (SELECT sum(x0*(y*1000000000 - p)) AS g0,
           |  sum(x1*(y*1000000000 - p)) AS g1,
           |  sum(x2*(y*1000000000 - p)) AS g2,
           |  sum(x3*(y*1000000000 - p)) AS g3,
           |  count(*) AS n FROM p$k),
           |w$k AS (SELECT CAST(w.w0 + floor(CAST(g.g0 AS DOUBLE) * 4.0 / g.n / 1e6) AS BIGINT) AS w0,
           |  CAST(w.w1 + floor(CAST(g.g1 AS DOUBLE) * 4.0 / g.n / 1e6) AS BIGINT) AS w1,
           |  CAST(w.w2 + floor(CAST(g.g2 AS DOUBLE) * 4.0 / g.n / 1e6) AS BIGINT) AS w2,
           |  CAST(w.w3 + floor(CAST(g.g3 AS DOUBLE) * 4.0 / g.n / 1e6) AS BIGINT) AS w3
           |  FROM w${k - 1} w, g$k g)""".stripMargin
      }.mkString(",\n")
      s"""WITH base AS (SELECT doc_id,
         |  text || (CASE WHEN doc_id % 2 = 0
         |    THEN ' the of and to in is it that for a the of and to in is it that for a'
         |    ELSE ' !!!! ???? ;;;; !!!! ???? ;;;; !!!!' END) AS text
         |  FROM documents),
         |tq AS (SELECT doc_id, text, $TOKS AS t, $LTOKS AS lt FROM base),
         |sg AS (SELECT doc_id,
         |  CAST(doc_id % 2 = 0 AS BIGINT) AS y,
         |  len(t) AS n_tokens,
         |  round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
         |  round(CAST(len(list_filter(lt, x -> x IN ($STOP_EN))) AS DOUBLE) / greatest(len(t), 1), 6) AS stopword_ratio
         |  FROM tq),
         |ft AS (SELECT doc_id, y,
         |  CAST(1000000 AS BIGINT) AS x0,
         |  CAST(round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 1e6) AS BIGINT) AS x1,
         |  CAST(round(least(stopword_ratio * 5.0, 1.0) * 1e6) AS BIGINT) AS x2,
         |  CAST(round(least(punct_ratio * 10.0, 1.0) * 1e6) AS BIGINT) AS x3 FROM sg),
         |w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
         |  CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
         |$steps
         |SELECT f.doc_id, f.y,
         |  CAST(round(1e9 / (1 + exp(-(CAST(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 AS DOUBLE) / 1e15)))) AS BIGINT) AS score_nano,
         |  (CAST(round(1e9 / (1 + exp(-(CAST(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3 AS DOUBLE) / 1e15)))) AS BIGINT) >= 500000000) AS pred
         |FROM ft f, w8 w ORDER BY doc_id""".stripMargin
    },
    // the bigram model replayed: same tokenizer, same add-one smoothing,
    // same nano-unit ln rounding (the drift-report precedent)
    "q_text_lmscore" ->
      s"""WITH rt AS (SELECT $TOKS AS t FROM documents WHERE lang = 'en'),
         |rb AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
         |       FROM rt WHERE len(t) >= 2),
         |big AS (SELECT bg, count(*) AS c2 FROM rb GROUP BY bg),
         |pfx AS (SELECT string_split(bg, ' ')[1] AS w1, count(*) AS c1 FROM rb GROUP BY 1),
         |vv AS (SELECT count(DISTINCT tok) + 1 AS v FROM (SELECT unnest(t) AS tok FROM rt)),
         |db AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg
         |       FROM (SELECT doc_id, $TOKS AS t FROM documents) WHERE len(t) >= 2),
         |sc AS (SELECT doc_id,
         |         CAST(round(-ln(CAST(coalesce(c2, 0) + 1 AS DOUBLE) /
         |           (coalesce(c1, 0) + (SELECT v FROM vv))) * 1e9) AS BIGINT) AS nll
         |       FROM db LEFT JOIN big USING (bg)
         |               LEFT JOIN pfx ON string_split(db.bg, ' ')[1] = pfx.w1)
         |SELECT doc_id, count(*) AS n_bigrams, CAST(sum(nll) AS BIGINT) AS nll_nano,
         |  round(CAST(sum(nll) AS DOUBLE) / 1e9 / count(*), 4) AS mean_nll
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_text_gopher" -> // rule flags compare UNROUNDED quotients of exact
      // integer counts (identical doubles in any engine); outputs rounded
      s"""WITH q AS (SELECT doc_id, text, $TOKS AS t, $LTOKS AS lt,
         |              string_split(text, chr(10)) AS ln FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(len(t) AS BIGINT) AS nw,
         |  greatest(CAST(len(t) AS DOUBLE), 1) AS den,
         |  CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) AS nchars,
         |  CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE) AS nhash,
         |  CAST((length(text) - length(replace(text, '...', ''))) / 3
         |       + (length(text) - length(replace(text, '…', ''))) AS DOUBLE) AS nell,
         |  CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) AS nalpha,
         |  CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
         |                       s -> list_contains(lt, s))) AS BIGINT) AS stop_hits,
         |  greatest(CAST(len(ln) AS DOUBLE), 1) AS nl,
         |  CAST(len(list_filter(ln, l -> starts_with(ltrim(l), '-')
         |       OR starts_with(ltrim(l), '*') OR starts_with(ltrim(l), '•'))) AS DOUBLE) AS nbull,
         |  CAST(len(list_filter(ln, l -> ends_with(rtrim(l), '...')
         |       OR ends_with(rtrim(l), '…'))) AS DOUBLE) AS nelll
         |FROM q)
         |SELECT doc_id, nw AS n_words,
         |  round(nchars / den, 4) AS mean_word_len,
         |  round(nhash / den, 6) AS hash_ratio,
         |  round(nell / den, 6) AS ellipsis_ratio,
         |  round(nalpha / den, 6) AS alpha_frac,
         |  stop_hits,
         |  round(nbull / nl, 6) AS bullet_frac,
         |  round(nelll / nl, 6) AS ellipsis_line_frac,
         |  (nw >= 50 AND nw <= 100000) AS r_word_count,
         |  (nchars / den >= 3 AND nchars / den <= 10) AS r_mean_word_len,
         |  (nhash / den <= 0.1) AS r_hash,
         |  (nell / den <= 0.1) AS r_ellipsis,
         |  (nalpha / den >= 0.8) AS r_alpha,
         |  (stop_hits >= 2) AS r_stop,
         |  (nbull / nl <= 0.9) AS r_bullet,
         |  (nelll / nl <= 0.3) AS r_ellipsis_lines,
         |  ((nw >= 50 AND nw <= 100000) AND (nchars / den >= 3 AND nchars / den <= 10)
         |   AND (nhash / den <= 0.1) AND (nell / den <= 0.1)
         |   AND (nalpha / den >= 0.8) AND (stop_hits >= 2)
         |   AND (nbull / nl <= 0.9) AND (nelll / nl <= 0.3)) AS keep
         |FROM m ORDER BY doc_id""".stripMargin,
    "q_text_langid" ->
      s"""WITH toks AS (SELECT doc_id, $LTOKS AS t FROM documents),
         |h AS (SELECT doc_id,
         |  len(list_filter(t, x -> x IN (${lex("en")}))) AS h_en,
         |  len(list_filter(t, x -> x IN (${lex("de")}))) AS h_de,
         |  len(list_filter(t, x -> x IN (${lex("fr")}))) AS h_fr,
         |  len(list_filter(t, x -> x IN (${lex("es")}))) AS h_es
         |FROM toks)
         |SELECT doc_id, CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'unk'
         |  ELSE (list_sort([{'h': h_en, 'l': 'en'}, {'h': h_de, 'l': 'de'},
         |                   {'h': h_fr, 'l': 'fr'}, {'h': h_es, 'l': 'es'}])[-1]).l
         |END AS lang FROM h ORDER BY doc_id""".stripMargin,
    // Cavnar–Trenkle replayed: identical trigram enumeration, identical
    // (count DESC, gram ASC) rank windows on both profile and doc sides,
    // the same out-of-place distance with the k=300 miss penalty, and
    // the same zero-overlap 'unk' fallback — all exact integers
    "q_text_langid_ngram" ->
      """WITH tr AS (SELECT doc_id, lang,
        |  lower(text || repeat(' x' || lang, 8)) AS s FROM documents),
        |tg AS (SELECT lang, unnest(list_transform(range(1, length(s) - 1),
        |         i -> substring(s, CAST(i AS INT), 3))) AS g FROM tr),
        |pc AS (SELECT lang, g, count(*) AS c FROM tg GROUP BY 1, 2),
        |pk AS (SELECT lang, g, pr FROM (
        |        SELECT lang, g, row_number() OVER (PARTITION BY lang ORDER BY c DESC, g) AS pr FROM pc)
        |       WHERE pr <= 300),
        |dgall AS (SELECT doc_id, unnest(list_transform(range(1, length(s) - 1),
        |            i -> substring(s, CAST(i AS INT), 3))) AS g FROM tr),
        |dc AS (SELECT doc_id, g, count(*) AS c FROM dgall GROUP BY 1, 2),
        |dk AS (SELECT doc_id, g, dr FROM (
        |        SELECT doc_id, g, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS dr FROM dc)
        |       WHERE dr <= 300),
        |kc AS (SELECT doc_id, count(*) AS kept FROM dk GROUP BY 1),
        |mt AS (SELECT dk.doc_id, pk.lang, sum(abs(dk.dr - pk.pr)) AS sum_abs,
        |         count(*) AS n_match
        |       FROM dk JOIN pk USING (g) GROUP BY 1, 2),
        |ds AS (SELECT mt.doc_id, mt.lang,
        |         CAST(mt.sum_abs + (kc.kept - mt.n_match) * 300 AS BIGINT) AS distance
        |       FROM mt JOIN kc ON mt.doc_id = kc.doc_id),
        |bs AS (SELECT doc_id, lang, distance,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY distance, lang) AS rn FROM ds)
        |SELECT d.doc_id, coalesce(b.lang, 'unk') AS lang_pred,
        |       CAST(coalesce(b.distance, -1) AS BIGINT) AS distance
        |FROM documents d LEFT JOIN (SELECT * FROM bs WHERE rn = 1) b ON d.doc_id = b.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // same rank-profile replay as q_text_langid_ngram, but trained on
    // the shipped resource samples (VALUES generated from the identical
    // loaded resource — the htmlStripStages generated-oracle pattern)
    "q_text_langid_default" -> {
      val vals = TextOps.defaultLangSamples.map { case (l, t) =>
        s"('$l', '${t.replace("'", "''")}')"
      }.mkString(",\n  ")
      s"""WITH smp(lang, s) AS (VALUES
         |  $vals),
         |tr AS (SELECT lang, lower(s) AS s FROM smp),
         |tg AS (SELECT lang, unnest(list_transform(range(1, length(s) - 1),
         |         i -> substring(s, CAST(i AS INT), 3))) AS g FROM tr),
         |pc AS (SELECT lang, g, count(*) AS c FROM tg GROUP BY 1, 2),
         |pk AS (SELECT lang, g, pr FROM (
         |        SELECT lang, g, row_number() OVER (PARTITION BY lang ORDER BY c DESC, g) AS pr FROM pc)
         |       WHERE pr <= 300),
         |pd AS (SELECT d.doc_id, lower(d.text || ' ' || substring(smp.s, 1, 120)) AS s
         |       FROM documents d JOIN smp ON smp.lang = d.lang),
         |dgall AS (SELECT doc_id, unnest(list_transform(range(1, length(s) - 1),
         |            i -> substring(s, CAST(i AS INT), 3))) AS g FROM pd),
         |dc AS (SELECT doc_id, g, count(*) AS c FROM dgall GROUP BY 1, 2),
         |dk AS (SELECT doc_id, g, dr FROM (
         |        SELECT doc_id, g, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS dr FROM dc)
         |       WHERE dr <= 300),
         |kc AS (SELECT doc_id, count(*) AS kept FROM dk GROUP BY 1),
         |mt AS (SELECT dk.doc_id, pk.lang, sum(abs(dk.dr - pk.pr)) AS sum_abs,
         |         count(*) AS n_match
         |       FROM dk JOIN pk USING (g) GROUP BY 1, 2),
         |ds AS (SELECT mt.doc_id, mt.lang,
         |         CAST(mt.sum_abs + (kc.kept - mt.n_match) * 300 AS BIGINT) AS distance
         |       FROM mt JOIN kc ON mt.doc_id = kc.doc_id),
         |bs AS (SELECT doc_id, lang, distance,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY distance, lang) AS rn FROM ds)
         |SELECT d.doc_id, coalesce(b.lang, 'unk') AS lang_pred,
         |       CAST(coalesce(b.distance, -1) AS BIGINT) AS distance
         |FROM documents d LEFT JOIN (SELECT * FROM bs WHERE rn = 1) b ON d.doc_id = b.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    "q_text_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_winnow_mirror" -> winnowMirrorSql,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "q_dedup_stats" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
        |  round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*), 6) AS dup_rate
        |FROM documents""".stripMargin,
    "q_dedup_ngram" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |sh AS (SELECT doc_id, $SHINGLES AS s FROM toks),
         |ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS shingle FROM sh),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c,
         |                 any_value(a.n) AS na, any_value(b.n) AS nb
         |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT id_a, id_b, jaccard FROM (
         |  SELECT id_a, id_b, round(CAST(c AS DOUBLE) / (na + nb - c), 6) AS jaccard FROM pairs) j
         |WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin,
    // decontamination: DuckDB rebuilds the word 5-grams as strings; the
    // Spark side joins 64-bit gram hashes — identical sets barring a
    // birthday-bound collision (~2⁻²⁵ at this corpus), same argument as
    // q_dedup_ngram. Eval set = doc_id % 10 == 0.
    "q_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |  generate_series(1, greatest(len(t) - 4, 0)),
         |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS s
         |  FROM toks),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |ev AS (SELECT doc_id AS eval_id, g FROM ex WHERE doc_id % 10 = 0),
         |tr AS (SELECT doc_id, g FROM ex WHERE doc_id % 10 <> 0)
         |SELECT tr.doc_id AS doc_id,
         |  CAST(count(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs,
         |  CAST(count(DISTINCT tr.g) AS BIGINT) AS n_shared_grams
         |FROM tr JOIN ev ON tr.g = ev.g
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // bloom-tier decontamination: the oracle is the EXACT anti-join —
    // valid because the 2^20-bit table realizes zero false positives on
    // the frozen corpus (subset semantics pinned separately in DedupSpec;
    // a false positive here would fail rows_match and flag the config)
    "q_decontaminate_bloom" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |sh AS (SELECT doc_id, list_distinct(list_transform(
         |  generate_series(1, greatest(len(t) - 4, 0)),
         |  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS s
         |  FROM toks),
         |ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
         |ev AS (SELECT DISTINCT g FROM ex WHERE doc_id % 10 = 0),
         |bad AS (SELECT DISTINCT ex.doc_id FROM ex JOIN ev USING (g) WHERE ex.doc_id % 10 <> 0)
         |SELECT d.doc_id, d.source FROM documents d
         |WHERE d.doc_id % 10 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM bad)
         |ORDER BY d.doc_id""".stripMargin,
    // hash-gated sampling: the gate (substr(md5(id),1,2) < threshold-hex)
    // is the same text on both engines — md5 of the decimal string is
    // engine-independent, lexicographic compare on lowercase hex is
    // numeric compare
    "q_sample_hash" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '40'
        |ORDER BY doc_id""".stripMargin,
    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM documents) WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin,
    "q_sample_mixture" ->
      """WITH k AS (SELECT source,
        |  CASE source WHEN 'src0' THEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < 'c0'
        |              WHEN 'src1' THEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < '80'
        |              WHEN 'src2' THEN substr(md5(CAST(doc_id AS VARCHAR)),1,2) < '40'
        |              ELSE substr(md5(CAST(doc_id AS VARCHAR)),1,2) < '20' END AS kept
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |  round(CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS rate
        |FROM k GROUP BY source ORDER BY source""".stripMargin,
    "q_sample_budget" ->
      s"""WITH t AS (SELECT source, doc_id, CAST(len($TOKS) AS BIGINT) AS n_tokens,
         |             md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         |s AS (SELECT source, count(*) AS src_docs,
         |        CAST(sum(n_tokens) AS BIGINT) AS src_tokens FROM t GROUP BY source),
         |b AS (SELECT source, src_docs, src_tokens,
         |        CAST(round(sqrt(CAST(src_tokens AS DOUBLE)) * 1000000) AS BIGINT) AS wq
         |      FROM s),
         |b2 AS (SELECT source, src_docs, src_tokens,
         |        CAST((20000 * wq) // (SELECT sum(wq) FROM b) AS BIGINT) AS budget_tokens
         |       FROM b),
         |r AS (SELECT source, doc_id, n_tokens,
         |        CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t),
         |k AS (SELECT r.source, count(*) AS kept_docs,
         |        CAST(sum(r.n_tokens) AS BIGINT) AS kept_tokens
         |      FROM r JOIN b2 ON r.source = b2.source
         |      WHERE r.cum <= b2.budget_tokens GROUP BY r.source)
         |SELECT b2.source, src_docs, src_tokens, budget_tokens,
         |  CAST(coalesce(kept_docs, 0) AS BIGINT) AS kept_docs,
         |  CAST(coalesce(kept_tokens, 0) AS BIGINT) AS kept_tokens
         |FROM b2 LEFT JOIN k ON b2.source = k.source ORDER BY b2.source""".stripMargin,
    // int8 quantization summary: double products are computed identically
    // on both engines (same cast chain), round() is half-away-from-zero in
    // both, so the summary hashes match exactly
    "q_vec_quantize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |m AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS mx FROM v),
        |s AS (SELECT vec_id, e, CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END AS scale FROM m)
        |SELECT vec_id, round(scale, 6) AS qscale,
        |  CAST(list_sum(list_transform(e, x -> abs(round(x * scale)))) AS BIGINT) AS q_l1
        |FROM s ORDER BY vec_id""".stripMargin,
    "q_tpch_shipping" ->
      """SELECT l_orderkey,
        |  CAST(epoch_ms(o_orderdate) AS BIGINT) AS o_date_ms,
        |  o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-06-01'
        |  AND l_shipdate > TIMESTAMP '1995-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,
    "q_tpch_promo" ->
      """WITH f AS (SELECT l_extendedprice * (1 - l_discount) AS disc, p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-01-01'),
        |s AS (SELECT
        |  round(sum(CASE WHEN p_type = 'PROMO' THEN disc ELSE 0.0 END), 2) AS promo_rev,
        |  round(sum(disc), 2) AS total_rev FROM f)
        |SELECT promo_rev, total_rev,
        |  round(promo_rev * 100.0 / total_rev, 6) AS promo_pct FROM s""".stripMargin,
    // revenue in integer cents (sum of per-row round(x*100), rendered as
    // dollars): integer addition is order-independent, so the hash can't
    // flip on a .xx5 rounding boundary the way round(sum(double),2) does
    // under engine-dependent summation order
    "q_tpch_regional" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100 AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin,
    "q_tpch_returns" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100 AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON l_orderkey = o_orderkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,
    "q_tpch_bigorders" ->
      """WITH big AS (SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING round(sum(l_quantity), 2) > 300)
        |SELECT c_custkey, c_name, o_orderkey,
        |  CAST(epoch_ms(o_orderdate) AS BIGINT) AS o_date_ms,
        |  o_totalprice, total_qty
        |FROM big JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey ASC LIMIT 20""".stripMargin,
    // asymmetric containment: overlap / smaller-set size, pair ordered
    // smaller-first (ties by id); integer overlap threshold
    "q_dedup_containment" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |sh AS (SELECT doc_id, $SHINGLES AS s FROM toks),
         |ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS shingle FROM sh),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c,
         |                 any_value(a.n) AS na
         |          FROM ex a JOIN ex b ON a.shingle = b.shingle
         |            AND (a.n < b.n OR (a.n = b.n AND a.doc_id < b.doc_id))
         |          GROUP BY 1, 2)
         |SELECT id_a, id_b, round(CAST(c AS DOUBLE) / na, 6) AS containment
         |FROM pairs WHERE c >= ceil(na * 0.8) ORDER BY id_a, id_b""".stripMargin,
    // first-occurrence paragraph keep under the same (doc_id, pidx) total
    // order; partitioning by the paragraph VALUE equals the engine's
    // 16-byte-hash partitioning (same groups, cheaper Spark shuffle);
    // empty paragraphs are structure and always kept (the engine routes
    // them around the window — same result, no skewed partition)
    "q_dedup_paragraphs" ->
      """WITH p AS (SELECT doc_id,
        |    'subscribe to our newsletter' || chr(10) || text ||
        |    (CASE WHEN doc_id % 3 = 0 THEN chr(10) ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'all rights reserved' ELSE '' END) ||
        |    chr(10) || 'unique tail ' || CAST(doc_id AS VARCHAR) AS t
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS para,
        |             unnest(range(len(string_split(t, chr(10))))) AS pidx FROM p),
        |k AS (SELECT *, row_number() OVER (PARTITION BY para ORDER BY doc_id, pidx) AS rn FROM e)
        |SELECT doc_id, string_agg(para, chr(10) ORDER BY pidx) AS text,
        |       count(*) AS n_paras_kept
        |FROM k WHERE rn = 1 OR para = '' GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // anti-join by paragraph VALUE equals the engine's md5-hash store
    // lookup (same membership); the batch then replays the one-shot
    // first-occurrence rule restricted to itself; blanks bypass both
    "q_dedup_paragraphs_incremental" ->
      """WITH p AS (SELECT doc_id,
        |    'subscribe to our newsletter' || chr(10) || text ||
        |    (CASE WHEN doc_id % 3 = 1 THEN chr(10) ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'all rights reserved' ELSE '' END) ||
        |    chr(10) || 'unique tail ' || CAST(doc_id AS VARCHAR) AS t
        |  FROM documents),
        |e AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS para,
        |             unnest(range(len(string_split(t, chr(10))))) AS pidx FROM p),
        |seen AS (SELECT DISTINCT para FROM e WHERE doc_id % 3 = 0 AND para <> ''),
        |batch AS (SELECT * FROM e WHERE doc_id % 3 <> 0),
        |k AS (SELECT *, row_number() OVER (PARTITION BY para ORDER BY doc_id, pidx) AS rn
        |      FROM batch WHERE para <> '' AND para NOT IN (SELECT para FROM seen))
        |SELECT doc_id, string_agg(para, chr(10) ORDER BY pidx) AS text,
        |       count(*) AS n_paras_kept
        |FROM (SELECT doc_id, pidx, para FROM k WHERE rn = 1
        |      UNION ALL SELECT doc_id, pidx, para FROM batch WHERE para = '')
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // connected components of the verified pair graph via transitive
    // closure (recursive CTE; UNION dedups → termination). Tiny at oracle
    // scale; the Spark side is the iterative min-label-propagation loop.
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |sh AS (SELECT doc_id, $SHINGLES AS s FROM toks),
         |ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS shingle FROM sh),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c,
         |                 any_value(a.n) AS na, any_value(b.n) AS nb
         |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |good AS (SELECT id_a, id_b FROM (
         |  SELECT id_a, id_b, round(CAST(c AS DOUBLE) / (na + nb - c), 6) AS jaccard FROM pairs) j
         |  WHERE jaccard >= 0.6),
         |edges AS (SELECT id_a AS a, id_b AS b FROM good
         |          UNION SELECT id_b, id_a FROM good),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach(src, cur) AS (SELECT id, id FROM nodes
         |  UNION SELECT r.src, e.b FROM reach r JOIN edges e ON r.cur = e.a)
         |SELECT src AS doc_id, min(cur) AS keep_id FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    // clusters as above + the q_text_score arithmetic + per-cluster argmax
    "q_dedup_keepers" ->
      s"""WITH RECURSIVE toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |sh AS (SELECT doc_id, $SHINGLES AS s FROM toks),
         |ex AS (SELECT doc_id, len(s) AS n, unnest(s) AS shingle FROM sh),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c,
         |                 any_value(a.n) AS na, any_value(b.n) AS nb
         |          FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2),
         |good AS (SELECT id_a, id_b FROM (
         |  SELECT id_a, id_b, round(CAST(c AS DOUBLE) / (na + nb - c), 6) AS jaccard FROM pairs) jp
         |  WHERE jaccard >= 0.6),
         |edges AS (SELECT id_a AS a, id_b AS b FROM good
         |          UNION SELECT id_b, id_a FROM good),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach(src, cur) AS (SELECT id, id FROM nodes
         |  UNION SELECT r.src, e.b FROM reach r JOIN edges e ON r.cur = e.a),
         |comp AS (SELECT src AS doc_id, min(cur) AS cluster_id FROM reach GROUP BY src),
         |q AS (SELECT doc_id, text, $TOKS AS t, $LTOKS AS lt FROM documents),
         |sc AS (SELECT doc_id, round(
         |  least(CAST(len(t) AS DOUBLE) / 100.0, 1.0) * 0.4 +
         |  least(round(CAST(len(list_filter(lt, x -> x IN ($STOP_EN))) AS DOUBLE) / greatest(len(t), 1), 6) * 5.0, 1.0) * 0.4 +
         |  (1.0 - least(round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) * 10.0, 1.0)) * 0.2, 6) AS quality
         |FROM q),
         |j AS (SELECT c.doc_id, c.cluster_id, s.quality
         |      FROM comp c JOIN sc s ON c.doc_id = s.doc_id),
         |best AS (SELECT cluster_id, doc_id AS keeper_id FROM (
         |  SELECT cluster_id, doc_id, row_number() OVER (
         |    PARTITION BY cluster_id ORDER BY quality DESC, doc_id ASC) AS rk FROM j) t
         |  WHERE rk = 1)
         |SELECT j.doc_id, j.cluster_id, b.keeper_id, j.quality
         |FROM j JOIN best b ON j.cluster_id = b.cluster_id
         |ORDER BY j.doc_id""".stripMargin,
    // curation pipeline: same score arithmetic as q_text_score, then
    // min-id-per-md5 keep list, then the q_sample_hash gate at 128/256
    "q_pipeline_curate" ->
      s"""WITH q AS (SELECT doc_id, lang, text, $TOKS AS t, $LTOKS AS lt FROM documents),
         |r AS (SELECT doc_id, lang, text, len(t) AS n_tokens,
         |  round(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / greatest(length(text), 1), 6) AS punct_ratio,
         |  round(CAST(len(list_filter(lt, x -> x IN ($STOP_EN))) AS DOUBLE) / greatest(len(t), 1), 6) AS stopword_ratio
         |FROM q),
         |s AS (SELECT doc_id, lang, text, n_tokens, round(
         |  least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4 +
         |  least(stopword_ratio * 5.0, 1.0) * 0.4 +
         |  (1.0 - least(punct_ratio * 10.0, 1.0)) * 0.2, 6) AS quality FROM r),
         |f AS (SELECT * FROM s WHERE quality >= 0.5),
         |k AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(text)),
         |g AS (SELECT f.* FROM f JOIN k USING (doc_id)
         |      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80')
         |SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(CAST(round(quality * 1000000) AS BIGINT)) AS DOUBLE)
         |        / (count(*) * 1000000.0), 4) AS mean_quality
         |FROM g GROUP BY lang ORDER BY lang""".stripMargin,
    // chunking: starts 1, 1+step, … (1-based in DuckDB); chunk_id =
    // (start-1)/step exactly; list_slice end is inclusive
    "q_text_chunks" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |nz AS (SELECT * FROM toks WHERE len(t) > 0),
         |st AS (SELECT doc_id, t, unnest(generate_series(1, len(t), 24)) AS start FROM nz),
         |c AS (SELECT doc_id, CAST((start - 1) // 24 AS BIGINT) AS chunk_id,
         |      list_slice(t, start, start + 31) AS ck FROM st)
         |SELECT doc_id, chunk_id, CAST(len(ck) AS BIGINT) AS n_tokens,
         |  array_to_string(ck, ' ') AS chunk
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // same chunking CTE as q_text_chunks, then the identical contiguous
    // greedy pack arithmetic over the same (doc_id, chunk_id) order
    "q_text_pack" ->
      s"""WITH toks AS (SELECT doc_id, $TOKS AS t FROM documents),
         |nz AS (SELECT * FROM toks WHERE len(t) > 0),
         |st AS (SELECT doc_id, t, unnest(generate_series(1, len(t), 24)) AS start FROM nz),
         |c AS (SELECT doc_id, CAST((start - 1) // 24 AS BIGINT) AS chunk_id,
         |      CAST(len(list_slice(t, start, start + 31)) AS BIGINT) AS n_tokens FROM st),
         |p AS (SELECT n_tokens,
         |  sum(n_tokens) OVER (ORDER BY doc_id ASC, chunk_id ASC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM c)
         |SELECT CAST((cum - n_tokens) // 256 AS BIGINT) AS pack_id,
         |  count(*) AS n_chunks, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_len_histogram" ->
      s"""WITH t AS (SELECT len($TOKS) AS n_tokens FROM documents)
         |SELECT CAST(length(CAST(n_tokens AS VARCHAR)) AS BIGINT) AS magnitude,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(min(n_tokens) AS BIGINT) AS min_tokens,
         |  CAST(max(n_tokens) AS BIGINT) AS max_tokens
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_sim_filtered" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |f AS (SELECT v.* FROM v JOIN (SELECT doc_id FROM documents WHERE lang = 'en') d
         |      ON v.vec_id = d.doc_id),
         |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id IN ($QIDS_SQL)),
         |s AS (SELECT qid, f.vec_id, $COS AS cos FROM q, f WHERE f.vec_id <> qid),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn FROM s)
         |SELECT qid, vec_id, cos, rn FROM r WHERE rn <= 10 ORDER BY qid, rn""".stripMargin,
    "q_sim_topk" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id IN ($QIDS_SQL)),
         |s AS (SELECT qid, vec_id, $COS AS cos FROM q, v WHERE vec_id <> qid),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn FROM s)
         |SELECT qid, vec_id, cos, rn FROM r WHERE rn <= 10 ORDER BY qid, rn""".stripMargin,
    "q_sim_neardup" ->
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cos
         |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos FROM s WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin,
    "q_sim_clusters" ->
      s"""WITH RECURSIVE v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(list_dot_product(a.e, b.e) / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cos
         |  FROM v a JOIN v b ON a.vec_id < b.vec_id),
         |good AS (SELECT id_a, id_b FROM s WHERE cos >= 0.4),
         |edges AS (SELECT id_a AS a, id_b AS b FROM good
         |          UNION SELECT id_b, id_a FROM good),
         |nodes AS (SELECT DISTINCT a AS id FROM edges),
         |reach(src, cur) AS (SELECT id, id FROM nodes
         |  UNION SELECT r.src, e.b FROM reach r JOIN edges e ON r.cur = e.a)
         |SELECT src AS vec_id, min(cur) AS keep_id FROM reach GROUP BY src ORDER BY vec_id""".stripMargin,
    "q_sim_ivf" ->
      s"""WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |q AS (SELECT vec_id AS qid, label, e AS qe FROM v WHERE vec_id IN ($QIDS_SQL)),
         |s AS (SELECT qid, v.vec_id, $COS AS cos FROM q JOIN v USING (label) WHERE v.vec_id <> qid),
         |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rn FROM s)
         |SELECT qid, vec_id, cos, rn FROM r WHERE rn <= 10 ORDER BY qid, rn""".stripMargin,
    "q_multimodal_bytes" ->
      """SELECT doc_id AS media_id,
        |  (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INT)] AS kind,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY media_id""".stripMargin,
    // mirrors the synthetic-header arithmetic: the Spark side assembles
    // REAL PNG/JPEG/GIF structures from these same id-derived values and
    // re-parses them with HeaderDecoder (incl. a GIF data-stream block
    // walk for frame counts), so a hash match proves the byte-level
    // round trip; sizes: png 33, jpeg 39, gif 14 + 14·frames
    "q_multimodal_features" ->
      """SELECT doc_id AS media_id,
        |  (['png','jpeg','gif'])[CAST(doc_id % 3 + 1 AS INT)] AS format,
        |  CAST(octet_length(encode(text)) +
        |    CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 39
        |      ELSE 14 + 14 * (doc_id % 8 + 1) END AS BIGINT) AS n_bytes,
        |  CAST(16 + doc_id % 1000 AS BIGINT) AS width,
        |  CAST(16 + (doc_id // 1000) % 1000 AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 8 + 1 ELSE 1 END AS BIGINT) AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin,
    // aspect-preserving fit into 224x224, never upscaled, floors at 1px;
    // scale/out dims re-derived from the synthetic-media id arithmetic.
    // round(scale,6) agrees with the kernel's rint(x*1e6)/1e6: a binary
    // double times 1e6 never lands exactly on n+0.5
    "q_multimodal_resize" ->
      """WITH m AS (SELECT doc_id AS media_id,
        |  (['png','jpeg','gif'])[CAST(doc_id % 3 + 1 AS INT)] AS format,
        |  CAST(16 + doc_id % 1000 AS BIGINT) AS width,
        |  CAST(16 + (doc_id // 1000) % 1000 AS BIGINT) AS height,
        |  CAST(CASE WHEN doc_id % 3 = 2 THEN doc_id % 8 + 1 ELSE 1 END AS BIGINT) AS n_frames
        |  FROM documents),
        |s AS (SELECT *, least(224.0 / width, 224.0 / height, 1.0) AS sc FROM m)
        |SELECT media_id, format, width, height,
        |  greatest(CAST(floor(width * sc) AS BIGINT), 1) AS out_w,
        |  greatest(CAST(floor(height * sc) AS BIGINT), 1) AS out_h,
        |  round(sc, 6) AS scale,
        |  greatest(CAST(floor(width * sc) AS BIGINT), 1) *
        |    greatest(CAST(floor(height * sc) AS BIGINT), 1) * 3 * n_frames AS out_bytes
        |FROM s ORDER BY media_id""".stripMargin,
    // the pixel tier: recompute the decoded-and-resampled checksum from
    // the same id arithmetic syntheticPixelMedia bakes into the payload
    // bytes. gif lane: k=(id%8)+1 frames, frame j carries palette entry
    // j%4 (R=(id+17i)%256, G=(2id+29i)%256, B=(3id+43i)%256), 1x1 frames
    // resample to 1x1. raw lane: w=2+id%7, h=2+(id//7)%5 image fit into
    // 4x4 (same least/floor double arithmetic as the kernel), pixel
    // (x,y,c) = (7id+13x+29y+31c)%256, NN source index = out*src//out
    // integer math — identical on both engines. checksum = sum of
    // byte*(1 + pos%97), pos frame-major, same order both sides.
    "q_multimodal_pixels" ->
      """WITH gif AS (
        |  SELECT doc_id AS media_id, doc_id % 8 + 1 AS n_frames
        |  FROM documents WHERE doc_id % 3 = 0),
        |gifj AS (
        |  SELECT media_id, n_frames,
        |    unnest(generate_series(0, CAST(n_frames - 1 AS BIGINT))) AS j
        |  FROM gif),
        |gifpx AS (
        |  SELECT g.media_id,
        |    SUM((CASE ch.c
        |      WHEN 0 THEN (g.media_id + 17 * (g.j % 4)) % 256
        |      WHEN 1 THEN (2 * g.media_id + 29 * (g.j % 4)) % 256
        |      ELSE (3 * g.media_id + 43 * (g.j % 4)) % 256 END)
        |      * (1 + (3 * g.j + ch.c) % 97)) AS pix_sum
        |  FROM gifj g, (VALUES (0), (1), (2)) ch(c)
        |  GROUP BY g.media_id),
        |gifrows AS (
        |  SELECT g.media_id, 'gif' AS format,
        |    CAST(1 AS BIGINT) AS width, CAST(1 AS BIGINT) AS height,
        |    CAST(1 AS BIGINT) AS out_w, CAST(1 AS BIGINT) AS out_h,
        |    CAST(g.n_frames AS BIGINT) AS n_frames,
        |    CAST(3 * g.n_frames AS BIGINT) AS out_bytes,
        |    CAST(p.pix_sum AS BIGINT) AS pix_sum
        |  FROM gif g JOIN gifpx p USING (media_id)),
        |flat AS ( -- raw and png lanes share dims + the pixel formula;
        |          -- only the container (and so the kernel code path) differs
        |  SELECT doc_id AS media_id,
        |    CASE WHEN doc_id % 3 = 1 THEN 'raw' ELSE 'png' END AS format,
        |    2 + doc_id % 7 AS w, 2 + (doc_id // 7) % 5 AS h
        |  FROM documents WHERE doc_id % 3 IN (1, 2)),
        |flatfit AS (
        |  SELECT media_id, format, w, h,
        |    greatest(CAST(floor(w * least(4.0 / w, 4.0 / h, 1.0)) AS BIGINT), 1) AS ow,
        |    greatest(CAST(floor(h * least(4.0 / w, 4.0 / h, 1.0)) AS BIGINT), 1) AS oh
        |  FROM flat),
        |flatyx AS (
        |  SELECT media_id, w, h, ow, oh,
        |    unnest(generate_series(0, CAST(oh * ow - 1 AS BIGINT))) AS p
        |  FROM flatfit),
        |flatpx AS (
        |  SELECT r.media_id,
        |    SUM(((7 * r.media_id + 13 * (((r.p % r.ow) * r.w) // r.ow)
        |        + 29 * (((r.p // r.ow) * r.h) // r.oh) + 31 * ch.c) % 256)
        |      * (1 + (r.p * 3 + ch.c) % 97)) AS pix_sum
        |  FROM flatyx r, (VALUES (0), (1), (2)) ch(c)
        |  GROUP BY r.media_id),
        |flatrows AS (
        |  SELECT r.media_id, r.format,
        |    CAST(r.w AS BIGINT) AS width, CAST(r.h AS BIGINT) AS height,
        |    r.ow AS out_w, r.oh AS out_h, CAST(1 AS BIGINT) AS n_frames,
        |    r.ow * r.oh * 3 AS out_bytes, CAST(p.pix_sum AS BIGINT) AS pix_sum
        |  FROM flatfit r JOIN flatpx p USING (media_id))
        |SELECT * FROM gifrows UNION ALL SELECT * FROM flatrows
        |ORDER BY media_id""".stripMargin,
    // the baseline-JPEG lane: every block is DC-only, so decoded pixel =
    // 128 + (even block j: 8 + (7id+13j)%8, odd: 0) exactly (q0=8 makes
    // DC*q0/8 integral; Cb=Cr=128 collapses the color matrix to R=G=B=Y).
    // Resample into 12x12 with the same least/floor fit and integer NN
    // index math as the kernel; checksum Σ byte*(1+pos%97), pos
    // frame-major — identical on both engines.
    "q_multimodal_jpeg" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    1 + doc_id % 3 AS bw, 8 * (1 + doc_id % 3) AS w,
        |    8 * (1 + (doc_id // 3) % 3) AS h
        |  FROM documents),
        |f AS (
        |  SELECT media_id, bw, w, h,
        |    greatest(CAST(floor(w * least(12.0 / w, 12.0 / h, 1.0)) AS BIGINT), 1) AS ow,
        |    greatest(CAST(floor(h * least(12.0 / w, 12.0 / h, 1.0)) AS BIGINT), 1) AS oh
        |  FROM m),
        |yx AS (
        |  SELECT media_id, bw, w, h, ow, oh,
        |    unnest(generate_series(0, CAST(ow * oh - 1 AS BIGINT))) AS p
        |  FROM f),
        |blk AS (
        |  SELECT media_id, ow, oh, p,
        |    ((((p // ow) * h) // oh) // 8) * bw + (((p % ow) * w) // ow) // 8 AS b
        |  FROM yx),
        |px AS (
        |  SELECT r.media_id,
        |    SUM((128 + CASE WHEN r.b % 2 = 0
        |          THEN 8 + (7 * r.media_id + 13 * r.b) % 8 ELSE 0 END)
        |      * (1 + (3 * r.p + ch.c) % 97)) AS pix_sum
        |  FROM blk r, (VALUES (0), (1), (2)) ch(c)
        |  GROUP BY r.media_id)
        |SELECT f.media_id, 'jpeg' AS format,
        |  CAST(f.w AS BIGINT) AS width, CAST(f.h AS BIGINT) AS height,
        |  f.ow AS out_w, f.oh AS out_h, CAST(1 AS BIGINT) AS n_frames,
        |  f.ow * f.oh * 3 AS out_bytes, CAST(p.pix_sum AS BIGINT) AS pix_sum
        |FROM f JOIN px p USING (media_id) ORDER BY media_id""".stripMargin,
    "q_multimodal_audio" ->
      """WITH p AS (
        |  SELECT doc_id, 1 + doc_id % 2 AS c, 8000 * (1 + doc_id % 3) AS r,
        |    16 + doc_id % 64 AS f, octet_length(encode(text)) AS tb
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, c, r, f, tb,
        |    list_transform(range(0, CAST(f * c AS BIGINT)), k ->
        |      CASE WHEN (doc_id * 31 + k * 17) % 65536 >= 32768
        |           THEN (doc_id * 31 + k * 17) % 65536 - 65536
        |           ELSE (doc_id * 31 + k * 17) % 65536 END) AS v
        |  FROM p)
        |SELECT doc_id AS media_id,
        |  CAST(44 + 2 * f * c + tb AS BIGINT) AS n_bytes,
        |  CAST(c AS BIGINT) AS channels,
        |  CAST(r AS BIGINT) AS sample_rate,
        |  CAST(f AS BIGINT) AS n_frames,
        |  CAST((f * 1000000) // r AS BIGINT) AS duration_us,
        |  CAST(list_max(list_transform(v, x -> abs(x))) AS BIGINT) AS peak_abs,
        |  CAST(list_sum(list_transform(v, x -> abs(x))) AS BIGINT) AS sum_abs,
        |  CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS sum_sq,
        |  CAST(len(list_filter(v, x -> abs(x) >= 32767)) AS BIGINT) AS clipped
        |FROM s ORDER BY media_id""".stripMargin,
    // the video fixture's id arithmetic replayed directly; the walker's
    // box-tree work cancels by construction (90kHz ticks → µs is
    // dur_ms·90·1e6/9e4 = dur_ms·1000 on both sides, integer-exact)
    "q_video_meta" ->
      """SELECT doc_id AS media_id, 'isom' AS brand,
        |  CAST((5000 + doc_id % 20 * 1000) * 1000 AS BIGINT) AS movie_duration_us,
        |  CAST(1 AS BIGINT) AS track_id, 'vide' AS handler, 'avc1' AS codec,
        |  CAST(320 + doc_id % 8 * 16 AS BIGINT) AS width,
        |  CAST(240 + doc_id % 6 * 16 AS BIGINT) AS height,
        |  'und' AS lang,
        |  CAST(24 + doc_id % 48 AS BIGINT) AS n_samples,
        |  CAST((24 + doc_id % 48 + 11) // 12 AS BIGINT) AS n_keyframes,
        |  CAST((5000 + doc_id % 20 * 1000) * 1000 AS BIGINT) AS duration_us
        |FROM documents ORDER BY media_id""".stripMargin,
    // stride-2 over the every-12th-sample sync table: kept positions are
    // the even ones, sample numbers 24k+1
    "q_video_frames" ->
      """WITH k AS (SELECT doc_id,
        |    (24 + doc_id % 48 + 11) // 12 AS nkey FROM documents),
        |e AS (SELECT doc_id,
        |    unnest(generate_series(0, CAST(nkey - 1 AS BIGINT))) AS pos FROM k)
        |SELECT doc_id AS media_id, CAST(1 AS BIGINT) AS track_id,
        |  CAST(pos // 2 AS BIGINT) AS k_idx,
        |  CAST(pos * 12 + 1 AS BIGINT) AS sample_no
        |FROM e WHERE pos % 2 = 0 ORDER BY media_id, k_idx""".stripMargin,
    "q_tpch_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_top_customers" ->
      """SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 10""".stripMargin,
    "q_sessionize" -> sessionizeSql,
    // identical semantics to q_sessionize — the hotkey variant must
    // reproduce the window formulation bit-for-bit
    "q_sessionize_hotkey" -> sessionizeSql,
    // the streaming path rolls session windows up to this exact shape —
    // one oracle, three execution strategies (window, two-pass, stream)
    "q_stream_sessions" -> sessionizeSql,
    "q_distinct_users" ->
      """SELECT event_type AS series, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY series""".stripMargin,
    "q_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |v AS (SELECT user_id, min(ts_us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(ts_us) AS t2 FROM e JOIN v USING (user_id)
        |      WHERE event_type = 'click' AND ts_us > t1 GROUP BY 1),
        |p AS (SELECT e.user_id, min(ts_us) AS t3 FROM e JOIN c USING (user_id)
        |      WHERE event_type = 'purchase' AND ts_us > t2 GROUP BY 1)
        |SELECT '1_view' AS stage, count(*) AS n_users FROM v
        |UNION ALL SELECT '2_click', count(*) FROM c
        |UNION ALL SELECT '3_purchase', count(*) FROM p
        |ORDER BY stage""".stripMargin,
    "q_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        |f AS (SELECT user_id, min(ts_us) // 604800000000 AS w0 FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT e.user_id, ts_us // 604800000000 - w0 AS weeks_since
        |      FROM e JOIN f USING (user_id))
        |SELECT weeks_since, count(*) AS n_users FROM a
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_agg_cube" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM documents GROUP BY CUBE (lang, source)
        |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin,
    "q_asof_join" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value FROM events),
        |c AS (SELECT user_id, ts_us, event_id, value FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts_us, max(value) AS value FROM e WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.user_id, c.ts_us, c.event_id, c.value,
        |       p.value AS value_asof, p.ts_us AS ts_us_asof
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
        |ORDER BY c.event_id""".stripMargin,
    "q_range_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events),
        |iv AS (SELECT user_id, min(ts_us) AS start_us, min(ts_us) + 172800000000 AS end_us
        |       FROM e GROUP BY user_id)
        |SELECT e.event_id, e.user_id
        |FROM e JOIN iv ON e.user_id = iv.user_id
        |               AND e.ts_us BETWEEN iv.start_us AND iv.end_us
        |ORDER BY e.event_id""".stripMargin
  )
}
