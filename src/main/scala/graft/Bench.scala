package graft

import org.apache.spark.sql.SparkSession
import java.util.concurrent.{ConcurrentHashMap, Executors}
import scala.jdk.CollectionConverters._

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Built to survive an external timeout (round 1 died rc=124 with no
  * output — sbt launch + compile + serial warmup overran the window):
  *   - the warmup pass runs on a thread pool (Spark interleaves the jobs,
  *     overlapping per-query codegen/planning with execution — the same
  *     ~3x wall win Verify.scala measured), and each warmup duration is
  *     recorded as a pessimistic fallback timing;
  *   - a JVM shutdown hook prints the JSON line from whatever has been
  *     measured so far, so even a SIGTERM'd run yields a parseable
  *     artifact (run/fork := true → sbt forwards the TERM to this JVM);
  *   - the timed pass is serial (accurate latencies) and runs each query
  *     three times: the contract line reports min(), the sidecar's median
  *     is a true 3-sample median, and the min-median spread doubles as a
  *     per-query noise estimate for cross-round diffing.
  *
  * Warmup-first because the first execution of each plan shape pays
  * JIT + whole-stage-codegen (janino) compilation, a per-process constant
  * rather than a per-data cost; the timed pass reports steady-state
  * throughput, which is what scales with data volume.
  */
object Bench {
  private val timings = new ConcurrentHashMap[String, Double]()
  // warmup durations: fallback ONLY (used by emit when a query has no
  // timed entry, e.g. the run was SIGTERM'd mid-pass). Never min()'d
  // against timed numbers — a warmup run can be cache-assisted by a
  // sibling thread's shared subplan cache and undercut honest compute.
  private val warmupTimings = new ConcurrentHashMap[String, Double]()
  // every timed-pass sample (warmup excluded — pool contention inflates)
  private val samples =
    new ConcurrentHashMap[String, java.util.concurrent.CopyOnWriteArrayList[Double]]()
  private val failures = ConcurrentHashMap.newKeySet[String]()
  // fixed-work host-speed samples (see calSample) — read by emit
  private val calSamples = new java.util.concurrent.CopyOnWriteArrayList[Double]()
  @volatile private var printed = false
  // the contract roster (warmup + 3 timed reps + calibration) finished:
  // a SIGTERM after this point — e.g. during the scale tier — must still
  // emit partial=false, because every contract measurement completed
  @volatile private var rosterComplete = false
  private val lock = new Object

  /** The driver-contract JSON line (exposed for the format unit test —
    * a malformed line silently costs a whole round's perf evidence).
    *
    * Values render with trailing zeros trimmed at `dp` decimals. The
    * driver's log-tail capture is a 2000-char window and r3's
    * full-precision line (1983 chars) + sbt's trailing "[success]" line
    * overran it, truncating the line's head — three rounds of
    * parsed:null. Since r17 the stdout line renders 2dp (VERDICT r16:
    * 1dp quantization made dozens of 0.1→0.2 "regressions" unreadable)
    * and fits the window by eliding the fastest queries instead of
    * compressing keys — see [[stdoutLine]].
    */
  private def fmt(v: Double, dp: Int): String = {
    val s = String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))
    // "0.20" -> "0.2", "1.00" -> "1" (still legal JSON)
    if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse else s
  }

  /** `medians`: per-query MEDIAN over the timed runs, rendered as a
    * sidecar-only "queries_median" object — the stdout line stays
    * min-only for the tail window. min vs median separates "best honest
    * run" from "typical run" so a round-over-round delta can be told
    * apart from host noise (VERDICT r5 item 6).
    *
    * Keys are the full `q_*` query names under `"queries"`; "partial" and
    * "failed" stay always-present (r6 ADVICE: omitted keys NPE a
    * presence-asserting parser). Strings that can come from outside the
    * roster (the sf dir, the sidecar path) are JSON-escaped. `scale`: the
    * [[scaleLine]] object, sidecar-only like the medians.
    */
  private[graft] def formatLine(ts: Seq[(String, Double)], failed: Seq[String],
                                sfDir: String, partial: Boolean,
                                dp: Int = 1,
                                medians: Option[Map[String, Double]] = None,
                                overflow: Int = 0,
                                totalOverride: Option[Double] = None,
                                calibration: Option[(Double, Double, Int)] = None,
                                sidecar: Option[String] = None,
                                scale: Option[String] = None): String = {
    val qs = ts.map { case (k, v) => "\"" + k + "\":" + fmt(v, dp) }
      .mkString("{", ",", "}")
    val med = medians.fold("") { m =>
      ts.map { case (k, _) => "\"" + k + "\":" + fmt(m.getOrElse(k, 0.0), dp) }
        .mkString(",\"queries_median\":{", ",", "}")
    }
    val total = fmt(totalOverride.getOrElse(ts.map(_._2).sum), 2)
    val ovf = if (overflow > 0) s""","q_overflow":$overflow""" else ""
    // fixed-work host-speed calibration (r8 VERDICT item 3): two keys, so
    // a cross-round diff can divide out host-window noise instead of the
    // judge re-deriving it by hand. Always 2dp — sub-second resolution is
    // the whole point; ~30 chars against the stdout budget.
    // cal_parts names the calibration WORKLOAD vintage (its partition
    // count): bench_diff.py only divides by the cal ratio when both
    // artifacts ran the same-shaped calibration — r10's hard-coded 32
    // and a defaultParallelism!=32 run are different workloads, and
    // their ratio would conflate code vintage with host speed.
    val cal = calibration.fold("") { case (mn, md, parts) =>
      s""","cal_min":${fmt(mn, 2)},"cal_median":${fmt(md, 2)},"cal_parts":$parts""" }
    // the sidecar path on the line (VERDICT r16 item 1 fix-note): any
    // reader of the stdout line can find the full-roster 2dp + medians
    // artifact without knowing the SPARK_GRAFT_BENCH_OUT convention
    val side = sidecar.fold("")(p => s""","sidecar":${jsonStr(p)}""") +
      scale.fold("")(l => s""","scale":$l""")
    val pf = s""","partial":$partial""" +
      failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$ovf$med$cal$side,"sf":${jsonStr(sfDir)}$pf}"""
  }

  private def jsonStr(s: String): String =
    "\"" + new String(com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance
      .quoteAsString(s)) + "\""

  /** The stdout emission with the budget guard.
    *
    * r17 FORMAT (VERDICT r16 items 1-2): the driver verifies per-query
    * perf by matching the line's keys against the full `q_*` roster
    * names — the r13-r16 compacted keys made `PERF_r*.json`'s
    * `per_query` EMPTY (`n_common: 0`) two rounds running even though
    * every number was on the line, so round-over-round and core-scaling
    * verification existed only by hand. FULL names now outrank the r13
    * "every query on the line" floor: the full-name 2dp line when it
    * fits the driver's ~1925-char tail window; otherwise the SLOWEST-K
    * full-named queries that fit (K by binary search — 82 of the
    * 164-query roster at r17 widths, everything at or above ~0.23s) with
    * `q_overflow` counting the elided fast tail and `value` still the
    * FULL roster total. An elided 0.1-0.2s query is 1-2 tail-window
    * quantization units of information; an unmatchable key is a lost
    * round of per-query evidence. The sidecar (its path now printed ON
    * the line) keeps the full roster at 2dp plus medians.
    */
  private[graft] val stdoutBudget = 1895
  private[graft] def stdoutLine(snap: Seq[(String, Double)], failed: Seq[String],
                                sfBase: String, partial: Boolean,
                                calibration: Option[(Double, Double, Int)] = None,
                                sidecar: Option[String] = None): String = {
    val full = formatLine(snap, failed, sfBase, partial, dp = 2,
      calibration = calibration, sidecar = sidecar)
    if (full.length <= stdoutBudget) return full
    val total = snap.map(_._2).sum
    val byTime = snap.sortBy { case (n, v) => (-v, n) }
    def lineFor(k: Int): String =
      formatLine(byTime.take(k).sortBy(_._1), failed, sfBase, partial,
        dp = 2, overflow = snap.size - k, totalOverride = Some(total),
        calibration = calibration, sidecar = sidecar)
    // largest k whose line fits (monotone in k)
    var lo = 0; var hi = snap.size
    while (lo < hi) {
      val mid = (lo + hi + 1) / 2
      if (lineFor(mid).length <= stdoutBudget) lo = mid else hi = mid - 1
    }
    if (lo > 0) lineFor(lo)
    else {
      val pf = s""","partial":$partial""" +
        failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
      val fb = s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":{},""" +
        s""""q_overflow":${snap.size},"sf":${jsonStr(sfBase)}$pf}"""
      // a huge failed list could overflow even the fallback: count instead
      if (fb.length <= stdoutBudget) fb
      else s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","queries":{},""" +
        s""""q_overflow":${snap.size},"sf":${jsonStr(sfBase)},"partial":$partial,""" +
        s""""failed":[],"failed_count":${failed.size}}"""
    }
  }

  /** Print the result line exactly once (normal end or shutdown hook). */
  private def emit(sfDir: String, partial: Boolean): Unit = lock.synchronized {
    if (printed) return
    val merged = (warmupTimings.asScala ++ timings.asScala).toMap // timed wins
    val snap = merged.toSeq.sortBy(_._1)
    if (snap.isEmpty) return // nothing measured: stay silent, don't lie
    val failed = failures.asScala.toSeq.sorted
    val cal = {
      val s = calSamples.asScala.toSeq.sorted
      if (s.isEmpty) None
      else Some((s.head,
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2,
        calParts.get()))
    }
    // The sidecar is not tail-window-bound, so it carries 2dp values AND
    // the per-query medians over the timed runs (min alone can't separate
    // a real regression from one lucky run on a ±40%-noise host).
    val medians = snap.map { case (n, fallback) =>
      val s = Option(samples.get(n)).map(_.asScala.toSeq.sorted).getOrElse(Nil)
      n -> (if (s.isEmpty) fallback // killed run: warmup fallback, like min
            else if (s.size % 2 == 1) s(s.size / 2)
            else (s(s.size / 2 - 1) + s(s.size / 2)) / 2)
    }.toMap
    val sidecar = formatLine(snap, failed, sfDir, partial, dp = 2,
      medians = Some(medians), calibration = cal, scale = scaleResult)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // FULL-ROSTER full-name map as a second stdout line, ahead of the
    // contract line (VERDICT r16 item 1): a full-log reader gets every
    // query under its real name even when the contract line elides the
    // fast tail; printed FIRST so the contract line stays the LAST (and
    // tail-window-resident) JSON line.
    println(sidecar)
    // contract line: sf as basename (the full testdata path is constant
    // and the tail window is precious), FULL q_* names (r17 — see
    // stdoutLine), sidecar path on the line
    val line = stdoutLine(snap, failed, new java.io.File(sfDir).getName, partial,
      cal, sidecar = Some(outPath))
    println(line)
    System.out.flush()
    // Belt and braces: sbt's logger decorates stdout ("[info] {...}"),
    // which has defeated the driver's parse two rounds running — also
    // write the bare line to a file nothing rewrites.
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (sidecar + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    printed = true
  }

  /** Record an observed duration: best (lowest) per query for the
    * contract line, every timed sample for the sidecar median.
    */
  private def record(n: String, sec: Double): Unit = {
    timings.merge(n, sec, (a, b) => math.min(a, b))
    samples.computeIfAbsent(n, _ => new java.util.concurrent.CopyOnWriteArrayList[Double]())
      .add(sec)
  }

  /** The timed roster: every user-facing query. The `*_golden`
    * correctness companions re-run a base query only to pin its content
    * hash — timing them would double-count those operators in the total.
    * `q_health` is the constant one-row route probe (I7): timing it
    * measures nothing and the stdout line's tail-window budget is scarce.
    * `q_sim_neardup` is the BY-SPEC Θ(n²) exact-cosine validation tier
    * behind the ANN recall gates (RecallGateSpec) — it stays in the
    * correctness roster, but a deliberately quadratic verifier has no
    * place in a timed roster whose totals are read as the engine's scale
    * story (VERDICT r10/r11; roster change recorded in REGRESSIONS.md).
    */
  private val untimed = Set("q_health", "q_sim_neardup")
  private[graft] def benchQueryNames: Seq[String] =
    SparkEntry.queries.keys.toSeq
      .filterNot(_.endsWith("_golden")).filterNot(untimed).sorted

  /** r17 compute tier (VERDICT r16 item 3): the sf0.1 roster is
    * per-stage-overhead-bound — 8 cores BEAT 32 on the full r16 roster —
    * so kernel-level wins (and parallel-scalability regressions) are
    * invisible in the contract number. This tier re-times the heaviest
    * pure-compute kernels on a ×MULT self-multiplied copy of their
    * inputs (ids offset, the ScaleProbe recipe; documents/events only —
    * every listed query reads nothing else) and records ONE extra
    * same-format JSON object ([[scaleLine]]) under the sidecar's
    * `"scale"` key (also printed to stdout ahead of the contract line,
    * for full-log readers; the driver's tail window never holds it), so
    * 32-core and 8-core runs yield per-query 8c/32c ratios at a volume
    * where compute dominates.
    *
    * Honesty properties: the ×MULT corpus is INPUT staging into a
    * per-process temp dir, rebuilt from the parquet sources every run
    * and deleted after — never cached results; each query runs under the
    * same CacheLedger scope + clearCache discipline as the contract
    * pass; results are timing-only (never correctness-checked — the
    * oracle runs at real SFs). A wall budget stops LAUNCHING new queries
    * once spent (default 120s, SPARK_GRAFT_BENCH_SCALE_BUDGET) so the
    * tier cannot starve the driver's window — the 8-core run covers a
    * prefix of the same ordered list — and the contract line always
    * prints after (a SIGTERM mid-tier still emits it from the shutdown
    * hook, with partial=false once the contract roster finished).
    * SPARK_GRAFT_BENCH_SCALE=off disables; _MULT defaults to 8 —
    * measured (plans/r17/scale_ratio.txt): at ×4 every kernel's 8c/32c
    * ratio is ~1.0 (still overhead-bound, no signal), at ×8 the dedup
    * kernels reach 1.5-1.8 within ~28s/45s total at 32/8 cores, at ×16
    * they reach 2.3-2.9 but the 8-core leg blows the wall budget.
    */
  private val scaleQueries = Seq(
    "q_dedup_ngram", "q_text_winnowing", "q_dedup_containment",
    "q_text_langid_ngram", "q_dedup_keepers", "q_text_tfidf",
    "q_dedup_clusters", "q_text_bm25", "q_dedup_minhash",
    "q_sessionize_hotkey")

  /** The scale tier's result, once it ran: the sidecar carries it. */
  @volatile private var scaleResult: Option[String] = None

  /** The scale tier's JSON object: per-query seconds at 2dp, sorted. */
  private[graft] def scaleLine(ts: Seq[(String, Double)], failed: Seq[String],
                               skipped: Int, mult: Int, sfName: String): String = {
    val qs = ts.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + fmt(v, 2) }
      .mkString("{", ",", "}")
    val fl = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"scale","value":${fmt(ts.map(_._2).sum, 2)},"unit":"sec",""" +
      s""""queries":$qs,"mult":$mult,"skipped":$skipped,"failed":$fl,""" +
      s""""sf":${jsonStr(s"${sfName}x$mult")}}"""
  }

  private def runScaleTier(spark: SparkSession, sfDir: String,
                           noopSink: Boolean): Unit = {
    if (sys.env.get("SPARK_GRAFT_BENCH_SCALE").contains("off")) return
    val mult = sys.env.get("SPARK_GRAFT_BENCH_SCALE_MULT").map(_.toInt).getOrElse(8)
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_SCALE_BUDGET")
      .map(_.toDouble).getOrElse(120.0)
    try {
      import org.apache.spark.sql.functions._
      spark.sparkContext.setJobDescription(s"bench:scale-stage x$mult")
      val dir = java.nio.file.Files.createTempDirectory(s"bench_scale_x${mult}_")
      try {
        // multi-part staging on purpose: a single coalesced file would be
        // one scan task and serialize the very kernels this tier times
        val parts = spark.sparkContext.defaultParallelism
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        (0 until mult).map(i =>
            docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L)))
          .reduce(_ unionByName _).repartition(parts)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val ev = spark.read.parquet(s"$sfDir/events.parquet")
        (0 until mult).map(i => ev
            .withColumn("event_id", col("event_id") + lit(i.toLong * 1000000000L))
            .withColumn("user_id", col("user_id") + lit(i.toLong * 1000000L)))
          .reduce(_ unionByName _).repartition(parts)
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
        val t0 = System.nanoTime()
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
        val failedScale = scala.collection.mutable.ArrayBuffer.empty[String]
        for (n <- scaleQueries if (System.nanoTime() - t0) / 1e9 < budgetSec)
          CacheLedger.scoped {
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(s"bench:scale:$n")
            val q0 = System.nanoTime()
            try {
              val df = SparkEntry.queries(n)(spark, dir.toString)
              if (noopSink) df.write.format("noop").mode("overwrite").save()
              else df.count()
              val t = (System.nanoTime() - q0) / 1e9
              out += n -> t
              System.err.println(f"[bench] scale x$mult $n%-24s $t%.2fs")
            } catch { case e: Throwable =>
              failedScale += n
              System.err.println(s"[bench] scale $n failed: ${e.getMessage}")
            }
          }
        if (out.nonEmpty) {
          val line = scaleLine(out.toSeq, failedScale.toSeq,
            scaleQueries.size - out.size - failedScale.size, mult,
            new java.io.File(sfDir).getName)
          scaleResult = Some(line)
          println(line)
          System.out.flush()
        }
      } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    } catch { case e: Throwable =>
      // the tier is evidence, not the contract — never fail the bench
      System.err.println(s"[bench] scale tier skipped: ${e.getMessage}")
    }
  }

  /** Fixed-work pure-CPU host speedometer (r8 VERDICT item 3): 2^29
    * codegen'd 4-chained xxhash64 rows over an in-memory range, folded
    * with bit_xor (overflow-free under ANSI) — zero IO, zero data/SF
    * dependence, all `cpus` threads busy like a real query. Its seconds
    * measure ONLY host+JVM speed, so the cross-round ratio of
    * cal_median values is the host-noise factor tools/bench_diff.py
    * divides out — this box has swung bench totals ±40% between
    * midnight and noon windows on identical code (r6, r8).
    */
  private val calParts = new java.util.concurrent.atomic.AtomicInteger(0)

  private def calSample(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    spark.sparkContext.setJobDescription("bench:calibration")
    val t0 = System.nanoTime()
    val h = (1 to 4).foldLeft(col("id"))((c, _) => xxhash64(c))
    // one partition per session core (NOT a hard-coded 32): keeps "all
    // cpus threads busy" true under any SPARK_GRAFT_CPUS. The count is
    // recorded (cal_parts in the artifact) because it defines the
    // workload shape — ratios are only host-speed when both sides match.
    val parts = spark.sparkContext.defaultParallelism
    calParts.set(parts)
    spark.range(0, 1L << 29, 1, parts)
      .select(h.as("h"))
      .agg(expr("bit_xor(h)")).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => emit(sfDir, partial = !rosterComplete)))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // 75 queries × several codegen stages exceeded the default 100-entry
      // janino cache; evictions recompile mid-measurement. 4000 = headroom
      // for the 146-query r13 roster (a controlled 8000-cap run changed
      // NOTHING — the r13 q_tier_cdc drift was host-window, not eviction;
      // see REGRESSIONS.md r12→r13)
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // r16 gate (VERDICT r15 item 2): a whole-stage compile failure
      // (janino 64 KB blowup) must FAIL the query into failed:[] — the
      // r15 q_url_sitemaps fallback ran a whole round interpreted
      // (2-5x slower, recompiling per execution) with rc=0 and nothing
      // asserting on it. PlanAuditSpec runs the same gate roster-wide.
      .config("spark.sql.codegen.fallback", "false")
      // NOT set: spark.sql.adaptive.coalescePartitions.parallelismFirst=
      // false (the Spark tuning guide's production recommendation) was
      // measured in r16 and REGRESSED ~20% calibrated: it coalesces the
      // CPU-bound kernel shuffles (winnowing, shingle dedup, stream
      // dedup state) to one partition and serializes them — parallelism
      // first is the right default for this engine's compute-heavy
      // shuffles. See OPTIMIZATION_r16.md.
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Graft.register(spark)
    val names = benchQueryNames

    // Default timing sink is count(): comparable with the round-1 numbers
    // and with what a limit/aggregate consumer pays. count() lets Catalyst
    // prune computed projection columns (q_vec_quantize times as a near-
    // bare scan) — set SPARK_GRAFT_BENCH_SINK=noop for full-
    // materialization timing (the noop sink consumes every column; whole-
    // corpus projections then cost 2-4x more and the run takes ~2x wall).
    // Failures record nothing (a 50ms crash must not win the min() over
    // real runs) and surface in the JSON's "failed" list instead.
    val noopSink = sys.env.get("SPARK_GRAFT_BENCH_SINK").contains("noop")
    // scoped: the duration is computed INSIDE the block, so the cache
    // release at scope exit is excluded from the measurement (and the
    // timed pass's clearCache keeps doing the cross-run isolation)
    def runOne(n: String): Option[Double] = CacheLedger.scoped {
      // label the jobs (guide §1.5) so a UI/event-log postmortem maps
      // stages back to queries; thread-local, so pool warmup labels too
      spark.sparkContext.setJobDescription(s"bench:$n")
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        if (noopSink) df.write.format("noop").mode("overwrite").save()
        else df.count()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        failures.add(n)
        System.err.println(s"[bench] $n failed: ${e.getMessage}")
        None
      }
    }

    // Warmup on a pool: codegen + JIT. Durations are wall-clock under
    // contention (inflated, never deflated), so recording them as initial
    // timings is a safe pessimistic fallback for a killed run.
    val pool = Executors.newFixedThreadPool(8)
    val tasks = names.map(n => pool.submit(new Runnable {
      def run(): Unit = {
        runOne(n).foreach(t => warmupTimings.merge(n, t, (a, b) => math.min(a, b)))
        System.err.println(s"[bench] warm $n")
      }
    }))
    tasks.foreach(_.get())
    pool.shutdown()

    // Calibration brackets the timed pass — 1 discarded codegen warmup +
    // 3 samples here, 3 more after the last query — so the min/median in
    // the artifact reflect the host window the measurements actually ran
    // in, drift included.
    calSample(spark)
    (1 to 3).foreach(_ => calSamples.add(calSample(spark)))

    // Timed pass, serial for accurate latencies. The stderr line per query
    // makes a timeout postmortem show exactly where the run died.
    // clearCache first: several operators cache their (small) results and
    // internal indexes, and Spark's CacheManager matches cached plans by
    // canonical equality across separately-built invocations — without the
    // clear, a timed run after warmup is a cache LOOKUP, not the pipeline
    // compute, and the number overstates the engine. (Within one action the
    // operators' in-query caches still engage — that is design, not warmup
    // residue.) Codegen/JIT warmup survives the clear, which is the part
    // warmup exists for.
    val firstRun = names.flatMap { n =>
      spark.catalog.clearCache()
      runOne(n).map { t =>
        record(n, t)
        System.err.println(f"[bench] timed $n%-28s $t%.2fs")
        n -> t
      }
    }
    // Two more runs per query (3 timed samples): with a single sample the
    // sidecar median degenerates to a copy of min, which is exactly why
    // the r6 text-family inflation couldn't be classified as noise from
    // the artifact alone (r6 VERDICT item 1). Three samples make the
    // median a real central tendency and the min-median spread a
    // per-query noise estimate that tools/bench_diff.py feeds on. The
    // extra wall is ~one roster-sum (~40s at sf0.1) — cheap against a
    // round of unattributable drift.
    firstRun.foreach { case (n, _) =>
      (1 to 2).foreach { _ =>
        spark.catalog.clearCache()
        runOne(n).foreach(record(n, _))
      }
    }
    (1 to 3).foreach(_ => calSamples.add(calSample(spark)))
    rosterComplete = true

    // compute tier at ×MULT volume runs BEFORE emit, so its result rides
    // in the sidecar and the contract line stays the LAST JSON line in the
    // driver's tail window
    runScaleTier(spark, sfDir, noopSink)

    emit(sfDir, partial = false)
    spark.stop()
  }
}
