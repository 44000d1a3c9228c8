package graft.tools

import graft.model.Canon._
import graft.sources.TieredStore
import org.apache.spark.sql.functions._

/** Many-series evidence for the tiered store (r7 VERDICT item 5): the
  * driver-side buffer queues are bounded by the BUFFERED rows and series
  * and the disk bounds by buckets × data dirs (the
  * manifest's `max` lines), which is fine for the reference's model
  * (handfuls of series) but needs proof it neither grows without bound
  * nor slows reads when someone points the store at millions of series.
  *
  * Three measurements:
  *  1. **read flatness**: a fixed 1M-row memory buffer spread over 1k /
  *     100k / 1M distinct series — `readLast` wall must track BUFFER
  *     volume (constant here), not series cardinality. The tier decision
  *     reads the queried ids' queues and the read plans only their rows,
  *     so series count should be invisible. The per-series cost moves to
  *     the write: `appendMemory` collects the 1M rows into one queue per
  *     series (1M queues at 1M series; nothing caps them), reported as
  *     `append_wall`, and `bufferedCount()` must sum the queues to the
  *     buffer. `heap_mb` is the driver heap in use after `System.gc()`
  *     with that buffer live.
  *  2. **write cost at cardinality**: a 1k-series sync, then a 5k-series
  *     sync, delete and compaction — the `bucket=/day=` layout creates at
  *     most buckets × days dirs per write, whatever the series count.
  *  3. **bucket-grain bounds under ingest**: 5k series on one clock,
  *     posting 1-4 points a round through `ingest` with a spill threshold,
  *     so bucket mates spill in different rounds and a spilled mate's
  *     newer disk tail sits above a buffered mate's points. Random
  *     `last 1` reads count how often the bucket's bound fails (a read
  *     that scans its series' disk rows from its buffered min on), how
  *     many read memory only and how many scan disk, and the p50s of the
  *     tier decision and of the whole read; each answer must equal the
  *     flat read of the same store.
  *
  * Run: sbt "runMain graft.tools.ManySeriesProbe"
  */
object ManySeriesProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    graft.Graft.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val rows = 1000000L
    var failed = false

    def buffer(nSeries: Long) =
      spark.range(rows).select(
        concat(lit("s"), col("id") % nSeries).as(SERIES),
        (lit(1700000000000000L) + col("id")).as(TS_US),
        lit(null).cast(tagType).as(TAG),
        (col("id") % 1000).cast("double").as(VALUE),
        col("id").as(RID))

    println(s"[mseries] fixed buffer rows=$rows, readLast(4 ids, n=50) wall by series count:")
    val walls = Seq(1000L, 100000L, 1000000L).map { n =>
      val st = new TieredStore(spark,
        java.nio.file.Files.createTempDirectory("mseries").toString)
      val ta = System.nanoTime()
      st.appendMemory(buffer(n))
      val appendWall = (System.nanoTime() - ta) / 1e9
      val ids = Seq("s0", "s1", "s2", "s3")
      st.readLast(ids, 50).count() // warm the plan shape
      val t0 = System.nanoTime()
      val cnt = st.readLast(ids, 50).count()
      val wall = (System.nanoTime() - t0) / 1e9
      System.gc()
      val heapMb = (Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()) >> 20
      println(f"[mseries] series=$n%8d append_wall=$appendWall%6.2fs read_wall=$wall%6.2fs " +
        s"rows=$cnt buffered=${st.bufferedCount()} heap_mb=$heapMb")
      if (st.bufferedCount() != rows) {
        println(s"[mseries] FAIL: buffer stats sum to ${st.bufferedCount()}, not $rows")
        failed = true
      }
      val want = 4 * math.min(rows / n, 50L) // per-series rows shrink as n grows
      if (cnt != want) { println(s"[mseries] FAIL: expected $want rows, got $cnt"); failed = true }
      // sync() writes every queue's rows as one local frame: no filter
      // is planned, whatever the series count. Measured at 1k series
      // here; the 5k-series section below measures the write cost at a
      // higher cardinality, and the 100k/1M rows above keep proving
      // READS stay flat.
      if (n == 1000L) {
        val t1 = System.nanoTime()
        st.sync()
        val syncWall = (System.nanoTime() - t1) / 1e9
        val split = st.lengthSplit(Seq("s0")).select("disk_len")
          .collect()(0).getLong(0)
        println(f"[mseries] series=$n%8d sync_wall=$syncWall%6.1fs " +
          s"(s0 disk_len=$split)")
        if (split != rows / n) { println(s"[mseries] FAIL: sync lost rows"); failed = true }
      }
      wall
    }
    // flatness: 1M series may cost at most 3x the 1k-series read (the
    // buffer volume is identical; anything superlinear in series count
    // would blow far past this band)
    if (walls.last > walls.head * 3 + 0.5) {
      println(f"[mseries] FAIL: read wall grew with series count " +
        f"(${walls.head}%.2fs -> ${walls.last}%.2fs)")
      failed = true
    }

    // write cost at cardinality: a sync creates O(buckets × days) dirs,
    // not O(series) — 5k series in one buffered wave must sync in seconds
    {
      val bSeries = 5000L
      val bst = new TieredStore(spark,
        java.nio.file.Files.createTempDirectory("mseries_bucket").toString)
      bst.appendMemory(buffer(bSeries))
      val t = System.nanoTime()
      bst.sync()
      val syncWall = (System.nanoTime() - t) / 1e9
      val s0 = bst.lengthSplit(Seq("s0")).select("disk_len").collect()(0).getLong(0)
      println(f"[mseries] series=$bSeries%8d sync_wall=$syncWall%6.1fs " +
        s"(s0 disk_len=$s0, ${graft.sources.ShardStore.Buckets} buckets)")
      if (s0 != rows / bSeries) { println(s"[mseries] FAIL: sync lost rows"); failed = true }
      // target <5s; 10s guard absorbs host-noise windows (REGRESSIONS.md)
      if (syncWall > 10.0) {
        println(f"[mseries] FAIL: 5k-series sync took $syncWall%.1fs (>10s)")
        failed = true
      }
      // delete-rewrite at high cardinality (r10 item 6/7): a 10-series
      // delete touches only those ids' BUCKET dirs (≤10 of 64), so the
      // rewrite cost is bucket-local, not store-wide. Then live
      // compaction (manifest-chain commit + expiry) coalesces the layout; both
      // must preserve content exactly.
      val delIds = (0 until 10).map(i => s"s$i")
      val preCount = bst.snapshot.count()
      val t2 = System.nanoTime()
      val ndel = bst.delete(delIds, 1700000000000000L, 1700000000500000L)
      val delWall = (System.nanoTime() - t2) / 1e9
      val postCount = bst.snapshot.count()
      println(f"[mseries] delete(10 ids) wall=$delWall%6.1fs deleted=$ndel " +
        s"(rows $preCount -> $postCount)")
      if (ndel == 0 || postCount != preCount - ndel) {
        println("[mseries] FAIL: delete count mismatch"); failed = true
      }
      def files(p: String): Int = {
        def walk(f: java.io.File): Int =
          if (f.isDirectory) // null, not empty, on unreadable/vanished dirs
            Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
          else if (f.getName.endsWith(".parquet")) 1 else 0
        walk(new java.io.File(p))
      }
      // a second synced wave (same day, later ts) drops a second file
      // into every bucket dir — the small-file accretion compaction exists for
      bst.appendMemory(
        spark.range(rows).select(
          concat(lit("s"), col("id") % bSeries).as(SERIES),
          (lit(1700000001500000L) + col("id")).as(TS_US),
          lit(null).cast(tagType).as(TAG),
          (col("id") % 1000).cast("double").as(VALUE),
          (col("id") + 2000000L).as(RID)))
      bst.sync()
      val postCount2 = bst.snapshot.count()
      val fBefore = files(bst.root)
      val t3 = System.nanoTime()
      bst.compactDisk()
      val cWall = (System.nanoTime() - t3) / 1e9
      println(f"[mseries] compactDisk wall=$cWall%6.1fs files " +
        s"$fBefore -> ${files(bst.root)}")
      if (bst.snapshot.count() != postCount2) {
        println("[mseries] FAIL: compaction changed row count"); failed = true
      }
      if (files(bst.root) >= fBefore) {
        println("[mseries] FAIL: compaction did not coalesce files"); failed = true
      }
    }

    // bucket-grain bounds under spill-driven ingest
    {
      import spark.implicits._
      val (ns, rounds, spill, t0us) = (5000, 24, 24L, 1700000000000000L)
      val ist = new TieredStore(spark,
        java.nio.file.Files.createTempDirectory("mseries_mates").toString)
      val rnd = new scala.util.Random(11)
      var (reads, unsure, diskReads) = (0, 0, 0)
      val (decides, walls) = (scala.collection.mutable.ArrayBuffer.empty[Double],
        scala.collection.mutable.ArrayBuffer.empty[Double])
      val t1 = System.nanoTime()
      (0 until rounds).foreach { r =>
        // series m<i> posts 1 + i % 4 points a round, all on one clock, so
        // bucket mates reach the spill threshold in different rounds
        val batch = (0 until ns).flatMap(i => (0 until 1 + i % 4).map(j =>
          (s"m$i", t0us + r * 1000L + j, r * 100000L + i * 4L + j)))
        ist.ingest(batch.toDF(SERIES, TS_US, RID).select(col(SERIES), col(TS_US),
          lit(null).cast(tagType).as(TAG), lit(0.0).as(VALUE), col(RID)), spill)
        Seq.fill(4)(s"m${rnd.nextInt(ns)}").foreach { s =>
          val tip = ist.diskVersions.lastOption
          if (ist.memStatsView.get(s).exists(st => tip.flatMap(_.maxTsOf(s)).exists(_ >= st._2)))
            unsure += 1
          val t = System.nanoTime()
          val q = ist.readLast(Seq(s), 1)
          decides += (System.nanoTime() - t) / 1e6
          val got = q.collect().toSeq
          walls += (System.nanoTime() - t) / 1e6
          reads += 1
          if (q.queryExecution.executedPlan.toString.contains("FileScan")) diskReads += 1
          val want = graft.operators.TimeSeries.readLast(ist.snapshot(Seq(s)), Seq(s), 1)
            .collect().toSeq
          if (got != want) {
            println(s"[mseries] FAIL: $s read $got, flat read $want"); failed = true
          }
        }
      }
      def p50(xs: scala.collection.Seq[Double]) = xs.sorted.apply(xs.size / 2)
      println(f"[mseries] $ns-series ingest, $rounds rounds, spill $spill: " +
        f"${(System.nanoTime() - t1) / 1e9}%.1fs; $reads reads: bucket bound failed " +
        f"$unsure, memory-only ${reads - diskReads}, disk-scanning $diskReads, decide p50 ${p50(decides)}%.0f ms, " +
        f"read p50 ${p50(walls)}%.0f ms " +
        s"(${ist.diskVersions.last.maxes.size} max lines)")
    }

    println(if (failed) "[mseries] RESULT: FAIL"
      else "[mseries] RESULT: OK — metadata bounded, reads flat in series count")
    spark.stop()
    if (failed) sys.exit(1)
  }
}
