package graft

import graft.model.Canon.{Datapoint, TagEntry}
import graft.sources.{ShardStore, TieredStore}
import org.apache.spark.sql.functions._

/** M1-M3/I2: the dual-tier read semantics (reference
  * `src/timeseries.re:357-434`, `src/membufq.re:17-41`) — tier decisions,
  * the forced-flush mutation lifecycle, and the plan-level proof that the
  * M1 fast path never touches the disk tier.
  */
class TieredStoreSpec extends SparkSuite {
  import spark.implicits._

  private val T0 = 1704067200000000L // 2024-01-01 UTC
  private def dp(s: String, ts: Long, rid: Long) =
    Datapoint(s, ts, Some(Seq(TagEntry("k", "1"))), rid.toDouble, rid)

  private def freshSorted(): TieredStore = {
    val st = new TieredStore(spark, tmpDir("tier"))
    st.appendDisk((0L until 100L).map(i => dp("a", T0 + i * 1000L, i)).toDF())
    st.appendMemory(
      (0L until 20L).map(i => dp("a", T0 + 1000000L + i * 1000L, 100 + i)).toDF())
    st
  }

  test("M1 fast path: sorted beyond-disk buffer satisfying n plans NO disk scan") {
    val st = freshSorted()
    val q = st.readLast(Seq("a"), 10)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan"), plan)
    val rids = q.select("rid").as[Long].collect().toSeq
    assert(rids == (119L to 110L by -1L)) // newest 10, memory only
  }

  test("M2 memory-then-disk: qualified but short buffer merges with disk") {
    val st = freshSorted()
    val q = st.readLast(Seq("a"), 30)
    assert(q.queryExecution.executedPlan.toString.contains("FileScan"))
    val rids = q.select("rid").as[Long].collect().toSeq
    // all 20 buffered + the 10 newest on disk, globally ordered desc
    assert(rids == ((119L to 100L by -1L) ++ (99L to 90L by -1L)))
    // the read did not flush: the split is unchanged
    val split = st.lengthSplit(Seq("a")).head()
    assert(split.getLong(1) == 20L && split.getLong(2) == 100L)
  }

  test("M3 forced flush: an overlapping buffer is flushed, then read from disk") {
    val st = new TieredStore(spark, tmpDir("tier"))
    st.appendDisk((0L until 100L by 2L).map(i => dp("a", T0 + i * 1000L, i)).toDF())
    // odd timestamps interleave INSIDE the disk range -> never qualifies
    st.appendMemory((1L until 100L by 2L).map(i => dp("a", T0 + i * 1000L, i)).toDF())
    val before = st.lengthSplit(Seq("a")).head()
    assert(before.getLong(1) == 50L && before.getLong(2) == 50L)
    val rids = st.readLast(Seq("a"), 10).select("rid").as[Long].collect().toSeq
    assert(rids == (99L to 90L by -1L)) // correct merged answer
    val after = st.lengthSplit(Seq("a")).head()
    assert(after.getLong(1) == 0L && after.getLong(2) == 100L) // buffer moved to disk
  }

  test("an out-of-arrival-order buffer stays buffered, never a wrong answer") {
    val st = new TieredStore(spark, tmpDir("tier"))
    st.appendDisk((0L until 50L).map(i => dp("a", T0 + i * 1000L, i)).toDF())
    // beyond the disk bound but arriving NEWEST-FIRST: the reference's
    // is_ascending fails, but reads sort, so the time bound alone decides
    st.appendMemory((69L to 50L by -1L).map(i => dp("a", T0 + i * 1000L, i)).toDF())
    val rids = st.readLast(Seq("a"), 25).select("rid").as[Long].collect().toSeq
    assert(rids == (69L to 45L by -1L)) // M2: all 20 buffered + 5 from disk
    assert(st.lengthSplit(Seq("a")).head().getLong(1) == 20L) // not flushed
    val q = st.readLast(Seq("a"), 10)
    assert(!q.queryExecution.executedPlan.toString.contains("FileScan")) // M1
    assert(q.select("rid").as[Long].collect().toSeq == (69L to 60L by -1L))
  }

  test("tier decisions are per series; branches union into one result") {
    val st = new TieredStore(spark, tmpDir("tier"))
    st.appendDisk(((0L until 40L).map(i => dp("a", T0 + i * 1000L, i)) ++
      (0L until 40L).map(i => dp("b", T0 + i * 1000L, 1000 + i))).toDF())
    // "a" buffers a beyond-bound tail (fast), "b" buffers overlap (flush)
    st.appendMemory(((0L until 10L).map(i => dp("a", T0 + 100000L + i * 1000L, 100 + i)) ++
      (0L until 10L).map(i => dp("b", T0 + 5000L + i * 100L, 2000 + i))).toDF())
    val got = st.readLast(Seq("a", "b"), 5)
      .select("series", "rid").as[(String, Long)].collect().toSeq
    assert(got.filter(_._1 == "a").map(_._2) == (109L to 105L by -1L))
    assert(got.filter(_._1 == "b").map(_._2) == Seq(1039L, 1038L, 1037L, 1036L, 1035L))
    // only b flushed; a's buffer intact
    val split = st.lengthSplit(Seq("a", "b")).collect()
    assert(split.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 10L, 40L), ("b", 0L, 50L)))
  }

  test("S3 ingest spill policy: a series spills at the threshold, others stay buffered") {
    val st = new TieredStore(spark, tmpDir("tier"))
    // each batch: 4 points of "a", 1 of "b" (the per-series shard-size check)
    def batch(i: Long) =
      ((0L until 4L).map(j => dp("a", T0 + (i * 4 + j) * 1000L, i * 4 + j)) :+
        dp("b", T0 + i * 1000L, 1000 + i)).toDF()
    st.ingest(batch(0L), spillThreshold = 10L)
    assert(st.bufferedCount() == 5L) // both below threshold
    st.ingest(batch(1L), spillThreshold = 10L)
    assert(st.bufferedCount() == 10L)
    st.ingest(batch(2L), spillThreshold = 10L)
    assert(st.bufferedCount() == 3L) // a hit 12 >= 10 and spilled; b's 3 stay
    val split = st.lengthSplit(Seq("a", "b")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(split == Seq(("a", 0L, 12L), ("b", 3L, 0L)))
    // nothing lost across the spill boundary
    assert(st.readLast(Seq("a", "b"), 12).count() == 15L)
  }

  test("a timestamp TIE between buffer min and disk max never takes the M1 path") {
    // r7 advice (high): disk holds (ts=T, rid=5); the buffer holds (ts=T,
    // rid=1) plus later points. Under (ts desc, rid desc) the DISK row at
    // the shared timestamp outranks the buffered one — a >= bound check
    // would qualify M1 (memory-only) and drop rid=5 from the answer.
    val st = new TieredStore(spark, tmpDir("tier"))
    st.appendDisk(Seq(dp("a", T0, 5), dp("a", T0 - 1000L, 4)).toDF())
    st.appendMemory(
      Seq(dp("a", T0, 1), dp("a", T0 + 1000L, 2), dp("a", T0 + 2000L, 3)).toDF())
    val rids = st.readLast(Seq("a"), 3).select("rid").as[Long].collect().toSeq
    assert(rids == Seq(3L, 2L, 5L)) // at ts=T0 the disk rid 5 outranks mem rid 1
    // and the flat snapshot agrees (tier invisibility at the tie)
    val flat = graft.operators.TimeSeries
      .readLast(st.snapshot, Seq("a"), 3).select("rid").as[Long].collect().toSeq
    assert(flat == rids)
  }

  test("returned frames are immutable snapshots across subsequent mutations") {
    val st = freshSorted() // 100 on disk, 20 buffered
    val snap = st.snapshot
    val split = st.lengthSplit(Seq("a"))
    st.flush(Seq("a")) // moves the 20 buffered rows to disk
    // evaluated AFTER the flush, the pre-flush snapshot must not double-count
    assert(snap.count() == 120L)
    val r = split.head()
    assert(r.getLong(1) == 20L && r.getLong(2) == 100L)
    // while a fresh read sees the post-flush state
    val r2 = st.lengthSplit(Seq("a")).head()
    assert(r2.getLong(1) == 0L && r2.getLong(2) == 120L)
  }

  test("the buffer holds no cached RDD over many batches") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val st = new TieredStore(spark, tmpDir("tier"))
    (0L until 25L).foreach { i =>
      st.ingest(Seq(dp("a", T0 + i * 1000L, i)).toDF(), spillThreshold = 7L)
    }
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after == before, s"buffer batches left cached RDDs: $before -> $after")
    // nothing lost across 25 appends + spills
    assert(st.readLast(Seq("a"), 25).select("rid").as[Long].collect().toSeq == (24L to 0L by -1L))
  }

  test("a readLast or snapshot(ids) frame keeps its answer across later ingests") {
    val st = freshSorted() // 100 on disk, 20 buffered beyond the disk bound
    val last = st.readLast(Seq("a"), 10) // M1: the buffer alone
    val scoped = st.snapshot(Seq("a"))
    // ten later batches, spilling (threshold 25) and replacing the buffer
    (0L until 10L).foreach { i =>
      st.ingest((0L until 3L).map(j => dp("a", T0 + 2000000L + (i * 3 + j) * 1000L,
        1000 + i * 3 + j)).toDF(), spillThreshold = 25L)
    }
    assert(st.diskVersions.size >= 2) // at least one spill committed
    assert(last.select("rid").as[Long].collect().toSeq == (119L to 110L by -1L))
    assert(scoped.count() == 120L)
    assert(scoped.agg(max("rid")).as[Long].head() == 119L)
  }

  test("a bucket mate's newer disk tail costs a probe job, never a flush; true overlaps still flush") {
    // a and x share bucket 3 of 64, b sits apart: a series' disk bound is
    // its bucket's newest timestamp over the live dirs
    def bucket(s: String) = ShardStore.bucketOf(s, ShardStore.Buckets)
    assert(bucket("a") == 3L && bucket("x") == 3L && bucket("b") != 3L)
    val st = new TieredStore(spark, tmpDir("tier_mates"))
    val disk = (0L until 100L).flatMap(i => Seq(dp("a", T0 + i * 1000L, i),
      dp("b", T0 + i * 1000L, 1000 + i))) ++
      (0L until 500L).map(i => dp("x", T0 + i * 1000L, 10000 + i))
    st.appendDisk(disk.toDF())
    // both buffers lie beyond their own series' disk max (T0 + 99 ms);
    // a's lies below x's (T0 + 499 ms)
    val mem = (200L until 210L).flatMap(i => Seq(dp("a", T0 + i * 1000L, i),
      dp("b", T0 + i * 1000L, 1000 + i)))
    st.appendMemory(mem.toDF())
    var live = disk ++ mem
    def rids(q: org.apache.spark.sql.DataFrame) =
      q.select("series", "rid").as[(String, Long)].collect().toSeq
    def flat(ids: Seq[String], n: Int) =
      rids(graft.operators.TimeSeries.readLast(live.toDF(), ids, n))
    def scans(q: org.apache.spark.sql.DataFrame) =
      q.queryExecution.executedPlan.toString.contains("FileScan")
    assert(st.diskVersions.last.maxTsOf("a") == Some(T0 + 499000L))
    val v0 = st.diskVersions.last.version
    // b passes its bucket's bound: M1, decided with no job
    val (qb, bJobs) = JobProbe.sites(spark)(st.readLast(Seq("b"), 5))
    assert(bJobs.isEmpty, bJobs)
    assert(!scans(qb) && rids(qb) == flat(Seq("b"), 5))
    // a fails its bucket's bound, but its own disk rows end below its
    // buffer: the probe job says so, and a keeps M1 and M2, unflushed
    val (qa, aJobs) = JobProbe.sites(spark)(st.readLast(Seq("a"), 5))
    assert(aJobs.nonEmpty && !scans(qa), aJobs)
    assert(rids(qa) == flat(Seq("a"), 5))
    val merged = st.readLast(Seq("a"), 15) // 10 buffered: M2
    assert(scans(merged) && rids(merged) == flat(Seq("a"), 15))
    val both = st.readLast(Seq("a", "b"), 12)
    assert(rids(both).toSet == flat(Seq("a", "b"), 12).toSet)
    assert(st.diskVersions.last.version == v0)
    assert(st.memStatsView == sparkStats(st) && st.memStatsView.keySet == Set("a", "b"))
    // a late point of x lies inside x's own disk range: a true overlap,
    // flushed (M3) beside a's unflushed read
    val late = Seq(dp("x", T0 + 250500L, 20000L))
    st.appendMemory(late.toDF())
    live ++= late
    assert(rids(st.readLast(Seq("x", "a"), 3)).toSet == flat(Seq("x", "a"), 3).toSet)
    assert(st.diskVersions.last.version == v0 + 1)
    assert(st.memStatsView == sparkStats(st) && st.memStatsView.keySet == Set("a", "b"))
    assert(st.bufferedCount() == st.buffer.count() && st.bufferedCount() == 20L)
    // deleting x's newer tail shrinks the bucket's bound below a's buffer:
    // a's read is decided with no job again
    val hit = (d: Datapoint) => d.series == "x" && d.ts_us >= T0 + 100000L
    assert(st.delete(Seq("x"), T0 + 100000L, T0 + 600000L) == live.count(hit))
    live = live.filterNot(hit)
    assert(st.diskVersions.last.maxTsOf("a") == Some(T0 + 99000L))
    val (again, jobs) = JobProbe.sites(spark)(st.readLast(Seq("a"), 5))
    assert(jobs.isEmpty, jobs)
    assert(!scans(again) && rids(again) == flat(Seq("a"), 5))
    st.flush(Seq("a"))
    assert(st.memStatsView == sparkStats(st) && st.memStatsView.keySet == Set("b"))
    st.sync()
    assert(st.memStatsView.isEmpty && st.bufferedCount() == 0L)
    assert(rids(st.readLast(Seq("a", "b", "x"), 8)).toSet == flat(Seq("a", "b", "x"), 8).toSet)
  }

  /** The buffer stats as a Spark aggregate over the buffer itself. */
  private def sparkStats(st: TieredStore): Map[String, (Long, Long, Long)] =
    st.buffer.groupBy("series").agg(count(lit(1)), min("ts_us"), max("ts_us"))
      .as[(String, Long, Long, Long)].collect()
      .map { case (s, n, lo, hi) => s -> ((n, lo, hi)) }.toMap

  test("buffer stats stay exact over a seeded mutation mix; answers match flat reads") {
    val rnd = new scala.util.Random(7301)
    val st = new TieredStore(spark, tmpDir("tier_mix"))
    val ids = Seq("a", "b", "c")
    var live = Vector.empty[Datapoint]
    var rid = 0L
    // mostly newer than what came before, sometimes late (inside the disk
    // range), so the mix takes the M1, M2 and M3 paths
    def points(step: Int): Seq[Datapoint] = Seq.fill(1 + rnd.nextInt(6)) {
      rid += 1
      dp(ids(rnd.nextInt(ids.size)), T0 + (step * 4L + rnd.nextInt(12) - 6) * 1000L, rid)
    }
    def pick(): Seq[String] = rnd.shuffle(ids).take(1 + rnd.nextInt(ids.size))
    def answer(df: org.apache.spark.sql.DataFrame) =
      df.select("series", "ts_us", "rid").as[(String, Long, Long)].collect().toSeq.sorted
    (0 until 24).foreach { step =>
      val op = rnd.nextInt(5)
      op match {
        case 0 => val p = points(step); st.appendMemory(p.toDF()); live ++= p
        case 1 => val p = points(step); st.ingest(p.toDF(), spillThreshold = 5L); live ++= p
        case 2 => st.flush(pick())
        case 3 => st.sync()
        case 4 =>
          val (ss, lo) = (pick(), T0 + (step * 4L - 8) * 1000L)
          val hit = (d: Datapoint) => ss.contains(d.series) && d.ts_us >= lo && d.ts_us <= lo + 6000L
          assert(st.delete(ss, lo, lo + 6000L) == live.count(hit), s"step $step")
          live = live.filterNot(hit)
      }
      assert(st.memStatsView == sparkStats(st), s"step $step op $op")
      val (ss, n) = (pick(), 1 + rnd.nextInt(8))
      assert(answer(st.readLast(ss, n)) ==
        answer(graft.operators.TimeSeries.readLast(live.toDF(), ss, n)), s"step $step op $op")
      assert(st.memStatsView == sparkStats(st), s"step $step after readLast")
      assert(st.bufferedCount() == st.buffer.count(), s"step $step")
    }
    assert(answer(st.snapshot) == answer(live.toDF()))
  }

  test("a read that needs no flush decides its tier path without a Spark job") {
    val st = freshSorted() // 100 on disk, 20 buffered beyond the disk bound
    val (frames, sites) = JobProbe.sites(spark) {
      Seq(st.readLast(Seq("a"), 10), st.readLast(Seq("a"), 30), st.readLast(Seq("a", "zz"), 5))
    }
    assert(sites.isEmpty, sites)
    assert(frames.map(_.count()) == Seq(10L, 30L, 5L))
  }

  /** A parquet scan in `plan` lists files by a `bucket` partition filter. */
  private def prunesBuckets(plan: String): Boolean =
    "PartitionFilters: \\[[^\\]]*bucket#".r.findFirstIn(plan).nonEmpty

  test("bucketed layout is read-invisible; deletes spare co-resident series") {
    // ten series, two of them sharing a bucket: a bucket-scoped delete of
    // one must carry the other through its survivors dir
    val pool = (0 until 1000).map(i => s"s$i")
    val mates = pool.groupBy(ShardStore.bucketOf(_, ShardStore.Buckets)).values
      .find(_.size >= 2).get.take(2)
    val allIds = mates ++ pool.filterNot(mates.contains).take(8)
    val rows = (0L until 200L).map(i => dp(allIds((i % 10).toInt), T0 + i * 1000L, i))
    val st = new TieredStore(spark, tmpDir("tier_buck"))
    st.appendDisk(rows.toDF())
    val tail = (0L until 10L).map(i => dp(mates(0), T0 + 10000000L + i * 1000L, 1000 + i))
    st.appendMemory(tail.toDF())
    var live = rows ++ tail
    def got(ids: Seq[String], n: Int) = st.readLast(ids, n).select("series", "ts_us", "rid")
      .as[(String, Long, Long)].collect().toSeq
    def want(ids: Seq[String], n: Int) = graft.operators.TimeSeries.readLast(live.toDF(), ids, n)
      .select("series", "ts_us", "rid").as[(String, Long, Long)].collect().toSeq
    def split = st.lengthSplit(allIds).as[(String, Long, Long, Long)].collect().toSeq
    def wantSplit = allIds.sorted.map { s =>
      val (m, d) = (tail.count(_.series == s).toLong, live.count(_.series == s).toLong)
      (s, m, d - m, d)
    }
    val ids = Seq(mates(0), allIds(2), allIds(6))
    assert(got(ids, 25) == want(ids, 25))
    assert(split == wantSplit)
    // the disk read PRUNES on the bucket partition column — the queried
    // ids' buckets reach the scan as a partition filter
    val p = st.readLast(Seq(allIds(2)), 1000).queryExecution.executedPlan.toString
    assert(prunesBuckets(p), p)
    // live delete of one mate (its buffer flushes first); the other survives intact
    val hit = (d: Datapoint) => d.series == mates(0) && d.ts_us <= T0 + 50000L
    assert(st.delete(Seq(mates(0)), T0, T0 + 50000L) == live.count(hit))
    live = live.filterNot(hit)
    assert(got(allIds, 50) == want(allIds, 50))
    assert(split.map { case (s, _, d, _) => (s, d) } ==
      allIds.sorted.map(s => (s, live.count(_.series == s).toLong)))
    assert(st.lengthSplit(Seq(mates(1))).select("len").as[Long].head() == 20L)
  }

  test("non-ASCII series ids of the same length keep their own points on disk") {
    val st = new TieredStore(spark, tmpDir("tier_nonascii"))
    val ids = Seq("\u00e9t\u00e9", "\u00ff\u00ff\u00ff")
    def values(k: Int) = (0 until 3).map(i => (k * 10 + i).toDouble)
    ids.zipWithIndex.foreach { case (id, k) =>
      val body = values(k).zipWithIndex
        .map { case (v, i) => s"""{"timestamp": ${1704067200000000L + i}, "value": $v}""" }
        .mkString("[", ",", "]")
      assert(graft.api.Router.runPost(st, s"ts/$id", body).as[(Long, Long)].head() == ((3L, 0L)))
    }
    st.sync()
    ids.zipWithIndex.foreach { case (id, k) =>
      val back = graft.api.Router.run(st, s"$id/last/10").select("series", "value")
        .as[(String, Double)].collect().toSet
      assert(back == values(k).map((id, _)).toSet, s"$id read back $back")
    }
    assert(graft.api.Router.run(st, "names").as[String].collect().toSet == ids.toSet)
  }

  test("series-scoped routes read the ids' buckets, not the whole disk tier") {
    val st = freshSorted() // series a: 100 on disk, 20 buffered
    st.appendDisk((0L until 50L).map(i => dp("other", T0 + i * 1000L, 5000 + i)).toDF())
    assert(ShardStore.bucketOf("a", ShardStore.Buckets) !=
      ShardStore.bucketOf("other", ShardStore.Buckets))
    val q = graft.api.Router.run(st, "a/since/0")
    val plan = q.queryExecution.executedPlan.toString
    assert(prunesBuckets(plan), plan)
    assert(q.count() == 120L)
    assert(q.select("series").distinct().as[String].collect().toSeq == Seq("a"))
    assert(graft.api.Router.run(st, "a,other/length").as[Long].head() == 170L)
    assert(graft.api.Router.run(st, "names").count() == 2L)
  }

  test("router routes run against the live store; tier routes answer the split") {
    val st = freshSorted() // 100 on disk, 20 buffered
    val series = Seq("a")
    val viaStore = graft.api.Router.run(st, "a/last/15").select("rid").as[Long].collect().toSeq
    assert(viaStore == st.readLast(series, 15).select("rid").as[Long].collect().toSeq)
    assert(graft.api.Router.run(st, "a/memory/length").head().getLong(0) == 20L)
    assert(graft.api.Router.run(st, "a/disk/length").head().getLong(0) == 100L)
    assert(graft.api.Router.run(st, "a/length").head().getLong(0) == 120L)
    // xargs routes fall through to the snapshot and see BOTH tiers
    val mean = graft.api.Router.run(st, "a/since/0/mean")
    assert(mean.count() == 1L)
  }

  test("reads of one tip share its parquet relations; a spill builds new ones") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
    def locations(df: DataFrame): Seq[FileIndex] = df.queryExecution.analyzed.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location
    }
    val root = tmpDir("tier_groups")
    val st = new TieredStore(spark, root)
    st.appendDisk((0L until 100L).map(i => dp("a", T0 + i * 1000L, i)).toDF())
    st.appendMemory((0L until 5L).map(i => dp("a", T0 + 1000000L + i * 1000L, 100 + i)).toDF())
    val before = st.snapshot(Seq("a"))
    val merged = st.readLast(Seq("a"), 10) // M2: memory plus the disk tail
    val whole = st.snapshot
    // the same index object: an `InMemoryFileIndex` equals any other
    // over the same root paths
    val Seq(loc) = locations(before)
    assert((locations(merged) ++ locations(whole)).forall(_ eq loc))
    // a spill publishes a new tip, read through new relations
    st.ingest((5L until 10L).map(i => dp("a", T0 + 1000000L + i * 1000L, 100 + i)).toDF(), 10L)
    val after = st.snapshot(Seq("a"))
    assert(locations(after).nonEmpty && locations(after).forall(_ ne loc))
    // answers: the frame taken before the spill keeps its snapshot, the
    // new tip's read equals a reopened store's
    assert(StoreTestUtil.fp(before) == StoreTestUtil.fp(
      (0L until 100L).map(i => dp("a", T0 + i * 1000L, i)).toDF()
        .union((0L until 5L).map(i => dp("a", T0 + 1000000L + i * 1000L, 100 + i)).toDF())))
    assert(merged.select("rid").as[Long].collect().toSeq == (104L to 95L by -1L))
    assert(StoreTestUtil.fp(after) == StoreTestUtil.fp(new TieredStore(spark, root).snapshot(Seq("a"))))
    assert(StoreTestUtil.fp(after)._1 == 110L)
  }

  test("I7 health route answers through the router grammar") {
    val df = (0L until 3L).map(i => dp("a", T0 + i, i)).toDF()
    val rows = graft.api.Router.run(df, "info/status").collect()
    assert(rows.length == 1 && rows.head.getString(0) == "ok")
  }
}
