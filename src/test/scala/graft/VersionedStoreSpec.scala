package graft

import graft.model.Canon
import graft.sources.{ShardStore, VersionedStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Time-travel semantics of the manifest-chain store: every mutation is a
  * version, every historical version re-reads bit-identically (the
  * reference's one-Git-commit-per-write history, shard.re:26-34).
  */
class VersionedStoreSpec extends SparkSuite {

  private def fp(df: DataFrame): (Long, Long) = {
    val r = df.agg(
      count(lit(1)),
      sum(hash(col("series"), col("ts_us"), col("tag"), col("value"),
        col("rid")).cast("long"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  test("append x2 -> delete -> compact: four versions, each time-travel read exact") {
    val root = tmpDir("vstore")
    val src = Canon.events(spark, "/root/testdata/sf0.001")
    assert(VersionedStore.versions(spark, root).isEmpty)

    val v1 = VersionedStore.append(src.filter(col("rid") % 2 === 0), root)
    val v2 = VersionedStore.append(src.filter(col("rid") % 2 =!= 0), root)
    val v3 = VersionedStore.deleteRewrite(
      VersionedStore.read(spark, root).filter(col("series") =!= "click"), root)
    val v4 = VersionedStore.compact(spark, root)
    assert(Seq(v1, v2, v3, v4) == Seq(1, 2, 3, 4))

    val vs = VersionedStore.versions(spark, root)
    assert(vs.map(c => (c.version, c.op)) ==
      Seq((1, "append"), (2, "append"), (3, "delete"), (4, "compact")))
    // history: every version still reads exactly what it committed
    assert(fp(VersionedStore.readAt(spark, root, 1)) ==
      fp(src.filter(col("rid") % 2 === 0)))
    assert(fp(VersionedStore.readAt(spark, root, 2)) == fp(src))
    assert(fp(VersionedStore.readAt(spark, root, 3)) ==
      fp(src.filter(col("series") =!= "click")))
    assert(fp(VersionedStore.readAt(spark, root, 4)) ==
      fp(VersionedStore.readAt(spark, root, 3)))
    assert(fp(VersionedStore.read(spark, root)) ==
      fp(VersionedStore.readAt(spark, root, 4)))
    // append manifests accumulate dirs; delete/compact collapse to one
    assert(vs.map(_.dirs.length) == Seq(1, 2, 1, 1))
    // data dirs are immutable: v3's delete did not shrink v2's read
    assert(fp(VersionedStore.readAt(spark, root, 2))._1 >
      fp(VersionedStore.readAt(spark, root, 3))._1)
  }

  test("empty mutation commits a version; an all-deleted store reads empty with schema") {
    val root = tmpDir("vstore_empty")
    val src = Canon.events(spark, "/root/testdata/sf0.001").limit(10)
    VersionedStore.append(src, root)
    val v2 = VersionedStore.deleteRewrite(
      VersionedStore.read(spark, root).filter(lit(false)), root)
    assert(v2 == 2)
    val empty = VersionedStore.readAt(spark, root, 2)
    assert(empty.count() == 0)
    assert(empty.schema == Canon.schema)
    // and the pre-delete history is intact
    assert(VersionedStore.readAt(spark, root, 1).count() == 10)
  }

  test("readAt an uncommitted version fails loudly; stray temp manifests are invisible") {
    val root = tmpDir("vstore_guard")
    val src = Canon.events(spark, "/root/testdata/sf0.001").limit(5)
    VersionedStore.append(src, root)
    // a crashed writer's leftover temp file must not surface as a version
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_manifests", ".v00000002.tmp"),
      "op append\ndir bogus".getBytes("UTF-8"))
    assert(VersionedStore.versions(spark, root).map(_.version) == Seq(1))
    intercept[IllegalArgumentException] {
      VersionedStore.readAt(spark, root, 2)
    }
    intercept[IllegalArgumentException] {
      VersionedStore.readAt(spark, root, 0)
    }
  }

  test("interleaved writers: loser gets a clean conflict, history stays linear") {
    val root = tmpDir("vstore_race")
    val src = Canon.events(spark, "/root/testdata/sf0.001").limit(20)
    VersionedStore.append(src.filter(col("rid") % 2 === 0), root) // v1
    // writer A stages version 2 (reads the chain, writes data, has not
    // committed); writer B commits version 2 first and wins the CAS
    val staged = 2
    val winner = VersionedStore.append(src.filter(col("rid") % 2 =!= 0), root)
    assert(winner == staged)
    val e = intercept[VersionedStore.ConcurrentCommitException] {
      VersionedStore.commitAt(spark, root, VersionedStore.Commit(staged, "append",
        Seq("orphan-dir"), Nil, ShardStore.Buckets, Seq(("orphan-dir", "bucket=0", 0L))))
    }
    assert(e.getMessage.contains("concurrent writer"))
    // the chain is linear and the winner's manifest was not overwritten
    val vs = VersionedStore.versions(spark, root)
    assert(vs.map(_.version) == Seq(1, 2))
    assert(!vs.exists(_.dirs.contains("orphan-dir")))
    assert(fp(VersionedStore.readAt(spark, root, 2)) == fp(src))
  }

  test("deleteRewrite vs interleaved append: stale snapshot conflicts, never a lost update") {
    val root = tmpDir("vstore_lostupdate")
    val src = Canon.events(spark, "/root/testdata/sf0.001").limit(20)
    VersionedStore.append(src.filter(col("rid") % 2 === 0), root) // v1
    // writer A snapshots the tip (v1) and computes its survivors from it
    val snapA = VersionedStore.versions(spark, root).last.version
    val survivorsA = VersionedStore.readAt(spark, root, snapA)
      .filter(col("series") =!= "click")
    // writer B appends v2 BETWEEN A's read and A's commit
    assert(VersionedStore.append(src.filter(col("rid") % 2 =!= 0), root) == 2)
    // A's rewrite carries expectedVersion = its snapshot → the CAS at
    // snapA+1 collides with B and A gets a clean conflict instead of
    // silently erasing B's rows from the new tip
    intercept[VersionedStore.ConcurrentCommitException] {
      VersionedStore.deleteRewrite(survivorsA, root, Some(snapA))
    }
    // B's append is intact; A retries from the new tip and succeeds
    val tip = VersionedStore.versions(spark, root).last.version
    assert(tip == 2)
    val v3 = VersionedStore.deleteRewrite(
      VersionedStore.readAt(spark, root, tip).filter(col("series") =!= "click"),
      root, Some(tip))
    assert(v3 == 3)
    val after = VersionedStore.readAt(spark, root, 3)
    assert(after.filter(col("series") === "click").count() == 0)
    // rows from BOTH appends survive (minus the delete) — no lost update
    assert(after.count() ==
      src.filter(col("series") =!= "click").count())
  }

  test("8 racing appenders: every commit lands once, chain linear, union exact") {
    val root = tmpDir("vstore_threads")
    val src = Canon.events(spark, "/root/testdata/sf0.001").limit(64).cache()
    try {
      src.count()
      import java.util.concurrent.Executors
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      val pool = Executors.newFixedThreadPool(8)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // each appender retries on conflict — the standard optimistic loop
      def appendWithRetry(part: Int): Int = {
        var committed = -1
        while (committed < 0)
          try committed = VersionedStore.append(src.filter(col("rid") % 8 === part), root)
          catch { case _: VersionedStore.ConcurrentCommitException => }
        committed
      }
      val got = Await.result(
        Future.sequence((0 until 8).map(p => Future(appendWithRetry(p)))), 5.minutes)
      pool.shutdown()
      // all eight landed at distinct versions, the chain is gapless, and
      // the final read is the exact union of every writer's slice
      assert(got.sorted == (1 to 8))
      assert(VersionedStore.versions(spark, root).map(_.version) == (1 to 8))
      assert(fp(VersionedStore.read(spark, root)) == fp(src))
    } finally src.unpersist()
  }

  test("CDC: append-only ranges read only the delta dirs; delete chains diff exactly") {
    val root = tmpDir("vstore_cdc")
    val src = Canon.events(spark, "/root/testdata/sf0.001")
    VersionedStore.append(src.filter(col("rid") % 2 === 0), root)
    VersionedStore.append(src.filter(col("rid") % 2 =!= 0), root)
    VersionedStore.deleteRewrite(
      VersionedStore.read(spark, root).filter(col("series") =!= "click"), root)
    VersionedStore.compact(spark, root)

    // append-only (1,2): all-insert, content = the odd-rid append, and the
    // PLAN reads only v2's delta dir — the O(delta) fast path (no v1 scan,
    // no join anywhere)
    val ch12 = VersionedStore.readChanges(spark, root, 1, 2)
    assert(ch12.filter(col(VersionedStore.CHANGE_TYPE) =!= "insert").isEmpty)
    assert(fp(ch12.drop(VersionedStore.CHANGE_TYPE)) ==
      fp(src.filter(col("rid") % 2 =!= 0)))
    val vs = VersionedStore.versions(spark, root)
    val v1Dir = vs.head.dirs.head
    val plan12 = ch12.queryExecution.executedPlan.toString
    assert(!plan12.contains(v1Dir), s"fast path scanned the base version dir:\n$plan12")
    assert(!plan12.contains("Join"), plan12)

    // delete chain (2,3): deletes are exactly the clicks, no inserts
    val ch23 = VersionedStore.readChanges(spark, root, 2, 3)
    assert(ch23.filter(col(VersionedStore.CHANGE_TYPE) === "insert").isEmpty)
    assert(fp(ch23.filter(col(VersionedStore.CHANGE_TYPE) === "delete")
      .drop(VersionedStore.CHANGE_TYPE)) == fp(src.filter(col("series") === "click")))
    // compact (3,4) is a CDC no-op; same-version is empty; applyChanges
    // reconstructs every pair, including across the whole mixed chain
    assert(VersionedStore.readChanges(spark, root, 3, 4).isEmpty)
    assert(VersionedStore.readChanges(spark, root, 2, 2).isEmpty)
    for ((f, t) <- Seq((1, 2), (2, 3), (3, 4), (1, 4))) {
      val recon = VersionedStore.applyChanges(
        VersionedStore.readAt(spark, root, f),
        VersionedStore.readChanges(spark, root, f, t))
      assert(fp(recon) == fp(VersionedStore.readAt(spark, root, t)), s"($f,$t)")
    }
    intercept[IllegalArgumentException] { VersionedStore.readChanges(spark, root, 2, 1) }
    intercept[IllegalArgumentException] { VersionedStore.readChanges(spark, root, 1, 9) }
  }

  test("mixed-range CDC scans only changed partitions; dedupChangesSince reads fromV ONCE") {
    import org.apache.spark.sql.graft.ScanBridge.scannedFiles
    val root = tmpDir("vstore_narrow")
    def rows(series: String, ridLo: Long, n: Int): DataFrame = {
      import spark.implicits._
      (ridLo until ridLo + n).map(r => (series, r)).toDF("series", "rid")
        .withColumn(Canon.TS_US, col("rid") * 1000L)
        .withColumn(Canon.TAG, array(struct(lit("k").as("name"), lit("v").as("value"))))
        .withColumn(Canon.VALUE, lit(1.0))
        .select(Canon.SERIES, Canon.TS_US, Canon.TAG, Canon.VALUE, Canon.RID)
    }
    VersionedStore.append(rows("a", 0, 10).unionByName(rows("b", 100, 10)), root) // v1
    VersionedStore.append(rows("b", 200, 10), root)                               // v2
    val tip = VersionedStore.versions(spark, root).last
    val Seq(pa, pb) = Seq("a", "b").map(s => ShardStore.partitionNames(Seq(s), tip.buckets).head)
    assert(pa != pb, "a and b must sit in different buckets")
    // partition-scoped wipe of series a's bucket: skips only, no survivors dir
    VersionedStore.deletePartitions(rows("a", 0, 0), root, Seq(pa), tip)         // v3
    val v1Dir = VersionedStore.versions(spark, root).head.dirs.head
    // semantics: deletes = the wiped a rows, inserts = v2's appended b rows
    val ch = VersionedStore.readChanges(spark, root, 1, 3)
    assert(fp(ch.filter(col(VersionedStore.CHANGE_TYPE) === "delete")
      .drop(VersionedStore.CHANGE_TYPE)) == fp(rows("a", 0, 10)))
    assert(fp(ch.filter(col(VersionedStore.CHANGE_TYPE) === "insert")
      .drop(VersionedStore.CHANGE_TYPE)) == fp(rows("b", 200, 10)))
    // scan narrowing: the delete-straddling diff must NOT read v1's
    // UNTOUCHED partition of series b — only the newly-skipped partition
    // of series a in v1 and v2's added dir (the manifest-narrowed diff)
    val chScan = scannedFiles(ch)
    assert(chScan.exists(_.contains(s"$v1Dir/$pa/")), chScan.mkString("\n"))
    assert(!chScan.exists(_.contains(s"$v1Dir/$pb/")),
      s"mixed diff re-read an unchanged partition of fromV:\n${chScan.mkString("\n")}")
    // the r12 double-scan, pinned closed: dedupChangesSince reads each
    // UNTOUCHED fromV file exactly once (the seen side) — the change
    // feed no longer re-reads the whole fromV snapshot. The touched
    // partition is read at most twice by design: once for the seen
    // hashes, once as the newly-skipped delete candidate of the diff.
    val ddScan = scannedFiles(
      VersionedStore.dedupChangesSince(spark, root, 1, 3, col(Canon.SERIES)))
    val untouched = ddScan.filter(_.contains(s"$v1Dir/$pb/"))
      .groupBy(identity).map(_._2.size)
    assert(untouched.nonEmpty && untouched.max == 1,
      s"an unchanged fromV file is scanned more than once:\n${ddScan.mkString("\n")}")
    assert(ddScan.filter(_.contains(s"$v1Dir/$pa/"))
      .groupBy(identity).map(_._2.size).forall(_ <= 2), ddScan.mkString("\n"))
    // and the reconstruction contract holds across the narrowed diff
    assert(fp(VersionedStore.applyChanges(VersionedStore.readAt(spark, root, 1), ch))
      == fp(VersionedStore.readAt(spark, root, 3)))
  }

  test("bucketed skips round-trip the manifest and survive appends") {
    import spark.implicits._
    val root = tmpDir("vstore_bucketskips")
    val b = ShardStore.Buckets
    def rows(series: String, ridLo: Long, n: Int): DataFrame =
      (ridLo until ridLo + n).map(r => (series, r)).toDF("series", "rid")
        .withColumn(Canon.TS_US, col("rid") * 1000L)
        .withColumn(Canon.TAG, array(struct(lit("k").as("name"), lit("v").as("value"))))
        .withColumn(Canon.VALUE, lit(1.0))
        .select(Canon.SERIES, Canon.TS_US, Canon.TAG, Canon.VALUE, Canon.RID)
    // two series in DISTINCT buckets, so a bucket wipe hits exactly one
    val (sa, sb) = (0 to 100).map(i => s"s$i")
      .groupBy(s => ShardStore.bucketOf(s, b)).values.take(2).map(_.head) match {
        case Seq(x, y) => (x, y)
      }
    val (ba, bb) = (ShardStore.bucketOf(sa, b), ShardStore.bucketOf(sb, b))
    assert(ba != bb)
    VersionedStore.append(rows(sa, 0, 10).unionByName(rows(sb, 100, 10)), root) // v1
    // bucket-scoped wipe of sa's bucket: skips only, no survivors
    VersionedStore.deletePartitions(rows(sa, 0, 0), root,
      Seq(s"${ShardStore.BUCKET}=$ba"), VersionedStore.versions(spark, root).last) // v2
    // the manifest round-trips the bucket count and the bucket skip
    val v2 = VersionedStore.versions(spark, root).last
    assert(v2.buckets == b)
    assert(v2.skips.nonEmpty &&
      v2.skips.forall(_._2 == s"${ShardStore.BUCKET}=$ba"), v2.skips.toString)
    assert(fp(VersionedStore.readAt(spark, root, 2)) == fp(rows(sb, 100, 10)))
    // append after the delete: skips and bucket count carry forward — the
    // wiped bucket must NOT resurrect (the ADVICE append-propagation round-trip)
    VersionedStore.append(rows(sb, 200, 10), root)                         // v3
    val v3 = VersionedStore.versions(spark, root).last
    assert(v3.buckets == b && v3.skips == v2.skips,
      s"append dropped the tip's skips/bucket count: $v3")
    assert(fp(VersionedStore.readAt(spark, root, 3)) ==
      fp(rows(sb, 100, 10).unionByName(rows(sb, 200, 10))),
      "append after a bucket delete resurrected the skipped bucket")
    // and the pre-delete history still reads both buckets
    assert(fp(VersionedStore.readAt(spark, root, 1)) ==
      fp(rows(sa, 0, 10).unionByName(rows(sb, 100, 10))))
  }

  test("corrupt skip and layout manifest lines fail with the corrupt-manifest signal") {
    val root = tmpDir("vstore_corrupt")
    val src = Canon.events(spark, "/root/testdata/sf0.001").limit(5)
    VersionedStore.append(src, root)
    val bad = java.nio.file.Paths.get(root, "_manifests", "v00000002.txt")
    def expectCorrupt(lines: String*): Unit = {
      java.nio.file.Files.write(bad, lines.mkString("\n").getBytes("UTF-8"))
      val e = intercept[IllegalStateException] { VersionedStore.versions(spark, root) }
      assert(e.getMessage.contains("corrupt manifest"), e.getMessage)
      java.nio.file.Files.delete(bad)
    }
    val max = "max d1/bucket=3 5"
    // a skip line with no '/' separator — same loud signal as a torn 'op'
    expectCorrupt("op delete", "layout bucketed 64", "dir d1", "skip nopartition", max)
    // no layout line: the bucket count a read prunes with is unknown
    expectCorrupt("op append", "dir d1", max)
    // a non-integer and a non-positive bucket count on the layout line
    expectCorrupt("op append", "layout bucketed x", "dir d1", max)
    expectCorrupt("op append", "layout bucketed 0", "dir d1", max)
    // malformed max lines: no '/', no timestamp, a non-integer timestamp
    expectCorrupt("op append", "layout bucketed 64", "dir d1", "max d1 5")
    expectCorrupt("op append", "layout bucketed 64", "dir d1", "max d1/bucket=3")
    expectCorrupt("op append", "layout bucketed 64", "dir d1", "max d1/bucket=3 x")
    // a dir with no max line: its disk bound is unknown
    expectCorrupt("op append", "layout bucketed 64", "dir d1", "dir d2", max)
    // the chain is intact once the corrupt manifest is removed
    assert(VersionedStore.versions(spark, root).map(_.version) == Seq(1))
  }

  test("max lines survive append, delete, compact and expire") {
    import spark.implicits._
    val root = tmpDir("vstore_max")
    def rows(series: String, ridLo: Long, n: Int): DataFrame =
      (ridLo until ridLo + n).map(r => (series, r)).toDF("series", "rid")
        .withColumn(Canon.TS_US, col("rid") * 1000L)
        .withColumn(Canon.TAG, array(struct(lit("k").as("name"), lit("v").as("value"))))
        .withColumn(Canon.VALUE, lit(1.0))
        .select(Canon.SERIES, Canon.TS_US, Canon.TAG, Canon.VALUE, Canon.RID)
    // a and x share bucket 3 of 64; b sits apart
    val b = ShardStore.Buckets
    assert(ShardStore.bucketOf("a", b) == 3L && ShardStore.bucketOf("x", b) == 3L &&
      ShardStore.bucketOf("b", b) != 3L)
    def tip = VersionedStore.versions(spark, root).last
    def bounds = Seq("a", "x", "b").map(tip.maxTsOf)
    def everyDirHasMax(c: VersionedStore.Commit) =
      c.dirs.forall(d => c.maxes.exists(_._1 == d)) && c.maxes.forall(m => c.dirs.contains(m._1))
    VersionedStore.append(rows("a", 0, 10).unionByName(rows("x", 100, 10)), root) // v1
    assert(bounds == Seq(Some(109000L), Some(109000L), None))
    VersionedStore.append(rows("b", 200, 5), root)                                 // v2
    assert(bounds == Seq(Some(109000L), Some(109000L), Some(204000L)))
    assert(tip.maxes.size == 2 && everyDirHasMax(tip))
    // an empty append commits nothing
    assert(VersionedStore.append(rows("b", 0, 0), root) == 2 && tip.version == 2)
    // partition delete: x wiped, a survives; the skipped line stays, unread
    VersionedStore.deletePartitions(rows("a", 0, 10), root,
      ShardStore.partitionNames(Seq("x"), b), tip)                                // v3
    assert(bounds == Seq(Some(9000L), Some(9000L), Some(204000L)))
    assert(tip.maxes.size == 3 && everyDirHasMax(tip))
    // the dirs a read from a time on needs: v1's bucket 3 is skipped, so
    // only the survivors dir reaches 9 ms there; b's dir reaches 204 ms
    val (p3, pb) = (ShardStore.partitionNames(Seq("a"), b), ShardStore.partitionNames(Seq("b"), b))
    val survivors = tip.dirs.filter(_.contains("-delete-"))
    assert(survivors.size == 1 && tip.dirsReaching(p3, 0L) == survivors)
    assert(tip.dirsReaching(p3, 9001L).isEmpty && tip.dirsReaching(pb, 204000L).size == 1)
    assert(tip.dirsReaching(p3 ++ pb, 0L).size == 2)
    VersionedStore.compact(spark, root)                                            // v4
    assert(tip.op == "compact" && tip.dirs.size == 1 && everyDirHasMax(tip))
    assert(bounds == Seq(Some(9000L), Some(9000L), Some(204000L)))
    VersionedStore.expire(spark, root, keepLast = 1)
    assert(VersionedStore.versions(spark, root).map(_.version) == Seq(4))
    assert(bounds == Seq(Some(9000L), Some(9000L), Some(204000L)))
    // the figures are the data's own per-bucket maxima
    val want = VersionedStore.read(spark, root)
      .groupBy(ShardStore.bucketCol(col(Canon.SERIES), b)).agg(max(Canon.TS_US))
      .as[(Long, Long)].collect().map { case (k, v) => s"${ShardStore.BUCKET}=$k" -> v }.toSet
    assert(tip.maxes.map(m => m._2 -> m._3).toSet == want)
  }

  test("dedupChangesSince: seen-at-fromV dropped, first-in-delta wins, deletes ignored") {
    import spark.implicits._
    val root = tmpDir("vstore_dedup")
    // content = the series name; four delta fates: duplicate-of-seen,
    // within-delta duplicate pair, and a novel singleton
    def rows(xs: (String, Long)*): DataFrame =
      xs.toSeq.toDF("series", "rid")
        .withColumn(Canon.TS_US, col("rid") * 1000L)
        .withColumn(Canon.TAG, array(struct(lit("k").as("name"), lit("v").as("value"))))
        .withColumn(Canon.VALUE, lit(1.0))
        .select(Canon.SERIES, Canon.TS_US, Canon.TAG, Canon.VALUE, Canon.RID)
    VersionedStore.append(rows(("x", 1L), ("y", 2L)), root)                      // v1: seen = {x, y}
    VersionedStore.append(rows(("x", 10L), ("z", 11L), ("z", 12L), ("w", 13L)), root) // v2 delta
    val got = VersionedStore
      .dedupChangesSince(spark, root, 1, 2, col(Canon.SERIES))
      .as[(Long, String)].collect()
    assert(got.map(_._1).toSeq == Seq(11L, 13L), got.mkString(","))
    // the emitted hash IS md5(content) — the append-back contract
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(got.toMap == Map(11L -> md5hex("z"), 13L -> md5hex("w")))
    // a delete-only chain contributes no inserts -> no survivors, even
    // though readChanges takes the content-diff path there
    VersionedStore.deleteRewrite(
      VersionedStore.read(spark, root).filter(col(Canon.RID) =!= 11L), root)
    assert(VersionedStore.dedupChangesSince(spark, root, 2, 3, col(Canon.SERIES)).isEmpty)
    // mixed chain (1,3): insert set = delta minus the deleted rid, so the
    // surviving z copy (rid 12) now wins its pair
    val mixed = VersionedStore.dedupChangesSince(spark, root, 1, 3, col(Canon.SERIES))
      .as[(Long, String)].collect()
    assert(mixed.map(_._1).toSeq == Seq(12L, 13L), mixed.mkString(","))
  }
}
