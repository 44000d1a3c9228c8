package graft

import graft.model.Canon.{Datapoint, TagEntry}
import graft.sources.{TieredStore, VersionedStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Crash-atomicity of the unified manifest protocol (VERDICT r11/r12
  * item 1): every disk-tier mutation commits through the
  * [[VersionedStore]] manifest CAS, so it is ALL-OR-NOTHING — a writer
  * that dies after staging its data dir but before the CAS leaves the
  * chain at the pre-mutation version plus one inert orphan dir; there is
  * no torn intermediate state and no roll-forward to run. Also covers
  * the live store's time-travel/CDC dividend, skip persistence across
  * appends (the ADVICE r12 resurrection bug), torn-manifest loud
  * failure, and plain reopen: a fresh instance over an existing root
  * must see the disk tier (presence + the manifest's bounds) instead of
  * treating it as empty, and runs no Spark job to do so.
  */
class TieredStoreRecoverySpec extends SparkSuite {
  import spark.implicits._

  private val T0 = 1704067200000000L
  private def dp(s: String, ts: Long, rid: Long) =
    Datapoint(s, ts, Some(Seq(TagEntry("k", "1"))), rid.toDouble, rid)

  /** 2 series × 100 points each, rid = series offset + i. */
  private def seedRows: Seq[Datapoint] =
    (0L until 100L).flatMap(i =>
      Seq(dp("a", T0 + i * 1000L, i), dp("b", T0 + i * 1000L, 1000 + i)))

  private def fp(df: DataFrame): (Long, Long) = StoreTestUtil.fp(df)

  test("crashed (uncommitted) delete leaves the pre-delete version; orphan GC honors grace (bucketed)") {
    val root = tmpDir("tier_crash")
    val st = new TieredStore(spark, root)
    st.appendDisk(seedRows.toDF())
    // a delete whose writer died AFTER staging the survivors dir but
    // BEFORE the manifest CAS: the commit never happened, so the store
    // still reads the PRE-delete content — all-or-nothing, the opposite
    // failure mode of the former swap protocol's torn listing
    val survivors = seedRows.toDF()
      .filter(!col("ts_us").between(T0 + 25000L, T0 + 74000L))
    val orphan = s"$root/data/d00000099-delete-deadbeef"
    graft.sources.ShardStore.append(survivors, orphan, graft.sources.ShardStore.Buckets)
    val reopened = new TieredStore(spark, root)
    assert(fp(reopened.snapshot) == fp(seedRows.toDF()),
      "an uncommitted staging dir changed store content")
    // the orphan is inert and INSIDE the grace window: the open must not
    // sweep a dir a concurrent writer may be about to commit
    assert(new java.io.File(orphan).exists(), "in-grace orphan swept at open")
    VersionedStore.sweepOrphanData(spark, root, graceMs = 0L)
    assert(!new java.io.File(orphan).exists(), "post-grace orphan not collected")
    // the store stays fully operational: the delete re-run commits cleanly
    assert(reopened.delete(Seq("a", "b"), T0 + 25000L, T0 + 74000L) == 100L)
    val expected = seedRows.toDF()
      .filter(!col("ts_us").between(T0 + 25000L, T0 + 74000L))
    assert(fp(reopened.snapshot) == fp(expected))
    // committed data dirs are never swept, however old they look
    VersionedStore.sweepOrphanData(spark, root, graceMs = 0L)
    assert(fp(new TieredStore(spark, root).snapshot) == fp(expected))
  }

  test("live-store time travel + CDC across a delete; compactDisk expires history") {
    val root = tmpDir("tier_tt")
    val st = new TieredStore(spark, root)
    st.appendDisk(seedRows.toDF())
    val v1 = st.diskVersions.last.version
    assert(st.delete(Seq("a"), T0 + 25000L, T0 + 74000L) == 50L)
    val v2 = st.diskVersions.last.version
    val expected = seedRows.toDF().filter(
      !(col("series") === "a" && col("ts_us").between(T0 + 25000L, T0 + 74000L)))
    // time travel: the pre-delete version stays exactly readable
    assert(fp(st.readDiskAt(v1)) == fp(seedRows.toDF()))
    assert(fp(st.readDiskAt(v2)) == fp(expected))
    // CDC: the delete surfaces as 50 'delete' changes, no inserts (the
    // survivors dir's rows carry their old rids and cancel in the diff)
    val ch = st.diskChanges(v1, v2)
    assert(ch.filter(col(VersionedStore.CHANGE_TYPE) === "delete").count() == 50L)
    assert(ch.filter(col(VersionedStore.CHANGE_TYPE) === "insert").count() == 0L)
    // retainHistory: compaction without the space reclaim keeps history
    st.compactDisk(retainHistory = true)
    assert(fp(st.readDiskAt(v1)) == fp(seedRows.toDF()))
    assert(fp(st.snapshot) == fp(expected))
    // the default compact expires superseded versions (OPTIMIZE+VACUUM):
    // old versions stop being readable, the live content is unchanged
    st.compactDisk()
    intercept[IllegalArgumentException] { st.readDiskAt(v1) }
    assert(fp(st.snapshot) == fp(expected))
    assert(st.diskVersions.size == 1 && st.diskVersions.last.op == "compact")
  }

  test("delete skips survive later appends and reopens; escaped series names round-trip") {
    val root = tmpDir("tier_skips")
    val st = new TieredStore(spark, root)
    val odd = "a b:c%7" // space, colon, percent: never part of a path
    val oddRows = (0L until 20L).map(i => dp(odd, T0 + i * 1000L, i))
    val bRows = (0L until 20L).map(i => dp("b", T0 + i * 1000L, 100 + i))
    st.appendDisk((oddRows ++ bRows).toDF())
    assert(st.delete(Seq(odd), T0, T0 + 100000L) == 20L)
    val tip = st.diskVersions.last
    assert(tip.skips.nonEmpty && tip.skips.forall(_._2.startsWith("bucket=")),
      s"partition-scoped delete must commit skip exclusions, got ${tip.skips}")
    // the ADVICE r12 resurrection bug: an append after a delete must carry
    // the parent's skips — without that the deleted partition reappears
    val bMore = (20L until 30L).map(i => dp("b", T0 + i * 1000L, 100 + i))
    st.appendDisk(bMore.toDF())
    assert(fp(st.snapshot) == fp((bRows ++ bMore).toDF()),
      "append after delete resurrected the deleted partition")
    assert(fp(new TieredStore(spark, root).snapshot) == fp((bRows ++ bMore).toDF()),
      "reopen diverges from the in-process view")
  }

  test("a torn manifest fails LOUDLY on open (never a silent empty version)") {
    val root = tmpDir("tier_torn")
    val st = new TieredStore(spark, root)
    st.appendDisk(seedRows.toDF())
    val torn = new java.io.File(root, "_manifests/v00000099.txt")
    assert(torn.createNewFile())
    val e = intercept[IllegalStateException] { new TieredStore(spark, root) }
    assert(e.getMessage.contains("corrupt manifest"), e.getMessage)
    // remediation: remove the torn file; the chain is intact again
    assert(torn.delete())
    assert(fp(new TieredStore(spark, root).snapshot) == fp(seedRows.toDF()))
  }

  test("a reopened store runs no Spark job before its first read") {
    val root = tmpDir("tier_reopen_jobs")
    new TieredStore(spark, root).appendDisk(seedRows.toDF())
    val (reopened, sites) = JobProbe.sites(spark) { new TieredStore(spark, root) }
    assert(sites.isEmpty, sites)
    // the bounds came from the manifest: a buffer beyond them reads
    // memory only, one inside them reads the disk tail
    reopened.appendMemory(Seq(dp("b", T0 + 200000L, 7777L), dp("a", T0 + 50500L, 8888L)).toDF())
    val q = reopened.readLast(Seq("b"), 1)
    assert(!q.queryExecution.executedPlan.toString.contains("FileScan"))
    assert(q.select("rid").as[Long].collect().toSeq == Seq(7777L))
    assert(reopened.readLast(Seq("a"), 1).select("rid").as[Long].collect().toSeq == Seq(99L))
  }

  test("plain reopen hydrates disk presence and per-series bounds") {
    val root = tmpDir("tier_reopen")
    val st = new TieredStore(spark, root)
    st.appendDisk(seedRows.toDF())
    val reopened = new TieredStore(spark, root)
    // presence: the disk tier is visible without any write
    assert(fp(reopened.snapshot) == fp(seedRows.toDF()))
    // bounds: a buffer that OVERLAPS the reopened disk range must not
    // qualify for the memory-only path — last-1 of series a is the disk
    // tail (rid 99), not the older buffered point
    reopened.appendMemory(Seq(dp("a", T0 + 50500L, 7777L)).toDF())
    val last = reopened.readLast(Seq("a"), 1).select("rid").as[Long].collect()
    assert(last.toSeq == Seq(99L),
      s"reopened store mis-qualified an overlapping buffer: got ${last.toSeq}")
  }

  test("a foreign commit between two spills fails the second spill; the buffer stays") {
    val root = tmpDir("tier_foreign")
    val st = new TieredStore(spark, root)
    val a = (0L until 3L).map(i => dp("a", T0 + i * 1000L, i))
    st.ingest(a.toDF(), spillThreshold = 3L) // spill 1: v1
    // an out-of-band writer commits v2 on the same root
    VersionedStore.append(Seq(dp("b", T0, 1000L)).toDF(), root)
    val more = (3L until 6L).map(i => dp("a", T0 + i * 1000L, i))
    // spill 2 commits on the store's own tip, v1, at v2: the CAS refuses
    intercept[VersionedStore.ConcurrentCommitException] {
      st.ingest(more.toDF(), spillThreshold = 3L)
    }
    // the failed batch is not kept, so a retry cannot ingest it twice
    assert(st.bufferedCount() == 0L)
    // the foreign commit is the tip, not overwritten; a reopen adopts it
    val vs = VersionedStore.versions(spark, root)
    assert(vs.map(_.version) == Seq(1, 2) && vs.last.op == "append")
    val reopened = new TieredStore(spark, root)
    assert(fp(reopened.snapshot) == fp((a :+ dp("b", T0, 1000L)).toDF()))
    // the retry after reopen ingests the batch exactly once
    reopened.ingest(more.toDF(), spillThreshold = 3L)
    assert(reopened.bufferedCount() == 0L)
    assert(fp(reopened.snapshot) == fp((a ++ more :+ dp("b", T0, 1000L)).toDF()))
  }

  test("a POST whose spill fails keeps nothing of its body") {
    val root = tmpDir("tier_post_foreign")
    val st = new TieredStore(spark, root)
    def body(ts: Seq[Long]) = ts.map(t => s"""{"timestamp": $t, "value": 1}""").mkString("[", ",", "]")
    graft.api.Router.runPost(st, "ts/a", body(Seq(T0)), spillThreshold = 3L)
    VersionedStore.append(Seq(dp("b", T0, 1000L)).toDF(), root)
    intercept[VersionedStore.ConcurrentCommitException] {
      graft.api.Router.runPost(st, "ts/a", body(Seq(T0 + 1, T0 + 2)), spillThreshold = 3L)
    }
    // the buffer is what it was before the failed POST
    assert(st.memStatsView == Map("a" -> ((1L, T0, T0))))
  }

  test("a spill, a delete and a compaction list the manifest dir at most once each") {
    val root = tmpDir("tier_listings")
    val st = new TieredStore(spark, root)
    def listings(op: => Unit): Int = {
      ManifestListingFs.count.set(0)
      spark.conf.set("fs.file.impl", classOf[ManifestListingFs].getName)
      spark.conf.set("fs.file.impl.disable.cache", "true")
      try op finally {
        spark.conf.unset("fs.file.impl")
        spark.conf.unset("fs.file.impl.disable.cache")
      }
      ManifestListingFs.count.get
    }
    st.appendDisk(seedRows.toDF())
    st.appendMemory(Seq(dp("a", T0 + 500000L, 7777L)).toDF())
    // the probe counts: a reopen reads the chain
    assert(listings(new TieredStore(spark, root)) >= 1)
    assert(listings(st.ingest(Seq(dp("a", T0 + 600000L, 7778L)).toDF(), 2L)) <= 1, "spill")
    assert(listings(st.delete(Seq("a"), T0, T0 + 1000L)) <= 1, "delete")
    assert(listings(st.compactDisk()) <= 1, "compaction")
    assert(fp(st.snapshot) == fp(new TieredStore(spark, root).snapshot))
  }
}

/** A local file system that counts listings of a manifest dir. */
class ManifestListingFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    if (f.getName == "_manifests") ManifestListingFs.count.incrementAndGet()
    super.listStatus(f)
  }
}

object ManifestListingFs {
  val count = new java.util.concurrent.atomic.AtomicInteger()
}
