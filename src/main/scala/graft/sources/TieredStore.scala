package graft.sources

import graft.functions.Tags
import graft.model.Canon
import graft.model.Canon._
import graft.operators.{TimeSeries => TS}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PackedRows

/** M1-M3 + I2: the dual-tier store — an in-memory arrival buffer layered
  * over a [[VersionedStore]] manifest-chain disk tier, replicating the
  * reference's membuf-plus-shards read semantics
  * (`/root/reference/src/timeseries.re:357-434`, `src/membufq.re:17-41`).
  *
  * The reference keeps a per-series FIFO of not-yet-spilled points and
  * answers reads by one of three paths:
  *  - **M1 fast path**: when the buffer lies entirely beyond the disk
  *    tier's cached bound, a `last n` that the buffer can satisfy alone
  *    never touches disk (`timeseries.re:363-382`);
  *  - **M2 memory-then-disk**: same qualification but the buffer is short
  *    of `n` — take all of memory, fill the leftover from disk
  *    (`timeseries.re:384-434`);
  *  - **M3 forced flush**: the buffer overlaps the disk range (late
  *    arrivals) — flush it to disk first, then read disk only
  *    (`timeseries.re:357-361`).
  *
  * Spark-first mapping: the memory tier is the reference's membuf, a
  * driver-side map from series to its queue: the series' buffered rows
  * in arrival order ([[org.apache.spark.sql.graft.PackedRows]]) plus
  * their cached (count, min ts, max ts), membufq's cached length and
  * range. A frame append collects the batch once; a POST's rows arrive
  * evaluated on the driver ([[ingestRows]]) and run no job. The rest is
  * driver arithmetic. A read or a
  * flush frames only the named series' queues, so it plans no series
  * filter of its own and no cached block. A series whose buffered min ts
  * lies beyond its disk upper bound qualifies with no Spark job. The M2
  * merge is `union` + the same `WindowGroupLimit` top-n every flat read
  * uses — Catalyst, not hand-merging.
  *
  * **Durability protocol (unified, r13)**: every disk-tier mutation —
  * spill, sync, direct append, delete, compaction — commits a version on
  * the [[VersionedStore]] manifest chain. The manifest CAS is the single
  * commit point, so each mutation is all-or-nothing: a crash mid-write
  * leaves the chain at the previous version plus one inert orphan data
  * dir ([[VersionedStore.sweepOrphanData]] collects it at the next open).
  * This replaces the former marker-committed in-place dir swap and its
  * roll-forward machinery entirely, and gives the LIVE store time travel
  * ([[readDiskAt]]) and CDC ([[diskChanges]]) for free. Deletes stay
  * partition-scoped (manifest `skip` exclusions + one survivors dir —
  * the Iceberg partition-overwrite idea), so delete cost tracks the
  * affected partitions' data, not store size. [[compactDisk]] collapses
  * the live set to one dir and by default expires the superseded history
  * (the OPTIMIZE + VACUUM pairing), which is where space is reclaimed.
  *
  * **Snapshot contract**: every frame this class returns (readLast,
  * snapshot, lengthSplit) is built under the store lock from the buffer's
  * immutable rows plus parquet relations whose file listing Spark pins at
  * construction — an immutable snapshot of the store at call time. The
  * relations of the tip are built once, at its first read, and shared by
  * every read of that tip: a tip's data dirs never change, so neither
  * does their listing, and a mutation's new tip builds its own. It
  * stays valid across any later mutation; only [[compactDisk]]'s history
  * expiry removes files, after which a stale reader fails LOUDLY
  * (file-not-found) — never a silently doubled or stale answer.
  *
  * Driver-side state is the buffer and the cached tip manifest of the
  * disk tier. The disk side of membufq's
  * cached `disk_range` (`src/membufq.re:45-47`) is the tip's `max` lines:
  * the newest timestamp of each (data dir, bucket), written beside the
  * data as the reference's interval index is (`src/index.re`). A series'
  * disk bound is its bucket's max over the live dirs
  * ([[VersionedStore.Commit.maxTsOf]]), never below the series' own, so
  * a buffer past it is past the series' disk rows. A buffer that fails
  * it may only share its bucket with a series whose clock runs ahead:
  * one job over the recent days of those buckets finds each failing
  * series' own newest disk row, and only a true overlap is flushed. So
  * the decisions are the reference's per-series ones; a bucket mate's
  * newer clock costs that job, never a flush. The spill check, the
  * `last n` tier decision for a buffer past its bucket's bound, the
  * flush bounds and [[bufferedCount]] read driver state instead of
  * running Spark jobs, reopen reads the manifest and no data, and the
  * driver holds nothing per disk series.
  *
  * Scale notes (100 TB): the memory tier is an ingest BUFFER — a series'
  * queue holds fewer than the spill threshold (reference `--shard-size`)
  * + one batch of rows, whatever the corpus size; `tools/ManySeriesProbe`
  * reports the driver heap with 1M rows buffered. The disk tier is the
  * [[ShardStore]] `bucket=/day=` layout under manifest versioning, whose
  * bucket/day pruning does the heavy lifting — every series-scoped read
  * ([[readLast]], [[lengthSplit]], `snapshot(ids)`) and [[delete]] prunes
  * to the queried series' buckets; plan size is bounded by the
  * number of distinct skip sets (≈ deletes since the last compact), never
  * by spill count ([[VersionedStore.rawGroups]]). The M1 verdict's value
  * at scale is skipping the disk scan ENTIRELY for hot-tail reads (the
  * common monitoring access pattern). Divergences from the reference,
  * documented: (1) membufq's `is_ascending` compares only the NEWEST
  * buffered point against the disk bound (`src/membufq.re:23-27`), which
  * admits a buffer whose tail dips below it; we require the whole buffer
  * beyond the bound. (2) The bound check is STRICT
  * (`min(buffer ts) > disk max ts`): at a shared timestamp the
  * (ts desc, rid desc) order can rank a disk row above a buffered one, so a
  * tie must not qualify for the memory-only path — it degrades to the
  * merge/flush paths, never to a wrong answer. (3) No arrival-order check:
  * the reference takes the FIFO tail unsorted, so it needs the buffer
  * ascending in arrival order; every read here sorts by (ts desc, rid
  * desc), so arrival order cannot change an answer and the time bound
  * alone picks the path.
  *
  * Mutations are serialized on the store instance — the concurrency model
  * the reference enforces globally (`src/main.re:225-227`). The store
  * owns its chain tip: a spill, sync, direct append, delete or compaction
  * commits on the cached tip at tip + 1 and takes the commit it just
  * published as the new tip, so none of them re-reads the manifest chain
  * (a compaction's history expiry lists it once; reopen reads it once).
  * A writer that committed on the same root since (another store, a bare
  * [[VersionedStore]] call) makes the manifest CAS fail the mutation with
  * [[VersionedStore.ConcurrentCommitException]]: the buffer and the
  * cached tip stay as they were, and only a reopen adopts the foreign
  * commit.
  */
final class TieredStore(spark: SparkSession, val root: String) {
  import TieredStore._

  /** The buffer: each buffered series' queue (the membuf). An absent
    * series has nothing buffered. Replaced whole on every mutation, so a
    * frame built from it never changes. */
  @volatile private var mem = Map.empty[String, Queue]
  /** Tip of the disk tier's manifest chain: read at open, then the commit
    * each mutation published, so reads and mutations plan without
    * re-listing manifests. Its `max` lines are the disk bounds. */
  @volatile private var tip: Option[VersionedStore.Commit] = None
  /** The tip's raw relations ([[VersionedStore.rawGroups]]) and the tip
    * they were built for, on its first read (see the snapshot contract). */
  @volatile private var tipGroups: Option[(VersionedStore.Commit, Seq[DataFrame])] = None

  // ---- open/reopen: read the tip manifest, which carries the disk
  // bounds, and collect any crashed writer's orphan data dirs. No Spark
  // job runs and no data is read. No roll-forward exists to run: the
  // manifest CAS left every prior mutation either fully committed or
  // fully absent.
  locally {
    tip = VersionedStore.versions(spark, root).lastOption
    if (tip.nonEmpty) VersionedStore.sweepOrphanData(spark, root)
  }

  private def canonSel(df: DataFrame): DataFrame =
    df.select(col(SERIES), col(TS_US), col(TAG), col(VALUE), col(RID))

  /** Disk append as a manifest version on the cached tip; a frame that
    * writes no file commits none. */
  private def appendStore(df: DataFrame): Unit =
    tip = VersionedStore.appendOn(tip, df, root)

  /** The `ids`' buffered rows as one frame over their queues (an empty
    * one when none of them is buffered). */
  private def memOf(ids: Iterable[String]): DataFrame =
    PackedRows.frame(spark, Canon.schema, ids.toSeq.distinct.flatMap(mem.get).map(_.rows))

  /** Direct-to-disk append (the batch ingest path). An empty frame is a
    * no-op — no empty version bloating the chain. */
  def appendDisk(df: DataFrame): Unit = this.synchronized { appendStore(canonSel(df)) }

  /** Buffer points in the memory tier (the reference's membuf,
    * `src/membufq.re:9`). */
  def appendMemory(df: DataFrame): Unit = this.synchronized { appendLocked(df) }

  /** One job collects the batch, its columns cast to the canonical
    * types, the layout the rows are read back with. */
  private def appendLocked(df: DataFrame): Unit =
    appendRowsLocked(PackedRows.collect(df.select(Canon.typed: _*)))

  /** Each series' rows join the tail of its queue, and its cached range
    * moves, with no job. */
  private def appendRowsLocked(rows: Seq[UnsafeRow]): Unit = {
    // a streamed row may carry no series: it queues under the null key
    mem ++= rows.groupBy(r => Option(r.getUTF8String(0)).map(_.toString).orNull).map {
      case (s, rs) =>
        val ts = rs.map(_.getLong(1))
        val q = Queue(PackedRows.pack(rs.toSeq), rs.length, ts.min, ts.max)
        s -> mem.get(s).fold(q)(_ ++ q)
    }
  }

  /** M3 / S6: flush the named series' buffered points to the disk tier. */
  def flush(ids: Seq[String]): Unit = this.synchronized { flushLocked(ids) }

  /** S6 `ctl/ts/sync` (reference `src/main.re:188`, `timeseries_sync` →
    * `Timeseries.flush`): flush EVERY buffered series to disk. Idempotent —
    * a second sync on an empty buffer is a no-op.
    */
  def sync(): Unit = this.synchronized { flushLocked(mem.keys.toSeq) }

  /** Move the named series' buffered points to disk: one write of their
    * queues, then the queues go. Series with nothing buffered cost
    * nothing: no commit, no job. */
  private def flushLocked(ids: Seq[String]): Unit =
    if (ids.exists(mem.contains)) {
      appendStore(memOf(ids))
      mem = mem -- ids
    }

  /** Pruned disk read: the prune runs on each RAW relation (partition
    * columns intact) so the bucket predicates land on PARTITION columns
    * and prune at listing time, before the canon projection drops them. */
  private def prunedCanon(c: VersionedStore.Commit,
                          prune: DataFrame => DataFrame): DataFrame =
    if (c.dirs.isEmpty) emptyCanon(spark)
    else groupsOf(c).map(r => canonSel(prune(r))).reduce(_ unionByName _)

  /** `c`'s raw relations: the tip's from [[tipGroups]], any other
    * commit's (the overlap probe's narrowed one) built for this read. */
  private def groupsOf(c: VersionedStore.Commit): Seq[DataFrame] = tipGroups match {
    case Some((t, g)) if t eq c => g
    case _ =>
      val g = VersionedStore.rawGroups(spark, root, c)
      if (tip.exists(_ eq c)) tipGroups = Some(c -> g)
      g
  }

  /** The ids' disk rows: their buckets (at the tip's bucket count), then
    * their series. */
  private def disk(ids: Seq[String]): DataFrame =
    tip.fold(emptyCanon(spark))(c => prunedCanon(c, raw =>
      raw.filter(ShardStore.partitionsOf(ids, c.buckets)).filter(col(SERIES).isin(ids: _*))))

  /** Buffer lies STRICTLY beyond the disk bound of this series' bucket. A
    * tie (buffer min ts == disk max ts) must NOT qualify: under (ts desc,
    * rid desc) a disk row at the shared timestamp can outrank a buffered
    * one. A bucket no live dir holds has no disk bound. A buffer that
    * fails goes to [[overlapping]], which decides for the series itself.
    */
  private def beyondDisk(s: String, q: Queue): Boolean =
    tip.flatMap(_.maxTsOf(s)).forall(q.minTs > _)

  /** Of `ids`, whose buffers fail their bucket's bound, the ones with a
    * disk row at or past their own buffered min ts: the buffers that
    * truly overlap their series' disk range (the same tie rule as
    * [[beyondDisk]]). The rest fail only because a bucket mate's clock
    * runs ahead. One job with no shuffle: a scan of the ids' buckets in
    * the dirs whose `max` figures reach the earliest buffered min, from
    * that min's day on, whose per-series time bounds reach the row-group
    * statistics, deduplicated per task.
    */
  private def overlapping(ids: Seq[String], queues: Map[String, Queue]): Seq[String] = {
    val lo = ids.map(queues(_).minTs).min
    val t = tip.get
    val c = t.copy(dirs = t.dirsReaching(ShardStore.partitionNames(ids, t.buckets), lo))
    val hit = ids.map(s => col(SERIES) === s && col(TS_US) >= queues(s).minTs).reduce(_ || _)
    val found = prunedCanon(c, raw => raw.filter(ShardStore.partitionsOf(ids, c.buckets))
        .filter(ShardStore.daysFrom(lo)))
      .filter(hit).select(SERIES).as(Encoders.STRING)
      .mapPartitions(_.toSet.iterator)(Encoders.STRING).collect().toSet
    ids.filter(found)
  }

  /** Q1 `last n` through the tier decision (`timeseries.re:357-382`):
    * per queried series — M1 memory-only when the beyond-disk buffer
    * holds ≥ n points, M2 memory∪disk top-n when it qualifies but is short,
    * M3 flush-then-disk when it overlaps the disk range. The three branches
    * union into one declarative plan; a query whose every series takes M1
    * plans NO disk scan at all (asserted by `TieredStoreSpec`). The
    * decision reads the queues' cached ranges and the tip's bucket bounds, so
    * a read whose buffers all lie past their buckets' bounds runs no job
    * until the frame is evaluated; the buffers that do not cost one
    * [[overlapping]] job, which sends only true overlaps to M3. A series
    * with no queue has nothing buffered: it takes the M2 merge, which
    * finds no buffered rows and reads disk alone.
    */
  def readLast(ids: Seq[String], n: Int): DataFrame = this.synchronized {
    require(ids.nonEmpty, "tiered readLast needs explicit series ids")
    val queues = mem
    val unsure = ids.filter(s => queues.get(s).exists(!beyondDisk(s, _)))
    val toFlush = if (unsure.isEmpty) Nil else overlapping(unsure.distinct, queues)
    val qualified = ids.filterNot(toFlush.contains)
    val fast = qualified.filter(s => queues.get(s).exists(_.count >= n))
    val merge = qualified.diff(fast)
    if (toFlush.nonEmpty) flushLocked(toFlush)
    val branches = Seq(
      if (fast.isEmpty) None else Some(TS.readLast(memOf(fast), fast, n)),
      if (merge.isEmpty) None
      else Some(TS.readLast(memOf(merge).unionByName(disk(merge)), merge, n)),
      if (toFlush.isEmpty) None else Some(TS.readLast(disk(toFlush), toFlush, n))
    ).flatten
    branches.reduce(_ unionByName _).orderBy(col(TS_US).desc, col(RID).desc)
  }

  /** The session this store plans against (for router ack frames). */
  private[graft] def session: SparkSession = spark

  /** D1 against the LIVE store — the reference's DELETE verb composed
    * end-to-end (`/root/reference/src/main.re:97-118` →
    * `src/timeseries.re:295-303`): flush the touched series' buffers
    * first (the reference flushes membufs before touching shards), then
    * commit a manifest version without the matched rows, so every
    * subsequent read of this store sees fewer points. Returns the
    * deleted-point count — the observable effect behind the reference's
    * bare "ok" reply.
    *
    * Matched-row semantics, not the reference's delete-by-timestamp-
    * membership quirk (`timeseries.re:264-272` removes ANY point sharing
    * a timestamp with a matched one) — the documented divergence
    * SURVEY §7.5 #6, defined once in
    * [[graft.operators.TimeSeries.deleteMatch]].
    *
    * Physical shape ([[VersionedStore.deletePartitions]]): the rewrite
    * unit is the PARTITION — the touched series' `bucket=` partitions
    * (co-resident series in an affected bucket are carried through the
    * survivors dir unchanged). Survivors are fully
    * materialized in a fresh data dir BEFORE the manifest CAS publishes
    * the version — all-or-nothing, no crash window, no roll-forward.
    * Only affected partitions are ever read or rewritten; the rest of
    * the store is carried by manifest reference, so the cost scales with
    * the affected partitions' data, not store size. The deleted rows
    * stay readable at earlier versions until [[compactDisk]] expires
    * them. The survivors dir's `max` lines replace the skipped
    * partitions' (a shrunken range can re-qualify future buffers for the
    * M1 fast path) with no extra job.
    */
  def delete(ids: Seq[String], fromUs: Long, toUs: Long,
             pipe: Seq[Tags.Group] = Nil): Long = this.synchronized {
    require(ids.nonEmpty, "tiered delete needs explicit series ids")
    flushLocked(ids)
    val c = tip.filter(_.dirs.nonEmpty).getOrElse(return 0L)
    val matched = TS.deleteMatch(ids, fromUs, toUs, pipe)
    // rows of every partition the delete touches (see scaladoc): the ids'
    // buckets whole, so co-resident series ride into the survivors dir
    val affected = prunedCanon(c, _.filter(ShardStore.partitionsOf(ids, c.buckets)))
    val deleted = affected.filter(matched).count()
    if (deleted == 0L) return 0L
    tip = Some(VersionedStore.deletePartitions(affected.filter(!matched), root,
      ShardStore.partitionNames(ids, c.buckets), c))
    deleted
  }

  /** The live disk tier's committed version chain — time travel + CDC,
    * free from the unified manifest protocol (VERDICT r11/r12 item 1).
    * History spans back to the last space-reclaiming [[compactDisk]]. */
  def diskVersions: Seq[VersionedStore.Commit] =
    VersionedStore.versions(spark, root)

  /** Time travel over the LIVE store's disk tier: its content exactly as
    * of version `v` (the buffer is not part of committed history). */
  def readDiskAt(v: Int): DataFrame = VersionedStore.readAt(spark, root, v)

  /** CDC over the LIVE store's disk tier ([[VersionedStore.readChanges]]). */
  def diskChanges(fromV: Int, toV: Int): DataFrame =
    VersionedStore.readChanges(spark, root, fromV, toV)

  /** LIVE file-hygiene compaction of the disk tier (the reference's S4
    * overlap-merge runs on every spill, `timeseries.re:119-156`; here
    * compaction is optional hygiene because overlapping files are
    * correct — see [[ShardStore]]): commit a version whose single data
    * dir holds the coalesced live content, then (by default) expire the
    * superseded history — the OPTIMIZE + VACUUM pairing, and the point
    * where deleted rows' space is actually reclaimed. With
    * `retainHistory = true` the old versions stay time-travel-readable
    * and no file is removed. The memory buffer is untouched. Cost is one
    * read+write of the disk tier; run it on the maintenance cadence, not
    * the ingest path.
    */
  def compactDisk(retainHistory: Boolean = false): Unit = this.synchronized {
    val c = tip.filter(_.dirs.nonEmpty).getOrElse(return)
    tip = Some(VersionedStore.compactOn(spark, root, c))
    if (!retainHistory) VersionedStore.expire(spark, root, keepLast = 1)
  }

  /** The whole store as one canonical frame (memory ∪ disk) — the input
    * for the routes that span every series (names, info). Built under the
    * lock: the memory side is every queue's rows, the disk side the
    * cached tip's relations — an immutable snapshot per the class
    * contract.
    */
  def snapshot: DataFrame = this.synchronized {
    val m = memOf(mem.keys)
    tip.filter(_.dirs.nonEmpty).fold(m)(c => m.unionByName(prunedCanon(c, identity)))
  }

  /** The `ids`' rows as one canonical frame (memory ∪ disk) — the input
    * for every series-scoped route with no tier-aware fast path
    * (since/range/first/earliest/length/index and the filters: they read
    * both tiers anyway). The disk side prunes to the ids' buckets, which
    * a filter over [[snapshot]] cannot: there `series` is an ordinary
    * column, not a partition. No ids means every series, as in
    * [[graft.operators.TimeSeries.selectSeries]]. Snapshot semantics as
    * [[snapshot]].
    */
  def snapshot(ids: Seq[String]): DataFrame = this.synchronized {
    if (ids.isEmpty) snapshot
    else {
      val m = memOf(ids)
      if (!tip.exists(_.dirs.nonEmpty)) m else m.unionByName(disk(ids))
    }
  }

  /** Number of buffered points (the membuf length): a sum over the
    * queues' cached counts, no job. */
  def bufferedCount(): Long = mem.valuesIterator.map(_.count).sum

  /** The whole buffer as a frame (tests). */
  private[graft] def buffer: DataFrame = memOf(mem.keys)

  /** The queues' cached `series -> (count, min ts, max ts)` (tests). */
  private[graft] def memStatsView: Map[String, (Long, Long, Long)] =
    mem.map { case (s, q) => s -> (q.count, q.minTs, q.maxTs) }

  /** S3 ingest-side spill policy (reference `--shard-size`,
    * `src/main.re:10`; spill at `timeseries.re:158-168`): buffer the
    * batch, then flush each series whose buffer has reached
    * `spillThreshold` points — the reference's PER-SERIES shard-size
    * check, batch-granular (a micro-batch is this design's arrival
    * unit), so a series' buffer holds < threshold + one batch.
    */
  def ingest(batch: DataFrame, spillThreshold: Long): Unit =
    this.synchronized { ingestLocked(appendLocked(batch), spillThreshold) }

  /** [[ingest]] of rows already in [[Canon.schema]]'s layout, each over
    * its own bytes (a POST's body, [[JsonIngest.ingestBody]]): no job
    * runs unless a series spills. */
  private[graft] def ingestRows(rows: Seq[UnsafeRow], spillThreshold: Long): Unit =
    this.synchronized { ingestLocked(appendRowsLocked(rows), spillThreshold) }

  /** A batch whose spill fails is not kept: the buffer goes back to the
    * map it was before `append`, so the caller's error means nothing was
    * ingested and a retry ingests the batch once. */
  private def ingestLocked(append: => Unit, spillThreshold: Long): Unit = {
    val before = mem
    try {
      append
      val full = mem.collect { case (s, q) if q.count >= spillThreshold => s }
      if (full.nonEmpty) flushLocked(full.toSeq)
    } catch { case e: Throwable => mem = before; throw e }
  }

  /** I2: per-series memory/disk length split
    * (`/root/reference/src/timeseries.re:187-213`, routes
    * `memory/length` + `disk/length`, `src/main.re:184-185`).
    * Snapshot semantics as [[snapshot]].
    */
  def lengthSplit(ids: Seq[String]): DataFrame = this.synchronized {
    val m = memOf(ids).groupBy(SERIES).agg(count(lit(1)).as("mem_len"))
    val d = disk(ids).groupBy(SERIES).agg(count(lit(1)).as("disk_len"))
    // full-outer of two series-cardinality aggregates — never a data join
    m.join(d, Seq(SERIES), "full_outer")
      .select(col(SERIES),
        coalesce(col("mem_len"), lit(0L)).as("mem_len"),
        coalesce(col("disk_len"), lit(0L)).as("disk_len"))
      .withColumn("len", col("mem_len") + col("disk_len"))
      .orderBy(SERIES)
  }
}

object TieredStore {
  /** One series' queue (`src/membufq.re:9-47`): its buffered rows in
    * arrival order, packed ([[PackedRows]]), with their cached length and
    * time range. An append copies the series' rows into a new array, so
    * the arrays a frame reads never change. */
  private final case class Queue(rows: Array[Byte], count: Long, minTs: Long, maxTs: Long) {
    def ++(more: Queue): Queue = Queue(Array.concat(rows, more.rows), count + more.count,
      minTs min more.minTs, maxTs max more.maxTs)
  }

  private def emptyCanon(spark: SparkSession): DataFrame =
    PackedRows.frame(spark, Canon.schema, Nil)
}
