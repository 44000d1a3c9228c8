package graft.operators

import java.util.concurrent.{ExecutionException, FutureTask, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.concurrent.duration.{DurationInt, FiniteDuration}

/** Column-level data profiling — the `ANALYZE`-shaped corpus monitoring
  * report a pipeline runs on every new snapshot before trusting it:
  * per column, row count, null count, exact distinct count, and typed
  * min/max (rendered as strings so the report has one schema).
  *
  * Shape, for 100 TB:
  *  - nulls + typed min/max ride ONE wide aggregate — partial (map-side)
  *    aggregation reduces every partition to a single row of 3×#cols
  *    cells, so the shuffle is #partitions rows regardless of data size;
  *    the 1-row result is collected as model parameters (the BM25/
  *    centroid pattern) and re-enters as a literal-backed frame.
  *  - exact distincts go through a melt (`explode` of per-column
  *    (column, value) structs) → two-level aggregate: the first
  *    `(column, value)` distinct is keyed by VALUE, so it parallelizes
  *    over the value space (never 5 hot column-name keys); the second
  *    collapses to #cols rows. One scan, map-side-combined.
  * A `count(DISTINCT x)` formulation per column would instead expand the
  * scan #cols× through Spark's Expand operator on one aggregate — the
  * melt does the same work with explicit, skew-safe keys.
  *
  * Only atomic-typed columns are profiled (string-cast distinctness is
  * not injective for arrays/structs); pass `columns` to override.
  */
object TableProfile {

  /** How long [[profileDrift]] waits for its side b once side a is done:
    * a bound on a hung side b, generous for profiles that take minutes. */
  val SideWait: FiniteDuration = 1.hour

  /** The WIDE-TABLE tier: everything in ONE wide aggregate — nulls,
    * typed min/max AND HyperLogLog distinct estimates
    * (`approx_count_distinct`, default 5% rsd) — so a 500-column table
    * costs one scan and one #partitions-row shuffle, with no melt (the
    * exact tier's melt multiplies the scan by #cols through the partial
    * aggregate; fine at 5 columns, not at 500). Deterministic for a
    * given input (HLL is hash-based, not sampled) — golden-pinned, with
    * an rsd-window unit vs the exact tier.
    */
  def profileApprox(df: DataFrame, columns: Seq[String] = Nil): DataFrame = {
    val targets = resolveTargets(df, columns)
    val aggs = count(lit(1)).as("n_rows") +: targets.flatMap { c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls__$c"),
      approx_count_distinct(col(c)).as(s"dist__$c"),
      min(col(c)).cast("string").as(s"min__$c"),
      max(col(c)).cast("string").as(s"max__$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0) // 1 row by construction
    val nRows = row.getLong(row.fieldIndex("n_rows"))
    val session = df.sparkSession
    import session.implicits._
    targets.map { c =>
      (c, nRows, row.getLong(row.fieldIndex(s"nulls__$c")),
        row.getLong(row.fieldIndex(s"dist__$c")),
        Option(row.getString(row.fieldIndex(s"min__$c"))),
        Option(row.getString(row.fieldIndex(s"max__$c"))))
    }.toDF("column", "n_rows", "n_nulls", "n_distinct_approx", "min_val", "max_val")
      .orderBy("column")
  }

  private def resolveTargets(df: DataFrame, columns: Seq[String]): Seq[String] = {
    def atomic(dt: DataType): Boolean = dt match {
      case _: NumericType | _: StringType | BooleanType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    }
    val targets =
      if (columns.nonEmpty) columns
      else df.schema.fields.filter(f => atomic(f.dataType)).map(_.name).toSeq
    require(targets.nonEmpty, "no atomic columns to profile")
    require(targets.forall(df.columns.contains), s"unknown column in $targets")
    targets
  }

  def profile(df: DataFrame, columns: Seq[String] = Nil): DataFrame = {
    val targets = resolveTargets(df, columns)
    val aggs = count(lit(1)).as("n_rows") +: targets.flatMap { c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls__$c"),
      min(col(c)).cast("string").as(s"min__$c"),
      max(col(c)).cast("string").as(s"max__$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0) // 1 row by construction
    val nRows = row.getLong(row.fieldIndex("n_rows"))

    val kvs = array(targets.map(c =>
      struct(lit(c).as("column"), col(c).cast("string").as("value"))): _*)
    val distincts = df.select(explode(kvs).as("kv"))
      .select(col("kv.column").as("column"), col("kv.value").as("value"))
      .filter(col("value").isNotNull)
      .groupBy("column", "value").agg(count(lit(1))) // distinct, value-keyed
      .groupBy("column").agg(count(lit(1)).as("n_distinct"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // <= #cols rows

    // both jobs reduce to model parameters (<= 3×#cols + #cols values);
    // the report assembles driver-side as a LocalTableScan — a join of
    // two aggregate tails would instead invite AQE to broadcast a
    // subtree CONTAINING the corpus scan (the plan-gate shape), for a
    // #cols-row result
    val session = df.sparkSession
    import session.implicits._
    targets.map { c =>
      (c, nRows, row.getLong(row.fieldIndex(s"nulls__$c")),
        distincts.getOrElse(c, 0L),
        Option(row.getString(row.fieldIndex(s"min__$c"))),
        Option(row.getString(row.fieldIndex(s"max__$c"))))
    }.toDF("column", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val")
      .orderBy("column")
  }

  /** Per-column profile DRIFT between two snapshots — the "what changed
    * since the version I last trusted" report that pairs with the
    * versioned store's CDC (profile `readAt(v1)` vs `readAt(v2)`, or a
    * corpus before/after a curation pass): both sides run the exact
    * [[profile]] (each reduced to ≤3×#cols model parameters and
    * assembled driver-side), so the "join" is #cols local rows — no
    * corpus-side shuffle or broadcast beyond the two profile scans.
    * Emits a/b stats per column plus row/distinct deltas; min/max rides
    * as strings like the profiles themselves.
    *
    * The two sides run CONCURRENTLY (guide §2.6 — overlap independent
    * jobs): each [[profile]] is two serial eager jobs (wide-agg
    * collect, then the distinct pass), and the sides share no subtree,
    * so a driver thread per side lets the scheduler back-fill one
    * side's stage tails with the other's tasks — four serial jobs
    * become two wall-clock rounds. Results are unchanged (the sides
    * were always independent); r17 7-sample A/B: q_store_profile_drift
    * min 2.09 → 1.12 s, med 2.41 → 1.32 s.
    *
    * Side b runs on a thread of its own, started by the caller, so its
    * jobs inherit the caller's Spark local properties — job group,
    * description, scheduler pool — and stay attributed to the caller's
    * query. They also carry a tag of their own: when side a throws, or
    * side b outlives [[SideWait]] after side a finished, side b's jobs are
    * cancelled (interrupting their tasks) and the call returns only once
    * side b's thread has ended, so no orphaned job keeps running.
    */
  def profileDrift(a: DataFrame, b: DataFrame,
                   columns: Seq[String] = Nil): DataFrame = {
    def side(df: DataFrame, s: String) =
      profile(df, columns).select(col("column"),
        col("n_rows").as(s"n_rows_$s"), col("n_nulls").as(s"n_nulls_$s"),
        col("n_distinct").as(s"n_distinct_$s"),
        col("min_val").as(s"min_$s"), col("max_val").as(s"max_$s"))
    val sc = a.sparkSession.sparkContext
    val tag = s"graft-profile-drift-${java.util.UUID.randomUUID()}"
    val fb = new FutureTask[DataFrame](() => {
      sc.addJobTag(tag)
      sc.setInterruptOnCancel(true)
      side(b, "b")
    })
    val tb = new Thread(fb, "graft-profile-drift-b")
    tb.setDaemon(true)
    tb.start()
    // cancel until the thread ends: a job side b starts after one cancel
    // is caught by the next
    def stopB(): Unit = while (tb.isAlive) { sc.cancelJobsWithTag(tag); tb.join(100) }
    val sa = try side(a, "a") catch { case e: Throwable => stopB(); throw e }
    val sb = try fb.get(SideWait.toMillis, TimeUnit.MILLISECONDS) catch {
      case e: ExecutionException => throw e.getCause
      case e: Throwable => stopB(); throw e
    }
    sa.join(sb, Seq("column"), "full_outer")
      .withColumn("d_rows",
        coalesce(col("n_rows_b"), lit(0L)) - coalesce(col("n_rows_a"), lit(0L)))
      .withColumn("d_distinct",
        coalesce(col("n_distinct_b"), lit(0L)) - coalesce(col("n_distinct_a"), lit(0L)))
      .orderBy("column")
  }
}
