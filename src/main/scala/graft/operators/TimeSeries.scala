package graft.operators

import graft.functions.Tags
import graft.model.Canon._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's query surface (SURVEY.md §2.2/§2.5-2.9) as pure
  * DataFrame → DataFrame functions over the canonical model.
  *
  * Scale notes (the whole point of the rebuild):
  *  - per-series top-n uses a window rank; Spark ≥3.5 rewrites the
  *    `row_number() <= n` filter into `WindowGroupLimit`, which applies the
  *    limit map-side BEFORE the shuffle — the analog of the reference's
  *    early shard termination (`src/timeseries.re:397-422`) but distributed.
  *  - since/range are plain predicates → predicate pushdown + partition /
  *    row-group pruning replace the interval index
  *    (`src/index.re:92-105`); see ShardStore for the partitioned layout.
  *  - multi-series union is an `isin` predicate, not k scans
  *    (`src/main.re:78` comma-split union).
  */
object TimeSeries {

  /** U1: bag union of the listed series (no dedup). */
  def selectSeries(df: DataFrame, ids: Seq[String]): DataFrame =
    if (ids.isEmpty) df else df.filter(col(SERIES).isin(ids: _*))

  private def descOrder: Seq[Column] = Seq(col(TS_US).desc, col(RID).desc)
  private def ascOrder: Seq[Column] = Seq(col(TS_US).asc, col(RID).asc)

  /** Q1 `last n`: per-series top-n by ts desc (n is PER SERIES — k series
    * return up to k·n rows, reference `src/timeseries.re:513-518`), union,
    * final global sort desc. Ties broken by rid (SURVEY §7.5 #10).
    */
  def readLast(df: DataFrame, ids: Seq[String], n: Int): DataFrame = {
    val w = Window.partitionBy(SERIES).orderBy(descOrder: _*)
    selectSeries(df, ids)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn")
      .orderBy(descOrder: _*)
  }

  /** Q2 `latest` = last 1. */
  def latest(df: DataFrame, ids: Seq[String]): DataFrame = readLast(df, ids, 1)

  /** Q3 `first n`: per-series bottom-n by ts asc, union, final sort asc. */
  def readFirst(df: DataFrame, ids: Seq[String], n: Int): DataFrame = {
    val w = Window.partitionBy(SERIES).orderBy(ascOrder: _*)
    selectSeries(df, ids)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n).drop("__rn")
      .orderBy(ascOrder: _*)
  }

  /** Q4 `earliest` = first 1. */
  def earliest(df: DataFrame, ids: Seq[String]): DataFrame = readFirst(df, ids, 1)

  /** Q5 `since t`: ts >= t (inclusive, `src/timeseries.re:552`), sorted desc. */
  def readSince(df: DataFrame, ids: Seq[String], fromUs: Long): DataFrame =
    selectSeries(df, ids).filter(col(TS_US) >= fromUs).orderBy(descOrder: _*)

  /** Q6 `range t1 t2`: t1 <= ts <= t2 (both inclusive,
    * `src/timeseries.re:552,608-610`), sorted desc.
    */
  def readRange(df: DataFrame, ids: Seq[String], fromUs: Long, toUs: Long): DataFrame =
    selectSeries(df, ids).filter(col(TS_US).between(fromUs, toUs)).orderBy(descOrder: _*)

  /** F1-F3 xargs tag filter (set semantics; see Tags.predicate). */
  def tagFilter(df: DataFrame, groups: Seq[Tags.Group]): DataFrame =
    df.filter(Tags.predicate(col(TAG), groups))

  // ---------------------------------------------------------------- A1-A8

  sealed trait AggKind { def name: String }
  case object Sum extends AggKind { val name = "sum" }
  case object Count extends AggKind { val name = "count" }
  case object Max extends AggKind { val name = "max" }
  case object Min extends AggKind { val name = "min" }
  case object Mean extends AggKind { val name = "mean" }
  case object Sd extends AggKind { val name = "sd" }
  case object Median extends AggKind { val name = "median" }

  def aggColumn(kind: AggKind): Column = kind match {
    case Sum    => sum(col(VALUE))
    case Count  => count(lit(1)).cast("double") // emitted as float (timeseries.re:451-454)
    case Max    => max(col(VALUE))
    case Min    => min(col(VALUE))
    case Mean   => avg(col(VALUE))
    case Sd     => stddev_samp(col(VALUE)) // Oml sd = unbiased (n-1) sqrt-variance
    case Median => median(col(VALUE))      // exact, matches DuckDB median
  }

  /** A1-A7: global aggregate over the (merged, multi-series) input —
    * single row `{<agg>: double}`. Empty-input semantics follow the
    * reference (`src/timeseries.re:436-454`): sum → 0, count → 0, the rest
    * return NO row (the reference emits `{}`).
    */
  def aggregate(df: DataFrame, kind: AggKind): DataFrame = {
    val out = df.agg(aggColumn(kind).as(kind.name))
    kind match {
      case Sum =>
        out.select(coalesce(col(Sum.name), lit(0.0)).as(Sum.name))
      case Count => out
      case _ => out.filter(col(kind.name).isNotNull)
    }
  }

  /** A8: dispatch by route token; unknown → error (reference 400). */
  def aggregate(df: DataFrame, token: String): DataFrame =
    aggregate(df, token match {
      case "sum" => Sum; case "count" => Count; case "max" => Max
      case "min" => Min; case "mean" => Mean; case "sd" => Sd
      case "median" => Median
      case other => throw new IllegalArgumentException(s"unknown aggregate: $other")
    })

  /** Per-series exact quantiles (p50/p90/p99) — the latency-percentile
    * query every TSDB user writes; beyond the reference's global median.
    * Spark's `percentile` and DuckDB's `quantile_cont` share the same
    * sorted-linear-interpolation definition, so the oracle is exact.
    */
  def quantilesBySeries(df: DataFrame, ps: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    val arr = ps.map(p => s"${p}D").mkString("array(", ", ", ")")
    val q = expr(s"percentile($VALUE, $arr)")
    df.groupBy(SERIES)
      .agg(q.as("q"))
      .select(col(SERIES) +: ps.zipWithIndex.map { case (p, i) =>
        round(element_at(col("q"), i + 1), 6)
          .as("p" + math.round(p * 100).toString)
      }: _*)
      .orderBy(SERIES)
  }

  // ------------------------------------------------------------------- D1

  /** D1's matched rows: series in `ids` (every series when empty), ts in
    * [fromUs, toUs], and with a tag pipe only the rows that pass it; a null
    * counts as unmatched. We implement the intent (delete the matched
    * rows) rather than the reference's delete-by-timestamp-membership
    * quirk (`src/timeseries.re:264-272`, documented divergence SURVEY
    * §7.5 #6) — the one definition the flat [[deleteRange]] and the live
    * `TieredStore.delete` share. A pure predicate: no shuffle at all.
    */
  def deleteMatch(ids: Seq[String], fromUs: Long, toUs: Long,
                  pipe: Seq[Tags.Group] = Nil): Column = {
    val inSeries = if (ids.isEmpty) lit(true) else col(SERIES).isin(ids: _*)
    coalesce(inSeries && col(TS_US).between(fromUs, toUs) &&
      (if (pipe.isEmpty) lit(true) else Tags.predicate(col(TAG), pipe)), lit(false))
  }

  /** D1 `delete range`: returns the SURVIVING rows ([[deleteMatch]]). */
  def deleteRange(df: DataFrame, ids: Seq[String], fromUs: Long, toUs: Long,
                  pipe: Seq[Tags.Group] = Nil): DataFrame =
    df.filter(!deleteMatch(ids, fromUs, toUs, pipe))

  // ------------------------------------------------------------ I1-I6, U2

  /** I1 `length`: total points over ids, `{"length": n}`. */
  def length(df: DataFrame, ids: Seq[String]): DataFrame =
    selectSeries(df, ids).agg(count(lit(1)).as("length"))

  /** I5/U2 `names`: sorted distinct series ids. */
  def names(df: DataFrame): DataFrame =
    df.select(SERIES).distinct().orderBy(SERIES)

  /** I6 `stats`: per-series point counts (the Spark-side generalization of
    * the reference's four count arrays; memory/disk/index splits are
    * storage-engine artifacts with no analog here).
    */
  def stats(df: DataFrame): DataFrame =
    df.groupBy(SERIES).agg(count(lit(1)).as("length")).orderBy(SERIES)

  /** I3/I4 index analog: per-series (min,max) time range + shard count
    * stand-in (distinct days touched). The reference's shard index
    * (`src/index.re`) is physical bookkeeping; its observable content is
    * the covered time ranges.
    */
  def indexInfo(df: DataFrame): DataFrame =
    df.groupBy(SERIES).agg(
      min(col(TS_US)).as("min_ts_us"),
      max(col(TS_US)).as("max_ts_us"),
      count(lit(1)).as("length")
    ).orderBy(SERIES)

  private val DAY_US = 86400000000L

  /** I3 route `<ids>/index/length` (reference `src/main.re:186`,
    * `length_of_index`): the number of index entries covering the ids.
    * Our shard is a series' rows in one utc-day ShardStore partition, so
    * the index length is the count of distinct (series, day) shards.
    */
  def indexLength(df: DataFrame, ids: Seq[String]): DataFrame =
    selectSeries(df, ids)
      .select(col(SERIES), floor(col(TS_US) / DAY_US).as("__day"))
      .distinct()
      .agg(count(lit(1)).as("length"))

  /** I4 route `<id>/index` (reference `src/main.re:187`, `get_index`):
    * the series' shard index as data — one row per utc-day shard with its
    * covered [t1,t2] range and point count, the observable content of the
    * reference's interval index (`src/index.re:92-105`).
    */
  def index(df: DataFrame, id: String): DataFrame =
    selectSeries(df, Seq(id))
      .groupBy((floor(col(TS_US) / DAY_US) * DAY_US).cast("long").as("shard_day_us"))
      .agg(min(col(TS_US)).as("min_ts_us"),
        max(col(TS_US)).as("max_ts_us"),
        count(lit(1)).as("length"))
      .orderBy("shard_day_us")

  // ----------------------------------------------------- beyond parity

  /** Beyond-parity: group-by-series aggregation (the reference has no
    * group-by at all — SURVEY §2.10). Partial aggregation map-side, one
    * shuffle on series.
    */
  def aggregateBySeries(df: DataFrame, kind: AggKind): DataFrame =
    df.groupBy(SERIES).agg(aggColumn(kind).as(kind.name)).orderBy(SERIES)

  /** Beyond-parity: tumbling time-window aggregate (µs-exact buckets).
    * `widthUs` must divide evenly into the epoch for deterministic edges.
    */
  def windowAggregate(df: DataFrame, widthUs: Long, kind: AggKind): DataFrame =
    df.groupBy(col(SERIES), (floor(col(TS_US) / widthUs) * widthUs).cast("long").as("bucket_us"))
      .agg(aggColumn(kind).as(kind.name))
      .orderBy(col(SERIES), col("bucket_us"))

  /** Beyond-parity: successive differences + rate per series — the
    * counter-rate shape (PromQL `rate`, InfluxQL `derivative`) every TS
    * stack grows. series is a LOW-CARDINALITY key, so the lag comes from
    * the hot-key-safe two-pass path ([[Windowing.withPrevious]]), not a
    * per-series window that would serialize a series through one task.
    * First point per series has no predecessor and is dropped; equal
    * timestamps (rid tiebreak) yield `rate_per_s` NULL rather than a
    * division by zero. Double subtraction / one rounded division —
    * IEEE-identical in any engine, so the oracle is exact.
    */
  def deltas(df: DataFrame, ids: Seq[String]): DataFrame = {
    val withPrev = Windowing.withPrevious(
      selectSeries(df, ids).select(SERIES, TS_US, RID, VALUE),
      keyCols = Seq(SERIES), orderCols = Seq(TS_US, RID), carryCols = Seq(VALUE))
    withPrev.filter(col(s"prev_$TS_US").isNotNull)
      .select(col(SERIES), col(TS_US), col(RID),
        round(col(VALUE) - col(s"prev_$VALUE"), 6).as("delta_v"),
        (col(TS_US) - col(s"prev_$TS_US")).as("delta_us"),
        when(col(TS_US) > col(s"prev_$TS_US"),
          round((col(VALUE) - col(s"prev_$VALUE")) /
            ((col(TS_US) - col(s"prev_$TS_US")) / lit(1000000.0)), 6))
          .as("rate_per_s"))
      .orderBy(col(SERIES), col(TS_US), col(RID))
  }

  /** Beyond-parity: missing-data detection — intervals per series where
    * consecutive points are further apart than `thresholdUs` (the
    * monitoring "did the feed stop" query). Same hot-key-safe lag as
    * [[deltas]]; pure integer arithmetic, exact on any engine.
    */
  def gaps(df: DataFrame, ids: Seq[String], thresholdUs: Long): DataFrame = {
    val withPrev = Windowing.withPrevious(
      selectSeries(df, ids).select(SERIES, TS_US, RID),
      keyCols = Seq(SERIES), orderCols = Seq(TS_US, RID), carryCols = Nil)
    withPrev
      .filter(col(s"prev_$TS_US").isNotNull &&
        col(TS_US) - col(s"prev_$TS_US") > thresholdUs)
      .select(col(SERIES),
        col(s"prev_$TS_US").as("gap_start_us"),
        col(TS_US).as("gap_end_us"),
        (col(TS_US) - col(s"prev_$TS_US")).as("gap_us"))
      .orderBy(col(SERIES), col("gap_start_us"), col("gap_end_us"))
  }
}
