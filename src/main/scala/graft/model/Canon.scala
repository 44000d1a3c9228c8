package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical time-series model (SURVEY.md §1.4).
  *
  * The reference (nibbledb) stores one named series per Irmin/Git key tree
  * with rows `(timestamp µs int64, {tag: assoc list, value: float})`
  * (reference `src/shard.re:3-16`). We flatten the universe of series into
  * ONE DataFrame with a `series` column so that multi-series queries become
  * predicates instead of per-store loops, and the engine scales by
  * partitioning on (`series`, time bucket) instead of by file-per-shard.
  *
  * Canonical schema:
  * {{{
  *   series STRING,                         -- series id (reference: URL path id)
  *   ts_us  LONG,                           -- µs since epoch (reference: int64 key)
  *   tag    ARRAY<STRUCT<name,value:STRING>>, -- ordered assoc list, first-match lookup
  *   value  DOUBLE,
  *   rid    LONG                            -- stable row id (deterministic tiebreak;
  *                                          --  reference order ties are unspecified,
  *                                          --  SURVEY §7.5 #10)
  * }}}
  *
  * `tag` is ARRAY<STRUCT> rather than MAP to preserve order, duplicate
  * names, and first-match lookup semantics (reference `src/shard.re:116-120`).
  */
object Canon {
  val SERIES = "series"
  val TS_US = "ts_us"
  val TAG = "tag"
  val VALUE = "value"
  val RID = "rid"

  val tagEntryType: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("value", StringType)))

  val tagType: ArrayType = ArrayType(tagEntryType)

  val schema: StructType = StructType(Seq(
    StructField(SERIES, StringType),
    StructField(TS_US, LongType),
    StructField(TAG, tagType),
    StructField(VALUE, DoubleType),
    StructField(RID, LongType)))

  /** The canonical columns of a frame, cast to their canonical types. */
  def typed: Seq[Column] = schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name))

  /** A datapoint in typed form (reference `src/shard.re:3-6`). */
  case class TagEntry(name: String, value: String)
  case class Datapoint(series: String, ts_us: Long,
                       tag: Option[Seq[TagEntry]], value: Double, rid: Long)

  /** Canonicalize the driver `events` table into the time-series model:
    * series = event_type, ts_us = µs epoch, tag = [(k, props.k), (u, user_id%10)],
    * value = value, rid = event_id. Two tag names so the AND-across-names /
    * OR-within-name filter algebra (reference `src/shard.re:161-188`) is
    * exercisable on real data.
    *
    * `ts` arrives either as TimestampType or — for parquet TIMESTAMP(NANOS)
    * columns read with `spark.sql.legacy.parquet.nanosAsLong` — as a LONG of
    * nanoseconds; both normalize to µs (integer division: nanos exceed
    * double's exact range, so no float math here).
    */
  /** Normalized µs-epoch expression for a raw `ts` column, across the three
    * physical encodings driver-generated parquet has shipped with: parquet
    * TIMESTAMP(NANOS) read as a LONG of nanos (via the `nanosAsLong` legacy
    * conf), TIMESTAMP_NTZ (µs, naive-UTC — what pyarrow `timestamp[us]`
    * without a zone becomes), and tz-adjusted TIMESTAMP. Integer division
    * for the nanos lane (nanos exceed double's exact range); the NTZ lane
    * casts through TimestampType, exact under the UTC session pin every
    * entry point sets (`spark.sql.session.timeZone=UTC`).
    */
  def tsUsExpr(raw: DataFrame, colName: String = "ts"): Column =
    raw.schema(colName).dataType match {
      case LongType         => expr(s"CAST($colName DIV 1000 AS LONG)")
      case TimestampNTZType => unix_micros(col(colName).cast(TimestampType))
      case _                => unix_micros(col(colName))
    }

  def canonicalizeEvents(raw: DataFrame): DataFrame = {
    val tsUs = tsUsExpr(raw)
    raw.select(
      col("event_type").as(SERIES),
      tsUs.as(TS_US),
      array(
        struct(lit("k").as("name"), get_json_object(col("props"), "$.k").as("value")),
        struct(lit("u").as("name"), (col("user_id") % 10).cast("string").as("value"))
      ).as(TAG),
      col("value").as(VALUE),
      col("event_id").as(RID))
  }

  /** Events table from a driver testdata dir, in canonical form.
    * The driver's `events.parquet` uses parquet TIMESTAMP(NANOS), which
    * Spark only reads via the nanosAsLong legacy conf — runtime-settable,
    * so set it here rather than demanding session-build-time config.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    canonicalizeEvents(spark.read.parquet(s"$dir/events.parquet"))
  }

  /** Raw events with µs timestamps but WITHOUT the tag/series reshaping —
    * for relational operators (as-of/range joins) that need user_id.
    */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.select(col("event_id"), tsUsExpr(raw).as(TS_US), col("user_id"),
      col("event_type"), col("value"))
  }

  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}
