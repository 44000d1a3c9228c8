package graft.sources

import graft.model.Canon
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LocalPlan
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** S1/S2: JSON wire-format ingest (SURVEY.md §1.2, §2.1).
  *
  * The reference accepts exactly four JSON shapes, field order significant
  * (`/root/reference/src/timeseries.re:64-78`):
  *   {"value": n} | {"tag": [...], "value": n} |
  *   {"timestamp": t, "value": n} | {"timestamp": t, "tag": [...], "value": n}
  * Anything else → 400. A body may be one object or an array of objects
  * (`src/main.re:60-67`) — as a DataFrame source that distinction vanishes:
  * rows are rows.
  *
  * Semantics preserved:
  *  - field-ORDER-sensitive shape check via `json_object_keys` (the
  *    reference pattern-matches the assoc list literally);
  *  - server-assigned µs timestamp when absent (`src/timeseries.re:37-44`);
  *  - client float timestamps truncated toward zero (`Int64.of_float`,
  *    `src/timeseries.re:73`) — Spark double→long cast truncates identically;
  *  - wire tag = array of single-key objects → ordered ARRAY<STRUCT> keeping
  *    duplicate names (`src/shard.re:39-49`).
  *
  * The grammar is one set of built-in `Column`s (the batch split, the
  * shape predicate, the canonical projection and the content-hash rid), no
  * UDFs, evaluated in two contexts. [[explodeBatches]] and [[ingest]] run
  * them as a Spark plan over wire frames and streams. [[ingestBody]] runs the
  * same `Column`s, resolved and compiled once per session
  * ([[org.apache.spark.sql.graft.LocalPlan]]), on the driver over one
  * request body, so a POST runs no Spark job of its own.
  */
object JsonIngest {

  /** Parsed payload schema (permissive; shape check is separate). */
  private val wireSchema = StructType(Seq(
    StructField("timestamp", DoubleType),
    StructField("tag", ArrayType(MapType(StringType, StringType))),
    StructField("value", DoubleType)))

  private val acceptedShapes = Seq(
    Seq("value"),
    Seq("tag", "value"),
    Seq("timestamp", "value"),
    Seq("timestamp", "tag", "value"))

  /** DuckDB-`json_type`-equivalent numeric-TOKEN check via the variant
    * reader: true iff the JSON value at `path` is a number token.
    * `from_json`'s DoubleType COERCES numeric-looking strings — it parses
    * `"42"`, `"NaN"`, `"Infinity"` to doubles — while the reference's
    * wire grammar (and the DuckDB oracle's
    * `json_type IN ('DOUBLE','BIGINT','UBIGINT')`) admits only number
    * tokens. `schema_of_variant` surfaces the token's own type: numbers
    * land in the integral/floating family (big integers as DECIMAL —
    * DuckDB's UBIGINT case), strings stay STRING.
    */
  private def isNumberToken(json: Column, path: String): Column = {
    val tok = try_variant_get(try_parse_json(json), path, "variant")
    val t = schema_of_variant(tok)
    tok.isNotNull &&
      (t.isin("TINYINT", "SMALLINT", "INT", "BIGINT", "FLOAT", "DOUBLE") ||
        t.startsWith("DECIMAL"))
  }

  /** Shape check: the object's key list must equal one of the four accepted
    * shapes IN ORDER, and `value` (plus `timestamp` if present) must be a
    * JSON NUMBER token (not a numeric-looking string — see
    * [[isNumberToken]]). A `timestamp` must also fit the 64-bit µs range:
    * `try_cast` to long is null exactly where [[ingest]]'s cast would
    * throw `CAST_OVERFLOW`, so such an element quarantines instead of
    * failing the whole batch.
    *
    * The tag grammar (array of non-empty objects, `src/shard.re:39-49`) is
    * enforced HERE, at ingest — a deliberate divergence from the reference,
    * whose `validate_json` accepts any `tag` value and then throws on the
    * READ path when `make_native_tag` meets a non-list (a malformed tag
    * poisons the stored shard). An engine validates before storing.
    */
  def isValidShape(json: Column): Column = {
    val keys = json_object_keys(json)
    val shapeOk = acceptedShapes
      .map(s => keys === array(s.map(lit): _*))
      .reduce(_ || _)
    val parsed = from_json(json, wireSchema)
    val valueOk = parsed.getField("value").isNotNull && isNumberToken(json, "$.value")
    val tsOk = !array_contains(keys, "timestamp") ||
      (parsed.getField("timestamp").try_cast(LongType).isNotNull &&
        isNumberToken(json, "$.timestamp"))
    val tagField = parsed.getField("tag")
    // when the `tag` key is present it must have parsed as an array whose
    // every element is a non-empty object (head-of-assoc-list must exist)
    val tagOk = !array_contains(keys, "tag") ||
      (tagField.isNotNull &&
        !exists(tagField, m => m.isNull || size(map_entries(m)) === lit(0)))
    shapeOk && valueOk && tsOk && tagOk
  }

  /** S2: a wire payload may be ONE object or an ARRAY of objects — the
    * reference's batch POST (`src/main.re:60-67` dispatches `` `O`` vs
    * `` `A`` and validates each element). Splits array payloads into
    * per-element rows in a single linear pass: `from_json` with an
    * `array<string>` schema parses the body once and re-serializes each
    * element (Jackson copies tokens in document order, so the key-ORDER-
    * sensitive shape check still sees the wire order). The element text is
    * byte-identical to `get_json_object(json, '$[i]')`'s — which re-parsed
    * the whole body per element, quadratic in the body — so rids derived
    * from it are unchanged (`IngestShapesSpec` pins the equivalence).
    * Single-object (and unparseable) payloads pass through verbatim; an
    * empty array contributes nothing.
    *
    * Divergence note: the reference iterates a batch sequentially and
    * ABORTS at the first invalid element — elements before it are already
    * written, the rest never processed (an HTTP-transactionality artifact
    * of `Lwt_list.iter_s` + `failwith`). The engine validates per element:
    * good elements land, bad ones quarantine — same accepted grammar,
    * saner batch semantics.
    */
  def explodeBatches(wire: DataFrame): DataFrame = {
    val singles = wire.filter(!isBatch(col("json"))).select("series", "json")
    val elems = wire.filter(isBatch(col("json")))
      .select(col("series"), explode(batchElements(col("json"))).as("json"))
      .select(col("series"), elementText(col("json")).as("json"))
    singles.unionByName(elems)
  }

  /** A body is a batch when it is a JSON array. */
  private def isBatch(json: Column): Column = json_array_length(json).isNotNull

  /** A batch's elements, each re-serialized as its JSON text. */
  private def batchElements(json: Column): Column = from_json(json, ArrayType(StringType))

  /** A JSON `null` element parses to SQL NULL; the JSONPath form emitted
    * its text, which the quarantine keeps. */
  private def elementText(element: Column): Column = coalesce(element, lit("null"))

  /** The canonical `ts_us`, `tag` and `value` of a parsed good element
    * `p`, stamped `now` when it has no timestamp. */
  private def canonFields(p: Column, now: Column): Seq[Column] = Seq(
    coalesce(p.getField("timestamp").cast(LongType), now).as(Canon.TS_US),
    // array of single-key objects → ordered (name,value) structs;
    // a multi-key object contributes its first entry, like the
    // reference's head-of-assoc-list parse.
    transform(p.getField("tag"), m => {
      val e = get(map_entries(m), lit(0))
      struct(e.getField("key").as("name"), e.getField("value").as("value"))
    }).as(Canon.TAG),
    p.getField("value").as(Canon.VALUE))

  /** rid is CONTENT-DERIVED: a hash of (series, element text, `seq`),
    * where `seq` numbers the byte-identical good elements of a batch
    * 1..k. monotonically_increasing_id() would depend on the partition
    * layout, so re-ingesting the same batch yielded different rids. Which
    * of k identical elements takes which seq is arbitrary, but they are
    * identical, so the emitted row SET is deterministic; rid stays a
    * unique (ts, rid) sort tiebreak. */
  private def rid(series: Column, json: Column, seq: Column): Column =
    xxhash64(series, json, seq)

  final case class Result(good: DataFrame, bad: DataFrame)

  /** Ingest wire rows `(series STRING, json STRING)` → canonical datapoints
    * + quarantined invalid rows (the 400 path, kept as data not exceptions).
    *
    * @param ingestTimeUs server-assigned timestamp for shapes without one
    *                     (injected for determinism; the reference reads the
    *                     wall clock per point, `src/timeseries.re:37-44`)
    */
  def ingest(wire: DataFrame, ingestTimeUs: Long): Result = {
    val valid = isValidShape(col("json"))
    val good = wire.filter(valid)
      .select(col("series"), col("json"), from_json(col("json"), wireSchema).as("p"))
      .select(col("series") +: canonFields(col("p"), lit(ingestTimeUs)) :+ col("json"): _*)
      .withColumn(Canon.RID, rid(col("series"), col("json"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("series"), col("json"))
          .orderBy(col("series")))))
      .drop("json")
    val bad = wire.filter(!coalesce(valid, lit(false)))
    Result(good, bad)
  }

  /** One request body's good points, canonical rows in [[Canon.schema]]'s
    * layout, and its element count (good + quarantined). */
  final case class Body(good: Array[UnsafeRow], elements: Int)

  /** [[ingest]] of [[explodeBatches]] over the one wire row
    * `(series, body)`, evaluated on the driver with no Spark job: the same
    * rows, rids included, and the same quarantine count (`JsonIngestParitySpec`).
    * The server clock `nowUs` and each element's `seq` are input columns,
    * so the compiled plans serve every request. A seq counts the element's
    * byte-identical predecessors among all elements; identical elements
    * are all good or all bad, so this numbers the identical good ones 1..k,
    * as [[ingest]]'s `row_number` window does.
    */
  def ingestBody(spark: SparkSession, series: String, body: String, nowUs: Long): Body = {
    val plans = bodyPlans(spark)
    val elements = plans.split(Iterator(InternalRow(UTF8String.fromString(body))))
      .headOption.fold(Seq(UTF8String.fromString(body))) { r =>
        if (r.isNullAt(0)) Nil
        else { val a = r.getArray(0); (0 until a.numElements()).map(a.getUTF8String) }
      }
    val seen = mutable.HashMap.empty[UTF8String, Int]
    val s = UTF8String.fromString(series)
    val good = plans.canon(elements.iterator.map { e =>
      val seq = seen.getOrElse(e, 0) + 1
      seen(e) = seq
      InternalRow(s, e, seq, nowUs)
    })
    Body(good.map(_.asInstanceOf[UnsafeRow]), elements.size)
  }

  /** The body path's compiled plans: `split`, over `(json)`, keeps a
    * batch and yields its element texts; `canon`, over
    * `(series, json, seq, now)`, keeps the good elements and yields their
    * canonical rows. */
  private final class BodyPlans(val split: LocalPlan, val canon: LocalPlan)

  private val plansBySession =
    java.util.Collections.synchronizedMap(new java.util.WeakHashMap[SparkSession, BodyPlans])

  private def bodyPlans(spark: SparkSession): BodyPlans =
    plansBySession.computeIfAbsent(spark, { _ =>
      val split = LocalPlan(spark, StructType(Seq(StructField("json", StringType)))) {
        _.filter(isBatch(col("json")))
          .select(transform(batchElements(col("json")), elementText(_)))
      }
      val canon = LocalPlan(spark, StructType(Seq(
        StructField("series", StringType), StructField("json", StringType),
        StructField("seq", IntegerType), StructField("now", LongType)))) {
        _.filter(isValidShape(col("json")))
          .select(col("series"), col("json"), from_json(col("json"), wireSchema).as("p"),
            col("seq"), col("now"))
          .select(col("series") +: canonFields(col("p"), col("now")) :+
            rid(col("series"), col("json"), col("seq")).as(Canon.RID): _*)
          .select(Canon.typed: _*)
      }
      new BodyPlans(split, canon)
    })
}
