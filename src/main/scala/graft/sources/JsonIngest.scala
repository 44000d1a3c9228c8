package graft.sources

import graft.model.Canon
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  * Everything is built-in expressions — validation is a predicate, so
  * ingest is one codegen'd pass with no UDFs and no driver-side loops.
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
    val isArr = json_array_length(col("json")).isNotNull
    val singles = wire.filter(!isArr).select("series", "json")
    val elems = wire.filter(isArr)
      .select(col("series"),
        explode(from_json(col("json"), ArrayType(StringType))).as("json"))
      // a JSON `null` element parses to SQL NULL; the JSONPath form emitted
      // its text, which the quarantine keeps
      .select(col("series"), coalesce(col("json"), lit("null")).as("json"))
    singles.unionByName(elems)
  }

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
    val parsed = from_json(col("json"), wireSchema).as("p")
    val good = wire.filter(valid)
      .select(col("series"), col("json"), parsed)
      .select(
        col("series"),
        coalesce(col("p.timestamp").cast(LongType), lit(ingestTimeUs)).as(Canon.TS_US),
        // array of single-key objects → ordered (name,value) structs;
        // a multi-key object contributes its first entry, like the
        // reference's head-of-assoc-list parse.
        transform(col("p.tag"), m => {
          val e = get(map_entries(m), lit(0))
          struct(e.getField("key").as("name"), e.getField("value").as("value"))
        }).as(Canon.TAG),
        col("p.value").as(Canon.VALUE),
        col("json"))
      // rid is CONTENT-DERIVED: hash of (series, payload, intra-batch seq
      // among byte-identical rows). monotonically_increasing_id() would
      // depend on the partition layout, so re-ingesting the same batch
      // yielded different rids. The seq window's order among identical
      // rows is arbitrary but the rows are identical, so the emitted row
      // SET is deterministic; rid stays a unique (ts, rid) sort tiebreak.
      .withColumn(Canon.RID, xxhash64(col("series"), col("json"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("series"), col("json"))
          .orderBy(col("series")))))
      .drop("json")
    val bad = wire.filter(!coalesce(valid, lit(false)))
    Result(good, bad)
  }
}
