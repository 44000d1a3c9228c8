package graft

import graft.sources.JsonIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q_ingest_shapes: the S1/S2 wire-grammar query over the checked-in
  * fixture (src/main/resources/graft/ingest_wire.jsonl). The expected
  * rows below were cross-computed with the DuckDB oracle SQL from
  * SparkEntry.oracleSql("q_ingest_shapes") over the same file — pinning
  * them here makes the cross-engine agreement a unit-level contract
  * (the driver re-checks it end-to-end through Verify + DuckDB).
  */
class IngestShapesSpec extends SparkSuite {
  import spark.implicits._

  private val T0 = 1700000000000000L

  test("fixture resolves from the classpath") {
    assert(new java.io.File(SparkEntry.wireFixturePath).isFile)
  }

  test("explodeBatches splits arrays in order, preserves key order, drops empty batches") {
    val wire = Seq(
      ("b", """[{"value": 1}, {"timestamp": 21, "value": 2}]"""),
      ("e", """[]"""),
      ("s", """{"value": 9}"""),
      ("g", """not json at all""")).toDF("series", "json")
    val out = JsonIngest.explodeBatches(wire).as[(String, String)].collect().toSet
    assert(out == Set(
      ("b", """{"value":1}"""),
      ("b", """{"timestamp":21,"value":2}"""),
      ("s", """{"value": 9}"""),
      ("g", """not json at all""")))
  }

  /** The per-element JSONPath form `explodeBatches` had before its linear
    * rewrite: the reference its element text must equal byte for byte. */
  private def explodeByJsonPath(wire: DataFrame): DataFrame = {
    val nArr = json_array_length(col("json"))
    val singles = wire.filter(nArr.isNull).select("series", "json")
    val elems = wire.filter(nArr.isNotNull && nArr > 0)
      .select(col("series"), col("json"), explode(sequence(lit(0), nArr - 1)).as("__i"))
      .select(col("series"), expr("get_json_object(json, concat('$[', __i, ']'))").as("json"))
    singles.unionByName(elems)
  }

  test("explodeBatches emits the same element text as the get_json_object form") {
    val wire = Seq(
      "num" -> ("[{\"value\": 1.50e3}, {\"value\": -0.0}, {\"value\": 1e400}, " +
        "{\"value\": 12345678901234567890}]"),
      "esc" -> ("[{\"tag\": [{\"n\\" + "u00e9\": \"a\\\"b\"}], \"value\": 1},\n\t{ \"value\" :  2 , " +
        "\"timestamp\" : 3 } ]"),
      "nest" -> "[{\"tag\": [{\"a\": \"1\"}, {\"b\": [\"x\", {\"c\": []}]}], \"value\": 1}]",
      "nonobj" -> "[5, \"str\", null, [1, [2, 3]]]",
      "empty" -> "[]",
      "single" -> "{\"value\": 9}",
      "bad" -> "not json [1, 2]"
    ).toDF("series", "json")
    def bySeries(df: DataFrame): Map[String, Seq[String]] =
      df.as[(String, String)].collect().toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val got = bySeries(JsonIngest.explodeBatches(wire))
    val want = bySeries(explodeByJsonPath(wire))
    assert(got == want)
    assert(got("num").size == 4 && got("nonobj").size == 4 && !got.contains("empty"))
    // so every derived row, content-hash rid included, is unchanged
    def rows(df: DataFrame) = JsonIngest.ingest(df, T0).good.collect().map(_.toString).sorted.toSeq
    assert(rows(JsonIngest.explodeBatches(wire)) == rows(explodeByJsonPath(wire)))
  }

  test("tag grammar enforced at ingest: non-array / null / empty-object tags quarantine") {
    val wire = Seq(
      ("s", """{"tag": "notalist", "value": 1}"""),
      ("s", """{"tag": null, "value": 1}"""),
      ("s", """{"tag": [{}], "value": 1}"""),
      ("s", """{"tag": [], "value": 1}"""), // empty ARRAY is fine (no tags)
      ("s", """{"tag": [{"a":"1","b":"2"}], "value": 2}""") // multi-key: first entry
    ).toDF("series", "json")
    val r = JsonIngest.ingest(wire, T0)
    assert(r.good.count() == 2)
    assert(r.bad.count() == 3)
  }

  test("q_ingest_shapes matches the DuckDB-computed golden rows exactly") {
    val got = SparkEntry.queries("q_ingest_shapes")(spark, "unused")
      .as[(Boolean, String, Option[Long], Option[String], Option[Double], Option[String])]
      .collect().toSeq
    val expected = Seq[(Boolean, String, Option[Long], Option[String], Option[Double], Option[String])](
      (false, "b2", None, None, None, Some("""{"value":5,"timestamp":23}""")),
      (false, "m", None, None, None, Some("""5""")),
      (false, "m", None, None, None, Some("""null""")),
      (false, "m", None, None, None, Some("""{"Value": 1}""")),
      (false, "m", None, None, None, Some("""{"tag": "notalist", "value": 1}""")),
      (false, "m", None, None, None, Some("""{"tag": [{"a":"b"}]}""")),
      (false, "m", None, None, None, Some("""{"tag": null, "value": 1}""")),
      (false, "m", None, None, None, Some("""{"timestamp": "7", "value": 1}""")),
      (false, "m", None, None, None, Some("""{"timestamp": "t", "value": 8}""")),
      (false, "m", None, None, None, Some("""{"timestamp": 1, "value": 2, "tag": []}""")),
      (false, "m", None, None, None, Some("""{"value":""")),
      (false, "m", None, None, None, Some("""{"value": "42"}""")),
      (false, "m", None, None, None, Some("""{"value": "NaN"}""")),
      (false, "m", None, None, None, Some("""{"value": "x"}""")),
      (false, "m", None, None, None, Some("""{"value": 1, "extra": 2}""")),
      (false, "m", None, None, None, Some("""{"value": 5, "timestamp": 12}""")),
      (false, "m", None, None, None, Some("""{"value": true}""")),
      (false, "m", None, None, None, Some("""{}""")),
      (true, "b1", Some(21L), None, Some(2.0), None),
      (true, "b1", Some(22L), Some("k=v"), Some(3.0), None),
      (true, "b1", Some(T0), None, Some(1.0), None),
      (true, "b2", Some(T0), Some("x=y"), Some(6.0), None),
      (true, "b2", Some(T0), None, Some(4.0), None),
      (true, "s1", Some(T0), None, Some(7.5), None),
      (true, "s1", Some(T0), None, Some(42.0), None),
      (true, "s2", Some(T0), Some(""), Some(3.0), None),
      (true, "s2", Some(T0), Some("location=1,scientist=langstroth"), Some(12.0), None),
      (true, "s2", Some(T0), Some("location=1,scientist=langstroth"), Some(12.0), None),
      (true, "s3", Some(-5L), None, Some(2.0), None),
      (true, "s3", Some(1000L), None, Some(1.0), None),
      (true, "s3", Some(1439856000000000L), None, Some(12.0), None),
      (true, "s4", Some(11L), Some("a=1"), Some(5.0), None),
      (true, "s4", Some(1439856000000000L), Some("location=2"), Some(28.0), None))
    assert(got.size == expected.size,
      s"row count ${got.size} != ${expected.size}\n${got.mkString("\n")}")
    got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g == e, s"row $i: got $g, expected $e")
    }
  }
}
