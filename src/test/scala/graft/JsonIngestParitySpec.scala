package graft

import graft.model.Canon
import graft.sources.JsonIngest
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.graft.PackedRows

/** The wire grammar's two evaluation contexts agree on hostile input:
  * every body below goes through the frame path
  * (`ingest(explodeBatches(frame))`, the reference) and the driver path
  * (`ingestBody`), which must yield the same canonical rows, all five
  * columns with `rid`, and the same quarantine count.
  */
class JsonIngestParitySpec extends SparkSuite {
  import spark.implicits._

  private val T0 = 1700000000000000L

  /** A canonical row as text, read through the canonical layout. */
  private def render(r: UnsafeRow): String = {
    val tag = if (r.isNullAt(2)) "null" else {
      val a = r.getArray(2)
      (0 until a.numElements()).map { i =>
        val e = a.getStruct(i, 2)
        s"${e.getUTF8String(0)}=${e.getUTF8String(1)}"
      }.mkString("[", ",", "]")
    }
    s"${r.getUTF8String(0)} ${r.getLong(1)} $tag ${r.getDouble(3)} ${r.getLong(4)}"
  }

  private def assertParity(bodies: Seq[(String, String)]): Unit = {
    // one wire row per body, each under its own series, so the frame
    // path's rid window numbers each body's duplicates apart
    val keyed = bodies.zipWithIndex.map { case ((s, b), i) => (s"$s#$i", b) }
    val ref = JsonIngest.ingest(JsonIngest.explodeBatches(keyed.toDF("series", "json")), T0)
    val want = PackedRows.collect(ref.good.select(Canon.typed: _*))
      .groupBy(_.getUTF8String(0).toString).map { case (s, rs) => s -> rs.map(render).sorted.toSeq }
    val wantBad = ref.bad.groupBy("series").count().as[(String, Long)].collect().toMap
    keyed.foreach { case (s, b) =>
      val got = JsonIngest.ingestBody(spark, s, b, T0)
      assert(got.good.map(render).sorted.toSeq == want.getOrElse(s, Nil), s"rows of $s: $b")
      assert(got.elements - got.good.length == wantBad.getOrElse(s, 0L), s"quarantine of $s: $b")
    }
  }

  test("the bodies of JsonIngestSpec and IngestShapesSpec and the wire fixture") {
    val ingestSpec = Seq(
      """{"value": 1}""", """{"tag": [{"a":"b"}], "value": 2}""",
      """{"timestamp": 10, "value": 3}""", """{"timestamp": 11, "tag": [{"a":"b"}], "value": 4}""",
      """{"value": 5, "timestamp": 12}""", """{"timestamp": 13, "value": 6, "tag": []}""",
      """{"value": "x"}""", """{"value": "NaN"}""", """{"value": "42"}""",
      """{"tag": [{"a":"b"}]}""", """{}""", """{"Value": 7}""", """{"timestamp": "t", "value": 8}""",
      """{"timestamp": 1000000.9, "value": 2}""",
      """{"tag": [{"loc":"1"},{"loc":"2"},{"sci":"x"}], "value": 1}""",
      """[{"timestamp": 10, "value": 1}, {"timestamp": 10, "value": 1}, {"timestamp": 10, "value": 2}]""",
      """[{"timestamp": 1439856000000000, "tag": [{"location":"1"},{"scientist":"langstroth"}], "value": 12.0},
        | {"timestamp": 1439856000000000, "tag": [{"location":"1"},{"scientist":"perpetua"}], "value": 1.0}]"""
        .stripMargin)
    val shapesSpec = Seq(
      """[{"value": 1}, {"timestamp": 21, "value": 2}]""", "[]", """{"value": 9}""", "not json at all",
      "[{\"value\": 1.50e3}, {\"value\": -0.0}, {\"value\": 1e400}, {\"value\": 12345678901234567890}]",
      "[{\"tag\": [{\"n\\" + "u00e9\": \"a\\\"b\"}], \"value\": 1},\n\t{ \"value\" :  2 , \"timestamp\" : 3 } ]",
      "[{\"tag\": [{\"a\": \"1\"}, {\"b\": [\"x\", {\"c\": []}]}], \"value\": 1}]",
      "[5, \"str\", null, [1, [2, 3]]]", "not json [1, 2]",
      """{"tag": "notalist", "value": 1}""", """{"tag": null, "value": 1}""",
      """{"tag": [{}], "value": 1}""", """{"tag": [], "value": 1}""",
      """{"tag": [{"a":"1","b":"2"}], "value": 2}""")
    val fixture = spark.read.schema("series STRING, json STRING").json(SparkEntry.wireFixturePath)
      .as[(String, String)].collect().toSeq
    assert(fixture.nonEmpty)
    assertParity(ingestSpec.map("spec" -> _) ++ shapesSpec.map("shapes" -> _) ++ fixture)
  }

  test("hostile bodies: duplicates, nulls, nesting, truncation, number edge cases, non-ASCII") {
    val bodies = Seq(
      // RouterSpec's 64-bit timestamp body
      Seq("12345678901234567890", "9.3e18", "-9.3e18", "1e400", "1704067200000000")
        .map(t => s"""{"timestamp": $t, "value": 1}""").mkString("[", ",", "]"),
      // byte-identical duplicates, among bad ones too
      """[{"value": 1}, {"value": 1}, {"value":1}, {"value": 1}, {"nope": 1}, {"nope": 1}]""",
      """[{"timestamp": 5, "tag": [{"a":"b"}], "value": 2}, {"timestamp": 5, "tag": [{"a":"b"}], "value": 2}]""",
      // null elements, nested arrays, empty arrays, scalar bodies
      """[null, {"value": 1}, null]""", """[[{"value": 1}], [[1]], []]""", "[]", "  [ ]  ",
      "42", "\"str\"", "null", "true", "",
      // truncated JSON
      """[{"value": 1}, {"value": 2""", """{"value": 1""", """[{"value": 1},""", "[",
      // numeric-looking strings and number edge cases
      """{"value": "42"}""", """{"value": "NaN"}""", """{"value": "Infinity"}""",
      """{"value": NaN}""", """{"value": Infinity}""", """{"value": -Infinity}""",
      """{"value": 1e400}""", """{"value": -1e400}""", """{"timestamp": 1e400, "value": 1}""",
      """{"value": 123456789012345678901234567890}""", """{"value": -12345678901234567890}""",
      """{"timestamp": 9223372036854775807, "value": 1}""", """{"timestamp": 9223372036854775808, "value": 1}""",
      """{"value": 1.50}""", """[{"value": 1.50}, {"value": 1.5}, {"value": 15e-1}, {"value": 1.50}]""",
      """[{"timestamp": 1.0, "value": 1}, {"timestamp": 1, "value": 1}]""",
      // non-ASCII tags and escapes
      """{"tag": [{"lieu": "Zürich"}, {"名前": "値"}], "value": 1}""",
      """[{"tag": [{"emoji": "🐝"}], "value": 2}, {"tag": [{"é": "🐝"}], "value": 3}]""")
    assertParity(bodies.map("hostile" -> _) :+ ("série" -> """[{"value": 1}, {"value": 1}]"""))
  }
}
