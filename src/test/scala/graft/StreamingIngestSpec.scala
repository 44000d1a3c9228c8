package graft

import graft.sources.TieredStore
import graft.streaming.Ingest
import org.apache.spark.sql.streaming.Trigger

/** S1/S3/S6: streaming ingest — file stream → validate → tiered store. */
class StreamingIngestSpec extends SparkSuite {

  test("tiered file stream buffers per series and spills at the threshold") {
    val in = tmpDir("tstream_in")
    val ckpt = tmpDir("tstream_ckpt")
    val st = new TieredStore(spark, tmpDir("tstream_store"))
    // 30 points of s0, 4 of s1: with threshold 20, s0 spills, s1 stays;
    // the invalid point is quarantined, neither buffered nor stored
    val lines = (1 to 30).map { i =>
      s"""{"series": "s0", "point": {"timestamp": ${1704067200000000L + i}, "value": $i}}"""
    } ++ (1 to 4).map { i =>
      s"""{"series": "s1", "point": {"timestamp": ${1704067200000000L + i}, "value": $i}}"""
    } :+ """{"series": "bad", "point": {"nope": 1}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/batch0.jsonl"),
      lines.mkString("\n").getBytes)

    val q = Ingest.startTieredFileStream(spark, in, st, ckpt,
      spillThreshold = 20L, Trigger.AvailableNow())
    q.awaitTermination(120000L)

    val split = st.lengthSplit(Seq("s0", "s1")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(split == Seq(("s0", 0L, 30L), ("s1", 4L, 0L)))
    assert(st.snapshot.select("series").distinct().collect().map(_.getString(0)).toSet ==
      Set("s0", "s1"))
    assert(st.snapshot.groupBy().sum("value").head().getDouble(0) ==
      ((1 to 30).sum + (1 to 4).sum).toDouble)
    // reads see both tiers; the buffered series answers memory-only
    assert(st.readLast(Seq("s0", "s1"), 50).count() == 34L)
  }
}
