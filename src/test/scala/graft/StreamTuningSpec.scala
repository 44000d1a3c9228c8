package graft

import graft.streaming.StreamTuning

/** Pins the r17 scale-adaptive stream partitioning (guide §2): the
  * state/sink partition count is a pure function of input volume — 1 at
  * bench scale, growing linearly at corpus scale — never of the core
  * count, and the derived session carries it without touching the
  * caller's session (the bench warms queries concurrently on one shared
  * session).
  */
class StreamTuningSpec extends SparkSuite {

  test("statePartitions is volume-proportional, floored at 1, core-blind") {
    assert(StreamTuning.statePartitions(0L) == 1)
    assert(StreamTuning.statePartitions(1L) == 1)
    assert(StreamTuning.statePartitions(StreamTuning.DefaultTargetBytes) == 1)
    assert(StreamTuning.statePartitions(StreamTuning.DefaultTargetBytes + 1) == 2)
    // 100 TB at the default target: ~3.3M partitions, linear in volume
    assert(StreamTuning.statePartitions(100L * 1024 * 1024 * 1024 * 1024) ==
      (100L * 1024 * 1024 * 1024 * 1024 / StreamTuning.DefaultTargetBytes).toInt)
    // custom target
    assert(StreamTuning.statePartitions(10L, 4L) == 3)
  }

  test("inputBytes sums only the flat files of the staged dir") {
    val d = tmpDir("stream_tuning_")
    java.nio.file.Files.write(java.nio.file.Paths.get(d, "a.parquet"),
      Array.fill[Byte](100)(1))
    java.nio.file.Files.write(java.nio.file.Paths.get(d, "b.parquet"),
      Array.fill[Byte](23)(1))
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(d, "sub"))
    assert(StreamTuning.inputBytes(spark, d) == 123L)
    assert(StreamTuning.inputBytes(spark, d + "/does-not-exist") == 0L)
  }

  test("inputBytes lists a non-file: filesystem through the session's Hadoop conf") {
    // java.io.File cannot see a `graftfs:` path: it read 0 bytes, which
    // pinned every HDFS/S3-staged stream to one partition
    val d = tmpDir("stream_tuning_fs_")
    java.nio.file.Files.write(java.nio.file.Paths.get(d, "a.parquet"),
      Array.fill[Byte](77)(1))
    val impl = s"fs.${SchemeFs.Scheme}.impl"
    spark.conf.set(impl, classOf[SchemeFs].getName)
    spark.conf.set(s"$impl.disable.cache", "true")
    try {
      assert(StreamTuning.inputBytes(spark, s"${SchemeFs.Scheme}://$d") == 77L)
      assert(StreamTuning.inputBytes(spark, s"${SchemeFs.Scheme}://$d/nope") == 0L)
    } finally { spark.conf.unset(impl); spark.conf.unset(s"$impl.disable.cache") }
  }

  test("sessionFor derives shuffle partitions from the dir and isolates the caller") {
    val d = tmpDir("stream_tuning_sess_")
    // 2.5 targets of input → 3 partitions under a tiny test target
    spark.conf.set(StreamTuning.TargetConf, "50")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(d, "in.bin"),
        Array.fill[Byte](125)(1))
      val before = spark.conf.get("spark.sql.shuffle.partitions")
      val ss = StreamTuning.sessionFor(spark, d)
      assert(ss.conf.get("spark.sql.shuffle.partitions") == "3")
      // caller session untouched (pooled warmup threads share it)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
      // the graft session surface is re-registered on the clone
      assert(ss.sessionState.functionRegistry
        .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier("simhash64")))
      assert(ss.conf.get("spark.sql.optimizer.excludedRules")
        .contains("InferFiltersFromGenerate"))
    } finally spark.conf.unset(StreamTuning.TargetConf)
  }
}

/** The local filesystem under a scheme of its own: a stand-in for a
  * non-`file:` store (HDFS, S3) that only the Hadoop conf can resolve. */
class SchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${SchemeFs.Scheme}:///")
  override def getScheme: String = SchemeFs.Scheme
}

object SchemeFs { val Scheme = "graftfs" }
