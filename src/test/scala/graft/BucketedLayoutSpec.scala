package graft

import org.apache.spark.sql.functions._

/** Evidence for the "co-partitions with an id-bucketed layout" claims in
  * the operator scaladocs (topKOverIds, Events, Dedup): when the
  * documents/embeddings tables are written BUCKETED on the join id, the
  * id joins and semi-joins plan with NO shuffle exchange on the bucketed
  * sides — at 100 TB that is the difference between an id-only shuffle
  * per query and none at all. Auto-broadcast is disabled inside the test:
  * at 100 TB neither side broadcasts, and with broadcast available the
  * planner (correctly) ignores bucketing at toy scale. The tables are
  * Spark bucketed tables (`bucketBy(...).saveAsTable`, hash-bucketed AND
  * sorted on the join id; bucket metadata lives in the session catalog,
  * not the path); the parquet-path tests elsewhere cover the unbucketed
  * case.
  */
class BucketedLayoutSpec extends SparkSuite {

  private def saveBucketed(df: org.apache.spark.sql.DataFrame, table: String): Unit =
    df.write.mode("overwrite").bucketBy(8, "doc_id").sortBy("doc_id").saveAsTable(table)

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.toRdd.count()
    // AQE's toString prints Final AND Initial plans; assert on Final only
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("bucketed doc/embedding tables join with zero shuffle exchanges") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .withColumnRenamed("vec_id", "doc_id")
    saveBucketed(docs, "graft_docs_b")
    saveBucketed(embs, "graft_embs_b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // spark.table keeps the bucket metadata a parquet-path read would lose
      val d = spark.table("graft_docs_b")
      val e = spark.table("graft_embs_b")
      // inner join on the bucket key: both sides scan their buckets
      // directly — no exchange before the join (the groupBy downstream
      // still aggregates, which is its own business)
      val joined = d.join(e, Seq("doc_id"))
        .groupBy("lang").agg(count(lit(1)).as("n"))
      val p = finalPlan(joined)
      val joinSection = p.split("HashAggregate").last // below the aggs
      assert(joinSection.contains("SortMergeJoin") || joinSection.contains("ShuffledHashJoin"), p)
      assert(!joinSection.contains("Exchange"),
        s"bucketed join still shuffles:\n$p")
      // semi-join (the filtered-vector-search shape) — same property
      val semi = e.join(d.filter(col("lang") === "en").select("doc_id"),
        Seq("doc_id"), "left_semi")
      val ps = finalPlan(semi)
      assert(!ps.contains("Exchange"), s"bucketed semi-join shuffles:\n$ps")
      // and results match the unbucketed computation
      assert(semi.count() ==
        embs.join(docs.filter(col("lang") === "en").select("doc_id"),
          Seq("doc_id"), "left_semi").count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS graft_docs_b")
      spark.sql("DROP TABLE IF EXISTS graft_embs_b")
    }
  }

  test("bucketed bucket=/day= compaction: fewer files, identical content, live-swap safe") {
    import spark.implicits._
    import graft.model.Canon.{Datapoint, TagEntry}
    import graft.sources.TieredStore
    val T0 = 1704067200000000L
    def wave(w: Long) = (0L until 50L).flatMap(i =>
      Seq(Datapoint(s"s${i % 25}", T0 + (w * 50 + i) * 1000L, // 25 series
        Some(Seq(TagEntry("k", "1"))), i.toDouble, w * 1000 + i)))
    import StoreTestUtil.{fp, parquetFiles}
    // 8 append waves -> one compaction committed on the manifest chain,
    // memory intact
    val root = tmpDir("bkt_compact_live")
    val st = new TieredStore(spark, root)
    (0L until 8L).foreach(w => st.appendDisk(wave(w).toDF()))
    st.appendMemory( // a buffered tail that must survive compaction
      Seq(Datapoint("s0", T0 + 900000L, Some(Seq(TagEntry("k", "1"))), 1.0, 99999L)).toDF())
    val before = fp(st.snapshot)
    val filesBefore = parquetFiles(root)
    st.compactDisk()
    assert(fp(st.snapshot) == before, "live compaction changed the store content")
    assert(parquetFiles(root) < filesBefore,
      s"live compaction did not coalesce: $filesBefore -> ${parquetFiles(root)}")
    // the compaction committed + expired through the manifest chain: one
    // live version, one data dir, no leftover history
    assert(st.diskVersions.map(_.op) == Seq("compact"))
    // the store stays fully operational: read + delete after compaction
    assert(st.readLast(Seq("s0"), 1).select("rid").as[Long].head() == 99999L)
    assert(st.delete(Seq("s1"), T0, T0 + 1000000000L) > 0L)
  }
}
