package graft

import graft.model.Canon
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r16 fixture-staging equivalence: the per-process parquet staging of
  * the synthetic fixtures (SparkEntry.stagedFixture) must be
  * row-identical to a fresh inline assembly — staging exists to keep
  * fixture construction out of the timed region, never to change what a
  * query reads. A drift here would silently re-point the oracle rows at
  * different inputs, so the equivalence is pinned for one representative
  * of each staged family (WARC bytes, URL-hosts derivation, pixel
  * media): the staged parquet round-trip must preserve every column
  * including binary payloads, row for row.
  */
class FixtureStagingSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.map { c =>
      // binary renders as identity-hash by default — compare via base64
      if (df.schema(c).dataType == org.apache.spark.sql.types.BinaryType)
        base64(col(c)).as(c)
      else col(c).cast("string").as(c)
    }
    df.select(cols.toIndexedSeq: _*).collect()
      // improbable separator (ADVICE r16): an empty separator could let
      // adjacent-column boundary collisions (("ab","c") vs ("a","bc"))
      // mask exactly the fixture drift this spec exists to catch
      .map(_.mkString("\u0001")).sorted.toSeq
  }

  test("q_warc_records (staged WARC fixture) equals fresh inline assembly") {
    Graft.register(spark)
    val staged = SparkEntry.queries("q_warc_records")(spark, sf)
    val fresh = sources.WarcIngest.records(
        sources.WarcIngest.syntheticWarcFromDocuments(Canon.documents(spark, sf)))
      .filter(col("ok"))
      .select(col("file_id"), col("rec_idx").cast("long").as("rec_idx"),
        col("warc_type"), col("target_uri"), col("record_id"),
        col("content_type"),
        col("http_status").cast("long").as("http_status"),
        col("http_content_type"), col("payload_len"), col("body"))
    assert(canon(staged) == canon(fresh))
  }

  test("q_multimodal_pixels (staged pixel media) equals fresh inline assembly") {
    Graft.register(spark)
    val staged = SparkEntry.queries("q_multimodal_pixels")(spark, sf)
    val fresh = operators.Multimodal.resizePixels(
      operators.Multimodal.syntheticPixelMedia(Canon.documents(spark, sf)), 4, 4)
    assert(canon(staged) == canon(fresh))
  }

  test("q_url_robots_directives (staged hosts) equals fresh inline derivation") {
    Graft.register(spark)
    val staged = SparkEntry.queries("q_url_robots_directives")(spark, sf)
    val urls = operators.UrlOps.syntheticUrls(Canon.documents(spark, sf))
    // the pre-r16 inline derivation had no isNotNull filter; equality
    // here proves the synthetic URL corpus never yields a null host, so
    // the staged filter is a no-op and the r15 results are preserved
    val hosts = urls.select(lower(operators.UrlOps.host(col("url"))).as("host")).distinct()
    val fresh = operators.RobotsOps.directives(
      operators.RobotsOps.syntheticRobots(hosts), "GraftBot")
    assert(canon(staged) == canon(fresh))
  }

  test("a failed fixture build surfaces its own exception and retries on the next call") {
    var builds = 0
    def failing(): DataFrame = { builds += 1; throw new IllegalStateException("build failed") }
    val e = intercept[IllegalStateException] {
      SparkEntry.stagedFixture("spec_failing", spark, sf)(failing())
    }
    assert(e.getMessage == "build failed" && builds == 1)
    intercept[IllegalStateException] {
      SparkEntry.stagedFixture("spec_failing", spark, sf)(failing())
    }
    assert(builds == 2) // the failed future was dropped, so the build ran again
  }

  test("the synthetic URL corpus yields zero null hosts at the BENCH scale factor") {
    // ADVICE r16: the staged hosts fixture filters host IS NOT NULL,
    // absent from the pre-r16 inline derivation — a no-op only while the
    // corpus never produces a null host. The sf0.001 equality above pins
    // it at test scale; this pins it at the scale the driver benches.
    val urls = operators.UrlOps.syntheticUrls(
      Canon.documents(spark, "/root/testdata/sf0.1"))
    assert(urls.filter(
      lower(operators.UrlOps.host(col("url"))).isNull).count() == 0L)
  }
}
