package graft

import graft.functions.Tags
import graft.model.Canon.{Datapoint, TagEntry}
import graft.operators.{TimeSeries => TS}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests over generated corpora (SURVEY.md §5):
  *  - readLast(n) ⊆ readRange(min, max)
  *  - since(t) == range(t, +∞)
  *  - multi-series result == union of per-series results
  *  - sum/count invariant under data order
  *  - filter(equals) ⊆ filter(contains)
  */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private val genPoint: Gen[Datapoint] = for {
    series <- Gen.oneOf("s1", "s2", "s3")
    ts <- Gen.chooseNum(0L, 1000L)
    hasTag <- Gen.prob(0.7)
    tagVal <- Gen.oneOf("aa", "ab", "bb", "b")
    value <- Gen.chooseNum(-100, 100).map(_.toDouble)
    rid <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
  } yield Datapoint(series, ts,
    if (hasTag) Some(Seq(TagEntry("t", tagVal))) else None, value, rid)

  private val genCorpus: Gen[List[Datapoint]] =
    Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, genPoint))

  /** Deterministically sample n values from a generator. */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def forAll[A](ga: Gen[A])(body: A => Unit): Unit =
    samples(ga, 8).foreach(body)

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(body: (A, B) => Unit): Unit =
    samples(ga, 8).zip(samples(gb, 8)).foreach { case (a, b) => body(a, b) }

  private def whenever(c: Boolean)(body: => Unit): Unit = if (c) body

  private def rids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("rid").as[Long].collect().toSet

  test("tiered readLast == flat readLast for any tier split and arrival order") {
    import graft.sources.TieredStore
    forAll(genCorpus, Gen.chooseNum(1, 10)) { (pts, n) =>
      // unique rids keep the (ts, rid) tiebreak total, so both paths have
      // exactly one correct answer
      val d = pts.groupBy(_.rid).map(_._2.head).toSeq
      whenever(d.nonEmpty) {
        val ids = d.map(_.series).distinct.sorted
        def key(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
          df.select("series", "ts_us", "rid").as[(String, Long, Long)].collect().toSeq
        val expect = key(TS.readLast(d.toDF(), ids, n))
        val st = new TieredStore(spark, tmpDir("tierprop"))
        val (disk, mem) = d.partition(_.rid % 2 == 0)
        if (disk.nonEmpty) st.appendDisk(disk.toDF())
        if (mem.nonEmpty) // buffer vs disk timestamps vary by seed, so the
          // qualify/merge/flush paths all get exercised across seeds
          st.appendMemory(mem.toDF())
        assert(key(st.readLast(ids, n)) == expect)
      }
    }
  }

  test("readLast(n) rows are a subset of readRange(min,max); at most n per series") {
    forAll(genCorpus, Gen.chooseNum(1, 10)) { (pts, n) =>
      whenever(pts.nonEmpty) {
        val df = pts.toDF()
        val last = TS.readLast(df, Nil, n)
        assert(rids(last).subsetOf(rids(TS.readRange(df, Nil, 0L, 1000L))))
        val perSeries = last.groupBy("series").count().as[(String, Long)].collect()
        assert(perSeries.forall(_._2 <= n))
      }
    }
  }

  test("since(t) == range(t, maxTs)") {
    forAll(genCorpus, Gen.chooseNum(0L, 1000L)) { (pts, t) =>
      whenever(pts.nonEmpty) {
        val df = pts.toDF()
        assert(rids(TS.readSince(df, Nil, t)) == rids(TS.readRange(df, Nil, t, 1000L)))
      }
    }
  }

  test("multi-series read == union of per-series reads") {
    forAll(genCorpus) { pts =>
      whenever(pts.nonEmpty) {
        val df = pts.toDF()
        val all = rids(TS.readSince(df, Seq("s1", "s2"), 300L))
        val union = rids(TS.readSince(df, Seq("s1"), 300L)) ++
          rids(TS.readSince(df, Seq("s2"), 300L))
        assert(all == union)
      }
    }
  }

  test("sum and count are invariant under row order") {
    forAll(genCorpus) { pts =>
      whenever(pts.nonEmpty) {
        val a = TS.aggregate(pts.toDF(), TS.Count).as[Double].head()
        val b = TS.aggregate(scala.util.Random.shuffle(pts).toDF(), TS.Count).as[Double].head()
        assert(a == b && a == pts.size.toDouble)
      }
    }
  }

  test("native tag_lookup == HOF formulation on generated corpora") {
    forAll(genCorpus) { pts =>
      whenever(pts.nonEmpty) {
        val df = pts.toDF()
        val both = df.select(
          Tags.tagLookup(df("tag"), "t").as("native"),
          Tags.tagLookupHof(df("tag"), "t").as("hof"))
        assert(both.filter(
          !(both("native") <=> both("hof"))).count() == 0)
      }
    }
  }

  test("filter(equals v) ⊆ filter(contains v)") {
    forAll(genCorpus, Gen.oneOf("aa", "b")) { (pts, v) =>
      whenever(pts.nonEmpty) {
        val df = pts.toDF()
        val eq = rids(TS.tagFilter(df, Seq(Tags.Group("t", Seq(v), Tags.Eq))))
        val ct = rids(TS.tagFilter(df, Seq(Tags.Group("t", Seq(v), Tags.Contains))))
        assert(eq.subsetOf(ct))
      }
    }
  }

  test("hashed_shingles set size == string shingle pipeline on fuzzed text") {
    import org.apache.spark.sql.functions.{col, size}
    // strings mixing tokens, whitespace (including VT, which is NOT a
    // separator in the engine's RE2-aligned class), unicode, and junk —
    // the byte-scan tokenizer must agree with TextOps.tokens
    val genText: Gen[String] = for {
      n <- Gen.chooseNum(0, 40)
      parts <- Gen.listOfN(n, Gen.oneOf(
        Gen.oneOf("fox", "dog", "a", "émù", "词语", "x1"),
        Gen.oneOf(" ", "\t", "\n", "", "\f", "\r", "\u000B", "  ", " \t\n")))
    } yield parts.mkString
    val texts = samples(genText, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "text")
    val both = df.select(
      size(graft.functions.SketchExpressions.hashed_shingles(col("text"), 3)).as("native"),
      size(graft.operators.Dedup.shinglesFromTokens(
        graft.operators.TextOps.tokens(col("text")), 3)).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("native text signals match the HOF formulations on fuzzed text") {
    import org.apache.spark.sql.functions.{col, length, lower, regexp_replace, size}
    import graft.functions.TextSignalExpressions._
    import graft.operators.TextOps
    // whitespace (incl. VT — not a separator), unicode (incl. the Kelvin
    // sign, whose full lowercase is ASCII 'k'), stopwords, junk
    val genText: Gen[String] = for {
      n <- Gen.chooseNum(0, 40)
      parts <- Gen.listOfN(n, Gen.oneOf(
        Gen.oneOf("the", "and", "FOX", "The", "émù", "词语", "x1", "a.b,c!", ";;", "Kelvin", "IS"),
        Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r", "\u000B", "  ", " \t\n")))
    } yield parts.mkString
    val texts = samples(genText, 150).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "text")
    val sw = TextOps.englishStopwords
    val both = df.select(
      token_cnt(col("text")).as("tc_n"),
      TextOps.tokenCountHof(col("text")).as("tc_h"),
      token_hit_cnt(col("text"), sw).as("hit_n"),
      TextOps.stopwordCountHof(col("text"), sw).as("hit_h"),
      (length(col("text")) - ws_cnt(col("text"))).as("nws_n"),
      length(regexp_replace(col("text"), TextOps.wsClass + "+", "")).as("nws_h"),
      punct_cnt(col("text")).as("p_n"),
      (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))).as("p_h"),
      bpeish_cnt(col("text")).as("bp_n"),
      TextOps.tokenCountBpeishHof(col("text")).as("bp_h"))
    assert(both.filter(
      col("tc_n") =!= col("tc_h") || col("hit_n") =!= col("hit_h") ||
      col("nws_n") =!= col("nws_h") || col("p_n") =!= col("p_h") ||
      col("bp_n") =!= col("bp_h")).count() == 0)
    // lexicon lookup also agrees through lower(): tokenize-then-lower ==
    // lower-then-tokenize for the RE2 ws class
    val viaLower = df.select(
      token_hit_cnt(lower(col("text")), sw).as("a"),
      token_hit_cnt(col("text"), sw).as("b"))
    assert(viaLower.filter(col("a") =!= col("b")).count() == 0)
  }

  test("repetition ratio matches a driver-side reference on fuzzed text") {
    val genText: Gen[String] = for {
      n <- Gen.chooseNum(0, 30)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "spam", "x", "yy", "z9"))
    } yield toks.mkString(" ")
    val texts = samples(genText, 100).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val got = graft.operators.TextOps.repetitionRatio(texts.toDF("doc_id", "text"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    texts.foreach { case (id, t) =>
      val toks = t.split("[ \t\n\f\r]+").filter(_.nonEmpty)
      val total = math.max(toks.length - 2, 0)
      val distinct = toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet.size
      val want =
        if (total > 0) BigDecimal(1.0 - distinct.toDouble / total)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        else 0.0
      assert(got(id) == ((total.toLong, want)), s"doc $id '$t'")
    }
  }
}
