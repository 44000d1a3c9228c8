package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench JSON line is the driver's only perf artifact — two rounds
  * lost their parse to formatting accidents, so the format is pinned by
  * test: must parse as JSON (Jackson, from Spark's classpath) with the
  * exact contract fields, including edge values Scala prints oddly.
  */
class BenchFormatSpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  test("bench line parses as JSON with the contract fields") {
    val line = Bench.formatLine(
      Seq("q_a" -> 0.123456789, "q_b" -> 12.0, "q_c" -> 1.0e-4),
      Seq("q_bad"), "/root/testdata/sf0.1", partial = false)
    val n = mapper.readTree(line)
    assert(n.get("metric").asText == "total")
    assert(n.get("unit").asText == "sec")
    // the total renders at 2dp, summed at full precision before rounding
    assert(math.abs(n.get("value").asDouble - 12.12) < 1e-9)
    assert(n.get("queries").size == 3)
    // stdout per-query values render at 1dp (tail-window budget; see fmt)
    assert(math.abs(n.get("queries").get("q_a").asDouble - 0.1) < 1e-12)
    assert(math.abs(n.get("queries").get("q_b").asDouble - 12.0) < 1e-12)
    assert(n.get("queries").get("q_c").asDouble == 0.0) // sub-ms floors to "0"
    assert(n.get("queries_median") == null) // sidecar-only field
    assert(!n.get("partial").asBoolean) // always present (r6 ADVICE)
    assert(n.get("failed").get(0).asText == "q_bad")
  }

  test("sidecar rendering carries 2dp values and per-query medians") {
    val line = Bench.formatLine(
      Seq("q_a" -> 0.123456789, "q_b" -> 1.0),
      Nil, "sf", partial = false, dp = 2,
      medians = Some(Map("q_a" -> 0.256789, "q_b" -> 1.5)))
    val n = mapper.readTree(line)
    assert(math.abs(n.get("queries").get("q_a").asDouble - 0.12) < 1e-12)
    val med = n.get("queries_median")
    assert(med.size == 2)
    assert(math.abs(med.get("q_a").asDouble - 0.26) < 1e-12)
    assert(math.abs(med.get("q_b").asDouble - 1.5) < 1e-12)
  }

  test("a sidecar path with quotes and backslashes still parses") {
    val path = """/data/bench "quoted"/back\slash.json"""
    val line = Bench.formatLine(Seq("q_a" -> 1.0), Nil, "sf", partial = false,
      sidecar = Some(path))
    assert(mapper.readTree(line).get("sidecar").asText == path)
    val stdout = Bench.stdoutLine(Seq("q_a" -> 1.0), Nil, "sf", partial = false,
      sidecar = Some(path))
    assert(mapper.readTree(stdout).get("sidecar").asText == path)
  }

  test("the scale tier's object rides in the sidecar and parses") {
    val scale = Bench.scaleLine(Seq("q_b" -> 2.346, "q_a" -> 1.0), Seq("q_c"),
      skipped = 1, mult = 8, sfName = "sf\"0.1")
    val line = Bench.formatLine(Seq("q_a" -> 1.0), Nil, "sf", partial = false, dp = 2,
      scale = Some(scale))
    val n = mapper.readTree(line).get("scale")
    assert(n.get("metric").asText == "scale" && n.get("mult").asInt == 8)
    assert(math.abs(n.get("value").asDouble - 3.35) < 1e-9)
    assert(math.abs(n.get("queries").get("q_b").asDouble - 2.35) < 1e-12)
    assert(n.get("skipped").asInt == 1 && n.get("failed").get(0).asText == "q_c")
    assert(n.get("sf").asText == "sf\"0.1x8")
    // the stdout contract line never carries it
    assert(mapper.readTree(Bench.stdoutLine(Seq("q_a" -> 1.0), Nil, "sf",
      partial = false)).get("scale") == null)
  }

  test("partial flag and failure list are always present (parser-safe)") {
    val line = Bench.formatLine(Seq("q" -> 1.5), Nil, "sf", partial = true)
    val n = mapper.readTree(line)
    assert(n.get("partial").asBoolean)
    assert(n.get("failed").size == 0) // empty list rendered, not omitted
    val happy = mapper.readTree(
      Bench.formatLine(Seq("q" -> 1.5), Nil, "sf", partial = false))
    assert(!happy.get("partial").asBoolean && happy.get("failed").size == 0)
  }

  test("a full-size query roster fits the driver's 2000-char tail window") {
    // The driver keeps only the LAST 2000 chars of the run log. The JSON
    // line itself is UNPREFIXED (run/outputStrategy := StdoutOutput); the
    // only other tail occupant is sbt's "[success] Total time ..." line,
    // measured at 72 chars. Budget = 2000 − 72 − 2 newlines − 15 suffix
    // variance (duration formatting: "58 s" vs "683 s (11:23)") − 15
    // slack ≈ 1895 guard against a ~1925 usable window.
    // r17 FORMAT (VERDICT r16 items 1-2): keys are FULL q_* names — the
    // driver matches per-query keys against the roster names, and the
    // r13-r16 compact keys made PERF per_query empty (n_common=0). When
    // the full-name line overflows, the slowest-K that fit are kept
    // (2dp) and q_overflow accounts for every elided fast query; the
    // full roster lives in the sidecar whose path is on the line.
    // calibration is always present on a real run (~45 chars) — the gate
    // must measure the real stdout shape (r13: its absence here masked a
    // 12-query elision on the live line)
    val roster = Bench.benchQueryNames.map(_ -> 1.234567)
    val line = Bench.stdoutLine(roster, Nil, "sf0.1", partial = false,
      calibration = Some((12.34, 12.89, 32)),
      sidecar = Some("bench_out.json"))
    assert(line.length <= 1895,
      s"bench stdout line ${line.length} chars — over the measured ~1925 budget")
    val n = mapper.readTree(line)
    val kept = n.get("queries")
    val overflow = Option(n.get("q_overflow")).map(_.asInt).getOrElse(0)
    assert(kept.size + overflow == roster.size,
      s"kept=${kept.size} overflow=$overflow")
    // every printed key IS a roster name, verbatim — the driver-match
    // property this format exists for
    val names = Bench.benchQueryNames.toSet
    kept.fieldNames.forEachRemaining(k => assert(names(k), s"non-roster key $k"))
    // driver-readable coverage floor: at worst-case value widths ("1.23")
    // at least 40% of the roster prints under full names (measured: 82 of
    // 164 at r17 — the elided tail is the ≤0.23s quantization-noise tier).
    // If this fires the roster has outgrown even elision — revisit the
    // format, never raise the budget.
    assert(kept.size >= roster.size * 40 / 100,
      s"only ${kept.size}/${roster.size} kept")
    assert(math.abs(n.get("value").asDouble - roster.map(_._2).sum) < 0.01)
    assert(n.get("sidecar").asText == "bench_out.json")
    // elision keeps the SLOWEST queries: with uniform values the choice is
    // name-tiebroken, so re-render with one hot query and assert it stays
    val hot = Bench.stdoutLine(roster.map { case (q, _) => q -> 0.01 }
      .updated(roster.size - 1, roster.last._1 -> 9.9), Nil, "sf0.1",
      partial = false, calibration = Some((12.34, 12.89, 32)))
    assert(mapper.readTree(hot).get("queries").get(roster.last._1) != null)
  }

  test("budget guard: an outgrown roster falls back to a minimal parseable line") {
    // a roster far past anything the format can fit
    val huge = (1 to 400).map(i => f"q_family$i%03d_operator_name_$i" -> 1.234567)
    val line = Bench.stdoutLine(huge, Seq("q_family001_operator_name_1"),
      "sf0.1", partial = false)
    assert(line.length <= Bench.stdoutBudget)
    val n = mapper.readTree(line)
    assert(n.get("metric").asText == "total")
    // the total is the FULL roster's sum even though detail is elided
    assert(math.abs(n.get("value").asDouble - 400 * 1.234567) < 0.01)
    // elision tier: as much slowest-query detail as fits under FULL
    // names (r17), the rest counted
    assert(n.get("queries").size + n.get("q_overflow").asInt == 400)
    assert(n.get("q_overflow").asInt > 0)
    // the failed list carries the full name too — driver-matchable
    assert(n.get("failed").get(0).asText == "q_family001_operator_name_1")
    assert(!n.get("partial").asBoolean && n.get("failed").size == 1)
    // and the real roster today: elision tier or full detail, always
    // accounted (kept + overflow == roster) and under budget
    val real = Bench.benchQueryNames.map(_ -> 1.234567)
    val realLine = Bench.stdoutLine(real, Nil, "sf0.1", partial = false)
    assert(realLine.length <= Bench.stdoutBudget)
    val rn = mapper.readTree(realLine)
    val rKept = rn.get("queries").size
    val rOver = Option(rn.get("q_overflow")).map(_.asInt).getOrElse(0)
    assert(rKept + rOver == real.size)
  }
}
