package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 verdict item 1: the bench's ONE driver-facing stdout line
  * truncated query names to short ids ("q100", not
  * "q100_contamination_by_suite") for three straight rounds, so the
  * driver's parse returned null and PERF per_query/scaling were empty.
  * The fix prints FULL registry names for the slowest queries that fit
  * the ~2 kB stdout tail the driver records. This spec pins the
  * contract mechanically: the exact printed line must json-parse, stay
  * within the tail budget together with sbt's `[info] ` prefix and
  * closing `[success] Total time: …` line, and carry full
  * registry-matching names —
  * under realistic AND pathological (every query at the 3600 s failure
  * penalty) value widths.
  */
class BenchStdoutSpec extends AnyFunSuite {

  private val registryNames = QueryRegistry.all.map(_.name)

  private def syntheticTimes(seed: Int): Map[String, Double] = {
    val rnd = new scala.util.Random(seed)
    registryNames.map(n => n -> (0.5 + rnd.nextDouble() * 29.5)).toMap
  }

  /** sbt's closing line at its widest: a five-digit duration past a day
    * and the longest medium-format date. */
  private val sbtTrailer =
    "[success] Total time: 99999 s (1 day, 03:46:39), completed Sep 30, 2026, 12:59:59 PM"

  /** The line as the recorded tail of raw stdout holds it under sbt. */
  private def framed(l: String): String = "[info] " + l + "\n" + sbtTrailer + "\n"

  private def line(results: Map[String, Double],
                   verdicts: Seq[(String, Option[String])] = Nil): String =
    BenchGate.stdoutLine(
      total = results.values.sum, calibStart = 0.525, calibEnd = 0.191,
      calibStable = false, normShift = 0.98, shiftSuspect = false,
      nNormRegs = verdicts.size, nSecVetoed = 0, flagVerdicts = verdicts,
      results = results, out = "/tmp/graft-bench.json",
      sfDir = "/root/testdata/sf0.1")

  private def parse(s: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)

  test("stdout line json-parses, fits the tail budget, and carries full registry names") {
    val results = syntheticTimes(42)
    val l = line(results,
      Seq("q100_contamination_by_suite" -> Some("ghost"),
        "q11_join_range" -> Some("drift_consistent"),
        "q98_boilerplate_strip" -> None))
    assert(l.length <= BenchGate.StdoutLineBudget,
      s"line is ${l.length} chars — past the driver's recorded tail")
    assert(framed(l).length <= BenchGate.StdoutTailChars,
      s"framed line is ${framed(l).length} chars — its head falls out of the recorded tail")
    val node = parse(l) // throws on malformed JSON
    // an absent verdict is JSON null, not the string "null"
    assert(node.get("flag_verdicts").get("q98_boilerplate_strip").isNull)
    assert(node.get("flag_verdicts").get("q100_contamination_by_suite").asText == "ghost")
    assert(node.get("metric").asText == "total")
    assert(node.get("n_queries").asInt == registryNames.size)
    assert(math.abs(node.get("value").asDouble - results.values.sum) < 0.01)
    val qs = node.get("queries")
    val keys = {
      val it = qs.fieldNames(); val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next(); b.result()
    }
    assert(keys.nonEmpty)
    // every printed key is a FULL registry name — the driver matches these
    // against correctness keys, which is the whole point of the fix
    val unknown = keys.filterNot(registryNames.contains)
    assert(unknown.isEmpty, s"non-registry keys in stdout map: $unknown")
    // enough coverage for a perf judge: the verdict asked for ~35 slowest
    assert(keys.size >= 30, s"only ${keys.size} entries fit")
    // printed values round-trip (3-decimal fmt)
    keys.foreach { k =>
      assert(math.abs(qs.get(k).asDouble - results(k)) < 0.001, k)
    }
  }

  test("the printed map is exactly the slowest prefix of the registry") {
    val results = syntheticTimes(7)
    val node = parse(line(results))
    val it = node.get("queries").fieldNames()
    val keys = { val b = Seq.newBuilder[String]
      while (it.hasNext) b += it.next(); b.result() }.toSet
    val excludedMax = results.filterNot { case (k, _) => keys(k) }
      .values.foldLeft(0.0)(math.max)
    val includedMin = results.filter { case (k, _) => keys(k) }
      .values.foldLeft(Double.MaxValue)(math.min)
    assert(includedMin >= excludedMax,
      s"included min $includedMin < excluded max $excludedMax — not the slowest prefix")
  }

  test("pathological run (every query at the 3600 s penalty) still fits and parses") {
    val results = registryNames.map(_ -> 3600.0).toMap
    val l = line(results, Seq.fill(3)("q100_contamination_by_suite" -> Some("drift_consistent")))
    assert(l.length <= BenchGate.StdoutLineBudget, s"line is ${l.length} chars")
    assert(framed(l).length <= BenchGate.StdoutTailChars,
      s"framed line is ${framed(l).length} chars")
    val node = parse(l)
    assert(node.get("queries").size() >= 25,
      s"only ${node.get("queries").size()} entries at worst-case value width")
  }

  test("slowestWithinBudget renders within its budget exactly") {
    val results = syntheticTimes(3)
    Seq(200, 500, 1000, 1720).foreach { budget =>
      val entries = BenchGate.slowestWithinBudget(results, budget)
      val rendered = entries
        .map { case (k, v) => "\"" + k + "\":" + BenchGate.fmtSec(v) }
        .mkString("{", ",", "}")
      assert(rendered.length <= budget,
        s"budget $budget: rendered ${rendered.length}")
      assert(entries == entries.sortBy(_._1), "entries must be name-sorted")
    }
  }
}
