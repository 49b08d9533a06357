package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's ONE driver-facing stdout line. The driver matches its
  * `queries` keys against the correctness artifact's query names, so
  * they must be FULL registry names (short ids such as "q100" made every
  * key unmatchable), and it records only the ~2 kB tail of stdout. This
  * spec pins the contract mechanically: the exact printed line must
  * json-parse, carry exactly the driver's keys, stay within the tail
  * budget together with sbt's `[info] ` prefix and closing
  * `[success] Total time: …` line, and carry full registry-matching
  * names — under realistic AND pathological (every query at the 3600 s
  * failure penalty) value widths.
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

  private def line(results: Map[String, Double]): String =
    Bench.stdoutLine(results, out = "/tmp/graft-bench.json", sfDir = "/root/testdata/sf0.1")

  private def parse(s: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)

  test("stdout line json-parses, fits the tail budget, and carries full registry names") {
    val results = syntheticTimes(42)
    val l = line(results)
    assert(l.length <= Bench.StdoutLineBudget,
      s"line is ${l.length} chars — past the driver's recorded tail")
    assert(framed(l).length <= Bench.StdoutTailChars,
      s"framed line is ${framed(l).length} chars — its head falls out of the recorded tail")
    val node = parse(l) // throws on malformed JSON
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
    // enough coverage to read the slow end of the registry: all the room
    // the line's short head leaves
    assert(keys.size >= 56, s"only ${keys.size} entries fit")
    // printed values round-trip (3-decimal fmt)
    keys.foreach { k =>
      assert(math.abs(qs.get(k).asDouble - results(k)) < 0.001, k)
    }
  }

  test("stdout line carries exactly the driver's keys") {
    val node = parse(line(syntheticTimes(11)))
    val it = node.fieldNames()
    val keys = { val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next(); b.result() }
    assert(keys == Set("metric", "value", "unit", "queries", "n_queries", "full", "sf"))
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
    val l = line(results)
    assert(l.length <= Bench.StdoutLineBudget, s"line is ${l.length} chars")
    assert(framed(l).length <= Bench.StdoutTailChars,
      s"framed line is ${framed(l).length} chars")
    val node = parse(l)
    assert(node.get("queries").size() >= 51,
      s"only ${node.get("queries").size()} entries at worst-case value width")
  }

  test("slowestWithinBudget renders within its budget exactly") {
    val results = syntheticTimes(3)
    Seq(200, 500, 1000, 1720).foreach { budget =>
      val entries = Bench.slowestWithinBudget(results, budget)
      val rendered = entries
        .map { case (k, v) => "\"" + k + "\":" + Bench.fmtSec(v) }
        .mkString("{", ",", "}")
      assert(rendered.length <= budget,
        s"budget $budget: rendered ${rendered.length}")
      assert(entries == entries.sortBy(_._1), "entries must be name-sorted")
    }
  }
}
