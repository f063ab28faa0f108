package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The bench JSON line fits the driver's stdout tail window whatever the
  * run produced.
  */
class BenchLineSpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(7)
  private val results = (1 to 357).map(i => f"q$i%03d_query_$i" -> rnd.nextDouble() * 6)
  private val errors = (1 to 40).map(i => f"q${i * 7}%03d_failed" -> "AnalysisException")
  private val disp = (1 to 30).map(i =>
    f"q${i * 5}%03d_noisy" -> Seq(0.4 + i, 2.9 + i, 3.1 + i, 0.5 + i))
  private val sf = "/data/sf0.1"

  private def parse(line: String) = new ObjectMapper().readTree(line)

  test("357 queries plus errors and disp give a parseable line within the budget") {
    val line = Bench.formatLine(results, errors, disp, 12.5, sf)
    assert(line.length <= Bench.LineBudget, line.length)
    val j = parse(line)
    assert(j.get("metric").asText == "total")
    assert(math.abs(j.get("value").asDouble - results.map(_._2).sum) < 1e-3)
    assert(j.get("qtotal").asInt == 357)
    assert(j.get("etotal").asInt == 40)
    assert(j.get("dtotal").asInt == 30)
    assert(j.get("sf").asText == sf)
    val shown = j.get("queries").fieldNames.asScala.toSeq
    assert(j.get("qshown").asInt == shown.size)
    // the map is the cost-ranked prefix
    val ranked = results.sortBy(-_._2).map(_._1.takeWhile(_ != '_'))
    assert(shown == ranked.take(shown.size))
    // every map got a share: flags are capped, not dropped or dominant
    assert(shown.size > 50)
    assert(j.get("errors").size > 0 && j.get("errors").toString.length <= Bench.FlagsCap)
    assert(j.get("disp").size > 0 && j.get("disp").toString.length <= Bench.FlagsCap)
  }

  test("a small run's line shows every entry") {
    val line = Bench.formatLine(results.take(20), errors.take(2), disp.take(1), 1.0, sf)
    val j = parse(line)
    assert(j.get("qshown").asInt == 20 && j.get("queries").size == 20)
    assert(j.get("errors").size == 2 && j.get("etotal").asInt == 2)
    assert(j.get("disp").size == 1 && j.get("dtotal").asInt == 1)
    assert(j.get("disp").get("q005").size == 4)
  }

  test("an empty run still parses") {
    val j = parse(Bench.formatLine(Nil, Nil, Nil, 0.0, sf))
    assert(j.get("value").asDouble == 0.0 && j.get("qshown").asInt == 0)
  }
}
