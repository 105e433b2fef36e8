package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.RowRun

/** The stdout summary line of `Bench`, built from row runs without a
  * Spark job: its key set is fixed, a row that errored on every run is
  * listed under `errors` and never timed, `queries` lists headline rows
  * only, and the line stays valid JSON whatever the sf directory holds.
  */
class BenchSpec extends AnyFunSuite {

  private def ok(name: String, s: Double) = RowRun(name, Some(s), 0L, 0.0, None)
  private def failed(name: String) =
    RowRun(name, None, 0L, 0.0, Some("java.lang.IllegalStateException: boom"))

  test("stdout line: fixed keys, error rows apart, headline rows only, a quoted sf parses") {
    val names = Seq("front_ivf", "j1_lookup_join", "not_a_headline_row", "q1_agg", "w4_sort_limit")
    assert(names.filterNot(Bench.headline) == Seq("not_a_headline_row"))
    val frontRuns = Seq(ok("front_ivf", 2.0))
    val pass1 = Seq(ok("j1_lookup_join", 0.3), ok("not_a_headline_row", 1.0),
      ok("q1_agg", 0.5), failed("w4_sort_limit"))
    val pass2 = Seq(failed("j1_lookup_join"), ok("not_a_headline_row", 1.2),
      ok("q1_agg", 0.4), failed("w4_sort_limit"))
    val sf = "/data/a \"quoted\" dir\\sf0.1"
    val line = Bench.summaryLine(names, frontRuns ++ pass1 ++ pass2, "interleaved",
      2, 2, sf, Bench.headline)
    assert(!line.contains("\n"), "the summary is one line")

    val json = new ObjectMapper().readTree(line)
    assert(json.properties().asScala.map(_.getKey).toSet == Set("metric", "value", "unit",
      "n", "n_ok", "n_shown", "stage", "passes_run", "runs_intended", "errors", "queries", "sf"))
    assert(json.get("errors").asScala.map(_.asText).toSeq == Seq("w4_sort_limit"))
    val queries =
      json.get("queries").properties().asScala.map(e => e.getKey -> e.getValue.asDouble).toMap
    assert(queries == Map("front_ivf" -> 2.0, "j1_lookup_join" -> 0.3, "q1_agg" -> 0.4),
      "headline rows only, each at the minimum of its samples")
    assert(json.get("value").asDouble == 3.7, "the total sums every timed row, headline or not")
    assert((json.get("n").asInt, json.get("n_ok").asInt, json.get("n_shown").asInt) == ((5, 4, 3)))
    assert(json.get("sf").asText == sf)
  }
}
