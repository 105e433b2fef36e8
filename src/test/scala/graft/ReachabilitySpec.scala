package graft

import java.io.{File, PrintWriter, StringWriter}
import java.util.spi.ToolProvider
import org.scalatest.funsuite.AnyFunSuite

/** Class-level reachability over compiled classes, as jdeps sees it. */
object Reachability {
  /** `graft.*` → `graft.*` edges between top-level classes (`Foo$Bar` and
    * `Foo$` fold into `Foo`) of the class directories or files `inputs`.
    * Every class has an entry, because every class depends at least on
    * `java.lang.Object`.
    */
  def graph(inputs: Seq[String]): Map[String, Set[String]] = {
    val jdeps = ToolProvider.findFirst("jdeps")
      .orElseThrow(() => new IllegalStateException("this JDK has no jdeps tool"))
    val out = new StringWriter
    val err = new StringWriter
    // -filter:none: the default filter drops same-package edges
    val rc = jdeps.run(new PrintWriter(out), new PrintWriter(err),
      ("-verbose:class" +: "-filter:none" +: inputs): _*)
    require(rc == 0, s"jdeps exited $rc: $err")
    def top(cls: String) = cls.takeWhile(_ != '$')
    out.toString.linesIterator.map(_.trim.split("\\s+")).collect {
      case Array(from, "->", to, _*) if from.startsWith("graft.") => top(from) -> top(to)
    }.toSeq.groupMap(_._1)(_._2)
      .map { case (from, tos) => from -> tos.filter(_.startsWith("graft.")).toSet }
  }

  def reached(graph: Map[String, Set[String]], roots: Set[String]): Set[String] = {
    @annotation.tailrec
    def go(frontier: Set[String], seen: Set[String]): Set[String] =
      if (frontier.isEmpty) seen
      else {
        val next = frontier.flatMap(graph.getOrElse(_, Set.empty)) -- seen
        go(next, seen ++ next)
      }
    go(roots, roots)
  }

  def unreached(graph: Map[String, Set[String]], roots: Set[String]): Set[String] =
    graph.keySet -- reached(graph, roots)
}

/** Every top-level `graft` class is reached from an entry point, or is
  * pending retirement by name. When the first test fails on a new class,
  * wire the class in or delete it; add a root only for a real entry point.
  */
class ReachabilitySpec extends AnyFunSuite {
  import Reachability._

  private def classesDir(c: Class[_]): String =
    new File(c.getProtectionDomain.getCodeSource.getLocation.toURI).getPath

  // the class without its object's initializer, which builds every query
  private val mainClasses =
    classesDir(Class.forName("graft.SparkEntry", false, getClass.getClassLoader))

  /** Entry points, one reason each. */
  private val Roots: Map[String, String] = {
    val perfbench = "imported by perfbench, a separate build this spec cannot see"
    val generator = "fixture or scale-data generator main"
    Map(
      "graft.SparkEntry" -> "driver contract: entry, queries and oracleSql",
      "graft.Bench" -> "bench main",
      "graft.Verify" -> "correctness dump main",
      "graft.Dev" -> "entry smoke main",
      "graft.serving.Serve" -> "HTTP serving main",
      "graft.tools.GenFixtures" -> generator,
      "graft.tools.GenBpeFixture" -> generator,
      "graft.tools.GenScaleRankFile" -> generator,
      "graft.tools.GenScaleData" -> generator,
      "graft.plans.GraftExtensions" -> "loaded by name through spark.sql.extensions",
      "graft.operators.Convo" -> perfbench,
      "graft.operators.GeocodeJoin" -> perfbench,
      "graft.operators.Warehouse" -> perfbench,
      "graft.pipeline.ColumnContracts" -> perfbench,
      "graft.pipeline.Incremental" -> perfbench,
      "graft.pipeline.Pipelines" -> perfbench,
      "graft.queries.QueryDef" -> perfbench,
      "graft.sources.ApiError" -> perfbench,
      "graft.sources.LiveAgentApi" -> perfbench,
      "graft.sources.LiveAgentSource" -> perfbench,
      "graft.sources.TicketRef" -> perfbench,
      "graft.llm.LlmGateway" -> perfbench,
      "graft.llm.LlmResult" -> perfbench)
  }

  /** Unreached today and still open for retirement or wiring-in; only
    * specs reach them. Exact: the list can only shrink.
    */
  private val Pending: Set[String] = Set(
    // reference features the pipeline never wired in
    "graft.operators.GeoFallback", "graft.operators.GeoFallbackResolver",
    "graft.operators.MockGeoResolver", "graft.operators.HttpGeoResolver",
    "graft.sources.RetryingApi")

  private lazy val mainGraph = graph(Seq(mainClasses))

  test("every graft class is reached from an entry point or pending by name") {
    val g = mainGraph
    val stale = Roots.keySet -- g.keySet
    assert(stale.isEmpty, s"roots that name no class: $stale")
    val un = unreached(g, Roots.keySet)
    val fresh = un -- Pending
    assert(fresh.isEmpty,
      s"unreached from every entry point: ${fresh.toSeq.sorted} — wire them in or delete them")
    val done = Pending -- un
    assert(done.isEmpty,
      s"pending classes now reached or deleted: ${done.toSeq.sorted} — take them off the pending list")
  }

  test("negative: an unreferenced class and the classes of a dropped root are reported") {
    val canary = new File(classesDir(classOf[ReachabilitySpec]), "graft")
      .listFiles().filter(_.getName.startsWith("ReachabilityCanary")).map(_.getPath).toSeq
    assert(canary.nonEmpty, "the canary class file is missing")
    val withCanary = graph(mainClasses +: canary)
    assert(unreached(withCanary, Roots.keySet) == Pending + "graft.ReachabilityCanary")

    val serve = "graft.serving.Serve"
    val onlyServe = unreached(mainGraph, Roots.keySet - serve) -- Pending
    assert(Set(serve, "graft.serving.HttpServing", "graft.sources.HttpLiveAgentApi",
      "graft.llm.HttpLlmGateway").subsetOf(onlyServe), onlyServe)
    assert(onlyServe.subsetOf(reached(mainGraph, Set(serve))), onlyServe)
  }
}
