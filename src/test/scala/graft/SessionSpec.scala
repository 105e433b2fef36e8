package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Session` is the only place an engine session is built. */
class SessionSpec extends AnyFunSuite {
  import SessionSpec._

  test("the spec session carries the extensions, UTC, no UI and one shuffle partition per core") {
    val spark = SparkTestBase.spark
    val cores = spark.sparkContext.defaultParallelism
    assert(cores == 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == cores.toString)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    // graft_top_k exists only through GraftExtensions
    val plan = spark.sql("SELECT graft_top_k(struct(v, k), 2) AS top " +
      "FROM VALUES (1, 'a'), (2, 'b') AS t(v, k)").queryExecution.executedPlan.toString
    assert(plan.contains("graft_top_k"), plan)
  }

  test("no source under src/main or src/test builds a session but Session itself") {
    val found = builderCalls(new File("src"))
    assert(found.isEmpty, s"build the session through graft.Session: ${found.mkString(", ")}")
  }

  test("negative: a builder call outside Session is reported, Session's own is not") {
    val root = Files.createTempDirectory("graft-session-scan").toFile
    def put(rel: String, body: String): Unit = {
      val f = new File(root, rel)
      f.getParentFile.mkdirs()
      Files.writeString(f.toPath, body)
    }
    put(SessionSource, s"object Session { def s = $Call.getOrCreate() }\n")
    put("test/scala/graft/Rogue.scala", s"object Rogue {\n  def s = $Call.getOrCreate()\n}\n")
    assert(builderCalls(root) == Seq("test/scala/graft/Rogue.scala:2"))
  }
}

object SessionSpec {
  // split so that this file holds no such call itself
  private val Call = "SparkSession" + ".builder()"
  private val Pattern = ("SparkSession" + """\s*\.\s*builder""").r
  private val SessionSource = "main/scala/graft/Session.scala"

  /** `path:line` of each session builder call under `src`'s `main` and
    * `test` trees, `Session.scala` excepted; paths relative to `src`.
    */
  def builderCalls(src: File): Seq[String] = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Seq.empty
    for {
      f <- Seq("main", "test").map(new File(src, _)).flatMap(files)
      rel = src.toPath.relativize(f.toPath).toString.replace(File.separatorChar, '/')
      if rel != SessionSource
      (line, i) <- Files.readString(f.toPath).linesIterator.zipWithIndex
      if Pattern.findFirstIn(line).nonEmpty
    } yield s"$rel:${i + 1}"
  }
}
