package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run only these query names (dev iteration)
    val only = args.drop(2).toSet
    // SPARK_GRAFT_FRONTS_PATH routes every front through the persistent
    // FrontStore — running the FULL oracle gate with it set proves
    // end-to-end that persisted fronts (and their cross-session reuse)
    // change no query result
    val spark = Session("graft-verify", confs = sys.env.get("SPARK_GRAFT_FRONTS_PATH")
      .filter(_.nonEmpty).map(graft.operators.FrontStore.PathConf -> _).toMap)
    new java.io.File(outDir).mkdirs()
    writeResults(spark, sfDir, outDir, SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) })
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Write each query's result as parquet under `outDir`. A query that
    * throws a non-fatal error gets a `[verify]` line on stderr with the
    * error's class and message, and the loop goes on; a fatal error (out
    * of memory, a linkage error) escapes. Returns the failure lines.
    */
  private[graft] def writeResults(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[String] =
    queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        val line = s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}"
        System.err.println(line)
        Some(line)
      }
    }

  /** JSON string literal. Escapes backslash, quote, and ALL control chars
    * (<0x20): a tab or CR in an oracle's SQL would otherwise make a
    * reader's `json.load` fail and silently zero the correctness check.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
