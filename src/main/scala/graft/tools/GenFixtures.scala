package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._

/** Regenerates the committed oracle fixtures that pin values DuckDB cannot
  * compute itself. Currently: the DEFLATE byte counts behind
  * `text_compress_ratio` (DEFLATE has no DuckDB scalar, so the oracle
  * reads this parquet instead of recomputing — converting the one
  * rows-only gate entry to a full hash match; the SEMANTICS stay pinned
  * by ExpressionsSpec's ordering/codegen tests, the fixture pins
  * stability). Run after a testdata regeneration:
  *
  *   sbt "runMain graft.tools.GenFixtures /root/testdata/sf0.01"
  *
  * Writes `fixtures/compress_ratio_<sf>.parquet` (single file, so the
  * oracle's read_parquet path is a plain file path).
  */
object GenFixtures {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val sfName = sfDir.stripSuffix("/").split('/').last
    val outFile = Paths.get("fixtures", s"compress_ratio_$sfName.parquet")
    val spark = graft.Session("graft-gen-fixtures")
    val tmp = Files.createTempDirectory("graft-fixture").toString
    // the very same expression the gated query runs — bit-identical
    // values. text_md5 rides along so the oracle's join can REQUIRE the
    // fixture row to match the document text it was computed from: a
    // stale fixture (testdata regenerated) or the wrong scale factor then
    // drops rows and fails the gate loudly, instead of silently comparing
    // against another corpus's deflate counts.
    graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        md5(coalesce(col("text"), lit(""))).as("text_md5"),
        graft.functions.TextAnalysisFns.deflateLen(col("text"))
          .cast("long").as("n_deflate_bytes"))
      .coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet"))
    require(part.length == 1, s"expected one part file, got ${part.length}")
    Files.createDirectories(outFile.getParent)
    Files.move(Paths.get(part(0)), outFile, StandardCopyOption.REPLACE_EXISTING)
    println(s"[fixtures] wrote $outFile")
    spark.stop()
  }
}
