package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.expressions.BpeOps

/** Regenerates the committed o200k-subset tiktoken rank file
  * (`src/main/resources/graft/bpe/o200k_fixture.tiktoken`): the
  * o200k_base PRETOKENIZER over the documents corpus, `BpeOps.train`
  * for a fixed merge budget, then the standard rank-file layout — the
  * 256 single bytes at ranks 0–255 (byte order) and each merge's output
  * at 256+rank, base64-encoded per the public tiktoken format. BpeSpec
  * pins that re-running this reproduces the resource byte-for-byte —
  * the vocabulary is derived data with recorded provenance, not a blob.
  *
  *   sbt "runMain graft.tools.GenBpeFixture /root/testdata/sf0.01"
  */
object GenBpeFixture {
  /** merge budget: deliberately larger than the GPT-2-format table's 32
    * so the two gate queries pin DIFFERENT counts
    */
  val Rounds = 48

  def trainedEntries(texts: Iterator[String]): Vector[(Array[Byte], Int)] = {
    val freqs = texts
      .filter(_ != null)
      .flatMap(t => BpeOps.pretokenize(BpeOps.Encodings.O200kPattern, t))
      .foldLeft(Map.empty[String, Long]) { (acc, pt) =>
        acc.updated(pt, acc.getOrElse(pt, 0L) + 1L)
      }
    val merges = BpeOps.train(freqs, rounds = Rounds)
    // symbol string → bytes (inverse of the GPT-2 byte→unicode bijection)
    val charToByte: Map[Char, Byte] =
      BpeOps.byteToChar.zipWithIndex.map { case (c, b) => c -> b.toByte }.toMap
    val base = (0 until 256).map(b => (Array(b.toByte), b)).toVector
    val merged = merges.zipWithIndex.map { case ((p1, p2), r) =>
      ((p1 + p2).map(charToByte).toArray, 256 + r)
    }
    base ++ merged
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session("graft-gen-bpe-fixture")
    val texts = graft.Tables.load(spark, sfDir, "documents")
      .select(col("text")).collect().iterator.map(_.getString(0))
    val out = Paths.get("src/main/resources/graft/bpe/o200k_fixture.tiktoken")
    Files.createDirectories(out.getParent)
    Files.writeString(out, BpeOps.renderTiktoken(trainedEntries(texts)))
    println(s"[fixtures] wrote $out")
    spark.stop()
  }
}
