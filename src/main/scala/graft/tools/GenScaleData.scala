package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scales the driver-generated testdata up by an integer factor (default
  * 10: sf0.1 → a local sf1.0) for the scaling exhibit — measuring how the
  * engine's plans behave at 10× the bench SF without touching the
  * read-only `/root/testdata`.
  *
  * Replication is KEY-SHIFTED AND CONTENT-PERTURBED so per-query work
  * scales the way a genuinely larger corpus would, not like a pile of
  * copies:
  *
  *  - every key column gets `+ copy * (max_key + 1)` — copies never
  *    collide, and foreign keys (orders→customer, lineitem→orders/part/
  *    supplier, embeddings/documents ids) stay consistent within a copy;
  *  - `documents.text` is Caesar-rotated per copy (letters only,
  *    `translate` — codegen'd): word/char statistics and lengths are
  *    preserved, but shingle/minhash/simhash grams are DISJOINT across
  *    copies, so dedup candidate volume grows ~linearly like real data
  *    instead of quadratically inside every bucket;
  *  - `embeddings.embedding` is cyclically shifted per copy — same norm
  *    and component distribution, far-apart vectors, so ANN bucket
  *    occupancies scale instead of stacking 10 identical vectors;
  *  - `events.ts` shifts by `copy` seconds so replicated users don't
  *    produce bit-identical timestamp rows;
  *  - `region`/`nation` stay as-is (TPC-H dimensions are scale-fixed).
  *
  *   sbt "runMain graft.tools.GenScaleData /root/testdata/sf0.1 target/sf1.0 10"
  */
object GenScaleData {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dest = args.lift(1).getOrElse("target/sf1.0")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    require(factor >= 1, "factor must be >= 1")
    val spark = graft.Session("graft-gen-scale-data")

    def load(name: String) = graft.Tables.load(spark, src, name)
    def keyOffset(df: DataFrame, keyCol: String): Long =
      df.agg(max(col(keyCol))).head().getLong(0) + 1L

    /** Union of `factor` per-copy transforms of `df`. */
    def replicate(df: DataFrame)(tx: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => tx(df, i)).reduce(_ unionByName _)

    def shiftKeys(offsets: Map[String, Long])(df: DataFrame, i: Int): DataFrame =
      offsets.foldLeft(df) { case (d, (c, off)) =>
        d.withColumn(c, col(c) + lit(i * off))
      }

    val Letters = "abcdefghijklmnopqrstuvwxyz"
    def caesar(c: org.apache.spark.sql.Column, i: Int): org.apache.spark.sql.Column =
      if (i % 26 == 0) c
      else {
        val k = i % 26
        val lower = Letters.drop(k) + Letters.take(k)
        translate(c, Letters + Letters.toUpperCase,
          lower + lower.toUpperCase)
      }

    def write(name: String, df: DataFrame, parts: Int): Unit = {
      df.repartition(parts)
        .write.mode("overwrite").parquet(s"$dest/$name.parquet")
      println(s"[scale] $name: ${spark.read.parquet(s"$dest/$name.parquet").count()} rows")
    }

    // dimensions: scale-fixed
    write("region", load("region"), 1)
    write("nation", load("nation"), 1)

    val customer = load("customer")
    val custOff = keyOffset(customer, "c_custkey")
    write("customer", replicate(customer)(shiftKeys(Map("c_custkey" -> custOff))), 4)

    val supplier = load("supplier")
    val suppOff = keyOffset(supplier, "s_suppkey")
    write("supplier", replicate(supplier)(shiftKeys(Map("s_suppkey" -> suppOff))), 2)

    val part = load("part")
    val partOff = keyOffset(part, "p_partkey")
    write("part", replicate(part)(shiftKeys(Map("p_partkey" -> partOff))), 4)

    val orders = load("orders")
    val orderOff = keyOffset(orders, "o_orderkey")
    write("orders", replicate(orders)(shiftKeys(
      Map("o_orderkey" -> orderOff, "o_custkey" -> custOff))), 8)

    write("lineitem", replicate(load("lineitem"))(shiftKeys(Map(
      "l_orderkey" -> orderOff, "l_partkey" -> partOff,
      "l_suppkey" -> suppOff))), 16)

    val events = load("events")
    val evOff = keyOffset(events, "event_id")
    val userOff = events.agg(max(col("user_id"))).head().getLong(0) + 1L
    write("events", replicate(events) { (df, i) =>
      shiftKeys(Map("event_id" -> evOff, "user_id" -> userOff))(df, i)
        .withColumn("ts", col("ts") + expr(s"make_interval(0,0,0,0,0,0,$i)"))
    }, 8)

    val documents = load("documents")
    val docOff = keyOffset(documents, "doc_id")
    write("documents", replicate(documents) { (df, i) =>
      df.withColumn("doc_id", col("doc_id") + lit(i * docOff))
        .withColumn("text", caesar(col("text"), i))
    }, 8)

    val embeddings = load("embeddings")
    val vecOff = keyOffset(embeddings, "vec_id")
    val dim = embeddings.select(size(col("embedding"))).head().getInt(0)
    write("embeddings", replicate(embeddings) { (df, i) =>
      // rotation modulo the dimension (a factor larger than dim must
      // wrap, not hand slice() a negative length), with every second wrap
      // reversed first — 2*dim distinct norm-preserving transforms, so a
      // 100x factor on 64-dim vectors never reissues an identical copy
      val k = i % dim
      val b = if ((i / dim) % 2 == 1) "reverse(embedding)" else "embedding"
      val shifted =
        if (i == 0) col("embedding")
        else if (k == 0) expr(b)
        else expr(s"concat(slice($b, ${k + 1}, ${dim - k}), slice($b, 1, $k))")
      df.withColumn("vec_id", col("vec_id") + lit(i * vecOff))
        .withColumn("embedding", shifted)
    }, 4)

    println(s"[scale] wrote $dest at ${factor}x $src")
    spark.stop()
  }
}
