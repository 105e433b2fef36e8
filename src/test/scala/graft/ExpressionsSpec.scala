package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{SimFns, VecFns}

/** The custom codegen expressions must be BIT-IDENTICAL to their
  * built-ins-only (HOF) reference formulations — that equivalence is what
  * lets the DuckDB oracle stay exact. Checked on seeded random inputs.
  */
class ExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private def randText(maxLen: Int): String = {
    val alphabet = "abcde ñ 😀"
    (0 until rnd.nextInt(maxLen)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
  }

  test("CharNgrams ≡ HOF formulation (incl. unicode, short, empty)") {
    for (n <- 1 to 7) {
      val texts = Seq.fill(40)(randText(50)) :+ "" :+ "ñ" :+ "ab"
      val got = texts.toDF("s").select(
        SimFns.charNgrams($"s", lit(n)).as("fast"),
        SimFns.charNgramsHof($"s", lit(n)).as("ref")).collect()
      got.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n"))
    }
  }

  test("CharNgrams.sorted ≡ array_sort(CharNgrams) (unicode included)") {
    for (n <- 1 to 5) {
      val texts = Seq.fill(40)(randText(60)) :+ "" :+ "ñab😀cñ"
      val got = texts.toDF("s").select(
        graft.expressions.CharNgrams.sorted($"s", lit(n)).as("fast"),
        array_sort(SimFns.charNgrams($"s", lit(n))).as("ref")).collect()
      got.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n"))
    }
  }

  test("SortJoinLastField ≡ array_sort+transform+array_join (convo agg)") {
    val rows = (1 to 200).map { i =>
      (rnd.nextInt(10).toLong,                        // group
       new java.sql.Timestamp(1700000000000L + rnd.nextInt(100000) * 1000L),
       i.toLong,                                      // unique tiebreak
       randText(20))                                  // rendered payload
    }
    val df = rows.toDF("g", "ts", "id", "r")
    val fast = graft.operators.Convo.sortedStringAgg(
      df, "g", Seq($"ts", $"id"), $"r", "\n\n")
    val ref = graft.operators.Convo.sortedStringAggHof(
      df, "g", Seq($"ts", $"id"), $"r", "\n\n")
    val f = fast.orderBy("g").as[(Long, String)].collect().toSeq
    val h = ref.orderBy("g").as[(Long, String)].collect().toSeq
    assert(f == h)
  }

  test("CharNgrams dynamic n per row ≡ HOF") {
    val texts = Seq.fill(30)(randText(120))
    val got = texts.toDF("s").select(
      SimFns.charNgrams($"s", SimFns.refNgramSize($"s")).as("fast"),
      SimFns.charNgramsHof($"s", SimFns.refNgramSize($"s")).as("ref")).collect()
    got.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("WordShingles ≡ HOF formulation") {
    for (w <- 1 to 4) {
      val rows = Seq.fill(40)(Seq.fill(rnd.nextInt(10))(
        Seq("aa", "bb", "cc", "dd")(rnd.nextInt(4))))
      val got = rows.toDF("toks").select(
        SimFns.wordShingles($"toks", w).as("fast"),
        SimFns.wordShinglesHof($"toks", w).as("ref")).collect()
      got.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1), s"w=$w"))
    }
  }

  test("DotProduct ≡ HOF fold, bit-for-bit, float arrays") {
    val pairs = Seq.fill(50)((
      Seq.fill(16)(rnd.nextFloat() * 10 - 5),
      Seq.fill(16)(rnd.nextFloat() * 10 - 5)))
    val got = pairs.toDF("a", "b").select(
      VecFns.dot($"a", $"b").as("fast"),
      VecFns.dotHof($"a", $"b").as("ref")).collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
             java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("DotProduct with double-array side (hyperplanes)") {
    val v = Seq(Seq(1.0f, 2.0f, 3.0f)).toDF("a")
      .withColumn("p", array(lit(0.5), lit(-1.0), lit(2.0)))
    val got = v.select(VecFns.dot($"a", $"p")).as[Double].head()
    assert(got == 1.0 * 0.5 + 2.0 * -1.0 + 3.0 * 2.0)
  }

  test("IntersectCount ≡ size(array_intersect) on distinct arrays") {
    val alphabet = Seq("p", "q", "r", "s", "t", "u")
    val pairs = Seq.fill(60)((
      rnd.shuffle(alphabet).take(rnd.nextInt(7)),
      rnd.shuffle(alphabet).take(rnd.nextInt(7))))
    val got = pairs.toDF("a", "b").select(
      graft.expressions.IntersectCount($"a", $"b").as("fast"),
      size(array_intersect($"a", $"b")).as("ref")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("JaccardGeq ≡ (jaccard >= t) on sorted arrays, incl. boundary") {
    val alphabet = Seq("p", "q", "r", "s", "t", "u", "v", "w")
    for (t <- Seq(0.1, 0.3, 0.5, 1.0 / 3.0, 1.0)) {
      val pairs = Seq.fill(80)((
        rnd.shuffle(alphabet).take(rnd.nextInt(9)).sorted,
        rnd.shuffle(alphabet).take(rnd.nextInt(9)).sorted))
      val got = pairs.toDF("a", "b").select(
        graft.expressions.JaccardGeq($"a", $"b", t).as("fast"),
        (SimFns.jaccard($"a", $"b") >= t).as("ref")).collect()
      got.foreach(r => assert(r.getBoolean(0) == r.getBoolean(1), s"t=$t"))
    }
  }

  test("JaccardGeq exact boundary: J == t decides >= as true") {
    // |∩|=1, |∪|=3 → J = 1/3 exactly; t = 1/3 must be true on both forms
    val df = Seq((Seq("a", "b"), Seq("b", "c"))).toDF("a", "b")
    assert(df.select(graft.expressions.JaccardGeq($"a", $"b", 1.0 / 3.0))
      .as[Boolean].head())
  }

  test("RollingFingerprint ≡ transform+aggregate HOF, incl. unicode and empties") {
    val docs = Seq(
      "the quick brown fox", "", "a", "über café naïve 日本語 text",
      "x " * 50, "MiXeD CaSe And 123 numbers!") ++
      Seq.fill(40)(rnd.shuffle(Seq("alpha", "beta", "γάμμα", "", "delta-7", "é"))
        .take(rnd.nextInt(6)).mkString(" "))
    val df = docs.toDF("text")
      .select(graft.functions.TextAnalysisFns.tokens($"text").as("toks"))
    val got = df.select(
      graft.functions.HashFns.rollingFingerprint($"toks").as("fast"),
      graft.functions.HashFns.rollingFingerprintHof($"toks").as("ref")).collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("cosine guards: zero vector → 0.0") {
    val df = Seq((Seq(0f, 0f), Seq(1f, 2f))).toDF("a", "b")
    assert(df.select(VecFns.cosine($"a", $"b")).as[Double].head() == 0.0)
  }

  test("DeflateLen: entropy ordering, empty/null, determinism, JVM parity") {
    val repetitive = "spam spam spam " * 100
    val prose = "The quick brown fox jumps over the lazy dog near the " +
      "river bank, while seventeen curious geese watch from a distance " +
      "and the afternoon light fades slowly over the quiet valley below."
    val noiseRnd = new scala.util.Random(99)
    val noise = Seq.fill(600)((noiseRnd.nextInt(94) + 33).toChar).mkString
    val df = Seq(Some(repetitive), Some(prose), Some(noise), Some(""), None)
      .toDF("text")
    val rows = df.select(
        $"text",
        graft.functions.TextAnalysisFns.deflateLen($"text").as("dl"),
        graft.functions.TextAnalysisFns.compressRatio($"text").as("cr"))
      .collect()
    val byText = rows.map(r =>
      Option(r.getString(0)).getOrElse("<null>") ->
        (if (r.isNullAt(1)) -1 else r.getInt(1), if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toMap
    // ordering: repetition compresses hardest, noise barely at all
    assert(byText(repetitive)._2 < byText(prose)._2,
      s"repetitive ${byText(repetitive)} !< prose ${byText(prose)}")
    assert(byText(prose)._2 < byText(noise)._2,
      s"prose ${byText(prose)} !< noise ${byText(noise)}")
    assert(byText(repetitive)._2 < 0.2 && byText(noise)._2 > 0.8)
    // empty → len 0, ratio 1.0 (no divide-by-zero); null stays null
    assert(byText("")._1 == 0 && byText("")._2 == 1.0)
    assert(byText("<null>")._1 == -1 && byText("<null>")._2 == -1.0)
    // the expression matches a direct JVM Deflater run (same level/raw mode)
    val d = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(prose.getBytes("UTF-8")); d.finish()
    val buf = new Array[Byte](1 << 16)
    var ref = 0
    while (!d.finished()) ref += d.deflate(buf)
    d.end()
    assert(byText(prose)._1 == ref)
    // stays inside whole-stage codegen over a real scan (a LocalTableScan
    // would fold the projection and prove nothing)
    val scanDf = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(graft.functions.TextAnalysisFns.deflateLen($"text"))
    scanDf.collect() // finalize AQE so codegen spans are visible
    val plan = (scanDf.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).toString
    // the star prefix is the WholeStageCodegen marker in stage printing
    assert("""\*\(\d+\) Project \[deflate_len""".r.findFirstIn(plan).isDefined,
      plan.take(400))
  }

  test("NfcNormalize: composes decomposed sequences; identity on normalized text") {
    val dec = "école"      // e + combining acute
    val comp = "école"      // precomposed é
    val rows = Seq((1L, dec), (2L, comp), (3L, "plain ascii"), (4L, null))
      .toDF("id", "s")
      .select($"id", graft.expressions.NfcNormalize($"s").as("n"))
      .orderBy("id").as[(Long, Option[String])].collect().toSeq
    assert(rows(0)._2 == Some(comp), "decomposed sequence not composed")
    assert(rows(1)._2 == Some(comp), "already-normalized text changed")
    assert(rows(2)._2 == Some("plain ascii"))
    assert(rows(3)._2.isEmpty, "null must stay null")
    // normalized keys collapse: the dedup-fragmentation fix in one group-by
    val groups = Seq(dec, comp).toDF("s")
      .groupBy(graft.expressions.NfcNormalize($"s")).count().collect()
    assert(groups.length == 1 && groups.head.getLong(1) == 2)
  }

  test("StripAccents: marks stripped, bare letters and Hangul untouched") {
    val got = Seq(
      (1L, "José"),            // precomposed é → e
      (2L, "José"),           // decomposed e+acute → e
      (3L, "ñ Ñ ç"), // ñ Ñ ç → n N c
      (4L, "ørsted"),          // ø has no decomposition — unchanged
      (5L, "한국어"),   // Hangul recomposes — unchanged
      (6L, "plain"),
      // utf8proc STRIPMARK drops ALL mark categories, not just nonspacing:
      (7L, "कि"),   // Devanagari क + vowel sign ि (Mc) → क
      (8L, "কা"),   // Bengali ক + vowel sign া (Mc) → ক
      (9L, "a⃝"))        // a + combining enclosing circle (Me) → a
      .toDF("id", "s")
      .select($"id", graft.expressions.StripAccents($"s").as("t"))
      .orderBy("id").as[(Long, String)].collect().toMap
    assert(got(1L) == "Jose" && got(2L) == "Jose")
    assert(got(3L) == "n N c")
    assert(got(4L) == "ørsted")
    assert(got(5L) == "한국어")
    assert(got(6L) == "plain")
    assert(got(7L) == "क", "spacing-combining (Mc) mark not stripped")
    assert(got(8L) == "ক", "spacing-combining (Mc) mark not stripped")
    assert(got(9L) == "a", "enclosing (Me) mark not stripped")
  }

  test("NfcNormalize: idempotent and codegen-compatible over a real scan") {
    val df = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(graft.expressions.NfcNormalize(
        graft.expressions.NfcNormalize($"text")).as("n2"),
        graft.expressions.NfcNormalize($"text").as("n1"))
    assert(df.where($"n1" =!= $"n2").count() == 0, "not idempotent")
  }

  /** Rows of `q` built and run inside an [[graft.plans.Interpreted]] block,
    * and built and run as usual, each with whether its plan fused a
    * whole-stage codegen stage.
    */
  private def interpretedAndCompiled(q: => org.apache.spark.sql.DataFrame)
      : ((Seq[org.apache.spark.sql.Row], Boolean), (Seq[org.apache.spark.sql.Row], Boolean)) = {
    def run(df: org.apache.spark.sql.DataFrame) = {
      val rows = df.collect().toSeq
      (rows, PlanShape.fused(df))
    }
    (graft.plans.Interpreted.when(spark, small = true)(run(q)), run(q))
  }

  test("interpreted eval ≡ compiled codegen for every graft.expressions class") {
    import graft.expressions._
    val r = new scala.util.Random(7)
    def text(maxLen: Int) = {
      val alphabet = "abcde ñ 😀éAM:0123456789"
      (0 until r.nextInt(maxLen)).map(_ => alphabet(r.nextInt(alphabet.length))).mkString
    }
    def floats(n: Int) = Seq.fill(n)(r.nextFloat() * 4 - 2)
    // repartition keeps the projections out of ConvertToLocalRelation, which
    // would evaluate them in the optimizer in both runs
    def frame[A: org.apache.spark.sql.Encoder](rows: Seq[A], cols: String*) =
      spark.createDataset(rows).toDF(cols: _*).repartition(2)

    val texts = frame((Seq.fill(60)(text(40)) ++ Seq("", "école", "José",
      "10:30 AM", "9PM", "12:00AM", "13:00 PM", "Address: quezon city")).map(Option(_)) :+ None, "s")
    val tokens = frame(Seq.fill(50)(Seq.fill(r.nextInt(8))(Seq("aa", "bb", "cc", "dd")(r.nextInt(4)))), "t")
    val alphabet = Seq("p", "q", "r", "s", "t", "u")
    val sets = frame(Seq.fill(60)((r.shuffle(alphabet).take(r.nextInt(7)).sorted,
      r.shuffle(alphabet).take(r.nextInt(7)).sorted)), "a", "b")
    val vecs = frame(Seq.fill(40)((floats(8), floats(8))), "a", "b")
    val centroids = Seq.tabulate(5)(i => i -> Seq.fill(8)(r.nextDouble() * 4 - 2))
    val cands = frame(Seq.tabulate(20)(g => (g.toLong, Seq.tabulate(6)(i =>
      (i.toLong, r.nextDouble(), floats(4))))), "g", "c")
    val convo = frame(Seq.tabulate(120)(i => (i % 9L,
      new java.sql.Timestamp(1700000000000L + r.nextInt(100000) * 1000L), i.toLong, text(20))),
      "g", "ts", "id", "r")
    val scored = frame(Seq.tabulate(200)(i => (i % 7, r.nextInt(50).toDouble, i.toLong)),
      "g", "score", "id")

    val cases: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "CharNgrams" -> (() => texts.select(CharNgrams($"s", (length($"s") % 4) + 1))),
      "CharNgrams.sorted" -> (() => texts.select(CharNgrams.sorted($"s", lit(3)))),
      "WordShingles" -> (() => tokens.select(WordShingles($"t", lit(2)))),
      "IntersectCount" -> (() => sets.select(IntersectCount($"a", $"b"))),
      "JaccardGeq" -> (() => sets.select(JaccardGeq($"a", $"b", 1.0 / 3.0))),
      "DotProduct" -> (() => vecs.select(DotProduct($"a", $"b"))),
      "RollingFingerprint" -> (() => tokens.select(RollingFingerprint($"t"))),
      "SortJoinLastField" -> (() => graft.operators.Convo.sortedStringAgg(
        convo, "g", Seq($"ts", $"id"), $"r", "\n\n")),
      "ParseScheduleTime" -> (() => texts.select(ParseScheduleTime($"s"))),
      "MaxLevRatio" -> (() => texts.select(MaxLevRatio($"s", Seq("quezon city", "makati", "José")))),
      "NfcNormalize" -> (() => texts.select(NfcNormalize($"s"))),
      "StripAccents" -> (() => texts.select(StripAccents($"s"))),
      "DeflateLen" -> (() => texts.select(DeflateLen($"s"))),
      "BpeCountTokens" -> (() => texts.select(BpeCountTokens($"s"))),
      "BpeEncodeTokens" -> (() => texts.select(BpeEncodeTokens($"s"))),
      "BpeEncodeIds" -> (() => texts.select(BpeEncodeIds($"s"))),
      "NearestCentroid" -> (() => vecs.select(NearestCentroid($"a", centroids))),
      "NearestCentroidDist" -> (() => vecs.select(NearestCentroidDist($"a", centroids.map(_._2)))),
      "MmrSelect" -> (() => cands.select($"g", MmrSelect($"c", 3, 0.7, 0.0))),
      "CdcChunkStarts" -> (() => texts.select(CdcChunkStarts($"s", 3, 8))),
      "TopKAgg" -> (() => scored.groupBy($"g").agg(TopKAgg.topK(struct($"score", $"id"), 3))))

    // evaluated inside an ObjectHashAggregate (an aggregate function, or a
    // projection the optimizer folds into the aggregate), which compiles
    // its projections but fuses no stage
    val unfusedWhenCompiled = Set("TopKAgg", "SortJoinLastField")
    for ((name, q) <- cases) {
      val ((interpreted, fusedI), (compiled, fusedC)) = interpretedAndCompiled(q())
      assert(!fusedI && fusedC != unfusedWhenCompiled(name),
        s"$name: fused interpreted=$fusedI compiled=$fusedC")
      def sorted(rows: Seq[org.apache.spark.sql.Row]) = rows.map(_.toString).sorted
      assert(interpreted.nonEmpty && sorted(interpreted) == sorted(compiled), name)
    }
  }
}
