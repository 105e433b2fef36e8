package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Warehouse
import graft.plans.Interpreted

/** The [[Interpreted]] scope: what it sets, where it reaches, what it
  * leaves behind, and what stays compiled.
  */
class InterpretedSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._
  import SparkTestBase.compiles

  private val Keys = Seq(SQLConf.CODEGEN_FACTORY_MODE.key, SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key)
  private def localProps = Keys.map(spark.sparkContext.getLocalProperty)

  /** A query whose generated code no earlier query shares: the literal is
    * inlined into the generated Java, so a compiled run misses the codegen
    * cache and compiles.
    */
  private def fresh(df: DataFrame): DataFrame =
    df.where(col("id") % 3 =!= 1).select((col("id") * lit(System.nanoTime())).as("x"))

  test("the scope sets both keys on the driver and for tasks, and writes no session conf") {
    val conf = spark.conf.getAll
    val inside = Interpreted.when(spark, small = true) {
      (SQLConf.get.getConfString(Keys.head), SQLConf.get.wholeStageEnabled,
        localProps, spark.conf.getAll)
    }
    assert(inside == (("NO_CODEGEN", false, Seq("NO_CODEGEN", "false"), conf)))
    assert(spark.conf.getAll == conf)
    assert(localProps == Seq(null, null))
    // not small: the block runs as it is
    assert(Interpreted.when(spark, small = false)(SQLConf.get.wholeStageEnabled))
  }

  test("the scope restores conf and local properties after a throw and a non-local return") {
    val conf = spark.conf.getAll
    intercept[IllegalStateException](
      Interpreted.when(spark, small = true)(throw new IllegalStateException("boom")))
    assert(spark.conf.getAll == conf && localProps == Seq(null, null))
    assert(SQLConf.get.wholeStageEnabled)

    def early(): Int = {
      Interpreted.when(spark, small = true) { if (localProps.head != null) return 1 }
      2
    }
    assert(early() == 1)
    assert(spark.conf.getAll == conf && localProps == Seq(null, null))
    assert(SQLConf.get.wholeStageEnabled)
  }

  test("nested scopes are harmless, and a caller's own local property comes back") {
    val conf = spark.conf.getAll
    Interpreted.when(spark, small = true) {
      Interpreted.when(spark, small = true)(())
      assert(localProps == Seq("NO_CODEGEN", "false"), "the inner exit undid the outer scope")
      assert(!SQLConf.get.wholeStageEnabled)
    }
    spark.sparkContext.setLocalProperty(Keys.head, "CODEGEN_ONLY")
    try {
      Interpreted.when(spark, small = true)(assert(localProps.head == "NO_CODEGEN"))
      assert(localProps == Seq("CODEGEN_ONLY", null))
    } finally spark.sparkContext.setLocalProperty(Keys.head, null)
    assert(spark.conf.getAll == conf)
  }

  test("inside the scope a query runs unfused and compiles nothing, on the driver or in tasks") {
    val base = spark.range(0, 5000, 1, 4).toDF()
    val q = Interpreted.when(spark, small = true) {
      val c0 = compiles
      val q = fresh(base)
      val n = q.collect().length
      assert(compiles == c0, "the scoped query compiled")
      assert(n == 3333)
      q
    }
    assert(!PlanShape.fused(q))
    // the same query outside the scope compiles and fuses
    val c0 = compiles
    val compiled = fresh(base)
    assert(compiled.collect().length == 3333)
    assert(compiles > c0 && PlanShape.fused(compiled))
  }

  test("the gate: known sizes up to the bound are small; over it, or unknown, large") {
    val rows = Interpreted.MaxInputBytes / 8 // Range knows 8 bytes a row
    assert(Interpreted.small(0L, Seq(spark.range(rows).toDF())))
    assert(!Interpreted.small(1L, Seq(spark.range(rows).toDF())))
    assert(!Interpreted.small(Interpreted.MaxInputBytes + 1, Nil))
    // a frame over an RDD, as spark.read.json of a Dataset[String] returns,
    // has no known size
    val json = spark.read.json(Seq("""{"a":1}""").toDS())
    assert(Interpreted.knownBytes(json).isEmpty && !Interpreted.small(0L, Seq(json)))
    val local = Seq(1, 2, 3).toDF("a")
    assert(Interpreted.knownBytes(local).exists(_ > 0) && Interpreted.small(0L, Seq(local)))
    // a counted batch: Catalyst's row width, 8 bytes plus 4 for an int
    assert(Interpreted.rowsBytes(local, 10L) == 120L)
  }

  test("negative: a frame over the gate still fuses and compiles") {
    val big = spark.range(0, Interpreted.MaxInputBytes / 8 + 1, 1, 4).toDF()
    assert(!Interpreted.small(0L, Seq(big)))
    val c0 = compiles
    val q = Interpreted.when(spark, Interpreted.small(0L, Seq(big))) {
      val q = fresh(big.where(col("id") < 3000))
      assert(q.collect().length == 2000)
      q
    }
    assert(compiles > c0 && PlanShape.fused(q))
  }

  test("negative: a concurrent thread outside the scope still compiles") {
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    @volatile var stillScoped = false
    val holder = new Thread(() => Interpreted.when(spark, small = true) {
      entered.countDown()
      release.await()
      stillScoped = !SQLConf.get.wholeStageEnabled
    })
    holder.start()
    try {
      entered.await()
      val c0 = compiles
      val q = fresh(spark.range(0, 300, 1, 2).toDF())
      assert(q.collect().length == 200)
      assert(compiles > c0 && PlanShape.fused(q))
    } finally {
      release.countDown()
      holder.join()
    }
    assert(stillScoped)
  }

  test("a small catalog frame is re-homed: warm, it compiles nothing and runs unfused, and no caller conf is written") {
    val conf = spark.conf.getAll
    // a grouped HLL sketch over the events fixture of TablesSpec
    val dir = java.nio.file.Paths.get(getClass.getResource("/graft/events_nanos").toURI).toString
    val q = SparkEntry.queries("sketch_hll_grouped")
    val warm = q(spark, dir)
    assert(warm.sparkSession ne spark)
    warm.collect()
    val df = q(spark, dir)
    val c0 = compiles
    val rows = df.collect()
    assert(compiles == c0, s"${compiles - c0} compiles in a warm re-homed query")
    assert(rows.nonEmpty && rows.toSeq == warm.collect().toSeq)
    assert(df.queryExecution.executedPlan.isInstanceOf[
      org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec])
    assert(!PlanShape.fused(df))
    assert(spark.conf.getAll == conf && localProps == Seq(null, null))
    // a fresh query, whose code no cache holds, compiles nothing either
    val c1 = compiles
    assert(Interpreted.frame(fresh(spark.range(0, 5000, 1, 4).toDF())).collect().length == 3333)
    assert(compiles == c1)
  }

  test("a re-homed broadcast join compiles no hashed relation; in the scope it does") {
    val k = lit(System.nanoTime())
    def join = spark.range(0, 300, 1, 2).select((col("id") * k).as("a"))
      .join(broadcast(spark.range(0, 50, 1, 1).select((col("id") * k).as("a"))), "a")
    val c0 = compiles
    val df = Interpreted.frame(join)
    assert(df.collect().length == 50)
    assert(compiles == c0, s"${compiles - c0} compiles in a re-homed broadcast join")
    assert(PlanShape.find(df.queryExecution.executedPlan)(_.isInstanceOf[
      org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]).isDefined)
    // the scope leaves the broadcast thread on the session conf
    val c1 = compiles
    assert(Interpreted.when(spark, small = true)(join.collect().length) == 50)
    assert(compiles > c1)
  }

  test("the child follows the caller: its runtime conf and its listeners reach the next re-homed frame") {
    val caller = spark.newSession()
    val first = Interpreted.frame(caller.range(10).toDF())
    assert(Interpreted.frame(caller.range(20).toDF()).sparkSession eq first.sparkSession)
    assert(first.sparkSession.conf.get(SQLConf.SHUFFLE_PARTITIONS.key) == "4")
    caller.conf.set(SQLConf.SHUFFLE_PARTITIONS.key, "3")
    val next = Interpreted.frame(caller.range(10).toDF())
    assert(next.sparkSession ne first.sparkSession)
    assert(next.sparkSession.conf.get(SQLConf.SHUFFLE_PARTITIONS.key) == "3")
    assert(next.sparkSession.conf.get(Keys(1)) == "false")
    assert(!caller.conf.getAll.contains(Keys.head) && !caller.conf.getAll.contains(Keys(1)))
    // a listener the caller registers hears the next re-homed frame's action
    val heard = new java.util.concurrent.atomic.AtomicInteger
    caller.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        heard.incrementAndGet()
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
    Interpreted.frame(caller.range(10).toDF()).collect()
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (heard.get == 0 && System.nanoTime() < deadline) Thread.sleep(10)
    assert(heard.get == 1)
  }

  test("the children do not keep a dropped caller session alive") {
    def dropped(): java.lang.ref.WeakReference[SparkSession] = {
      val caller = spark.newSession()
      assert(Interpreted.frame(caller.range(10).toDF()).collect().length == 10)
      new java.lang.ref.WeakReference(caller)
    }
    val ref = dropped()
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (ref.get != null && System.nanoTime() < deadline) { System.gc(); Thread.sleep(50) }
    assert(ref.get == null)
  }

  test("negative: a frame over the gate, or with a leaf of unknown size, keeps the caller's session and compiles") {
    val big = spark.range(0, Interpreted.MaxInputBytes / 8 + 1, 1, 4).toDF()
    val json = spark.read.json(Seq("""{"id":1}""", """{"id":2}""").toDS())
    for (input <- Seq(big.where(col("id") < 3000), json)) {
      val df = Interpreted.frame(fresh(input))
      assert(df.sparkSession eq spark)
      val c0 = compiles
      df.collect()
      assert(compiles > c0 && PlanShape.fused(df))
    }
    // a leaf counts inside a subquery too
    big.createOrReplaceTempView("interp_big")
    try assert(Interpreted.frame(spark.sql(
      "SELECT id FROM range(5) WHERE id IN (SELECT id FROM interp_big)")).sparkSession eq spark)
    finally spark.catalog.dropTempView("interp_big")
  }

  test("negative: a small frame whose join pairs generated rows keeps the caller's session and compiles") {
    val cells = spark.range(0, 50, 1, 2)
      .select(col("id"), explode(sequence(lit(-1L), lit(1L))).as("d"))
      .select((col("id") + col("d")).as("cell"))
    assert(Interpreted.frame(cells).sparkSession ne spark)
    val df = Interpreted.frame(fresh(spark.range(0, 50, 1, 2).toDF())
      .join(cells, col("x") =!= col("cell")))
    assert(df.sparkSession eq spark)
    val c0 = compiles
    df.collect()
    assert(compiles > c0 && PlanShape.fused(df))
  }

  test("negative: a query run directly on the caller's session still compiles") {
    val c0 = compiles
    val df = fresh(spark.range(0, 5000, 1, 4).toDF())
    assert(df.collect().length == 3333)
    assert(compiles > c0 && PlanShape.fused(df))
  }

  /** Plan node names of every SQL execution `body` starts, AQE re-plans
    * included.
    */
  private def planNodesDuring(body: => Unit): Seq[String] = plansDuring(body).flatMap(_._2)

  /** Per SQL execution `body` starts, in start order: its description and
    * the node names of its plans, AQE re-plans included.
    */
  private def plansDuring(body: => Unit): Seq[(String, Seq[String])] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
      SparkListenerSQLExecutionStart}
    val execs = scala.collection.mutable.LinkedHashMap.empty[Long, (String, Seq[String])]
    def names(p: SparkPlanInfo): Seq[String] = p.nodeName +: p.children.flatMap(names)
    def add(id: Long, desc: String, p: SparkPlanInfo): Unit = execs.synchronized {
      val (d, ns) = execs.getOrElse(id, (desc, Nil))
      execs(id) = (d, ns ++ names(p))
    }
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => add(s.executionId, s.description, s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => add(u.executionId, "", u.sparkPlanInfo)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try SparkTestBase.jobsDuring(body)
    finally spark.sparkContext.removeSparkListener(listener)
    execs.synchronized(execs.values.toSeq)
  }

  private def fused(nodes: Seq[String]): Boolean = nodes.exists(_.startsWith("WholeStageCodegen"))

  /** Compiles that stay inside a gated route, each cached per shape, so a
    * window compiles nothing once an earlier window has run the shapes:
    *  - `DeserializeToObjectExec` builds its safe projection with codegen
    *    directly (the typed read behind `spark.read.json` of fetched pages,
    *    the gateway's typed map);
    *  - a broadcast join's hashed relation, and the local scan under it, are
    *    built on a broadcast thread, which reads the session conf;
    *  - a hash aggregate's result row joiner has no interpreted form.
    */
  test("a gated window runs no fused plan and, once its shapes are warm, compiles nothing") {
    val conf = spark.conf.getAll
    def window(runTs: String) = PipelineWindow.run(spark,
      new Warehouse(spark, java.nio.file.Files.createTempDirectory("graft-interp").toString),
      PipelineWindow.api("s1"), java.sql.Timestamp.valueOf(runTs))
    val warm = window("2024-02-01 00:00:00")
    var got = Seq.empty[(String, Any)]
    val c0 = compiles
    val nodes = planNodesDuring { got = window("2024-02-02 00:00:00") }
    assert(compiles == c0, s"${compiles - c0} compiles in a warm window")
    assert(got == warm && got.map(_._2) == Seq(1L, 2L, 2L, 3L, 2L, (0L, 2L)))
    assert(nodes.nonEmpty)
    assert(!fused(nodes), nodes.distinct)
    assert(spark.conf.getAll == conf && localProps == Seq(null, null))
  }

  test("a window over a standing warehouse past the gate still runs interpreted") {
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-interp").toString)
    val api = PipelineWindow.api("s1")
    val first = PipelineWindow.run(spark, wh, api, java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    // the tables a window reads whole: users (cache-miss anti-join),
    // convo_analysis (merge, metrics), grown past the gate by other keys
    def grow(table: String, key: String): Unit = {
      val t = wh.read(table)
      val pad = t.limit(1).crossJoin(spark.range(40000).toDF("__i"))
        .withColumn(key, sha2(col("__i").cast("string"), 256)).drop("__i")
      wh.append(table, pad.select(t.columns.map(col): _*))
      assert(!Interpreted.small(0L, Seq(wh.read(table))), s"$table is under the gate")
    }
    grow("users", "id")
    grow("convo_analysis", "ticket_id")
    var got = Seq.empty[(String, Any)]
    val execs = plansDuring {
      got = PipelineWindow.run(spark, wh, api, java.sql.Timestamp.valueOf("2024-02-02 00:00:00"))
    }
    // a rerun fetches no user and appends the same messages again
    assert(first.map(_._2) == Seq(1L, 2L, 2L, 3L, 2L, (0L, 2L)))
    assert(got.map(_._2) == Seq(1L, 2L, 2L, 3L, 2L, (0L, 2L)))
    assert(execs.nonEmpty && !execs.exists(e => fused(e._2)),
      execs.filter(e => fused(e._2)).map(_._1))
  }

  test("the convo route compiles its reassembly of a large input, then runs its batch interpreted") {
    val dir = java.nio.file.Files.createTempDirectory("graft-interp-msgs").toString
    spark.range(0, 60000, 1, 1).select(
        concat(lit("T"), (col("id") / 3).cast("long").cast("string")).as("ticket_id"),
        lit("client").as("sender_type"),
        concat(lit("Address: makati, order "), sha2(col("id").cast("string"), 256)).as("message"),
        col("id").as("datecreated"))
      .write.mode("overwrite").parquet(dir)
    val all = spark.read.parquet(dir)
    // a window's input: the standing messages filtered by its run keys
    val messages = all.join(Seq("T1", "T2").toDF("ticket_id"), Seq("ticket_id"), "left_semi")
    assert(!Interpreted.small(0L, Seq(messages)))
    val wh = new Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-interp").toString)
    val p = new graft.pipeline.Pipelines(spark, wh, PipelineWindow.api("s1"), new LastAddressLlm)
    var n = 0L
    val execs = plansDuring {
      n = p.processConvos(messages, Seq("makati").toDF("ref_name"), "ref_name",
        Seq("makati").toDF("svc_name"), "svc_name",
        graft.pipeline.ColumnContracts.ConvoUpdateColumns)
    }
    assert(n == 2L)
    // up to the extraction's pin: the input's mode; after it: the batch's
    val (extraction, batch) =
      execs.splitAt(execs.indexWhere(_._1.startsWith("localCheckpoint")) + 1)
    assert(extraction.exists(e => fused(e._2)), s"the reassembly did not fuse: $extraction")
    assert(batch.exists(_._2.contains("WriteFiles")) && !batch.exists(e => fused(e._2)), batch)
  }
}
