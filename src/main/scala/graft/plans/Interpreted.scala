package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LeafNode, LogicalPlan}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf

/** Interpreted execution of small Spark work, never written to the
  * caller's session.
  *
  * A plan over a few kilobytes spends more time compiling its projections,
  * predicates and fused stages with Janino than running them; compile
  * time is then the largest fixed cost of a pipeline route or a short
  * catalog query. Interpreted work runs unfused
  * (`spark.sql.codegen.wholeStage=false`) with interpreted expressions
  * (`spark.sql.codegen.factoryMode=NO_CODEGEN`), the compile-or-interpret
  * choice of *Adaptive Execution of Compiled Queries* (ICDE 2018) made by
  * input size against one bound, [[MaxInputBytes]]. There are two ways in,
  * one per owner of the execution:
  *
  *  - [[when]] scopes a block whose executions the engine starts itself (a
  *    `Pipelines` route, whose frames `Warehouse` and the source layer
  *    build on the caller's session). Planning (`CollapseCodegenStages`)
  *    and the projections built outside tasks read `SQLConf.get`, which
  *    inside the block is a clone of the session conf carrying the two
  *    keys (`SQLConf.withExistingConf`). Task side,
  *    `SQLConf.get` is a read-only view of the job's local properties, so
  *    the block sets the two keys as local properties of the calling
  *    thread and restores the previous values on exit; AQE stage threads
  *    copy them. Not covered, each compiled once per shape: work Spark
  *    runs on its own threads with the session conf (the hashed relation
  *    of a broadcast join, built on a broadcast thread), and code Spark
  *    generates without asking the factory mode (`DeserializeToObjectExec`'s
  *    safe projection, a hash aggregate's row joiner). A session that sets
  *    either key itself keeps its value on the task side, because each
  *    execution copies the session's explicitly set confs into the local
  *    properties.
  *  - [[frame]] re-homes a frame whose action the caller starts (a catalog
  *    query that perfbench, `Bench`, `Verify` or `Dev` materializes) onto a
  *    child session carrying the two keys. It sizes the frame's leaves, and
  *    keeps compiled a frame whose join pairs generated rows, as the leaves
  *    do not bound those. Every execution of a Dataset runs on its own
  *    session, so the keys reach every place Spark reads
  *    them: planning runs under the child's `withActive`, tasks get the
  *    child's conf as local properties (`withSQLConfPropagated`), and AQE
  *    stage and broadcast threads capture the child, so the broadcast
  *    hashed relation [[when]] still compiles is covered too. What stays
  *    compiled is the code Spark generates without asking the factory mode.
  *
  * Neither way writes `spark.conf` of the caller.
  */
object Interpreted {

  /** Inputs of at most this many bytes run interpreted: the measured
    * crossover of the convo route, which ran faster interpreted at 31 KB
    * of messages parquet, as fast at 300-600 KB, and 5-15% slower from
    * 1 MB up (the numbers are in CHANGES.md). Callers size a batch in the
    * units they hold without a job: characters of fetched JSON, or
    * Catalyst's estimate of a frame ([[knownBytes]], [[rowsBytes]]), which
    * for a file scan is its bytes on disk.
    */
  val MaxInputBytes: Long = 512L << 10

  private val Settings = Seq(
    SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN",
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false")

  /** `size` unless it is the `spark.sql.defaultSizeInBytes` placeholder
    * Catalyst reports for a plan it cannot size.
    */
  private def known(size: BigInt): Option[BigInt] =
    if (size >= SQLConf.get.defaultSizeInBytes) None else Some(size)

  /** The size Catalyst holds for `df` without running a job: file scans
    * and local relations know theirs; a frame over an RDD (such as the one
    * `spark.read.json` of a `Dataset[String]` returns) reports the
    * `spark.sql.defaultSizeInBytes` placeholder, which counts as unknown.
    */
  def knownBytes(df: DataFrame): Option[BigInt] =
    known(df.queryExecution.analyzed.stats.sizeInBytes)

  /** Catalyst's size of `rows` rows of `df`'s columns: its per-row
    * estimate, 8 bytes plus each column type's default size. For a batch
    * whose rows were counted (an observed pin) over a plan Catalyst cannot
    * size.
    */
  def rowsBytes(df: DataFrame, rows: Long): Long = rows * (8L + df.schema.defaultSize)

  /** True when `bytes` plus the known sizes of `frames` is at most
    * [[MaxInputBytes]]; one frame of unknown size makes the inputs large.
    */
  def small(bytes: Long, frames: Seq[DataFrame]): Boolean = {
    val sizes = frames.map(knownBytes)
    sizes.forall(_.isDefined) && sizes.flatten.sum + bytes <= MaxInputBytes
  }

  /** Run `body` interpreted when `small`, else as it is. Nesting is
    * harmless: an inner block restores what the outer one set.
    */
  def when[T](spark: SparkSession, small: Boolean)(body: => T): T =
    if (!small) body
    else {
      val sc = spark.sparkContext
      val previous = Settings.map { case (k, _) => k -> sc.getLocalProperty(k) }
      val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.conf.clone()
      Settings.foreach { case (k, v) => conf.setConfString(k, v); sc.setLocalProperty(k, v) }
      try SQLConf.withExistingConf(conf)(body)
      finally previous.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }

  /** True when the leaves of `df`'s analyzed plan, subqueries included,
    * add up to at most [[MaxInputBytes]] by Catalyst's own stats, and no
    * join in it pairs generated rows; one leaf of unknown size makes the
    * frame large.
    */
  private def smallFrame(df: DataFrame): Boolean = {
    val plan = df.queryExecution.analyzed
    val sizes = plan.collectWithSubqueries { case leaf: LeafNode => known(leaf.stats.sizeInBytes) }
    sizes.forall(_.isDefined) && sizes.flatten.sum <= MaxInputBytes && !joinsGenerated(plan)
  }

  /** True when a join in `plan` takes rows a `Generate` made. The leaf
    * bytes bound the rows a plan evaluates only while no operator makes
    * more rows than it reads: a generator makes one row per element of an
    * array it may compute (a grid cell's 3x3 neighborhood), and a join
    * over those rows evaluates what follows it once per pair. At sf0.1,
    * `geo_grid_join` explodes 338 KB of parquet into 52,920 candidate pairs
    * and ran 40-70% slower interpreted; Catalyst's join estimate (the
    * product of both sides) cannot stand in, as it would also keep
    * compiled the small joins that gain most.
    */
  private def joinsGenerated(plan: LogicalPlan): Boolean =
    plan.collectWithSubqueries {
      case j: Join => j.children.exists(_.exists(_.isInstanceOf[Generate]))
    }.contains(true)

  /** `df` re-homed onto its session's interpreted child when
    * [[smallFrame]], else `df` itself. The returned frame has the same
    * analyzed plan, so it computes the same rows; every action on it,
    * started by the caller, runs interpreted. Spark work already done
    * while `df` was built (pins, `localCheckpoint`s) ran on `df`'s own
    * session, compiled. The re-homed frame's planning phases are timed on
    * `df`'s tracker, so its re-analysis adds to `df`'s analysis.
    */
  def frame(df: DataFrame): DataFrame =
    if (!smallFrame(df)) df
    else Bridge.ofRows(child(df.sparkSession), df.queryExecution.analyzed,
      df.queryExecution.tracker)

  /** A session's interpreted child and the caller conf it was cloned
    * from. The child is held weakly: it refers to its caller's session
    * state, so a strongly held child would keep a dropped caller alive.
    * Re-homed frames hold their child while they live.
    */
  private final case class Child(session: java.lang.ref.WeakReference[SparkSession],
                                 conf: Map[String, String])

  private val children = new java.util.WeakHashMap[SparkSession, Child]

  /** The interpreted child of `spark`: a clone carrying the two settings,
    * cloned again when the caller's conf or its query-execution listeners
    * have changed since the last clone, so a caller's runtime
    * `spark.conf.set` applies to the next re-homed frame, and a listener
    * it registers (a profiler) hears that frame's executions.
    */
  private def child(spark: SparkSession): SparkSession = children.synchronized {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.getAllConfs
    Option(children.get(spark))
      .filter(_.conf == conf)
      .flatMap(c => Option(c.session.get))
      .filter(c => Bridge.listeners(c).corresponds(Bridge.listeners(spark))(_ eq _))
      .getOrElse {
        val c = Bridge.cloneSession(spark)
        val cs = c.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf
        Settings.foreach { case (k, v) => cs.setConfString(k, v) }
        children.put(spark, Child(new java.lang.ref.WeakReference(c), conf))
        c
      }
  }
}
