package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf

/** Interpreted execution of a block of small Spark work, scoped to the
  * block and never written to the session.
  *
  * A plan over a few kilobytes spends more time compiling its projections,
  * predicates and fused stages with Janino than running them; compile
  * time is then the largest fixed cost of a pipeline route. Inside
  * [[when]] every execution the block starts runs unfused
  * (`spark.sql.codegen.wholeStage=false`) with interpreted expressions
  * (`spark.sql.codegen.factoryMode=NO_CODEGEN`), the compile-or-interpret
  * choice of *Adaptive Execution of Compiled Queries* (ICDE 2018) made
  * once per block by input size.
  *
  * The two settings reach both places that read them, and `spark.conf`
  * is left untouched:
  *  - driver side, planning (`CollapseCodegenStages`) and driver-built
  *    projections read `SQLConf.get`, which inside the block is a clone of
  *    the session conf carrying the two keys (`SQLConf.withExistingConf`);
  *  - task side, `SQLConf.get` is a read-only view of the job's local
  *    properties, so the block sets the two keys as local properties of
  *    the calling thread, and restores the previous values on exit. AQE
  *    stage threads copy the caller's local properties.
  *
  * Not covered, each compiled once per shape: work Spark runs on its own
  * threads with the session conf (the hashed relation of a broadcast join,
  * built on a broadcast thread), and code Spark generates without asking
  * the factory mode (`DeserializeToObjectExec`'s safe projection, a hash
  * aggregate's row joiner). A session that sets either key itself keeps
  * its value on the task side, because each execution copies the
  * session's explicitly set confs into the local properties.
  */
object Interpreted {

  /** Inputs of at most this many bytes run interpreted: the measured
    * crossover of the convo route, which ran faster interpreted at 31 KB
    * of messages parquet, as fast at 300-600 KB, and 5-15% slower from
    * 1 MB up (the numbers are in CHANGES.md). Callers size a batch in the
    * units they hold without a job: characters of fetched JSON, or
    * Catalyst's estimate of a frame ([[knownBytes]], [[rowsBytes]]).
    */
  val MaxInputBytes: Long = 512L << 10

  private val Settings = Seq(
    SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN",
    SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false")

  /** The size Catalyst holds for `df` without running a job: file scans
    * and local relations know theirs; a frame over an RDD (such as the one
    * `spark.read.json` of a `Dataset[String]` returns) reports the
    * `spark.sql.defaultSizeInBytes` placeholder, which counts as unknown.
    */
  def knownBytes(df: DataFrame): Option[BigInt] = {
    val size = df.queryExecution.analyzed.stats.sizeInBytes
    if (size >= SQLConf.get.defaultSizeInBytes) None else Some(size)
  }

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
}
