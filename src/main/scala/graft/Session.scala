package graft

import org.apache.spark.sql.SparkSession

/** The one place an engine `SparkSession` is built. Every main and the
  * spec base come through here, so an engine-wide conf is decided once:
  * the master, shuffle partitions equal to the session's cores,
  * [[graft.plans.GraftExtensions]], a UTC session time zone, no UI and one
  * log level.
  */
object Session {

  /** Cores of a local session: `SPARK_GRAFT_CPUS`, or the JVM's available
    * processors when that is unset.
    */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").filter(_.nonEmpty)
    .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session named `appName`: `local[cores]`, or `master` when one is
    * given, with `confs` set on top. Under a given master the shuffle
    * partitions are the context's default parallelism, known only once the
    * context is up.
    */
  def apply(appName: String, cores: Int = cpus, master: Option[String] = None,
            confs: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder().appName(appName)
      .master(master.getOrElse(s"local[$cores]"))
      .config("spark.sql.extensions", classOf[plans.GraftExtensions].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (master.isEmpty) builder.config("spark.sql.shuffle.partitions", cores.toLong)
    val spark = builder.config(confs).getOrCreate()
    if (master.nonEmpty)
      spark.conf.set("spark.sql.shuffle.partitions", spark.sparkContext.defaultParallelism.toLong)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
