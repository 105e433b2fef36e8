package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{expr, timestamp_micros, xxhash64}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * At cluster scale these would be catalog tables (Parquet/Iceberg); the
  * loader keeps the read declarative (`spark.read.schema(s).parquet`) so
  * Catalyst pushes filters and prunes columns into the scan.
  *
  * Loader contract:
  *
  *  - A load launches no Spark job and plans nothing. Each table's
  *    parquet footers are read once on the driver and the result is
  *    PINNED per (session, file identity) — path, byte size and
  *    modification time of every data file — so every later load is
  *    `read.schema(pinned)`. A regenerated table has a new identity and
  *    is read again; a stale schema is never served.
  *  - Timestamp columns arrive as session-time-zone `TimestampType`, also
  *    when the writer marked them `isAdjustedToUTC=false` (the testdata's
  *    `ts` and `l_shipdate`), and with no cast on top of the column, so
  *    timestamp predicates push down to the scan. The choice is made in a
  *    private copy of the session conf: loading writes no session conf.
  *  - Spread only where a single task is measured to cost more than a
  *    shuffle: see [[spreads]].
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = pinned(spark, path)
    val df = spark.read.schema(p.schema).parquet(path)
    val read = if (name == "events") eventsTs(df) else df
    val target = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    if (spreads(p, target)) read.repartition(target, xxhash64(read.col(read.columns.head)))
    else read
  }

  /** The uncompressed row data a single row group must exceed before its
    * scan is spread. Measured on 4 cores: sf0.01's largest group
    * (lineitem, 1.24 MB) runs every query faster as one task than behind a
    * shuffle, while at sf0.1 per-row text, JSON and XML work over
    * documents (1.58 MB), orders (3.7 MB) and lineitem (13.6 MB) runs up
    * to 3× slower unspread.
    */
  private val SpreadRowGroupBytes = 1400000L

  /** A parquet row group is the unit Spark splits a scan by, so a table
    * with fewer row groups than shuffle partitions scans on fewer tasks
    * than cores. It is spread when its row groups are also large (see
    * [[SpreadRowGroupBytes]]): then one hash exchange restores
    * parallelism for the per-row work above the scan. At production
    * scale a table has many row groups and is never spread.
    *
    * The key is the table's leading column, a near-unique non-null id in
    * every test table (`l_orderkey`, `doc_id`, `event_id`, …), hashed
    * deterministically: placement is a pure row function, stable under
    * task retries with no local sort (which round-robin needs), and
    * Catalyst still pushes filters and prunes columns through it.
    */
  private def spreads(p: Pinned, target: Int): Boolean =
    p.rowGroups < target && p.bytes > SpreadRowGroupBytes * p.rowGroups

  /** The events table's `ts` physical type has varied across testdata
    * generations: parquet TIMESTAMP(NANOS) in early rounds, TIMESTAMP
    * (MICROS, isAdjustedToUTC=false) now.
    *
    *  - NANOS pins as a raw long (Spark cannot read it as a timestamp) and
    *    converts to a µs timestamp with integer division (`div`), matching
    *    DuckDB's TIMESTAMP_NS → TIMESTAMP truncation exactly. The
    *    [[graft.plans.PushdownNanosTimestampPredicate]] rule restores
    *    scan pushdown through that conversion.
    *  - MICROS is read natively (see the loader contract above).
    */
  private def eventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }

  /** What a pin is valid for: the table path and the (name, size,
    * modification time) of each of its data files.
    */
  private final case class FileIdentity(path: String, files: Seq[(String, Long, Long)])

  /** A table's pinned schema, with the row-group count and total
    * uncompressed row-group bytes of its data files.
    */
  private final case class Pinned(schema: StructType, rowGroups: Int, bytes: Long)

  private val pins =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[FileIdentity, Pinned]]()

  private def pinned(spark: SparkSession, path: String): Pinned = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val status = fs.getFileStatus(root)
    // a Spark-written table is a directory of part files; `_`/`.` files
    // are commit markers, checksums and summary metadata
    val data = (if (status.isDirectory) fs.listStatus(root).toSeq.filter { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      } else Seq(status)).sortBy(_.getPath.getName)
    require(data.nonEmpty, s"Tables: no parquet data files under $path")
    val id = FileIdentity(root.toString,
      data.map(f => (f.getPath.getName, f.getLen, f.getModificationTime)))
    val perSession = pins.synchronized {
      pins.computeIfAbsent(spark, _ => new java.util.concurrent.ConcurrentHashMap())
    }
    perSession.computeIfAbsent(id, _ => pin(spark, data))
  }

  /** The schema is the one Spark's own inference gives the first data
    * file (the Spark schema stored in its footer when there is one, else
    * the converted parquet schema), with timestamps inferred as
    * `TimestampType` and NANOS as long.
    */
  private def pin(spark: SparkSession, data: Seq[FileStatus]): Pinned = {
    val conf = spark.sparkContext.hadoopConfiguration
    val footers = data.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try reader.getFooter finally reader.close()
    }
    val sqlConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.clone()
    sqlConf.setConf(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED, false)
    sqlConf.setConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG, true)
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(data.head.getPath, footers.head), new ParquetToSparkSchemaConverter(sqlConf))
    val groups = footers.flatMap(_.getBlocks.asScala)
    Pinned(schema, groups.size, groups.map(_.getTotalByteSize).sum)
  }
}
