package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Warehouse

/** `Warehouse` that times each write method in a span and counts the bytes
  * and files the write added to disk. Nested calls (append and upsert
  * write through overwrite) are timed as child spans; bytes are counted
  * once, at the outermost call, as the data files of the new snapshot that
  * are not hardlinks carried over from the previous one.
  */
final class TimedWarehouse(spark: SparkSession, root: String, tracer: Tracer)
    extends Warehouse(spark, root) {

  var bytesWritten = 0L
  var filesWritten = 0L
  private var depth = 0

  private def timed(method: String, table: String)(f: => Unit): Unit =
    tracer.span(s"warehouse.$method") {
      depth += 1
      try f finally depth -= 1
      if (depth == 0) {
        val (b, n) = TimedWarehouse.newFiles(Paths.get(currentPath(table)))
        bytesWritten += b
        filesWritten += n
      }
    }

  override def overwrite(name: String, df: DataFrame): Unit =
    timed("overwrite", name)(super.overwrite(name, df))

  override def append(name: String, df: DataFrame): Unit =
    timed("append", name)(super.append(name, df))

  override def upsert(name: String, staging: DataFrame, key: String,
                      updateCols: Seq[String]): Unit =
    timed("upsert", name)(super.upsert(name, staging, key, updateCols))

  override def upsertPartitioned(name: String, staging: DataFrame, key: String,
                                 updateCols: Seq[String], partitionCols: Seq[String],
                                 validateKeys: Boolean): Unit =
    timed("upsert", name)(
      super.upsertPartitioned(name, staging, key, updateCols, partitionCols, validateKeys))

  override def overwritePartitioned(name: String, df: DataFrame,
                                    partitionCols: Seq[String]): Unit =
    timed("overwrite", name)(super.overwritePartitioned(name, df, partitionCols))

  override def replacePartitions(name: String, df: DataFrame,
                                 partitionCols: Seq[String]): Unit =
    timed("replace", name)(super.replacePartitions(name, df, partitionCols))
}

object TimedWarehouse {
  /** (bytes, files) of parquet files under `dir` with a single link. */
  def newFiles(dir: Path): (Long, Long) = {
    val files = walk(dir).filter(p =>
      Files.getAttribute(p, "unix:nlink").asInstanceOf[Int] == 1)
    (files.map(Files.size).sum, files.size.toLong)
  }

  /** Parquet data files under `dir`, recursively. */
  def walk(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toVector
    } finally s.close()
  }

  /** Bytes on disk under `dir`; a hardlinked file is counted once. */
  def du(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => Files.getAttribute(p, "unix:ino") -> Files.size(p)).toMap.values.sum
      } finally s.close()
    }
}
