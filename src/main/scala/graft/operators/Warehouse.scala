package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Parquet-backed warehouse with snapshot-swap semantics (SURVEY.md §7.1.2,
  * K1–K4). Plain Parquet has no row-level ops, so upserts write a NEW
  * snapshot directory and atomically repoint `_current`; readers always see
  * a complete snapshot. At cluster scale the same layout works on any
  * object store (pointer file on a consistent store); per-table snapshot
  * GC keeps the last N.
  *
  * Reads launch no Spark job: every snapshot this instance writes has its
  * schema PINNED (the written schema, nullable, partition columns last),
  * keyed by snapshot directory — snapshots are immutable, so a pin can
  * never go stale. A snapshot some other writer produced is inferred once
  * and then pinned. [[read]]/[[readAt]] hand the pin to the parquet source,
  * the same contract `Tables.load` and [[FrontStore]] follow.
  *
  * [[append]] is O(batch) when the batch's columns are a subset of the
  * standing schema with equal types: only the batch is written, and the
  * previous snapshot's data files carry over by hardlink. Any other schema
  * falls back to a `unionByName` rewrite.
  */
class Warehouse(spark: SparkSession, root: String) {

  private def tableDir(name: String) = Paths.get(root, name)
  private def pointer(name: String)  = tableDir(name).resolve("_current")

  /** Read schema per snapshot directory (see the class doc). */
  private val pins = new ConcurrentHashMap[String, StructType]()

  /** Pin the schema of a snapshot written from `written` with
    * `partitionBy(partitionCols)`: the layout the parquet source reports
    * for that directory — every field nullable, partition columns last.
    */
  private def pin(dir: Path, written: StructType, partitionCols: Seq[String]): Unit = {
    val all = Warehouse.nullable(written).asInstanceOf[StructType]
    val (parts, data) = all.fields.partition(f => partitionCols.contains(f.name))
    val partsInOrder = partitionCols.flatMap(c => parts.find(_.name == c))
    pins.put(dir.toString, StructType(data ++ partsInOrder))
  }

  /** The read schema of a snapshot: pinned, or inferred once and pinned.
    * Before inferring a snapshot another writer produced, the pins of this
    * table's snapshots that writer's GC has deleted are dropped.
    */
  private def schemaAt(dir: Path): StructType =
    Option(pins.get(dir.toString)).getOrElse {
      pins.keySet.removeIf(k =>
        Paths.get(k).getParent == dir.getParent && !Files.exists(Paths.get(k)))
      pins.computeIfAbsent(dir.toString, d =>
        Warehouse.nullable(spark.read.parquet(d).schema).asInstanceOf[StructType])
    }

  /** `spark.read.schema(pinned).parquet(dir)`, with the snapshot's files
    * listed here on the driver and handed to the file index: the parquet
    * source lists a directory of more than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32)
    * partition directories with a Spark job, and a day-partitioned table
    * passes that after a month.
    */
  private def readDir(dir: Path): DataFrame = {
    val schema = schemaAt(dir)
    val local = new HPath(dir.toAbsolutePath.toString)
    val fs = local.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(local)
    val files = Warehouse.visibleFiles(dir.toFile, root, fs.getDefaultBlockSize(root))
    val listed = new FileStatusCache {
      override def getLeafFiles(p: HPath): Option[Array[FileStatus]] =
        if (p == root) Some(files) else None
      override def putLeafFiles(p: HPath, f: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, Some(schema), listed)
    val parts = index.partitionSchema
    val relation = HadoopFsRelation(index, parts,
      StructType(schema.filterNot(f => parts.fieldNames.contains(f.name))), None,
      new ParquetFileFormat, Map.empty)(spark)
    Bridge.ofRows(spark, LogicalRelation(relation))
  }

  /** Write `df` as a new snapshot of `name`, laid out by `partitionCols`,
    * and pin its schema. The pointer is not swapped.
    */
  private def writeSnapshot(name: String, df: DataFrame,
                            partitionCols: Seq[String]): (String, Path) = {
    Files.createDirectories(tableDir(name))
    val snap = nextSnap(name)
    val dir = tableDir(name).resolve(snap)
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(dir.toString)
    pin(dir, df.schema, partitionCols)
    (snap, dir)
  }

  /** Next snapshot name: max(existing ids) + 1, zero-padded to a fixed 20
    * digits. The previous `snap-<nanoTime>` scheme broke LEXICOGRAPHIC
    * ordering on digit-count rollover (10^14 → 10^15 ns uptime) and
    * nanoTime has no guaranteed sign/epoch — a listing-derived counter is
    * monotonic per table by construction. Ordering everywhere else goes
    * through [[snapId]] (NUMERIC parse), so legacy unpadded names from
    * older tables still order correctly against new padded ones.
    * Single-writer per table: writes on one Warehouse instance are
    * serialized ([[overwrite]]/[[overwritePartitioned]] synchronize);
    * cross-process coordination is the lake-format layer's job.
    */
  private def nextSnap(name: String): String = {
    val maxId = Option(tableDir(name).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("snap-"))
      .flatMap(f => snapId(f.getName))
      .maxOption.getOrElse(-1L)
    f"snap-${math.max(maxId, -1L) + 1}%020d"
  }

  /** Numeric id of a snapshot directory name (None for foreign names). */
  private def snapId(snapName: String): Option[Long] =
    scala.util.Try(snapName.stripPrefix("snap-").toLong).toOption

  /** Recursive on-disk size of a snapshot's parquet data — partitioned
    * snapshots nest files under `col=value/` directories, so a top-level
    * listing alone undercounts (to zero) and mis-sizes compaction.
    */
  private def parquetBytes(dir: java.io.File): Long = {
    val children = Option(dir.listFiles()).getOrElse(Array.empty)
    children.collect {
      case f if f.isFile && f.getName.endsWith(".parquet") => f.length()
      case d if d.isDirectory => parquetBytes(d)
    }.sum
  }

  /** Partition columns of a snapshot, read off the `col=value` directory
    * chain (empty for unpartitioned layouts).
    */
  private def partitionColsOf(snapDir: java.io.File): Seq[String] = {
    val cols = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur = snapDir
    var continue = true
    while (continue) {
      Option(cur.listFiles()).getOrElse(Array.empty)
        .find(d => d.isDirectory && d.getName.contains("=")) match {
        case Some(d) => cols += d.getName.takeWhile(_ != '='); cur = d
        case None => continue = false
      }
    }
    cols.toSeq
  }

  def exists(name: String): Boolean = Files.exists(pointer(name))

  private def currentSnapshot(name: String): Option[String] =
    if (exists(name)) Some(Files.readString(pointer(name)).trim) else None

  /** The current snapshot, read with its pinned schema (no Spark job). */
  def read(name: String): DataFrame = {
    val snap = currentSnapshot(name).getOrElse(
      throw new IllegalArgumentException(s"no such table: $name"))
    readDir(tableDir(name).resolve(snap))
  }

  /** Directory of the CURRENT snapshot — for readers that bring their
    * own schema (e.g. [[FrontStore]] pins the front's schema beside the
    * snapshot so a fresh session's read launches no inference job).
    */
  def currentPath(name: String): String = {
    val snap = currentSnapshot(name).getOrElse(
      throw new IllegalArgumentException(s"no such table: $name"))
    tableDir(name).resolve(snap).toString
  }

  /** K2 — truncate-overwrite: write a fresh snapshot, swap the pointer. */
  def overwrite(name: String, df: DataFrame): Unit = synchronized {
    swapPointer(name, writeSnapshot(name, df, Nil)._1)
  }

  /** K1 — append into a new snapshot (keeps swap atomicity; no in-place
    * mutation of a live snapshot).
    *
    * Linked path, when every batch column exists in the standing schema
    * with an equal type (nullability aside): the batch alone is written —
    * standing columns it lacks as typed nulls, laid out by the standing
    * snapshot's partition columns — and the previous snapshot's data files
    * are hardlinked beside it, the carry-over [[replacePartitions]] makes.
    * A 6-hour batch writes 6 hours of rows, not the table. Any other batch
    * schema (a new column, a changed type) rewrites through `unionByName`,
    * still in the standing partition layout.
    */
  def append(name: String, df: DataFrame): Unit = synchronized {
    // synchronized around the WHOLE read-modify-write: two concurrent
    // appends that both resolved the same base snapshot before either
    // committed would silently drop one batch
    currentSnapshot(name) match {
      case None => overwrite(name, df)
      case Some(cur) =>
        val oldDir = tableDir(name).resolve(cur)
        val standing = schemaAt(oldDir)
        val pCols = partitionColsOf(oldDir.toFile)
        val linkable = df.schema.fields.forall(f =>
          standing.find(_.name == f.name).exists(_.dataType == Warehouse.nullable(f.dataType)))
        if (linkable) {
          val batch = df.select(standing.fields.toSeq.map(f =>
            if (df.columns.contains(f.name)) col(s"`${f.name.replace("`", "``")}`")
            else lit(null).cast(f.dataType).as(f.name)): _*)
          val (snap, newDir) = writeSnapshot(name, batch, pCols)
          linkTree(oldDir, newDir, f => Warehouse.isDataFile(f.getName))
          pins.put(newDir.toString, standing)
          swapPointer(name, snap)
        } else {
          val union = read(name).unionByName(df, allowMissingColumns = true)
          if (pCols.isEmpty) overwrite(name, union)
          else overwritePartitioned(name, union, pCols)
        }
    }
  }

  /** Small-file compaction: rewrite the current snapshot into
    * ≈`targetFileBytes`-sized files (estimated from the snapshot's
    * on-disk size — compression carries over within a format) and
    * snapshot-swap. The append path accretes one file set per batch;
    * a 100 TB table read through thousands of tiny files pays per-file
    * open/footer costs and tiny row groups — periodic compaction is the
    * standing maintenance job of every lake table. Rows are unchanged
    * (the swap is atomic, readers see old or new, never a mix).
    */
  def compact(name: String, targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val snap = currentSnapshot(name).getOrElse(
      throw new IllegalArgumentException(s"no such table: $name"))
    val dir = tableDir(name).resolve(snap).toFile
    val bytes = parquetBytes(dir) // recursive: partitioned snapshots nest files
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val pCols = partitionColsOf(dir)
    if (pCols.isEmpty) overwrite(name, read(name).repartition(nFiles))
    else {
      // preserve the partition layout — compacting through plain overwrite()
      // would silently flatten the table and lose partition pruning.
      // Clustering the shuffle by the partition columns keeps each
      // partition's rows in few tasks, so partitionBy writes few files per
      // partition instead of nFiles × nPartitions splinters.
      val clustered = read(name).repartition(nFiles, pCols.map(col): _*)
      overwritePartitioned(name, clustered, pCols)
    }
  }

  /** Retained snapshots, oldest first (time-travel surface; bounded by
    * [[keepSnapshots]]).
    */
  def snapshots(name: String): Seq[String] =
    Option(tableDir(name).toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("snap-"))
      .map(_.getName).toSeq
      // NUMERIC id order (oldest first): a lexicographic sort would put
      // new zero-padded ids BEFORE legacy unpadded nanotime names
      .sortBy(n => (snapId(n).getOrElse(Long.MinValue), n))

  /** Time travel: read a RETAINED historical snapshot by name — the
    * audit/repro read ("what did the table say before that batch?").
    * The pointer stays untouched; GC retention ([[keepSnapshots]])
    * bounds how far back this reaches.
    */
  def readAt(name: String, snapshot: String): DataFrame = {
    require(snapshots(name).contains(snapshot),
      s"no retained snapshot '$snapshot' for table '$name' " +
        s"(have: ${snapshots(name).mkString(", ")})")
    readDir(tableDir(name).resolve(snapshot))
  }

  /** Data files of the current snapshot, as snapshot-relative paths
    * (compaction observability) — recursive, so partitioned snapshots'
    * nested `col=value/part-*.parquet` files are listed too.
    */
  def dataFiles(name: String): Seq[String] = {
    val snap = currentSnapshot(name).getOrElse(
      throw new IllegalArgumentException(s"no such table: $name"))
    val base = tableDir(name).resolve(snap)
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
        case f if f.isFile && f.getName.endsWith(".parquet") => Seq(f)
        case d2 if d2.isDirectory => walk(d2)
        case _ => Nil
      }
    walk(base.toFile).map(f => base.relativize(f.toPath).toString).sorted
  }

  /** K4 — staged merge upsert into the table (creates it when absent).
    * Synchronized read-modify-write, like [[append]].
    */
  def upsert(name: String, staging: DataFrame, key: String,
             updateCols: Seq[String]): Unit = synchronized {
    if (!exists(name)) overwrite(name, staging)
    else overwrite(name, Upsert.merge(read(name), staging, key, updateCols))
  }

  /** The partition predicate a staging batch induces: the disjunction of
    * its distinct partition-column tuples — a bounded driver collect (a
    * staging batch touches a handful of partitions: the reference's
    * 6-hour extraction window is a few date partitions, never the table),
    * guarded so a mis-partitioned batch fails loudly instead of building
    * a 100k-term predicate.
    */
  def stagedPartitionPredicate(staging: DataFrame,
                               partitionCols: Seq[String],
                               maxPartitions: Int = 1000): Column = {
    val touched = staging
      .select(partitionCols.map(col): _*).distinct().collect()
    require(touched.length <= maxPartitions,
      s"staging batch touches ${touched.length} partitions " +
        s"(> $maxPartitions) — partition-scoping would not prune; " +
        "use the whole-table upsert or repartition the batch")
    touched.map { r =>
      partitionCols.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(r.get(i)) }
        .reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false))
  }

  /** K4 at scale — PARTITION-SCOPED staged merge upsert: the target side
    * of the MERGE join is pruned to the partitions the staging batch
    * touches (the predicate reaches the parquet scan as a partition
    * filter — directory pruning), and the merged result replaces only
    * those partitions; every other partition carries over by hardlink,
    * untouched and unread. The whole-table [[upsert]] full-outer joins
    * 100 TB against a 6-hour batch; this joins 6 hours against 6 hours.
    *
    * CONTRACT: the partition columns must be stable for a given key
    * (e.g. created-date partitioning) — a key whose current target row
    * lives outside the staging rows' partitions would be INSERTED
    * instead of UPDATED, leaving the old row stale. That is the standard
    * pruned-MERGE precondition (BigQuery/Delta demand the same predicate
    * guarantee from the caller).
    *
    * `validateKeys = true` ENFORCES that precondition: a key-projected
    * semi-join of the staging keys against the pruned-OUT remainder of
    * the target (one extra key-column scan — the cost whole-table merge
    * pays on every run anyway) fails loudly on any key whose current row
    * lives outside the staged partitions, so a contract violation
    * surfaces in tests/backfills instead of as silent duplicate keys.
    * Default off: the steady-state 6-hourly batch relies on the schema
    * contract (partition column derived from an immutable field), and
    * the validation scan is exactly the O(table) read the partition
    * scoping exists to avoid.
    */
  def upsertPartitioned(name: String, staging: DataFrame, key: String,
                        updateCols: Seq[String],
                        partitionCols: Seq[String],
                        validateKeys: Boolean = false): Unit = synchronized {
    if (!exists(name)) overwritePartitioned(name, staging, partitionCols)
    else {
      val pred = stagedPartitionPredicate(staging, partitionCols)
      if (validateKeys) {
        val strays = read(name).where(!pred).select(col(key))
          .join(staging.select(col(key)).distinct(), Seq(key), "left_semi")
        val sample = strays.limit(5).collect().map(_.get(0)).mkString(", ")
        require(sample.isEmpty,
          s"upsertPartitioned('$name'): staging keys whose current rows " +
            s"live OUTSIDE the staged partitions (sample: $sample) — " +
            "the stable-key-partition contract is violated; use the " +
            "whole-table upsert for this batch")
      }
      val slice = read(name).where(pred)
      val merged = Upsert.merge(slice, staging, key, updateCols)
      replacePartitions(name, merged, partitionCols)
    }
  }

  /** Partition-laid-out snapshot: same pointer-swap contract, but the
    * snapshot is written `partitionBy(cols)` so reads with a partition
    * predicate list only matching directories (PruningSpec asserts the
    * mechanism; WarehouseSpec asserts it holds through this API). At
    * 100 TB this is the difference between scanning one day and scanning
    * the table.
    */
  def overwritePartitioned(name: String, df: DataFrame,
                           partitionCols: Seq[String]): Unit = synchronized {
    swapPointer(name, writeSnapshot(name, df, partitionCols)._1)
  }

  /** Leaf partition directories of a snapshot (`depth` levels of
    * `col=value`), as snapshot-relative path strings. Both sides of a
    * carry-over compare come from Spark's own writer, so the directory
    * names share one value-escaping convention — no manual unescaping.
    */
  private def leafPartitionDirs(snapDir: java.io.File, depth: Int): Seq[String] = {
    def walk(d: java.io.File, level: Int): Seq[java.io.File] =
      if (level == depth) Seq(d)
      else Option(d.listFiles()).getOrElse(Array.empty).toSeq
        .filter(c => c.isDirectory && c.getName.contains("="))
        .flatMap(walk(_, level + 1))
    walk(snapDir, 0).map(f => snapDir.toPath.relativize(f.toPath).toString)
  }

  /** Hardlink the files of `src`'s tree that `keep` accepts under `dst`
    * (copy where the filesystem refuses links). Hardlinks — not symlinks —
    * so snapshot GC of the source snapshot never breaks the carried-over
    * data. A name already present under `dst` fails loudly: carried-over
    * files never replace freshly written ones.
    */
  private def linkTree(src: Path, dst: Path,
                       keep: java.io.File => Boolean = _ => true): Unit = {
    Files.createDirectories(dst)
    Option(src.toFile.listFiles()).getOrElse(Array.empty).foreach {
      case f if f.isFile =>
        if (keep(f)) {
          val to = dst.resolve(f.getName)
          try Files.createLink(to, f.toPath)
          catch {
            case e: java.nio.file.FileAlreadyExistsException => throw e
            case _: UnsupportedOperationException | _: java.io.IOException =>
              Files.copy(f.toPath, to)
          }
        }
      case d => linkTree(d.toPath, dst.resolve(d.getName), keep)
    }
  }

  /** Dynamic-partition replace: partitions present in `df` are replaced
    * wholesale, untouched partitions CARRY OVER BY HARDLINK from the
    * previous snapshot — Spark writes only the replaced partitions; the
    * carried-over bytes are never read, shuffled, or rewritten (the
    * manifest-reuse move of the table formats, expressed on a plain
    * filesystem). At 100 TB a 6-hour reprocess writes 6 hours of
    * partitions, not the table. Hardlinked files are byte-identical by
    * construction (same inodes), which is also the idempotence proof:
    * untouched partitions cannot drift.
    */
  def replacePartitions(name: String, df: DataFrame,
                        partitionCols: Seq[String]): Unit = synchronized {
    currentSnapshot(name) match {
      case None => overwritePartitioned(name, df, partitionCols)
      case Some(curSnap) =>
        val oldDir = tableDir(name).resolve(curSnap)
        if (partitionColsOf(oldDir.toFile) != partitionCols) {
          // layout migration (unpartitioned or differently-partitioned
          // previous snapshot): no directory-level carry-over exists —
          // rewrite through the anti-join path once; subsequent replaces
          // hit the linked fast path
          val incoming = df.select(partitionCols.map(col): _*).distinct()
          val kept = read(name).join(incoming, partitionCols, "left_anti")
          overwritePartitioned(name,
            kept.unionByName(df, allowMissingColumns = true), partitionCols)
          return
        }
        val (snap, newDir) = writeSnapshot(name, df, partitionCols)
        val replaced = leafPartitionDirs(newDir.toFile, partitionCols.length).toSet
        leafPartitionDirs(oldDir.toFile, partitionCols.length)
          .filterNot(replaced)
          .foreach(rel => linkTree(oldDir.resolve(rel), newDir.resolve(rel)))
        swapPointer(name, snap)
    }
  }

  private def swapPointer(name: String, snap: String): Unit = {
    val tmp = tableDir(name).resolve(s"_current.tmp.${System.nanoTime()}")
    Files.writeString(tmp, snap)
    Files.move(tmp, pointer(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    gc(name)
  }

  /** Snapshot GC: keep the current snapshot plus the most recent
    * `keepSnapshots − 1` others; older ones are deleted. Readers of a
    * just-replaced snapshot finish safely as long as churn stays within
    * the retention window (same contract as table-format VACUUM).
    */
  var keepSnapshots: Int = 3
  private def gc(name: String): Unit = {
    val cur = currentSnapshot(name).getOrElse(return)
    val dir = tableDir(name).toFile
    val snaps = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("snap-"))
      // numeric id, newest first — lexicographic would misrank legacy
      // unpadded names above new padded ids and GC the wrong snapshot
      .sortBy(f => (snapId(f.getName).getOrElse(Long.MinValue), f.getName)).reverse
    snaps.filterNot(_.getName == cur).drop(keepSnapshots - 1).foreach { f =>
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
        x.delete()
      }
      rm(f)
      pins.remove(f.toPath.toString)
    }
  }
}

object Warehouse {
  /** `dt` with every field, element and value nullable — the schema the
    * parquet source reports for data written from `dt`
    * (`StructType.asNullable` is not public).
    */
  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** The files under `dir` (whose qualified path is `root`) the parquet
    * source would read — none under a hidden (`.x`) or committer (`_x`,
    * not `col=value`) name — as the statuses its own listing builds.
    * Read off `java.io`: a Hadoop located listing of the local filesystem
    * forks a `stat` process per file for permissions nothing here reads.
    */
  private def visibleFiles(dir: java.io.File, root: HPath, blockSize: Long): Array[FileStatus] =
    Option(dir.listFiles()).getOrElse(Array.empty).sortBy(_.getName).flatMap { f =>
      val name = f.getName
      if (name.startsWith(".") || (name.startsWith("_") && !name.contains("="))) Array.empty[FileStatus]
      else if (f.isDirectory) visibleFiles(f, new HPath(root, name), blockSize)
      else Array(new FileStatus(f.length(), false, 1, blockSize, f.lastModified(),
        new HPath(root, name)))
    }

  /** A snapshot's data files: parquet parts and their checksums (not
    * `_SUCCESS` or other committer markers).
    */
  private def isDataFile(fileName: String): Boolean =
    fileName.endsWith(".parquet") || fileName.endsWith(".parquet.crc")
}
