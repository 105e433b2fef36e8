package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, Path => HPath, PositionedReadable, RawLocalFileSystem, Seekable}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.FrontStore

/** A RawLocalFileSystem under a PRIVATE scheme, resolvable ONLY through
  * the session's hadoopConfiguration (`fs.graftcnt.impl`, cache
  * disabled so every open re-resolves from the conf it is handed) — the
  * stand-in for a remote scheme such as s3a://. It also counts stream
  * opens/closes, so a reader can be audited for handle leaks.
  */
class CountingLocalFs extends RawLocalFileSystem {
  override def getScheme: String = "graftcnt"
  override def getUri: URI = URI.create("graftcnt:///")
  override def open(f: HPath, bufferSize: Int): FSDataInputStream = {
    val d = super.open(f, bufferSize)
    CountingLocalFs.opened.incrementAndGet()
    new FSDataInputStream(new CountingLocalFs.Tracking(d))
  }
}

object CountingLocalFs {
  val opened = new AtomicInteger
  val closed = new AtomicInteger

  final class Tracking(d: FSDataInputStream) extends java.io.InputStream
      with Seekable with PositionedReadable {
    def read(): Int = d.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      d.read(b, off, len)
    def seek(pos: Long): Unit = d.seek(pos)
    def getPos: Long = d.getPos
    def seekToNewSource(targetPos: Long): Boolean = d.seekToNewSource(targetPos)
    def read(position: Long, buffer: Array[Byte], offset: Int,
             length: Int): Int = d.read(position, buffer, offset, length)
    def readFully(position: Long, buffer: Array[Byte], offset: Int,
                  length: Int): Unit = d.readFully(position, buffer, offset, length)
    def readFully(position: Long, buffer: Array[Byte]): Unit =
      d.readFully(position, buffer)
    private var done = false
    override def close(): Unit = {
      if (!done) { done = true; closed.incrementAndGet() }
      d.close()
    }
  }
}

/** FrontStore laws (round-14 ask #3's "done" criteria, extended by the
  * round-15 asks): a NEW SESSION hits the persisted front with ZERO
  * recompute jobs (listener-counted — the get is a lazy parquet read
  * over the fingerprint-keyed snapshot); a changed corpus directory
  * invalidates the fingerprint and rebuilds — INCLUDING a corpus behind
  * a non-local conf-registered filesystem scheme (ask #4: the java.nio
  * implementation returned a constant fingerprint there and served
  * stale fronts forever); rows stay identical to the from-scratch build
  * either way; additions-only corpus growth takes the INCREMENTAL merge
  * path with rows identical to the full rebuild (ask #5); superseded
  * snapshots and value bins are GC'd on swap (ask #6); and with no
  * store configured every call falls back to the in-memory FrontCache
  * unchanged.
  */
class FrontStoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private def tmp(tag: String): String =
    Files.createTempDirectory(tag).toString

  private def newStoreSession(store: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set(FrontStore.PathConf, store)
    s
  }

  test("a new session reuses the persisted front with zero build jobs; a changed corpus rebuilds") {
    val store = tmp("front-store")
    val corpus = tmp("front-corpus")
    Files.writeString(Paths.get(corpus, "documents.parquet"), "corpus-v1")

    var builds = 0
    def get(s: SparkSession) =
      FrontStore.frame(s, s"spec-store-front:$corpus:L=8", corpus) {
        builds += 1
        s.range(5).select(col("id"), (col("id") * 2).as("v"))
      }

    val s1 = newStoreSession(store)
    val rows1 = get(s1).collect().map(_.toSeq).toSet
    assert(builds == 1 && rows1.size == 5)

    // "new session": a distinct SparkSession over the same context —
    // the in-memory FrontCache is session-scoped, so a hit here can
    // only come from the store. The get must launch NO job (the
    // listener sees only the sentinel, and listener-bus FIFO means any
    // job the get had launched would have arrived first).
    val s2 = newStoreSession(store)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add(j.jobId)
    }
    spark.sparkContext.addSparkListener(listener)
    val df2 =
      try {
        val df = get(s2)
        // sentinel to flush the listener bus: an RDD count is EXACTLY
        // one job (an SQL count under AQE is two), so the assertion
        // below can pin "zero get jobs" as "only the sentinel arrived"
        spark.sparkContext.parallelize(Seq(1)).count()
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (jobs.isEmpty && System.nanoTime() < deadline)
          Thread.sleep(10)
        assert(jobs.size == 1,
          s"a fresh-store get must launch zero jobs; saw ${jobs.size}")
        df
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(builds == 1, "persisted front must not recompute")
    assert(df2.collect().map(_.toSeq).toSet == rows1)

    // corpus change (regenerated file → new length/mtime) → fingerprint
    // miss → rebuild into a new snapshot, rows still equal
    Files.writeString(Paths.get(corpus, "documents.parquet"),
      "corpus-v2-regenerated")
    val df3 = get(s2)
    assert(builds == 2, "changed corpus must rebuild the front")
    assert(df3.collect().map(_.toSeq).toSet == rows1)
  }

  test("staleness detection works on a conf-registered NON-LOCAL fs scheme corpus") {
    // the corpus lives behind a scheme resolvable ONLY through the
    // session's hadoopConfiguration (CountingLocalFs above — the
    // stand-in for s3a://): fingerprinting must go through the
    // Hadoop FileSystem, not java.nio (which saw a "missing" dir and
    // pinned a constant fingerprint → stale fronts served forever)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.graftcnt.impl", classOf[CountingLocalFs].getName)
    hc.set("fs.graftcnt.impl.disable.cache", "true")
    val dir = tmp("front-remote-corpus")
    Files.writeString(Paths.get(dir, "part-0.parquet"), "v1")
    val corpus = s"graftcnt:$dir"
    val store = tmp("front-remote-store")

    val fp1 = FrontStore.corpusFingerprint(spark, corpus)
    assert(fp1 == FrontStore.corpusFingerprint(spark, corpus))

    var builds = 0
    def get(s: SparkSession) =
      FrontStore.frame(s, s"spec-remote-front:$corpus", corpus) {
        builds += 1
        s.range(3).toDF("id")
      }
    val rows = get(newStoreSession(store)).collect().map(_.toSeq).toSet
    assert(builds == 1)
    assert(get(newStoreSession(store)).collect().map(_.toSeq).toSet == rows)
    assert(builds == 1, "unchanged remote corpus must serve the store hit")

    Files.writeString(Paths.get(dir, "part-0.parquet"), "v2-regenerated")
    assert(FrontStore.corpusFingerprint(spark, corpus) != fp1,
      "a remote-scheme corpus change must move the fingerprint")
    assert(get(newStoreSession(store)).collect().map(_.toSeq).toSet == rows)
    assert(builds == 2, "a remote-scheme corpus change must rebuild")
  }

  test("additions-only corpus growth merges incrementally; rows identical to the full rebuild; non-additive change falls back") {
    val store = tmp("front-inc-store")
    val corpus = tmp("front-inc-corpus")
    val docs = s"$corpus/documents.parquet"
    def writeBatch(n: Int, ids: Range): Unit =
      spark.range(ids.head, ids.last + 1).select(col("id").as("doc_id"))
        .coalesce(1).write.mode("append").parquet(docs)
    writeBatch(1, 0 until 10)

    var fullBuilds = 0
    var deltaBuilds = 0
    val key = s"spec-inc-front:$corpus"
    // per-file-decomposable front: one row per doc_id with a derived
    // column — a row depends on its own file's content alone
    def get(s: SparkSession) =
      FrontStore.frameIncremental(s, key, corpus) {
        fullBuilds += 1
        s.read.parquet(docs).select(col("doc_id"), (col("doc_id") * 3).as("v"))
      } { added =>
        deltaBuilds += 1
        val files = added.filter(_.contains("/documents"))
        spark.read.parquet(files: _*)
          .select(col("doc_id"), (col("doc_id") * 3).as("v"))
      }

    assert(get(newStoreSession(store)).count() == 10)
    assert(fullBuilds == 1 && deltaBuilds == 0)
    assert(FrontStore.currentMode(newStoreSession(store), key).contains("full"))

    // batch 2: a NEW parquet part appended — old files untouched
    writeBatch(2, 10 until 15)
    val s2 = newStoreSession(store)
    val rows2 = get(s2).collect().map(_.toSeq).toSet
    assert(fullBuilds == 1, "additions-only must not full-rebuild")
    assert(deltaBuilds == 1, "additions-only must take the delta path")
    assert(FrontStore.currentMode(s2, key).contains("incremental"))
    val expect = (0L until 15L).map(i => Seq[Any](i, i * 3)).toSet
    assert(rows2 == expect, "incremental rows must equal the full rebuild's")

    // a third session re-serves the merged snapshot without building
    assert(get(newStoreSession(store)).count() == 15)
    assert(fullBuilds == 1 && deltaBuilds == 1)

    // non-additive change (REWRITE the table dir: old files gone) must
    // fall back to the full build
    spark.range(0, 20).select(col("id").as("doc_id"))
      .coalesce(2).write.mode("overwrite").parquet(docs)
    val s3 = newStoreSession(store)
    assert(get(s3).count() == 20)
    assert(fullBuilds == 2, "a rewritten corpus must full-rebuild")
    assert(deltaBuilds == 1)
    assert(FrontStore.currentMode(s3, key).contains("full"))
  }

  test("superseded snapshots and value bins are GC'd on swap; bounded store growth") {
    val store = tmp("front-gc-store")
    val corpus = tmp("front-gc-corpus")
    val key = s"spec-gc-front:$corpus"
    // the frame and value fronts hash to DIFFERENT table dirs — collect
    // artifact names across every table of this spec's key family
    def files(): Seq[String] =
      new java.io.File(store).listFiles()
        .filter(_.getName.startsWith("front_spec-gc-front"))
        .flatMap(_.listFiles()).map(_.getName).toSeq.sorted
    for (v <- 1 to 4) {
      Files.writeString(Paths.get(corpus, "data.parquet"), s"corpus-v$v" * v)
      val s = newStoreSession(store)
      FrontStore.frame(s, key, corpus)(s.range(v).toDF("id")).collect()
      FrontStore.value(s, s"$key:val", corpus)(Vector.fill(v)(v)).size
    }
    val fs = files()
    val snaps = fs.count(_.startsWith("snap-"))
    val bins = fs.count(n => n.startsWith("value-") && n.endsWith(".bin"))
    assert(snaps <= 2, s"GC must bound snapshots (current + previous): $fs")
    assert(bins >= 1, s"current value bin must survive GC: $fs")
    assert(bins <= 2, s"GC must bound value bins (current + previous): $fs")
    // the surviving current snapshot still serves
    val s = newStoreSession(store)
    assert(FrontStore.frame(s, key, corpus)(
      fail("must serve from store")).count() == 4)
  }

  test("BM25 postings front: incremental chain serves scores identical to the full rebuild") {
    // the REAL query-path integration of the incremental contract: the
    // bm25 front is per-doc postings (decomposable), the corpus-global
    // score layer recomputes from the chain — a batch-2 append must
    // leave every downstream score bit-identical to a fresh full build
    val corpus = tmp("front-bm25-corpus")
    val docs = s"$corpus/documents.parquet"
    val base = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    base.where(col("doc_id") % 5 =!= 0).coalesce(1)
      .write.mode("append").parquet(docs)

    val storeA = tmp("front-bm25-storeA")
    def scores(store: String): Set[(Long, Double)] =
      graft.queries.RetrievalQueries.bm25ScoresCached(
          newStoreSession(store), corpus)
        .select(col("doc_id").cast("long"), col("score"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet

    val v1 = scores(storeA)
    assert(v1.nonEmpty)
    base.where(col("doc_id") % 5 === 0).coalesce(1)
      .write.mode("append").parquet(docs)
    val v2inc = scores(storeA)
    assert(graft.operators.FrontStore.currentMode(newStoreSession(storeA),
      s"bm25-post:$corpus:terms=table,spark").contains("incremental"),
      "batch 2 must take the incremental path")
    val v2full = scores(tmp("front-bm25-storeB"))
    assert(v2inc == v2full,
      "incremental-chain scores must equal the full rebuild's bit-for-bit")
    assert(v2inc != v1, "batch 2 must actually change the scores")
  }

  test("no store configured falls back to the session FrontCache") {
    val s = spark.newSession() // PathConf unset
    var builds = 0
    def get() = FrontStore.frame(s, "spec-fallback-front", "/nonexistent") {
      builds += 1
      s.range(3).toDF("id")
    }
    val a = get(); val b = get()
    assert(builds == 1, "fallback must memoize through FrontCache")
    assert(a.collect().map(_.toSeq).toSet == b.collect().map(_.toSeq).toSet)
  }

  test("table names stay distinct for keys that sanitize identically") {
    val a = FrontStore.tableName("front:a/b=1")
    val b = FrontStore.tableName("front:a/b=2")
    val c = FrontStore.tableName("front:a.b_1")
    assert(Set(a, b, c).size == 3)
    assert(Seq(a, b, c).forall(_.matches("[A-Za-z0-9._-]+")))
    // the suffix is a cryptographic hash of the FULL key: long keys that
    // share an 80-char sanitized prefix (and would collide under a
    // 32-bit String.hashCode) still map to distinct tables
    val base = "front:" + ("x" * 90)
    assert(FrontStore.tableName(base + ":p=1") !=
      FrontStore.tableName(base + ":p=2"))
  }

  test("corpus fingerprint is order-stable, content-sensitive, and RECURSIVE") {
    val d = tmp("fp-corpus")
    Files.writeString(Paths.get(d, "a.parquet"), "aaa")
    Files.createDirectories(Paths.get(d, "b.parquet"))
    Files.writeString(Paths.get(d, "b.parquet", "part-0"), "bbb")
    val fp1 = FrontStore.corpusFingerprint(spark, d)
    assert(fp1 == FrontStore.corpusFingerprint(spark, d), "stable across calls")
    // a NESTED file change must move it (table dirs hold part files)
    Files.writeString(Paths.get(d, "b.parquet", "part-0"), "bbbb")
    assert(fp1 != FrontStore.corpusFingerprint(spark, d),
      "nested length change must move it")
    assert(FrontStore.corpusFingerprint(spark, d) !=
      FrontStore.corpusFingerprint(spark, tmp("fp-other")),
      "dir identity included")
  }
}
