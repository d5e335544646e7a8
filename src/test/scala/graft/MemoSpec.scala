package graft

import graft.operators.{Caches, Dedup, Duplicates, VectorSearch}

/** [[graft.operators.Caches.Memo]] — the one session memo behind every
  * derived-model and frame memo: LRU eviction that releases what it
  * evicts, frame hits that neither re-cache nor escape a scope, one
  * computation per key under concurrency, and dispatch flags that
  * describe the frame actually returned.
  */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def writeDocs(path: String, texts: Seq[String]): Unit =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").repartition(1)
      .write.mode("overwrite").parquet(path)

  private def copyTable(sfDir: String, name: String, to: String): Unit = {
    new java.io.File(to).mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/$name.parquet"),
      java.nio.file.Paths.get(s"$to/$name.parquet"))
  }

  private def cached(df: org.apache.spark.sql.DataFrame): Boolean = {
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    df.sparkSession.sharedState.cacheManager.lookupCachedData(df).nonEmpty
  }

  /** Messages the SQL CacheManager logs while `body` runs. */
  private def cacheManagerLog[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val logger = org.apache.logging.log4j.LogManager
      .getLogger(classOf[org.apache.spark.sql.execution.CacheManager]).asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("memo-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = { seen.add(e.getMessage.getFormattedMessage); () }
    }
    appender.start()
    logger.addAppender(appender)
    try {
      val out = body
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally { logger.removeAppender(appender); appender.stop() }
  }

  test("a minhashDedup hit restores the dispatch path it was built with") {
    val a = tmpDir("memo-flag-a")
    copyTable(sf0001, "documents", a)
    Dedup.minhashDedup(Tables.documents(spark, a)).count()
    assert(Duplicates.lastComponentsPath == "collect")
    val b = Seq((1L, "zebra quokka wombat"), (2L, "zebra quokka wombat alpha"),
      (3L, "falcon osprey heron")).toDF("doc_id", "text")
    Duplicates.components(b, maxCollectEdges = 0L).count()
    assert(Duplicates.lastComponentsPath == "iterative")
    Dedup.minhashDedup(Tables.documents(spark, a)).count()
    assert(Duplicates.lastComponentsPath == "collect",
      "a memo hit must report the arm that built the returned frame")
  }

  test("x90 serves from a corpus path longer than 200 characters") {
    val deep = (1 to 4).foldLeft(tmpDir("memo-long-path")) { (d, i) =>
      s"$d/${"nested_corpus_directory_level_" + i + "_" * 30}"
    }
    assert(deep.length > 200, deep)
    copyTable(sf0001, "documents", deep)
    val persisted = Dedup.qDupSpanStatsPersisted(spark, deep).orderBy("doc_id").collect()
    val inSession = Dedup.qDupSpanStats(spark, deep).orderBy("doc_id").collect()
    assert(persisted.nonEmpty && persisted.toSeq == inSession.toSeq)
  }

  test("filling the pairs-frame memo past its cap unpersists what it evicts") {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val memo = Duplicates.pairsFrameMemo
    val root = tmpDir("memo-evict")
    // each corpus is distinct, so every call is a fresh entry
    val frames = (0 until memo.cap + 4).map { i =>
      val path = s"$root/c$i.parquet"
      writeDocs(path, Seq(s"alpha beta gamma $i", s"alpha beta gamma $i", s"delta epsilon $i"))
      val pairs = Duplicates.pairSimilaritiesMembers(spark.read.parquet(path))
      assert(pairs.count() == 1L)
      pairs
    }
    // an entry pins its pair frame and the TF frame it was built from
    val persisted = spark.sparkContext.getPersistentRDDs.size
    assert(persisted <= 2 * memo.cap + 2,
      s"$persisted persistent RDDs after ${frames.size} corpora (cap ${memo.cap})")
    val (evicted, live) = frames.splitAt(frames.size - memo.cap)
    assert(evicted.forall(f => !cached(f)), "an evicted frame is still in CacheManager")
    assert(live.forall(cached), "a live entry lost its cache")
  }

  test("a second hit on a memoized frame does not ask to cache it again") {
    val path = s"${tmpDir("memo-hit")}/docs.parquet"
    writeDocs(path, Seq("alpha beta gamma", "alpha beta gamma", "delta epsilon zeta"))
    val first = Duplicates.pairSimilaritiesMembers(spark.read.parquet(path))
    first.count()
    val hitsBefore = Duplicates.pairsFrameMemo.hits.get()
    val (again, log) = cacheManagerLog {
      (1 to 2).map { _ =>
        val f = Duplicates.pairSimilaritiesMembers(spark.read.parquet(path))
        f.count()
        f
      }
    }
    assert(again.forall(_ eq first), "hits must return the memoized frame itself")
    assert(Duplicates.pairsFrameMemo.hits.get() == hitsBefore + 2)
    assert(!log.exists(_.contains("Asked to cache already cached data")), log.mkString("\n"))
  }

  test("an iterative components frame built inside withScope is not served " +
       "after the scope released its checkpoint") {
    val path = s"${tmpDir("memo-scope")}/docs.parquet"
    writeDocs(path, Seq("zebra quokka wombat", "zebra quokka wombat alpha",
      "falcon osprey heron", "falcon osprey heron delta", "lonely unmatched tokens"))
    def labels() = Duplicates.components(spark.read.parquet(path), maxCollectEdges = 0L)
      .as[(Long, Long)].collect().toMap
    val inside = Caches.withScope {
      val l = labels()
      assert(Duplicates.lastComponentsPath == "iterative")
      l
    }
    val after = labels() // would throw "checkpoint block not found" on a stored frame
    assert(Duplicates.lastComponentsPath == "iterative")
    assert(after == inside && inside(1L) == 0L && inside(3L) == 2L && inside(4L) == 4L)
  }

  test("concurrent callers of one key train k-means once") {
    val dir = tmpDir("memo-kmeans")
    copyTable(sf0001, "embeddings", dir)
    val before = VectorSearch.lloydRuns.get()
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val calls = (1 to 2).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Array[Array[Double]]] {
          def call(): Array[Array[Double]] = {
            start.await()
            VectorSearch.kmeansCentroids(Tables.embeddings(spark, dir), k = 4, iters = 2)
          }
        })
      }
      start.countDown()
      val Seq(c1, c2) = calls.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq)
      assert(!(c1 eq c2), "each caller gets its own copy of the centroids")
    } finally pool.shutdown()
    assert(VectorSearch.lloydRuns.get() == before + 1)
  }

  test("concurrent callers on two corpora train each once, with no cross-talk") {
    val all = Tables.embeddings(spark, sf0001)
    // each corpus in two directories with the same rows: the memo key
    // carries the path, so the concurrent run cannot hit the solo run's entry
    val corpora = Seq(all, all.where($"vec_id" % 2 === 1)).map { df =>
      Seq("solo", "concurrent").map { tag =>
        val dir = tmpDir(s"memo-kmeans-$tag")
        df.repartition(1).write.parquet(s"$dir/embeddings.parquet")
        dir
      }
    }
    def train(dir: String): Seq[Seq[Double]] =
      VectorSearch.kmeansCentroids(Tables.embeddings(spark, dir), k = 4, iters = 2)
        .map(_.toSeq).toSeq
    val solo = corpora.map(dirs => train(dirs.head))
    assert(solo(0) != solo(1), "the two corpora must train different centroids")
    val before = VectorSearch.lloydRuns.get()
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val calls = corpora.map { dirs =>
        pool.submit(new java.util.concurrent.Callable[Seq[Seq[Double]]] {
          def call(): Seq[Seq[Double]] = { start.await(); train(dirs(1)) }
        })
      }
      start.countDown()
      assert(calls.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS)) == solo)
    } finally pool.shutdown()
    assert(VectorSearch.lloydRuns.get() == before + 2)
  }

  test("operators declare no memo map outside Caches.scala") {
    val dir = new java.io.File("src/main/scala/graft/operators")
    assert(dir.isDirectory, s"run from the repository root: ${dir.getAbsolutePath}")
    val offenders = dir.listFiles().toSeq
      .filter(f => f.getName.endsWith(".scala") && f.getName != "Caches.scala")
      .filter { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.mkString.matches("(?s).*\\b(ConcurrentHashMap|TrieMap)\\b.*") finally src.close()
      }
      .map(_.getName)
    assert(offenders.isEmpty,
      s"memo maps belong in Caches.Memo; found in ${offenders.mkString(", ")}")
  }
}
