package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scratch locations for persisted index artifacts built by registered
  * queries (the LSH index of x70, the IVF/IVF-PQ indexes of x82/x83, the
  * span table of x90).
  */
object Artifacts {

  /** Session-scoped artifact directory under `java.io.tmpdir`:
    *
    *  - unique per Spark application (the applicationId component), so two
    *    concurrent sessions benching the same fixture never share a path —
    *    an overwrite-mode rewrite cannot delete files another session is
    *    mid-read on;
    *  - named by a readable prefix of the sanitized key plus the md5 of the
    *    FULL key. The prefix is bounded so the name stays under the 255-byte
    *    file-name limit however long the corpus path is; the digest carries
    *    uniqueness (sanitization alone is not injective — "data/sf1" and
    *    "data_sf1" would collide).
    *
    * The same session calling again with the same key reuses the path —
    * deliberate: bench re-runs overwrite their own artifact, which is part
    * of the measured cost, and readers within one session are sequential.
    * The session root is deleted on JVM exit (artifacts are rebuildable
    * scratch — without the hook, repeated bench runs would grow tmp
    * unboundedly).
    */
  def sessionScopedDir(spark: SparkSession, kind: String, key: String): String = {
    val safe = key.replaceAll("[^A-Za-z0-9._-]", "_").take(MaxKeyPrefix)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val root = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_" + spark.sparkContext.applicationId)
    cleanupOnExit(root)
    new java.io.File(root, s"${kind}_${safe}_$digest").getPath
  }

  private val MaxKeyPrefix = 96

  /** Build-at-most-once-per-session serving artifacts (the x82b/x83b/x86c
    * probe rows and the x90 span table): real on-disk indexes a long-lived
    * service holds, so the registered query times the PROBE, not the build
    * chain. Whichever caller asks first builds the artifact inside its own
    * call; later callers hit. The memo key folds in the corpus file
    * fingerprint, so a rewritten corpus rebuilds instead of serving a
    * stale artifact, and every build writes a FRESH directory — a rebuild
    * never mutates an artifact an older entry (or a lazily-held probe frame
    * over it) still serves, and un-memoizable corpora (rebuild every call)
    * never share a path between concurrent builds. Uncapped: artifacts live
    * on disk and go with the session root at JVM exit. Dir kinds must be
    * DISTINCT from any full-cycle query's (x82/x83 overwrite their artifact
    * every run — sharing a path would race a rewrite against a memo-hit
    * read).
    */
  private val servedMemo = new Caches.Memo[String]("servedArtifacts", Int.MaxValue)
  private val servedNonce = new java.util.concurrent.atomic.AtomicLong(0L)

  private[operators] def servedDir(spark: SparkSession, kind: String,
                                   corpus: DataFrame, fallbackKey: String)
                                  (build: String => Unit): String =
    servedMemo.memo(corpus, kind) {
      val dir = sessionScopedDir(spark, kind,
        fallbackKey + "|build=" + servedNonce.incrementAndGet())
      build(dir)
      dir
    }

  private val hooked = scala.collection.mutable.Set.empty[String]

  private def cleanupOnExit(root: java.io.File): Unit =
    if (hooked.synchronized(hooked.add(root.getPath)))
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(root)))

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }
}
