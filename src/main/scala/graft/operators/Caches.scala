package graft.operators

import org.apache.spark.sql.DataFrame

/** Deterministic release for the engine's shared cached subtrees.
  *
  * Several operators cache an intermediate that later queries in the same
  * family reuse through CacheManager plan substitution (the tokenized
  * `termCounts` frame feeds n1–n5/n13/x61; the Duplicates TF and pair
  * frames feed n6/n7/n10/n11/p1) and deliberately never unpersist —
  * unpersisting at the call site would evict a subtree another consumer is
  * about to substitute (`Relevance.scala` documents the reasoning). The
  * cost of that policy is a long-lived session touching many corpora:
  * entries accumulate until LRU eviction, and the memory/GC pressure lands
  * on whatever runs late in the session.
  *
  * [[withScope]] bounds the lifetime without giving up sharing: every
  * [[shared]] cache registered while a scope is active (same thread — the
  * driver-side plan-construction thread) is unpersisted when the scope
  * exits, after the body has evaluated whatever it needed. Outside a
  * scope, [[shared]] is exactly `.cache()` — the cache-and-leave default
  * stands for interactive sessions, where the next query is unknown.
  *
  * [[Memo]] is the one session memo over file-backed plans; its frame
  * entries go through the same [[shared]] registration on every hit.
  */
object Caches {

  private val scopes =
    new ThreadLocal[java.util.ArrayDeque[scala.collection.mutable.ArrayBuffer[() => Unit]]] {
      override def initialValue() =
        new java.util.ArrayDeque[scala.collection.mutable.ArrayBuffer[() => Unit]]()
    }

  private def register(release: () => Unit): Unit = {
    val stack = scopes.get()
    if (!stack.isEmpty) stack.peek() += release
  }

  /** Cache `df`; when a [[withScope]] is active on this thread, register
    * it for release at scope exit. Nested scopes release at the innermost
    * active scope (the registration point), matching who asked for it.
    */
  def shared(df: DataFrame): DataFrame = {
    // skip an already-cached plan: re-caching only logs "Asked to cache
    // already cached data" and registers nothing new
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    if (df.sparkSession.sharedState.cacheManager.lookupCachedData(df).isEmpty) df.cache()
    register(() => try df.unpersist(blocking = false) catch { case _: Throwable => () })
    df
  }

  /** `df.localCheckpoint()` that a scope can release. A checkpointed RDD
    * is registered with the ContextCleaner, not the SQL CacheManager, so
    * neither `unpersist` on the frame nor `clearCache()` frees it — without
    * explicit release it parks executor memory until its Dataset is GC'd.
    * Inside a [[withScope]], the underlying RDD is blocking-unpersisted at
    * scope exit (the body must have evaluated anything derived from it, the
    * same contract [[shared]] carries). WARNING — this contract is STRICTER
    * than [[shared]]'s in one way: a released `shared` frame silently
    * recomputes from lineage, but a released localCheckpoint CANNOT (its
    * lineage is truncated), so a checkpointed frame that escapes the scope
    * unevaluated throws "checkpoint block not found" when a later caller
    * finally evaluates it. A frame (or anything derived from it) that may
    * outlive the scope must either be fully materialized inside the scope
    * or not be checkpointed through this helper. Outside a scope it behaves
    * exactly like `localCheckpoint()`. Call sites that stop needing the
    * checkpoint mid-flight (a collected edge list, a superseded loop
    * iterate) should additionally release eagerly via [[releaseCheckpoint]]
    * — release is idempotent.
    */
  def checkpointed(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    register(() => releaseCheckpoint(ck))
    ck
  }

  /** Blocking-unpersist the checkpoint RDD(s) backing a frame returned by
    * [[checkpointed]] (or `localCheckpoint()` directly). Synchronous: the
    * RDD leaves `sc.getPersistentRDDs` before this returns. Idempotent.
    */
  def releaseCheckpoint(ck: DataFrame): Unit =
    ck.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach { rdd =>
      try rdd.unpersist(blocking = true)
      catch { case _: Throwable => () }
    }

  /** Run `body` (which must EVALUATE what it builds — write, collect,
    * count), then release every [[shared]] / [[checkpointed]] frame
    * registered inside. Cache unpersist is idempotent and non-blocking
    * (CacheManager drops entries immediately, block cleanup async);
    * checkpoint release is blocking (the RDD leaves the persistent map
    * synchronously — a long-lived service stays flat on both).
    */
  def withScope[T](body: => T): T = {
    val buf = scala.collection.mutable.ArrayBuffer[() => Unit]()
    scopes.get().push(buf)
    try body
    finally {
      scopes.get().pop()
      buf.foreach(release => try release() catch { case _: Throwable => () })
    }
  }

  /** Memo key for a file-backed plan, or "" when the plan is not safely
    * memoizable — the key of every [[Memo]]. Only plans whose every leaf
    * is a file relation qualify: a LocalRelation's canonicalized form
    * omits its data, so two different in-memory corpora would collide on
    * the same key.
    *
    * The key folds in a fingerprint of the underlying FILES (name, length,
    * mtime), not just the root paths: a parquet directory rewritten in
    * place (compaction, an external refresh) must miss the memo, or a
    * long-lived session would serve stale models forever. Listing the
    * leaves' files is one namenode round-trip — noise next to the
    * computation the memo exists to skip.
    *
    * Assumption: a rewrite changes some file's name or length, or lands in
    * a later mtime granule (milliseconds on HDFS and the local filesystem,
    * whole seconds on object stores such as S3). Spark's writers name part
    * files with a fresh job UUID, so their rewrites always change names;
    * an external tool that rewrites a file in place with the same name and
    * byte length within one granule of the previous write is NOT detected,
    * and a memo keyed on it serves the old result until the next
    * distinguishable write.
    */
  private[operators] def planMemoKey(df: DataFrame): String = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val filePaths = leaves.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.mkString(",")
          case other => other.toString
        }
    }
    if (filePaths.length == leaves.length)
      pathsFingerprint(df.sparkSession, filePaths) match {
        case Some(fp) =>
          df.queryExecution.analyzed.canonicalized.toString + "|" +
            filePaths.mkString(";") + "|fp=" + fp
        case None => "" // can't attest freshness -> not memoizable
      }
    else ""
  }

  /** 64-bit fold of (file name, length, modification time) over every file
    * under the given roots — the in-place-rewrite detector for
    * [[planMemoKey]]. None when any root can't be listed: an unverifiable
    * fingerprint must disable memoization, never risk a stale hit.
    */
  private def pathsFingerprint(spark: org.apache.spark.sql.SparkSession,
                               roots: Seq[String]): Option[String] =
    try {
      val conf = spark.sessionState.newHadoopConf()
      Some(roots.flatMap(_.split(",")).map { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(conf)
        val it = fs.listFiles(hp, true)
        var h = 1125899906842597L
        while (it.hasNext) {
          val st = it.next()
          h = h * 31 + st.getPath.getName.hashCode
          h = h * 31 + st.getLen
          h = h * 31 + st.getModificationTime
        }
        java.lang.Long.toHexString(h)
      }.mkString(","))
    } catch { case _: Throwable => None }

  /** One session memo over file-backed plans: every derived-model and
    * frame memo in the operators is an instance, so the validity rules
    * live here once.
    *
    *  - Key: `planMemoKey(df) + "|" + params`. An empty plan key (in-memory
    *    or unlistable input) computes without storing.
    *  - One computation per key: the first caller installs a future and
    *    computes with no lock held; concurrent callers of the same key
    *    wait on that future. A failed computation removes its future, so
    *    the next caller retries instead of joining a poisoned entry.
    *  - Eviction: LRU, one entry at a time once `cap` is exceeded. The
    *    evicted entry's frames are unpersisted and any checkpoint under
    *    them released.
    *  - Frame values (a `DataFrame`, or a tuple holding frames next to side
    *    values such as a dispatch path): a hit misses when the frame
    *    belongs to another session, and otherwise goes through [[shared]] —
    *    cached only if CacheManager has lost it, and registered with the
    *    active [[withScope]]. A frame whose plan reads a checkpoint is never
    *    stored: scope exit or eviction would release blocks its truncated
    *    lineage cannot rebuild.
    */
  final class Memo[V](name: String, val cap: Int) {
    private type Entry = java.util.concurrent.CompletableFuture[Option[V]]
    // access-ordered: iteration starts at the least recently used entry
    private val entries = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true)
    private[graft] val hits, misses, evictions = new java.util.concurrent.atomic.AtomicLong(0L)

    def memo(df: DataFrame, params: Any = "")(compute: => V): V = {
      val pk = planMemoKey(df)
      if (pk.isEmpty) compute
      else lookup(pk + "|" + params, df.sparkSession, () => compute)
    }

    @annotation.tailrec
    private def lookup(key: String, session: org.apache.spark.sql.SparkSession,
                       compute: () => V): V = {
      val mine: Entry = new java.util.concurrent.CompletableFuture[Option[V]]()
      val (prior, evicted) = entries.synchronized {
        val p = entries.get(key)
        if (p != null) (p, Nil)
        else {
          entries.put(key, mine)
          val it = entries.values.iterator
          var out = List.empty[Entry]
          while (entries.size > cap) { out ::= it.next(); it.remove() }
          (null, out)
        }
      }
      // an entry evicted mid-computation is released once it completes
      evicted.foreach { e => evictions.incrementAndGet(); e.thenAccept(_.foreach(release)) }
      if (prior == null) { misses.incrementAndGet(); fill(key, mine, compute) }
      else (try prior.join() catch {
        case e: java.util.concurrent.CompletionException => throw e.getCause
      }) match {
        case Some(v) if frames(v).forall(_.sparkSession eq session) =>
          hits.incrementAndGet()
          frames(v).foreach(shared)
          v
        case Some(foreign) =>
          entries.synchronized(entries.remove(key, prior))
          release(foreign)
          lookup(key, session, compute)
        case None => compute() // the winner's value was not storable
      }
    }

    private def fill(key: String, mine: Entry, compute: () => V): V = {
      val v = try compute() catch {
        case t: Throwable =>
          entries.synchronized(entries.remove(key, mine))
          mine.completeExceptionally(t)
          throw t
      }
      val storable = !frames(v).exists(readsCheckpoint)
      if (!storable) entries.synchronized(entries.remove(key, mine))
      mine.complete(if (storable) Some(v) else None)
      v
    }

    private def frames(v: Any): List[DataFrame] = v match {
      case d: org.apache.spark.sql.Dataset[_] => List(d.asInstanceOf[DataFrame])
      case (a, b) => frames(a) ::: frames(b)
      case _ => Nil
    }

    private def release(v: V): Unit =
      frames(v).filterNot(_.sparkSession.sparkContext.isStopped).foreach { f =>
        try { f.unpersist(blocking = false); releaseCheckpoint(f) }
        catch { case _: Throwable => () }
      }

    override def toString: String =
      s"Memo($name: hits=${hits.get}, misses=${misses.get}, evictions=${evictions.get})"
  }

  private def readsCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD if lr.rdd.isCheckpointed => lr
    }.isDefined
}
