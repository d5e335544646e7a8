package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded interval. `parent` is the span that caused it: a job's
  * parent is its op, an op's parent is its round or set-up repetition.
  */
final case class Span(kind: String, id: String, row: String, corpus: String,
                      startMs: Long, endMs: Long, parent: String)

/** Per-op numbers read around the call: Catalyst phases from the op's
  * `QueryPlanningTracker`, codegen compiles, whether the executed plan reads
  * an in-memory (cached) relation, and the storage held by persisted RDDs.
  */
final case class OpProbe(analysisMs: Long, optimizationMs: Long, physicalMs: Long,
                         compiles: Long, cachedScan: Boolean, pinnedBytes: Long)

/** The traced run's collector. All of it lives in the benchmark: a
  * `SparkListener` for jobs, stages, tasks and block updates, a
  * `StreamingQueryListener` for micro-batch progress, and reads of the
  * planning tracker and codegen counters around each call. Everything is
  * kept in memory and written out when the run ends.
  */
final class Tracer extends SparkListener {
  import Tracer._

  val jobs = new ConcurrentHashMap[Int, Job]()
  val submitted = ConcurrentHashMap.newKeySet[Int]()
  val stageAgg = new ConcurrentHashMap[Int, StageAgg]()
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  @volatile var blocksDropped = 0L
  @volatile private var lastEvent = System.currentTimeMillis()

  private def touch(): Unit = lastEvent = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, group, e.time, -1L, e.stageIds))
    touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    touch()
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    submitted.add(e.stageInfo.stageId); touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAgg.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.output += m.outputMetrics.bytesWritten
      }
    }
    touch()
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD && !i.storageLevel.isValid) blocksDropped += 1
    touch()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batches.add(Batch(d("triggerExecution"), d("addBatch"), d("queryPlanning"), d("walCommit"),
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum,
        System.currentTimeMillis()))
      touch()
    }
  }

  /** Listen to a new session. Job and stage ids restart with every
    * SparkContext, so what was recorded for the previous one is dropped.
    */
  def install(spark: SparkSession): Unit = {
    jobs.clear(); submitted.clear(); stageAgg.clear()
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streams)
  }

  /** Listener events arrive asynchronously; wait until every started job
    * has ended and no event has arrived for a short quiet period.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    while (System.currentTimeMillis() < deadline &&
      (jobs.values.asScala.exists(_.end < 0) || System.currentTimeMillis() - lastEvent < 300))
      Thread.sleep(50)
  }
}

object Tracer {
  final case class Job(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var fetchWaitMs = 0L
    var spill = 0L; var output = 0L
  }
  final case class Batch(triggerMs: Long, addBatchMs: Long, planMs: Long, walMs: Long,
                         stateRows: Long, stateBytes: Long, at: Long)

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def cachedScan(p: SparkPlan): Boolean = find(p)(_.nodeName.startsWith("InMemoryTableScan")).isDefined
  }

  def codegenCounters(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def pinnedBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def probe(df: DataFrame, before: (Long, Long), sc: SparkContext): OpProbe = {
    val phases = scala.util.Try(df.queryExecution.tracker.phases).getOrElse(Map.empty)
    def ms(k: String): Long = phases.get(k).map(_.durationMs).getOrElse(0L)
    val after = codegenCounters()
    val cached = scala.util.Try(PlanWalk.cachedScan(df.queryExecution.executedPlan)).getOrElse(false)
    OpProbe(ms("analysis"), ms("optimization"), ms("planning"), after._1 - before._1, cached,
      pinnedBytes(sc))
  }

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    clipped.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => total += ce - cs }
    total
  }

  def jobsOf(t: Tracer, opId: String, lo: Long, hi: Long): Seq[Job] =
    t.jobs.values.asScala.toSeq.filter(j =>
      j.group == opId || (!j.group.startsWith("op-") && j.start >= lo && j.start <= hi))
}
