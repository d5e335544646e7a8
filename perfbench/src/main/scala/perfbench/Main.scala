package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, struct, to_json}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.sources.Ingest

/** The benchmark's JVM side: sets up a session, runs one workload's ops in a
  * closed loop from one client thread for the requested number of seconds,
  * checks every op's output, and writes the metrics as JSON. `run.py` builds
  * this, generates the inputs and starts it; see `perfbench/README.md`.
  *
  * Args: workload seed seconds trace(0|1) inputsDir warmInputsDir workDir
  *       cpus configJson expectedJson resultJson
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        inputs: String, warmInputs: String, work: String, cpus: Int,
                        config: String, expected: String, out: String)

  def main(argv: Array[String]): Unit = {
    require(argv.length == 11, s"expected 11 arguments, got ${argv.length}")
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1", argv(4), argv(5),
      argv(6), argv(7).toInt, argv(8), argv(9), argv(10))
    val b = new Bench(a)
    val result = try b.run() finally b.stop()
    Files.write(Paths.get(a.out), compact(render(result)).getBytes("UTF-8"))
  }
}

object Bench {
  final case class Sample(id: String, row: String, corpus: String, phase: String, round: Int,
                          startMs: Long, durNs: Long, ok: Boolean, rows: Long, digest: String,
                          error: String, probe: Option[OpProbe], consumed: Long, writtenBytes: Long)
}

final class Bench(a: Main.Args) {
  import Bench._
  implicit private val formats: Formats = DefaultFormats

  private val cfg = parse(new File(a.config))
  private val rows = (cfg \ "workloads" \ a.workload \ "rows").extract[Seq[String]]
  private val setupReps = (cfg \ "session" \ "setup_reps").extract[Int]
  private val sparkConf = (cfg \ "session" \ "spark_conf").extract[Map[String, String]]
  private val familyRows = (cfg \ "families").extract[Map[String, Seq[String]]]
  private val familyOf = familyRows.toSeq.flatMap { case (f, rs) => rs.map(_ -> f) }.toMap
  private val families = familyRows.keys.toSeq.sorted
  // expected row count and digest per row, from DuckDB's oracle result or
  // the stored ones (run.py picks them); rows without one are checked for
  // consistency only
  private val expected: Map[String, (Long, String)] =
    (parse(new File(a.expected)) \ "ops").extract[Map[String, JValue]].map { case (k, v) =>
      k -> ((v \ "rows").extract[Long], (v \ "digest").extract[String])
    }

  private val queries = graft.SparkEntry.queries
  private val tracer = if (a.trace) Some(new Tracer) else None
  private var spark: SparkSession = _

  private val samples = ArrayBuffer.empty[Sample]
  private val spans = ArrayBuffer.empty[Span]
  private var opCounter = 0

  private def newSession(): Unit = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val builder = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    sparkConf.foreach { case (k, v) => builder.config(k, v.replace("<cpus>", a.cpus.toString)) }
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tracer.foreach(_.install(spark))
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  private def copyTree(src: String, dst: String): String = {
    val s = Paths.get(src)
    val d = Paths.get(dst)
    deleteTree(d)
    Files.walk(s).iterator().asScala.foreach { p =>
      val t = d.resolve(s.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    }
    d.toAbsolutePath.toString
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(x => Files.deleteIfExists(x))

  private def dirBytes(p: String): Long = {
    val path = Paths.get(p)
    if (!Files.exists(path)) 0L
    else Files.walk(path).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  /** One op: the call plus full materialization of its rows (with the
    * output digest computed in the same pass), timed as a unit.
    */
  private def runOp(row: String, corpus: String, phase: String, round: Int, parent: String,
                    consumed: Long = 0L, outDir: String = null)(call: => DataFrame): Unit = {
    opCounter += 1
    val id = s"op-$opCounter"
    tracer.foreach(_ => spark.sparkContext.setJobGroup(id, row, interruptOnCancel = false))
    val before = Tracer.codegenCounters()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val s = try {
      val df = call
      val r = Digest.of(df)
      val dur = System.nanoTime() - t0
      val probe = tracer.map(_ => Tracer.probe(df, before, spark.sparkContext))
      Sample(id, row, corpus, phase, round, startMs, dur, ok = true, r.rows, r.digest, "",
        probe, consumed, Option(outDir).map(dirBytes).getOrElse(0L))
    } catch {
      case e: Throwable =>
        Sample(id, row, corpus, phase, round, startMs, System.nanoTime() - t0, ok = false, -1L, "",
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}", None, consumed, 0L)
    } finally tracer.foreach(_ => spark.sparkContext.clearJobGroup())
    if (!s.ok) System.err.println(s"[perfbench] $row on $corpus FAILED: ${s.error}")
    samples += s
    spans += Span("op", id, row, corpus, startMs, startMs + s.durNs / 1000000L, parent)
  }

  private def shuffled(xs: Seq[String], stream: Long): Seq[String] =
    new scala.util.Random(a.seed * 1000003L + stream).shuffle(xs)

  // ---- workloads ---------------------------------------------------------

  private val ServeTables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** serve: fixed tables; each set-up repetition opens a fresh copy (new
    * paths, so memos and served artifacts are rebuilt), runs one fill round
    * that builds them and one more round that takes the memo-hit paths for
    * the first time (their plans compile then, not in the first timed
    * round); the timed rounds then run the rows in seeded shuffled orders.
    */
  private def serveSetup(dir: String, rep: Int): Unit = {
    newSession()
    ServeTables.foreach { t =>
      if (t == "events") graft.Tables.events(spark, dir).count()
      else spark.read.parquet(s"$dir/$t.parquet").count()
    }
    for (pass <- 1 to 2)
      shuffled(rows, -2L * rep - pass).foreach(r =>
        runOp(r, "tables", "fill", rep, s"setup-$rep")(queries(r)(spark, dir)))
  }

  private def serveRound(dir: String, round: Int): Unit =
    shuffled(rows, round).foreach(r => runOp(r, "tables", "timed", round, s"round-$round")(queries(r)(spark, dir)))

  /** ingest_stream: raw-export ingest with a normalized write and read-back,
    * a stream replay over sharded inputs and a persisted index. Every cycle
    * runs on a fresh copy of the inputs, so every write, index and state
    * store is rebuilt.
    */
  private lazy val truth = parse(new File(s"${a.inputs}/exports/truth.json"))
  private lazy val warmTruth = parse(new File(s"${a.warmInputs}/exports/truth.json"))

  /** Both raw-export dialects read and normalized through the public
    * `graft.sources.Ingest` calls, written with `writeNormalized`, and read
    * back; the op's rows are the normalized conversations and messages.
    */
  private def ingest(dir: String, out: String): DataFrame = {
    val claude = Ingest.readClaude(spark, s"$dir/exports/claude_export.json")
    val chatgpt = Ingest.readChatgpt(spark, s"$dir/exports/chatgpt_export.json")
    val msgCols = Seq("id", "conversation_id", "parent_id", "sender", "role", "content",
      "created_at", "model", "order_index").map(col)
    Ingest.writeNormalized(
      Ingest.claudeConversations(claude).unionByName(Ingest.chatgptConversations(chatgpt)),
      Ingest.claudeMessages(claude).select(msgCols: _*)
        .unionByName(Ingest.chatgptMessages(spark, chatgpt).toDF().select(msgCols: _*)),
      out)
    def rowsOf(kind: String, df: DataFrame) =
      df.select(lit(kind).as("kind"), to_json(struct(df.columns.sorted.map(col).toIndexedSeq: _*)).as("row"))
    rowsOf("conversation", spark.read.parquet(s"$out/conversations"))
      .unionByName(rowsOf("message", spark.read.parquet(s"$out/messages")))
  }

  private def ingestCycle(dir: String, t: JValue, phase: String, round: Int, parent: String,
                          corpus: String): Unit =
    rows.foreach { r =>
      def n(path: String*) = path.foldLeft(t)(_ \ _).extract[Long]
      r match {
        case "ingest_exports" =>
          val out = s"$dir/normalized"
          runOp(r, corpus, phase, round, parent, n("claude", "messages") + n("chatgpt", "messages"),
            out)(ingest(dir, out))
        case _ =>
          // the document-stream replays consume every document
          val consumed = if (r.startsWith("w")) n("documents") else 0L
          runOp(r, corpus, phase, round, parent, consumed)(queries(r)(spark, dir))
      }
    }

  // ---- run ---------------------------------------------------------------

  def run(): JValue = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val load1Start = osBean.getSystemLoadAverage
    val codegen0 = Tracer.codegenCounters()
    val work = Paths.get(a.work, a.workload).toAbsolutePath.toString
    val serve = a.workload == "serve"
    // untimed input preparation: one fresh copy per set-up repetition
    val prepStart = System.currentTimeMillis()
    val repDirs = (1 to setupReps).map(r =>
      copyTree(if (serve) a.inputs else a.warmInputs, s"$work/setup$r"))
    val prepMs = System.currentTimeMillis() - prepStart

    val setupS = (1 to setupReps).map { rep =>
      val t0 = System.nanoTime()
      val s0 = System.currentTimeMillis()
      if (serve) serveSetup(repDirs(rep - 1), rep)
      else {
        newSession()
        ingestCycle(repDirs(rep - 1), warmTruth, "fill", rep, s"setup-$rep", "warmup")
      }
      spans += Span("setup", s"setup-$rep", "", "", s0, System.currentTimeMillis(), "run")
      (System.nanoTime() - t0) / 1e9
    }
    // the first repetition also carries JVM start and the JIT warm-up
    val setupFirstS = (spans.find(_.id == "setup-1").get.endMs - jvmStart - prepMs) / 1000.0
    tracer.foreach(_.drain())
    val dropped0 = tracer.map(_.blocksDropped).getOrElse(0L)
    val batches0 = tracer.map(_.batches.size).getOrElse(0)

    // timed rounds, closed loop, until the requested seconds have elapsed
    val roundWalls = ArrayBuffer.empty[Double]
    val timedStart = System.nanoTime()
    val timedStartMs = System.currentTimeMillis()
    var round = 0
    var prevDir: String = null
    while (round == 0 || (System.nanoTime() - timedStart) / 1e9 < a.seconds) {
      round += 1
      val dir = if (serve) repDirs.last else copyTree(a.inputs, s"$work/cycle$round")
      val t0 = System.nanoTime()
      val s0 = System.currentTimeMillis()
      if (serve) serveRound(dir, round)
      else ingestCycle(dir, truth, "timed", round, s"round-$round", "cycle")
      roundWalls += (System.nanoTime() - t0) / 1e9
      spans += Span("round", s"round-$round", "", "", s0, System.currentTimeMillis(), "run")
      if (!serve) { Option(prevDir).foreach(p => deleteTree(Paths.get(p))); prevDir = dir }
    }
    val timedEndMs = System.currentTimeMillis()
    val persistentRdds = spark.sparkContext.getPersistentRDDs.size
    tracer.foreach(_.drain())
    val load1End = osBean.getSystemLoadAverage
    val codegen1 = Tracer.codegenCounters()

    // ---- output checks ----------------------------------------------------
    val failedIds = scala.collection.mutable.Set.empty[String]
    val reasons = ArrayBuffer.empty[String]
    def fail(s: Sample, why: String): Unit = { failedIds += s.id; reasons += s"${s.row}@${s.corpus}: $why" }
    samples.filterNot(_.ok).foreach(s => fail(s, s.error))
    val okSamples = samples.filter(_.ok)
    // the same row on the same inputs must always give the same output
    okSamples.groupBy(s => (s.row, s.corpus)).foreach { case (_, ss) =>
      val ref = ss.head
      ss.filter(s => s.rows != ref.rows || s.digest != ref.digest)
        .foreach(s => fail(s, s"output differs between runs of the op: ${s.rows}/${s.digest} vs ${ref.rows}/${ref.digest}"))
    }
    // expected digests
    okSamples.filter(s => s.corpus != "warmup").foreach { s =>
      expected.get(s.row).foreach { case (er, ed) =>
        if (s.rows != er || s.digest != ed)
          fail(s, s"expected $er/$ed, got ${s.rows}/${s.digest}")
      }
    }
    // ingest: the normalized rows read back must equal what the generator planted
    okSamples.filter(_.row.startsWith("ingest_")).foreach { s =>
      val t = if (s.corpus == "warmup") warmTruth else truth
      val want = Seq("claude", "chatgpt").map(p =>
        (t \ p \ "conversations").extract[Long] + (t \ p \ "messages").extract[Long]).sum
      if (s.rows != want) fail(s, s"read back $want normalized rows expected, got ${s.rows}")
    }

    // ---- metrics -----------------------------------------------------------
    val timed = samples.filter(s => s.phase == "timed")
    val timedOk = timed.filter(s => !failedIds(s.id))
    def pct(xs: Seq[Double], p: Double): Double = {
      val v = xs.sorted
      if (v.isEmpty) 0.0
      else {
        val pos = p * (v.size - 1)
        val lo = math.floor(pos).toInt
        val hi = math.min(lo + 1, v.size - 1)
        v(lo) + (v(hi) - v(lo)) * (pos - lo)
      }
    }
    def median(xs: Seq[Double]) = pct(xs, 0.5)
    val lat = timedOk.map(_.durNs / 1e6).toSeq
    val timedWall = roundWalls.sum
    val produced = if (serve) timedOk.map(_.rows).sum else timedOk.map(_.consumed).sum
    val peakRssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

    def m(v: Double, unit: String): JValue = JObject("value" -> JDouble(v), "unit" -> JString(unit))
    val endToEnd = Seq(
      "setup_s" -> m(median(setupS), "s"),
      "wall_s" -> m(median(roundWalls.toSeq), "s"),
      "op_p50_ms" -> m(pct(lat, 0.5), "ms"),
      "op_p90_ms" -> m(pct(lat, 0.9), "ms"),
      "rows_per_s" -> m(produced / timedWall, "rows/s"),
      "peak_rss_mb" -> m(peakRssMb, "MB"))

    val perLayer: Seq[(String, JValue)] = tracer.map { t =>
      val MB = 1024.0 * 1024.0
      val fam = families.flatMap { f =>
        val ss = timed.filter(s => familyOf.get(s.row).contains(f))
        Seq(s"$f.busy_s" -> m(ss.map(_.durNs).sum / 1e9, "s"), s"$f.ops" -> m(ss.size.toDouble, "count"))
      }
      val ing = timed.filter(_.row.startsWith("ingest_"))
      val bs = t.batches.asScala.toSeq.drop(batches0).filter(_.at >= timedStartMs)
      val probes = timedOk.flatMap(_.probe)
      // jobs of each timed op; the op's self time is its wall time minus the
      // time its jobs cover (the driver gap)
      val opJobs = timed.map { s =>
        val hi = s.startMs + s.durNs / 1000000L
        s -> Tracer.jobsOf(t, s.id, s.startMs, hi)
      }
      opJobs.foreach { case (s, js) => js.foreach(j =>
        spans += Span("job", s"job-${j.id}", s.row, s.corpus, j.start, j.end, s.id)) }
      val jobStages = opJobs.flatMap(_._2).flatMap(_.stages).distinct
      val ran = jobStages.filter(t.submitted.contains)
      val aggs = ran.flatMap(st => Option(t.stageAgg.get(st)))
      val gapMs = opJobs.map { case (s, js) =>
        val hi = s.startMs + s.durNs / 1000000L
        (hi - s.startMs) - Tracer.covered(js.map(j => (j.start, if (j.end < 0) hi else j.end)), s.startMs, hi)
      }.sum
      val taskRunS = aggs.map(_.runMs).sum / 1000.0
      fam ++ Seq(
        "ingest.busy_s" -> m(ing.map(_.durNs).sum / 1e9, "s"),
        "ingest.rows" -> m(ing.filter(_.ok).map(_.rows).sum.toDouble, "count"),
        "ingest.written_mb" -> m(ing.map(_.writtenBytes).sum / MB, "MB"),
        "stream.batches" -> m(bs.size.toDouble, "count"),
        "stream.trigger_ms" -> m(bs.map(_.triggerMs).sum.toDouble, "ms"),
        "stream.add_batch_ms" -> m(bs.map(_.addBatchMs).sum.toDouble, "ms"),
        "stream.plan_ms" -> m(bs.map(_.planMs).sum.toDouble, "ms"),
        "stream.wal_ms" -> m(bs.map(_.walMs).sum.toDouble, "ms"),
        "stream.state_rows" -> m(bs.map(_.stateRows).foldLeft(0L)(math.max).toDouble, "count"),
        "stream.state_mb" -> m(bs.map(_.stateBytes).foldLeft(0L)(math.max) / MB, "MB"),
        "stream.batch_p50_ms" -> m(pct(bs.map(_.triggerMs.toDouble), 0.5), "ms"),
        "stream.batch_p90_ms" -> m(pct(bs.map(_.triggerMs.toDouble), 0.9), "ms"),
        "memo.cached_scan_ops" -> m(probes.count(_.cachedScan).toDouble, "count"),
        "memo.cached_scan_ratio" -> m(if (probes.isEmpty) 0.0 else probes.count(_.cachedScan).toDouble / probes.size, "ratio"),
        "memo.pinned_mb" -> m(probes.map(_.pinnedBytes).foldLeft(0L)(math.max) / MB, "MB"),
        "memo.persistent_rdds" -> m(persistentRdds.toDouble, "count"),
        "memo.blocks_dropped" -> m((t.blocksDropped - dropped0).toDouble, "count"),
        "plan.analysis_ms" -> m(probes.map(_.analysisMs).sum.toDouble, "ms"),
        "plan.optimization_ms" -> m(probes.map(_.optimizationMs).sum.toDouble, "ms"),
        "plan.physical_ms" -> m(probes.map(_.physicalMs).sum.toDouble, "ms"),
        "codegen.compiles" -> m((codegen1._1 - codegen0._1).toDouble, "count"),
        "codegen.compile_ms" -> m((codegen1._2 - codegen0._2) / 1e6, "ms"),
        "codegen.timed_compiles" -> m(probes.map(_.compiles).sum.toDouble, "count"),
        "sched.jobs" -> m(opJobs.map(_._2.size).sum.toDouble, "count"),
        "sched.stages" -> m(jobStages.size.toDouble, "count"),
        "sched.stages_skipped" -> m((jobStages.size - ran.size).toDouble, "count"),
        "sched.tasks" -> m(aggs.map(_.tasks).sum.toDouble, "count"),
        "sched.driver_gap_ms" -> m(gapMs.toDouble, "ms"),
        "exec.task_run_s" -> m(taskRunS, "s"),
        "exec.task_cpu_s" -> m(aggs.map(_.cpuNs).sum / 1e9, "s"),
        "exec.core_util" -> m(taskRunS / ((timedEndMs - timedStartMs) / 1000.0 * a.cpus), "ratio"),
        "exec.gc_s" -> m(aggs.map(_.gcMs).sum / 1000.0, "s"),
        "exec.shuffle_read_mb" -> m(aggs.map(_.shuffleRead).sum / MB, "MB"),
        "exec.shuffle_write_mb" -> m(aggs.map(_.shuffleWrite).sum / MB, "MB"),
        "exec.fetch_wait_s" -> m(aggs.map(_.fetchWaitMs).sum / 1000.0, "s"),
        "exec.spill_mb" -> m(aggs.map(_.spill).sum / MB, "MB"),
        "exec.output_mb" -> m(aggs.map(_.output).sum / MB, "MB"),
        "run.ops" -> m(timed.size.toDouble, "count"),
        "run.rounds" -> m(round.toDouble, "count"),
        "trace.wall_s" -> m(median(roundWalls.toSeq), "s"),
        "setup.first_s" -> m(setupFirstS, "s"),
        "host.load1_start" -> m(load1Start, "load"),
        "host.load1_end" -> m(load1End, "load"))
    }.getOrElse(Nil)

    // per-op digests, so two commits can be compared on any seed
    val digests = samples.filter(_.ok).groupBy(s => (s.row, s.corpus)).toSeq.sortBy(_._1).map {
      case ((r, c), ss) => JObject("row" -> JString(r), "corpus" -> JString(c),
        "rows" -> JLong(ss.head.rows), "digest" -> JString(ss.head.digest))
    }
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    Files.write(Paths.get(a.work, s"digests-$tag.json"),
      compact(render(JArray(digests.toList))).getBytes("UTF-8"))
    Files.write(Paths.get(a.work, s"ops-$tag.jsonl"), samples.map(s => compact(render(JObject(
      "id" -> JString(s.id), "row" -> JString(s.row), "corpus" -> JString(s.corpus),
      "phase" -> JString(s.phase), "round" -> JLong(s.round), "ms" -> JDouble(s.durNs / 1e6),
      "ok" -> JBool(!failedIds(s.id)), "rows" -> JLong(s.rows))))).mkString("\n").getBytes("UTF-8"))
    if (a.trace) {
      val lines = (spans.map(s => JObject("workload" -> JString(a.workload), "kind" -> JString(s.kind),
        "id" -> JString(s.id), "row" -> JString(s.row), "corpus" -> JString(s.corpus),
        "start_ms" -> JLong(s.startMs), "end_ms" -> JLong(s.endMs), "parent" -> JString(s.parent)))
        ).map(j => compact(render(j)))
      Files.write(Paths.get(a.work, s"spans-$tag.jsonl"), lines.mkString("\n").getBytes("UTF-8"))
    }
    JObject(
      "correct" -> JBool(failedIds.isEmpty),
      "attempted" -> JLong(samples.size),
      "failed" -> JLong(failedIds.size),
      "metrics" -> JObject((if (a.trace) perLayer else endToEnd).toList),
      "info" -> JObject(
        "workload" -> JString(a.workload), "seed" -> JLong(a.seed), "cpus" -> JLong(a.cpus),
        "timed_ops" -> JLong(timed.size), "rounds" -> JLong(round),
        "setup_reps_s" -> JArray(setupS.map(JDouble(_)).toList),
        "setup_first_s" -> JDouble(setupFirstS),
        "load1_start" -> JDouble(load1Start), "load1_end" -> JDouble(load1End),
        "expected_rows" -> JArray(expected.keys.toList.sorted.map(JString(_))),
        "failures" -> JArray(reasons.take(20).map(JString(_)).toList)))
  }
}
