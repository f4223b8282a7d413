package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}

/** JVM side of the benchmark: one workload, one client, closed loop.
  *
  * Builds the session, warms up, runs the timed phase with no listener
  * attached, then (trace=1) a second timed phase with the tracer's
  * listeners attached. The outputs the correctness check compares are
  * written outside the timed phases: for the query workloads by the
  * first, cold pass of the warm-up, which a noop pass over every op
  * follows so that timing starts near steady state; for etl_stream after
  * the timed phases, so that the check covers every day they processed.
  * Set-up time runs from the start to the first timed op. Everything it
  * measures goes to one JSON file (`out=`); the statistics are computed
  * by perfbench/run.py.
  *
  * The timed phases share the time left before `deadline_ms` (epoch
  * ms) with the check that follows them, and a phase that reaches its
  * share stops after the op in flight, mid-pass if need be. On a normal
  * run no share is reached; on a much slower program the run still ends
  * in time and reports the slower ops instead of being killed.
  *
  * Arguments are key=value pairs: workload, data, work, out, seconds,
  * min_ops, trace, cores, deadline_ms, ops (comma list, query
  * workloads), warm_days (etl).
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val seconds = conf("seconds").toDouble
    val minOps = conf("min_ops").toInt
    val cores = conf("cores").toInt
    val t0 = System.nanoTime
    val deadline = t0 + (conf("deadline_ms").toLong - System.currentTimeMillis) * 1000000L
    val spark = GraftSession.build(s"local[$cores]", "perfbench")
    val buildS = secs(System.nanoTime - t0)
    val wl: Workload = conf("workload") match {
      case "etl_stream" => new StatementStream(spark, conf("data"), conf("work"),
        conf("warm_days").toInt)
      case _ => new QueryMix(spark, conf("data"), conf("work"), conf("ops").split(",").toSeq)
    }
    val tw = System.nanoTime
    def check(): Map[String, Any] = {
      val tc = System.nanoTime
      wl.check() + ("check_s" -> secs(System.nanoTime - tc))
    }
    val early = if (wl.checkBeforeTiming) Some(check()) else None
    val warmupOps = (0 until wl.warmupLen).map { i =>
      val s = System.nanoTime
      val err = attempt(wl.run(i, None))
      Map("name" -> wl.name(i), "dur_s" -> secs(System.nanoTime - s), "err" -> err)
    }
    wl.advance(wl.warmupLen)
    val warmupS = secs(System.nanoTime - tw)
    val setupS = secs(System.nanoTime - t0)
    val tracing = conf("trace") == "1"
    // an equal share of the time left for each phase still to run
    def endBy(phasesLeft: Int): Long = {
      val now = System.nanoTime
      now + math.max(0L, deadline - now) / phasesLeft
    }
    val checkAfter = if (early.isEmpty) 1 else 0
    val untraced = timedPhase(wl, seconds, minOps,
      endBy(1 + (if (tracing) 1 else 0) + checkAfter), None)
    val rssKb = vmHwmKb()
    val traced = if (tracing) {
      val tracer = new Tracer(spark, wl)
      try Some((timedPhase(wl, seconds, minOps, endBy(1 + checkAfter), Some(tracer)), tracer))
      finally tracer.detach()
    } else None
    val checked = early.getOrElse(check())
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> conf("workload"),
      "cores" -> cores,
      "setup_s" -> setupS, "session_build_s" -> buildS, "warmup_s" -> warmupS,
      "workload_init_s" -> (secs(tw - t0) - buildS),
      "warmup_ops" -> warmupOps,
      "peak_rss_kb" -> rssKb,
      "untraced" -> untraced.json,
      "check" -> checked,
      "settings" -> settings(spark))
    traced.foreach { case (phase, tracer) =>
      result("traced") = phase.json
      result("spans") = tracer.spans.toSeq.map(_.json)
    }
    Files.writeString(Paths.get(conf("out")), Json(result))
    spark.stop()
  }

  def secs(ns: Long): Double = ns / 1e9

  /** Runs f; returns "" or the failure, for the op records. */
  def attempt(f: => Unit): String = try { f; "" } catch {
    case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
  }

  /** Closed loop, one client: the next op is issued only after the
    * previous one returns. Runs at least `minOps` ops and at least
    * `seconds`, and stops only at a pass boundary, so every run measures
    * whole passes over the same op list, unless the clock passes `endBy`
    * (ns): then it stops after the op in flight and marks the phase cut. */
  def timedPhase(wl: Workload, seconds: Double, minOps: Int, endBy: Long,
      tracer: Option[Tracer]): Phase = {
    val cpu0 = processCpuNs()
    val start = System.nanoTime
    val ops = mutable.ArrayBuffer[OpRec]()
    var i = 0
    def more = wl.available(i) && (i < minOps || i % wl.passLen != 0 ||
      System.nanoTime - start < seconds * 1e9)
    var cut = false
    while (!cut && more) {
      val name = wl.name(i)
      tracer.foreach(_.beginOp(i, name))
      val s = System.nanoTime
      val err = attempt(wl.run(i, tracer))
      val e = System.nanoTime
      val metrics = tracer.map(_.endOp(i, name)).getOrElse(Map.empty)
      ops += OpRec(name, secs(s - start), secs(e - s), err, metrics)
      i += 1
      cut = e > endBy && more
    }
    wl.advance(i)
    Phase(secs(System.nanoTime - start), secs(processCpuNs() - cpu0), ops.toSeq, cut)
  }

  /** CPU time of the whole driver JVM (all threads, executors included). */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set of this (driver) JVM, from /proc/self/status. */
  def vmHwmKb(): Long = scala.io.Source.fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  /** graft's own settings as the run saw them, recorded, never changed. */
  def settings(spark: SparkSession): Map[String, Any] = {
    val keys = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.memory.storageFraction", "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.driver.maxResultSize",
      "spark.sql.codegen.cache.maxEntries")
    keys.map(k => k -> spark.conf.getOption(k).getOrElse("")).toMap ++
      Map("env" -> sys.env.filter(_._1.startsWith("SPARK_GRAFT_")),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
  }
}

final case class OpRec(name: String, startS: Double, durS: Double, err: String,
    metrics: Map[String, Any]) {
  def json: Map[String, Any] = Map("name" -> name, "start_s" -> startS,
    "dur_s" -> durS, "err" -> err, "m" -> metrics)
}

final case class Phase(wallS: Double, cpuS: Double, ops: Seq[OpRec], cut: Boolean) {
  def json: Map[String, Any] = Map("wall_s" -> wallS, "cpu_s" -> cpuS, "ops" -> ops.map(_.json),
    "cut" -> cut)
}

/** One workload: the ops of its closed loop, its warm-up and the
  * outputs its correctness check reads. */
trait Workload {
  /** Ops per pass; the timed loop only stops at a pass boundary. */
  def passLen: Int
  def name(i: Int): String
  def available(i: Int): Boolean = true
  /** Run op i (its index within the current timed phase). */
  def run(i: Int, tracer: Option[Tracer]): Unit
  /** Called after the warm-up or a timed phase ran `n` ops. */
  def advance(n: Int): Unit = ()
  /** Ops the warm-up runs before anything is timed. */
  def warmupLen: Int
  /** Whether check() runs first in the warm-up, or after the timed phases. */
  def checkBeforeTiming: Boolean
  def check(): Map[String, Any]
  /** Graft module that owns op i, for per-module attribution. */
  def module(name: String): String
}

/** olap_scan and corpus_dag: each op is one registered query, its
  * whole result written to the `noop` sink. A query may appear more than
  * once in a pass; the warm-up and the check run each one once, so the
  * pass must list every distinct query before its first repeat. */
final class QueryMix(spark: SparkSession, data: String, work: String,
    ops: Seq[String]) extends Workload {
  private val fns = ops.map(n => n -> SparkEntry.queries(n)).toMap
  require(ops.take(fns.size).distinct.size == fns.size,
    "every distinct query must come before the first repeat")
  def passLen: Int = ops.size
  def name(i: Int): String = ops(i % ops.size)

  def run(i: Int, tracer: Option[Tracer]): Unit = {
    val fn = fns(name(i))
    tracer match {
      case None => noop(fn(spark, data))
      case Some(t) =>
        val df = t.span("build")(fn(spark, data))
        t.span("plan")(df.queryExecution.executedPlan)
        t.span("exec")(noop(df))
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def warmupLen: Int = fns.size
  def checkBeforeTiming: Boolean = true

  /** Each op's result and the aux dumps its oracle reads, written the
    * way graft.Verify writes them, plus the oracle SQL. */
  def check(): Map[String, Any] = {
    val out = s"$work/check"
    val aux = s"$work/check_aux"
    val failed = mutable.LinkedHashMap[String, String]()
    val opRecs = ops.distinct.map { n =>
      val s = System.nanoTime
      try fns(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
      catch { case e: Throwable => failed(n) = e.toString.take(300) }
      Map("name" -> n, "dur_s" -> Harness.secs(System.nanoTime - s), "err" -> failed.getOrElse(n, ""))
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    val auxNames = SparkEntry.auxDumps.keys.filter(a =>
      oracles.values.exists(_.contains(s"__AUX__/$a"))).toSeq.sorted
    auxNames.foreach { a =>
      try SparkEntry.auxDumps(a)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(s"$aux/$a")
      catch { case e: Throwable => failed(s"aux:$a") = e.toString.take(300) }
    }
    val outAbs = new java.io.File(out).getAbsolutePath
    val auxAbs = new java.io.File(aux).getAbsolutePath
    Files.writeString(Paths.get(s"$work/oracle_sql.json"), Json(oracles.map { case (k, v) =>
      k -> v.replace("__AUX__", auxAbs).replace("__OUT__", outAbs) }))
    Map("results_dir" -> outAbs, "aux" -> auxNames, "failed" -> failed.toMap, "ops" -> opRecs)
  }

  private val moduleOf: Map[String, String] = {
    import graft.operators._
    Seq("Relational" -> Relational.queries, "StreamingTwins" -> StreamingTwins.queries,
      "Dedup" -> Dedup.queries, "Similarity" -> Similarity.queries,
      "TextAnalysis" -> TextAnalysis.queries, "FundEtl" -> FundEtl.queries,
      "Multimodal" -> Multimodal.queries)
      .flatMap { case (m, q) => q.keys.map(_ -> m) }.toMap
  }
  def module(name: String): String = moduleOf.getOrElse(name, "other")
}

/** etl_stream: one op is one statement day. The day's folder is moved
  * into the directory the public statement pipeline watches, and the op
  * ends when processAllAvailable() returns. */
final class StatementStream(spark: SparkSession, data: String, work: String,
    warmDays: Int) extends Workload {
  private val days = new java.io.File(s"$data/days").list().sorted.toSeq
  private val watch = s"$work/watch"
  private val extractedDir = s"$work/extracted"
  private val pairsDir = s"$work/pairs"
  private val topkDir = s"$work/topk"
  private val ddTbl = "perfbench_dedup_index"
  private val annTbl = "perfbench_ann_index"
  private var next = 0
  new java.io.File(watch).mkdirs()

  // quantizer centroids: four statements of the first day, embedded with
  // the featurizer the pipeline itself uses (as EventStreamsSpec does)
  private val centroids: Seq[(Long, Seq[Float])] =
    graft.sources.BinaryFiles.scan(spark, "*.txt", s"$data/days/${days.head}")
      .select(xxhash64(col("file_name")).as("id"), col("file_name"),
        graft.functions.VectorFunctions.hashedTextEmbedding(
          col("content").cast("string")).as("embedding"))
      .orderBy(col("file_name")).limit(4).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](2))).toSeq

  private val query: StreamingQuery = graft.streaming.EventStreams.statementPipeline(
    spark, watch, extractedDir, ddTbl, pairsDir, centroids, annTbl, topkDir,
    s"$work/checkpoint")

  def passLen: Int = 1
  def name(i: Int): String = days(next + i)
  override def available(i: Int): Boolean = next + i < days.size

  def run(i: Int, tracer: Option[Tracer]): Unit = {
    val d = days(next + i)
    Files.move(Paths.get(s"$data/days/$d"), Paths.get(s"$watch/$d"))
    query.processAllAvailable()
  }

  override def advance(n: Int): Unit = next += n

  def warmupLen: Int = warmDays
  def checkBeforeTiming: Boolean = false

  /** After the timed phases: the batch twin over every processed day
    * and the full pair recompute, next to the stream's own outputs. */
  def check(): Map[String, Any] = {
    query.stop()
    import graft.operators.{Dedup, FundEtl}
    val failed = mutable.LinkedHashMap[String, String]()
    def attempt(what: String)(f: => Unit): Unit =
      try f catch { case e: Throwable => failed(what) = e.toString.take(300) }
    attempt("ingest_full")(FundEtl.ingestFrom(spark, watch).coalesce(1)
      .write.mode("overwrite").parquet(s"$work/check/ingest_full"))
    val docs = FundEtl.loadStatements(spark, watch)
      .select(xxhash64(col("file_name")).as("doc_id"), col("content").as("text"),
        col("batch_date"))
    attempt("pairs_batch")(Dedup.minhashPairsOf(docs.select("doc_id", "text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$work/check/pairs_batch"))
    attempt("doc_days")(docs.select("doc_id", "batch_date").coalesce(1)
      .write.mode("overwrite").parquet(s"$work/check/doc_days"))
    def rows(t: String): Long = try spark.table(t).count() catch { case _: Throwable => -1L }
    Map("extracted_dir" -> extractedDir, "pairs_dir" -> pairsDir, "topk_dir" -> topkDir,
      "watch_dir" -> watch, "days_processed" -> next,
      "dedup_index_rows" -> rows(ddTbl), "ann_index_rows" -> rows(annTbl),
      "failed" -> failed.toMap)
  }

  def module(name: String): String = "EventStreams"
}

/** A span: name, interval (ns since the tracer started), parent, op. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long) {
  def json: Map[String, Any] = Map("id" -> id, "parent" -> parent, "op" -> op,
    "name" -> name, "start_ns" -> start, "end_ns" -> end)
}

/** The traced run's recorder. Spans are kept in memory and written with
  * the result; Spark jobs come from a SparkListener and are attributed
  * to the op by the job group set per op (query workloads) or by the
  * micro-batch id Spark sets on every job of a batch (etl_stream). */
final class Tracer(spark: SparkSession, wl: Workload) extends AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext
  private val originNs = System.nanoTime
  private val originMs = System.currentTimeMillis
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var opIndex = -1
  private var opSpan = -1
  private val root = { spans += Span(0, -1, -1, "workload", 0L, -1L); 0 }

  private final class Job(val id: Int, val startMs: Long, val group: String,
      val desc: String, val batch: Long, val stages: Seq[Int]) { var endMs = -1L }
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stageMetrics = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Double]]()
  private val failedTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val scans = new ConcurrentLinkedQueue[(Long, Long)]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs.add(new Job(e.jobId, e.time, prop("spark.jobGroup.id"),
        prop("spark.job.description"),
        scala.util.Try(prop("streaming.sql.batchId").toLong).getOrElse(-1L),
        e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.asScala.find(_.id == e.jobId).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null) stageMetrics.put(e.stageInfo.stageId, Map(
        "tasks" -> e.stageInfo.numTasks.toDouble,
        "executor_run_s" -> m.executorRunTime / 1e3,
        "executor_cpu_s" -> m.executorCpuTime / 1e9,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        "result_bytes" -> m.resultSize.toDouble,
        "gc_s" -> m.jvmGCTime / 1e3,
        "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
        "input_rows" -> m.inputMetrics.recordsRead.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!e.taskInfo.successful) failedTasks.merge(e.stageId, 1, _ + _)
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val files = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      scans.add((System.nanoTime, files))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.add(Map(
        "batch" -> e.progress.batchId, "rows" -> e.progress.numInputRows) ++
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue })
  }
  sc.addSparkListener(jobListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def detach(): Unit = {
    spans(root) = spans(root).copy(end = now)
    Bridge.drainListeners(sc)
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    sc.clearJobGroup()
  }

  private def now: Long = System.nanoTime - originNs
  private def msToNs(ms: Long): Long = (ms - originMs) * 1000000L

  def span[T](name: String)(f: => T): T = {
    val id = spans.size
    val s = now
    spans += Span(id, stack.headOption.getOrElse(-1), opIndex, name, s, -1)
    stack = id :: stack
    try f finally {
      stack = stack.tail
      spans(id) = spans(id).copy(end = now)
    }
  }

  def beginOp(i: Int, name: String): Unit = {
    Bridge.drainListeners(sc)
    jobs.clear(); scans.clear(); progress.clear()
    sc.setJobGroup(s"perfbench-op-$i", name, interruptOnCancel = false)
    opIndex = i
    opSpan = spans.size
    spans += Span(opSpan, root, i, s"op:$name", now, -1)
    stack = List(opSpan)
  }

  /** Closes op i's span, attaches its jobs as child spans and returns
    * the op's layer counters. */
  def endOp(i: Int, name: String): Map[String, Any] = {
    spans(opSpan) = spans(opSpan).copy(end = now)
    stack = Nil
    Bridge.drainListeners(sc)
    val prog = progress.asScala.toSeq
    val batches = prog.map(_("batch").asInstanceOf[Long]).toSet
    val opJobs = jobs.asScala.toSeq.filter(j =>
      j.group == s"perfbench-op-$i" || batches.contains(j.batch))
    val op = spans(opSpan)
    val children = spans.toSeq.filter(s => s.parent == opSpan)
    opJobs.sortBy(_.startMs).foreach { j =>
      val s = math.max(msToNs(j.startMs), op.start)
      val e = math.min(math.max(msToNs(if (j.endMs < 0) j.startMs else j.endMs), s), op.end)
      val parent = children.find(c => c.start <= s && s <= c.end).map(_.id).getOrElse(opSpan)
      spans += Span(spans.size, parent, i, s"job:${stageOf(j.desc)}", s, e)
    }
    val jobSpans = spans.toSeq.filter(s => s.op == i && s.name.startsWith("job:"))
    val stageIds = opJobs.flatMap(_.stages).distinct
    val sm = stageIds.flatMap(id => Option(stageMetrics.get(id)))
    def sum(k: String) = sm.map(_.getOrElse(k, 0.0)).sum
    val base = Map[String, Any](
      "module" -> wl.module(name),
      "jobs" -> opJobs.size, "stages" -> sm.size, "tasks" -> sum("tasks"),
      "failed_tasks" -> stageIds.map(id => failedTasks.getOrDefault(id, 0).toInt).sum,
      "files" -> scans.asScala.map(_._2).sum) ++
      Seq("executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
        "shuffle_read_bytes", "spill_bytes", "result_bytes", "gc_s", "input_bytes",
        "input_rows").map(k => k -> sum(k)) ++
      children.map(c => s"${c.name}_s" -> (c.end - c.start) / 1e9)
    val stream = if (prog.isEmpty) Map.empty[String, Any] else {
      val byStage = jobSpans.groupBy(_.name.stripPrefix("job:"))
        .map { case (k, v) => s"stage.${k}_s" -> v.map(s => (s.end - s.start) / 1e9).sum }
      Map("progress" -> prog) ++ byStage
    }
    base ++ stream
  }

  /** Groups the streaming batch's jobs by the descriptions the
    * overlapped stages set. */
  private def stageOf(desc: String): String =
    if (desc.contains("dedup")) "dedup"
    else if (desc.startsWith("ann batch") || desc.contains("ann index")) "ann"
    else "extract"
}

/** Minimal JSON writer for the result file (maps, seqs, strings, numbers). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
