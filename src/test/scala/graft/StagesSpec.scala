package graft

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TestListeners
import scala.jdk.CollectionConverters._

/** graft.Stages — the one fork/join helper behind every overlapped
  * stage set: failure and completion ordering, typing and nesting,
  * job attribution, the seven streaming stage descriptions the tracer
  * keys on, a kernel whose stage fails mid-batch, and a source guard
  * that keeps it the only concurrency mechanism in main.
  */
class StagesSpec extends SparkTestBase {

  /** (group, description) of every job started while `body` runs
    * under job group `group`; the calling thread's own description is
    * cleared, so only the forks' descriptions appear. */
  private def jobsOf(group: String)(body: => Unit): Seq[(String, Option[String])] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Option[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        seen.add((prop("spark.jobGroup.id").getOrElse(""), prop("spark.job.description")))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, null, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      TestListeners.drain(sc)
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq.filter(_._1 == group)
  }

  test("a failing fork is rethrown only after its running siblings finish") {
    val finished = new AtomicBoolean(false)
    val first = new IllegalStateException("first fork")
    val third = new IllegalArgumentException("third fork")
    val e = intercept[IllegalStateException] {
      Stages.scope(spark) { s =>
        s.fork("fails at once") { throw first }
        s.fork("still running a job") {
          spark.sparkContext.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(1500))
          finished.set(true)
        }
        s.fork("fails too") { throw third }
      }
    }
    assert(e eq first, s"expected the first fork's failure, got $e")
    assert(finished.get, "the scope threw while a sibling fork was still running")
    assert(e.getSuppressed.toSeq == Seq(third),
      s"later failures must ride as suppressed: ${e.getSuppressed.toSeq}")
  }

  test("forks return typed results and scopes nest") {
    val (n, str) = Stages.scope(spark) { s =>
      val a = s.fork("outer count") { spark.range(10).count() }
      val b = s.fork("outer nested") {
        Stages.scope(spark) { inner =>
          val x = inner.fork("inner string") { "x" }
          val y = inner.fork("inner count") { spark.range(5).count() }
          x.join + y.join
        }
      }
      (a.join, b.join)
    }
    val typedN: Long = n
    val typedStr: String = str
    assert(typedN == 10L && typedStr == "x5")
  }

  test("fork jobs carry the caller's job group and their own description") {
    var callerDesc: Option[String] = None
    val jobs = jobsOf("stages-spec-group") {
      Stages.scope(spark) { s =>
        s.fork("fork one") { spark.range(3).count() }
        s.fork("fork two") {
          Stages.scope(spark)(_.fork("fork two, nested") { spark.range(4).count() })
        }
        spark.range(5).count() // the caller's own job, no description
      }
      callerDesc = Option(spark.sparkContext.getLocalProperty("spark.job.description"))
    }
    assert(jobs.map(_._2).toSet ==
      Set(Some("fork one"), Some("fork two, nested"), None), s"jobs: $jobs")
    assert(callerDesc.isEmpty, s"a fork's description leaked to the caller: $callerDesc")
  }

  test("statementPipelineApplyBatch runs its jobs under exactly the seven stage descriptions") {
    val fe = operators.FundEtl
    val tmp = java.nio.file.Files.createTempDirectory("graft_stages_stmt").toString
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val (ddTbl, annTbl) = (s"stages_spec_dd_$tag", s"stages_spec_ann_$tag")
    val day = fe.loadStatements(spark, s"${fe.statementsDir}/20240115")
    val centroids: Seq[(Long, Seq[Float])] = day
      .select(xxhash64(col("file_name")).as("id"),
        functions.VectorFunctions.hashedTextEmbedding(col("content")).as("embedding"))
      .orderBy(col("id")).limit(4)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    // two batches, so the second probes stored dedup and ANN indexes
    val names = day.select(col("file_name")).collect().map(_.getString(0)).sorted
    val halves = names.splitAt(names.length / 2)
    val jobs = try jobsOf("stages-spec-stmt") {
      Seq(halves._1, halves._2).zipWithIndex.foreach { case (ns, i) =>
        streaming.EventStreams.statementPipelineApplyBatch(
          day.filter(col("file_name").isin(ns.toSeq: _*)), i.toLong,
          s"$tmp/extracted", ddTbl, s"$tmp/pairs", centroids, annTbl,
          s"$tmp/topk", 2, 3)
      }
    } finally Seq(ddTbl, annTbl).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    assert(jobs.map(_._2).toSet.flatten == Set(
      "statement batch: dedup index (overlapped)",
      "statement batch: ann index (overlapped)",
      "statement batch: manifest write (overlapped)",
      "dedup batch: pairs (overlapped)",
      "dedup batch: index append (overlapped)",
      "ann batch: topk (overlapped)",
      "ann batch: index append (overlapped)"), s"jobs: $jobs")
  }

  test("a curation batch whose keeper append fails throws after its other stages, unmarked") {
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val tbl = s"stages_spec_keeper_$tag"
    val tmp = java.nio.file.Files.createTempDirectory("graft_stages_curation").toString
    // the probe reads (text_hash, keeper_id) fine; the append of two
    // bucketed columns into this unbucketed three-column table fails
    spark.sql(s"CREATE TABLE $tbl (text_hash STRING, keeper_id BIGINT, extra INT) USING parquet")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    try {
      intercept[org.apache.spark.sql.AnalysisException] {
        streaming.EventStreams.curationApplyBatch(docs, 0L, tbl, s"$tmp/cursor", s"$tmp/out")
      }
      // checked at the moment of the throw: the manifest write has
      // committed and the cursor sidecar is written
      assert(new java.io.File(s"$tmp/out/batch-0/_SUCCESS").exists,
        "the batch threw before its manifest stage finished")
      val cursor = java.nio.file.Paths.get(s"$tmp/cursor/batch-0.tsv")
      assert(java.nio.file.Files.exists(cursor) && java.nio.file.Files.size(cursor) > 0,
        "the batch threw before its cursor stage finished")
      assert(!new java.io.File(s"$tmp/out/batch-0/_APPLIED").exists,
        "a failed batch was marked applied")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("a curation batch whose manifest write fails throws only after its keeper append lands") {
    val tag = java.lang.Long.toHexString(System.nanoTime())
    val tbl = s"stages_spec_keeper_$tag"
    val tmp = java.nio.file.Files.createTempDirectory("graft_stages_manifest").toString
    // a regular file where the manifest's output directory should go:
    // the manifest write fails, the cursor and keeper stages do not
    val outDir = java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$tmp/out")).toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    try {
      intercept[Exception] {
        streaming.EventStreams.curationApplyBatch(docs, 0L, tbl, s"$tmp/cursor", outDir)
      }
      // checked at the moment of the throw: nothing is still writing
      assert(spark.catalog.tableExists(tbl) && spark.table(tbl).count() > 0,
        "the batch threw while its keeper append was still running")
      val cursor = java.nio.file.Paths.get(s"$tmp/cursor/batch-0.tsv")
      assert(java.nio.file.Files.exists(cursor) && java.nio.file.Files.size(cursor) > 0,
        "the batch threw before its cursor stage finished")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("src/main runs concurrent stages only through graft.Stages") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val walk = java.nio.file.Files.walk(root)
    val sources = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    val helper = root.resolve("graft/Stages.scala")
    def hits(pattern: scala.util.matching.Regex) = sources.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
      }
    }
    val pools = hits("""\b(Executors|ExecutionContext|Await|Future)\b|new Thread\(""".r)
      .filterNot(_.startsWith(s"$helper:"))
    assert(pools.isEmpty, s"hand-rolled concurrency outside graft.Stages:\n${pools.mkString("\n")}")
    // the operator-singleton init guard lives in the helper, once
    val guards = hits("""(Dedup|Similarity|TextAnalysis)\.queries\.size""".r)
    assert(guards.map(_.takeWhile(_ != ':')).distinct == Seq(helper.toString),
      s"singleton-init guard sites: $guards")
  }
}
