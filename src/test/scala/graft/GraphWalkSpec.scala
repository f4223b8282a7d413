package graft

import org.apache.spark.sql.graft.TestListeners

/** ann_graph_walk: the greedy kNN-graph descent is replayed from first
  * principles in plain Scala (same left-to-right double accumulation as
  * the codegen'd CosineSimilarity) and the operator's dumped walk must
  * match hop-for-hop — entry choice, every argmax move, termination,
  * and the q4 sims. This is the Scala twin of the oracle's walk
  * certificate, run at sf0.01 where the corpus has real list structure
  * (200 vectors over 16 lists; sf0.001's 20 vectors make near-singleton
  * lists and a vacuous walk). Planted corpora pin the kernel's tie and
  * edge cases directly.
  */
class GraphWalkSpec extends SparkTestBase {
  private val sf01 = "/root/testdata/sf0.01"

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  private def q4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000.0

  private type WalkRow = (Long, Long, Long, Double)

  /** The greedy walk from first principles, over a list assignment
    * `asg` (vec_id → list): each node links to its 8 nearest other
    * members of its list (cos DESC, id ASC); query q enters at the
    * lowest member ≠ q of list `probeList(q)` and moves to its best
    * neighbor ≠ q (cos DESC, id ASC) while that strictly improves.
    */
  private def replayWalks(emb: Map[Long, Array[Float]], asg: Map[Long, Long],
      queries: Map[Long, Array[Float]], probeList: Long => Long): Seq[WalkRow] = {
    val byList: Map[Long, Seq[Long]] =
      asg.groupBy(_._2).map { case (c, m) => c -> m.keys.toSeq.sorted }
    val graph: Map[Long, Seq[Long]] = asg.keys.map { src =>
      src -> byList(asg(src)).filter(_ != src)
        .sortBy(dst => (-cos(emb(src), emb(dst)), dst)).take(8)
    }.toMap
    val expected = scala.collection.mutable.ArrayBuffer.empty[WalkRow]
    queries.keys.toSeq.sorted.foreach { q =>
      val qv = queries(q)
      val entryList = byList.getOrElse(probeList(q), Seq.empty).filter(_ != q)
      if (entryList.nonEmpty) {
        var cur = entryList.min
        var curSim = cos(qv, emb(cur))
        var step = 0L
        expected += ((q, step, cur, q4(curSim)))
        var moving = true
        while (moving) {
          val nbrs = graph(cur).filter(_ != q)
          if (nbrs.isEmpty) moving = false
          else {
            val (bs, bneg) = nbrs.map(nb => (cos(qv, emb(nb)), -nb)).max
            if (bs > curSim) {
              cur = -bneg; curSim = bs; step += 1
              expected += ((q, step, cur, q4(curSim)))
            } else moving = false
          }
        }
      }
    }
    expected.toSeq
  }

  private def corpus: Map[Long, Array[Float]] =
    sources.Tables.embeddings(spark, sf01).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Float]]("embedding").toArray).toMap

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[WalkRow] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

  test("ann_graph_walk matches a first-principles greedy replay at sf0.01") {
    val emb = corpus
    val cents = emb.filter(_._1 < 16).toSeq.sortBy(_._1)
    def nearestCent(v: Array[Float]): Long =
      cents.map { case (id, c) => (cos(v, c), -id) }.max match {
        case (_, negId) => -negId
      }
    val asg: Map[Long, Long] = emb.map { case (id, v) => id -> nearestCent(v) }
    val expected = replayWalks(emb, asg, emb.filter(_._1 % 101 == 0),
      q => nearestCent(emb(q)))
    val got = rowsOf(SparkEntry.queries("ann_graph_walk")(spark, sf01))
    assert(got.sorted == expected.sorted,
      s"walk diverges from first-principles replay:\n got ${got.sorted}\nwant ${expected.sorted}")
    assert(expected.exists(_._2 > 0),
      "no query ever moved — the greedy legs are vacuous on this corpus")
  }

  test("ann_graph_walk_adaptive matches a first-principles three-level replay at sf0.01") {
    val emb = corpus
    val n = emb.size.toLong
    val k = math.max(16L, (n + 63) / 64).toInt
    val kc = operators.Similarity.cubeRootCeil(k)
    val km = kc * kc
    // centroid levels are RANK prefixes (the lowest ids present)
    val idsSorted = emb.keys.toSeq.sorted
    val coarse = idsSorted.take(kc).map(id => id -> emb(id))
    def cellOf(v: Array[Float]): Long =
      coarse.map { case (id, c) => (cos(v, c), -id) }.max match {
        case (_, neg) => -neg
      }
    val midCell: Map[Long, Long] = idsSorted.take(km)
      .map(id => id -> cellOf(emb(id))).toMap
    def midOf(v: Array[Float]): Long =
      midCell.collect { case (mid, mc) if mc == cellOf(v) =>
        (cos(v, emb(mid)), -mid)
      }.max match { case (_, neg) => -neg }
    val fine: Map[Long, Long] = idsSorted.take(k)
      .map(id => id -> midOf(emb(id))).toMap
    def fineOf(v: Array[Float], midId: Long): Long =
      fine.collect { case (fid, fm) if fm == midId =>
        (cos(v, emb(fid)), -fid)
      }.max match { case (_, neg) => -neg }
    val asg: Map[Long, Long] =
      emb.map { case (id, v) => id -> fineOf(v, midOf(v)) }
    val expected = replayWalks(emb, asg, emb.filter(_._1 % 101 == 0),
      q => fineOf(emb(q), midOf(emb(q))))
    val got = rowsOf(SparkEntry.queries("ann_graph_walk_adaptive")(spark, sf01))
    assert(got.sorted == expected.sorted,
      s"adaptive walk diverges:\n got ${got.sorted}\nwant ${expected.sorted}")
    assert(expected.nonEmpty, "no adaptive walks at all — vacuous")
  }

  test("walks are strictly improving and end at a local maximum") {
    val rows = SparkEntry.queries("ann_graph_walk")(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    rows.groupBy(_._1).foreach { case (q, walk) =>
      val sims = walk.sortBy(_._2).map(_._3)
      // >= not >: the operator moves on RAW-double strict improvement
      // but emits q4-quantized sims, so a legitimate hop improving by
      // < 5e-5 can round to an equal displayed value. Raw strictness
      // is pinned by the first-principles replay tests above.
      assert(sims.sliding(2).forall {
        case Array(a, b) => b >= a
        case _ => true
      }, s"query $q: sims decreased along the walk: ${sims.mkString(",")}")
    }
  }

  /** Runs the list-local kernel on a planted one-list corpus (list 0)
    * and checks it against both the hand-derived walk and the replay.
    */
  private def plantedWalk(members: Map[Long, Array[Float]],
      queries: Map[Long, Array[Float]], want: Seq[WalkRow]): Unit = {
    val sqlCtx = spark
    import sqlCtx.implicits._
    val got = rowsOf(operators.Similarity.listLocalWalk(
      members.toSeq.map { case (id, v) => (id, v, 0L) }.toDF("vec_id", "embedding", "cent_id"),
      queries.toSeq.map { case (id, v) => (id, v, 0L) }.toDF("query_id", "q_emb", "cent_id")))
    val replay = replayWalks(members ++ queries, members.map(_._1 -> 0L), queries, _ => 0L)
    assert(replay == want, s"planted expectation disagrees with the replay: $replay")
    assert(got == want, s"kernel walk:\n got $got\nwant $want")
  }

  test("cosine ties between duplicate vectors resolve to the minimum id") {
    val q = Array(1f, 0.1f, 0f)
    // 3 and 5 are the same vector: the hop goes to 3, and 5 (equal
    // sim, not a strict improvement) ends the walk there
    plantedWalk(
      Map(1L -> Array(0f, 1f, 0f), 5L -> Array(1f, 0f, 0f),
        3L -> Array(1f, 0f, 0f), 7L -> Array(0f, 0f, 1f)),
      Map(100L -> q),
      Seq((100L, 0L, 1L, q4(cos(q, Array(0f, 1f, 0f)))),
        (100L, 1L, 3L, q4(cos(q, Array(1f, 0f, 0f))))))
  }

  test("neighbor ties at the degree cut keep the lowest ids") {
    // the entry (0,0,1) sees all twelve (a,b,5) with a²+b² = 25 at the
    // same cosine, so its 8 graph edges go to ids 2..9 and the query's
    // best member 13 = (5,0,5) is reachable only through 6 = (4,3,5)
    val ring = Seq((0, 5), (3, 4), (-3, 4), (-4, 3), (4, 3), (-5, 0), (0, -5),
      (-3, -4), (-4, -3), (3, -4), (4, -3), (5, 0))
    val members = Map(1L -> Array(0f, 0f, 1f)) ++ ring.zipWithIndex.map {
      case ((a, b), i) => (i + 2).toLong -> Array(a.toFloat, b.toFloat, 5f)
    }
    val q = Array(1f, 0f, 0f)
    plantedWalk(members, Map(100L -> q),
      Seq((100L, 0L, 1L, 0.0),
        (100L, 1L, 6L, q4(cos(q, members(6L)))),
        (100L, 2L, 13L, q4(cos(q, members(13L))))))
  }

  test("a list whose only member is the query emits no rows") {
    val v = Array(0.3f, 0.4f, 0.5f)
    plantedWalk(Map(42L -> v), Map(42L -> v), Seq.empty)
  }

  test("an entry that is already a local maximum emits a single step-0 row") {
    val q = Array(1f, 0f, 0f)
    plantedWalk(
      Map(1L -> Array(2f, 0f, 0f), 2L -> Array(0f, 1f, 0f), 3L -> Array(0f, 0f, 1f)),
      Map(100L -> q), Seq((100L, 0L, 1L, 1.0)))
  }

  test("ann_graph_walk at sf0.01 runs at most 12 Spark jobs") {
    val sc = spark.sparkContext
    def run(): Unit = SparkEntry.queries("ann_graph_walk")(spark, sf01)
      .write.format("noop").mode("overwrite").save()
    run() // first use builds the persisted cent_id assignment store
    val group = "graph-walk-job-guard"
    sc.setJobGroup(group, "ann_graph_walk job count", interruptOnCancel = false)
    try run() finally sc.clearJobGroup()
    TestListeners.drain(sc)
    val jobs = sc.statusTracker.getJobIdsForGroup(group).length
    assert(jobs > 0, "no jobs were recorded for the group — the count is vacuous")
    assert(jobs <= 12, s"ann_graph_walk ran $jobs Spark jobs (budget 12)")
  }
}
