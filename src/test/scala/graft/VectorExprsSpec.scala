package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Codegen'd vector expressions vs an independent HOF composition. */
class VectorExprsSpec extends SparkTestBase {

  private def vecs = sources.Tables.embeddings(spark, sfDir).limit(50)

  test("cosineSim(v, v) == 1 for non-zero vectors") {
    val rows = vecs.select(cosineSim(col("embedding"), col("embedding")).as("c")).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-9))
  }

  test("dotProduct matches zip_with/aggregate composition") {
    val df = vecs.as("a").crossJoin(vecs.as("b")).limit(200)
      .select(
        dotProduct(col("a.embedding"), col("b.embedding")).as("native"),
        expr("""aggregate(zip_with(a.embedding, b.embedding,
                 (x, y) -> cast(x as double) * cast(y as double)),
                 cast(0.0 as double), (acc, v) -> acc + v)""").as("composed"))
    df.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9,
        s"native=${r.getDouble(0)} composed=${r.getDouble(1)}")
    }
  }

  test("cosineSim is symmetric and bounded") {
    val df = vecs.as("a").crossJoin(vecs.as("b")).limit(300)
      .select(cosineSim(col("a.embedding"), col("b.embedding")).as("ab"),
        cosineSim(col("b.embedding"), col("a.embedding")).as("ba"))
    df.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
      assert(r.getDouble(0) <= 1.0 + 1e-9 && r.getDouble(0) >= -1.0 - 1e-9)
    }
  }

  test("exactCosine replicates graft_cosine bit for bit, zero vectors included") {
    val sqlCtx = spark
    import sqlCtx.implicits._
    val rnd = new scala.util.Random(20261017L)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val zero = Array.fill(64)(0f)
    val pairs: Seq[(Int, Array[Float], Array[Float])] =
      (0 until 200).map(i => (i, vec(), vec())) ++
        Seq((200, zero, vec()), (201, vec(), zero), (202, zero, zero))
    val byId = pairs.map(p => p._1 -> p).toMap
    val got = pairs.toDF("id", "a", "b")
      .select(col("id"), cosineSim(col("a"), col("b")).as("c")).collect()
    assert(got.length == pairs.size)
    got.foreach { r =>
      val (_, a, b) = byId(r.getInt(0))
      val want = exactCosine(a, b)
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToRawLongBits(want),
        s"pair ${r.getInt(0)}: graft_cosine=${r.getDouble(1)} exactCosine=$want")
    }
    assert(exactCosine(zero, byId(0)._2) == 0.0)
  }
}
