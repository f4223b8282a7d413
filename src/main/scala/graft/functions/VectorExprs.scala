package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for float-vector math.
  *
  * A Scala UDF would box every element and fall out of WholeStageCodegen;
  * these generate a tight primitive loop via doGenCode, so the ANN and
  * embedding-dedup operators (SURVEY.md §2.C/§2.D) stay codegen'd — the
  * difference between scan-speed and serialization-bound at 100 TB.
  */
abstract class FloatVectorBinary extends BinaryExpression with Serializable {
  override def dataType: DataType = DoubleType

  /** Interpreted fallback — same arithmetic/order as the generated code. */
  protected def compute(a: ArrayData, b: ArrayData): Double

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
}

/** cosine(a, b) in one pass; 0.0 when either norm is 0. */
case class CosineSimilarity(left: Expression, right: Expression) extends FloatVectorBinary {
  override def prettyName: String = "graft_cosine"

  override protected def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble; val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val x = ctx.freshName("x")
      val y = ctx.freshName("y"); val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = $denom == 0.0 ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** dot(a, b) — used for LSH hyperplane signs. */
case class DotProduct(left: Expression, right: Expression) extends FloatVectorBinary {
  override def prettyName: String = "graft_dot"

  override protected def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var i = 0
    while (i < n) { dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  def cosineSim(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  def dotProduct(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Plain-Scala replica of [[CosineSimilarity]]: the same left-to-right
    * double accumulation, so it agrees with `graft_cosine` bit for bit.
    * Driver- or task-side code that ranks by cosine (the small-corpus
    * quantizer route, the list-local graph walk) uses it to tie-break
    * exactly as the expression does.
    */
  def exactCosine(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Deterministic hashed bag-of-tokens embedding: tokens hash into
    * `dim` buckets (xxhash64 mod dim), the bucket-count vector is
    * L2-normalized and emitted as `array<float>` — the classic
    * feature-hashing text vectorizer, entirely declarative
    * (split/transform/filter/aggregate, all codegen'd higher-order
    * functions; no UDF, no model state to broadcast). This is the
    * text→vector bridge the streaming flagship uses to feed extracted
    * statements into the ANN index; any corpus-scale deployment swaps
    * in a learned encoder upstream and keeps the identical plumbing.
    * Cost is O(dim · tokens) per row from the per-bucket filter scan —
    * fine for dim ≤ 64; a larger dim wants a single-pass aggregate.
    * HOFs evaluate interpreted with NO subexpression caching, so the
    * hash array and the count vector are each bound ONCE as a lambda
    * variable (transform over a singleton array) — splicing them into
    * the downstream lambdas directly would re-tokenize and re-hash the
    * text per output element (O(dim² · tokens), measured as the
    * dominant cost of the streaming flagship's embed stage).
    */
  def hashedTextEmbedding(text: Column, dim: Int = 16): Column = {
    import org.apache.spark.sql.functions._
    val toks = split(lower(regexp_replace(trim(text), "\\s+", " ")), " ")
    val hs = transform(toks, t => pmod(xxhash64(t), lit(dim.toLong)))
    element_at(transform(array(hs), h => {
      val counts = transform(sequence(lit(0), lit(dim - 1)),
        j => size(filter(h, x => x === j.cast("long"))).cast("double"))
      element_at(transform(array(counts), cs => {
        val norm = sqrt(aggregate(cs, lit(0.0), (acc, v) => acc + v * v))
        transform(cs, v =>
          when(norm === 0.0d, lit(0.0d)).otherwise(v / norm).cast("float"))
      }), 1)
    }), 1)
  }
}
