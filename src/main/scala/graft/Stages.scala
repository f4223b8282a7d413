package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Overlapped independent stages — the one fork/join mechanism behind
  * every operator or streaming kernel that runs driver actions
  * concurrently (the apply-batch kernels' stage sets, dd_pipeline):
  *
  * {{{
  *   Stages.scope(spark) { s =>
  *     val a = s.fork("stage a") { ... }   // starts now
  *     ...                                 // the caller keeps working
  *     a.join                              // a's typed result, or its failure
  *   }
  * }}}
  *
  * Each fork runs on a fresh thread constructed by the calling thread,
  * so it inherits the caller's Spark local properties (job group,
  * `streaming.sql.batchId` — what attributes its jobs to the query or
  * batch that forked them) and then sets its own job description,
  * which the UI and the tracer group its jobs by. Scopes nest: a fork
  * may open its own scope.
  *
  * The scope returns or throws only after EVERY fork has finished — a
  * failed stage can never leave a sibling still writing behind a caller
  * that has already seen the failure (an apply-batch kernel writes its
  * `_APPLIED` marker after its scope returns, so nothing may still be
  * appending at that point, nor when the failure reaches the stream).
  * It rethrows the first failure in fork order, then the body's own,
  * with the later ones attached as suppressed. Forks are not cancelled
  * when a sibling fails; an interrupt of the waiting caller is passed
  * on to the forks, and the caller still waits for them to finish.
  */
object Stages {
  // Dedup, Similarity and TextAnalysis reference each other in their
  // object initializers: fine on one thread (JVM class init is
  // re-entrant) but a DEADLOCK when two forks first-touch different
  // members of the cycle concurrently — each blocks on the other's
  // class-init monitor (observed hang, thread dump in
  // OPTIMIZATION_r18.md §11). This object's own init runs on the first
  // thread to open a scope, before any fork exists, so the cycle is
  // always resolved single-threaded.
  locally {
    val _ = (operators.Dedup.queries.size, operators.Similarity.queries.size,
      operators.TextAnalysis.queries.size)
  }

  final class Fork[A] private[Stages] (sc: SparkContext, desc: String, body: () => A) {
    private var result: Either[Throwable, A] = _
    private[Stages] val thread = new Thread(() => {
      sc.setJobDescription(desc)
      result = try Right(body()) catch { case t: Throwable => Left(t) }
    }, s"graft-stage: $desc")

    /** Waits for this fork; its result, or its failure rethrown. */
    def join: A = {
      thread.join()
      result.fold(t => throw t, identity)
    }

    private[Stages] def failure: Option[Throwable] = result.left.toOption
  }

  final class Scope private[Stages] (sc: SparkContext) {
    private[Stages] val forks = scala.collection.mutable.ArrayBuffer.empty[Fork[_]]

    /** Starts `body` on its own thread under job description `desc`. */
    def fork[A](desc: String)(body: => A): Fork[A] = {
      val f = new Fork(sc, desc, () => body)
      forks += f
      f.thread.start()
      f
    }
  }

  def scope[A](spark: SparkSession)(body: Scope => A): A = {
    val s = new Scope(spark.sparkContext)
    val out = try Right(body(s)) catch { case t: Throwable => Left(t) }
    var interrupted = false
    s.forks.foreach { f =>
      while (f.thread.isAlive)
        try f.thread.join()
        catch { case _: InterruptedException =>
          interrupted = true
          s.forks.foreach(_.thread.interrupt())
        }
    }
    if (interrupted) Thread.currentThread().interrupt()
    val failures = (s.forks.flatMap(_.failure) ++ out.left.toOption).distinct
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    out.toOption.get
  }
}
