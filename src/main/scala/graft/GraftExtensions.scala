package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Spark-native deployment surface for the engine's custom expressions.
  *
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `withExtensions(new GraftExtensions)`, as `GraftSession.builder`
  * does) makes
  * every custom codegen expression available to plain SQL —
  * `SELECT poly_hash(text) FROM docs` — with no per-session `register`
  * call. The per-session `register` helpers on each function object
  * remain for programmatic use; both routes build the identical
  * Expression, so plans and results are the same.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name),
          new ExpressionInfo(classOf[GraftExtensions].getName, name),
          builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.LevenshteinThresholdRule)
    ext.injectPlannerStrategy(_ => graft.plans.PartitionedTopKStrategy)
  }
}

object GraftExtensions {

  /** Wrap a builder with arity validation: a SQL call with the wrong
    * argument count fails analysis with a clear message instead of an
    * IndexOutOfBoundsException from the builder body.
    */
  private def withArity(name: String, n: Int)(
      b: Seq[Expression] => Expression)
      : (String, Seq[Expression] => Expression) =
    name -> { e =>
      if (e.length != n)
        throw org.apache.spark.sql.GraftSqlShims.analysisException(
          s"Invalid number of arguments for function $name: " +
            s"expected $n, found ${e.length}")
      b(e)
    }

  /** Name → builder for every custom expression the engine ships. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    withArity("poly_hash", 1)(e => PolyHash(e.head)),
    withArity("shingle_hashes", 2)(e => ShinglePolyHash(e(0), e(1))),
    withArity("vec_dot", 2)(e => VecDot(e(0), e(1))),
    withArity("lsh_bucket", 2)(e => LshBucket(e(0), e(1))),
    withArity("nfc_normalize", 1)(e => NfcNormalize(e.head))
  )
}
