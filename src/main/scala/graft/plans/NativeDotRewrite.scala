package graft.plans

import graft.functions.{DotProduct, MinhashSignature, SimhashSignature}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate, Cast, Expression, ExpressionInfo, LambdaFunction, Literal, Multiply, NamedLambdaVariable, ZipWith}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType}

/** Optimizer rule rewriting the declarative dot-product idiom
  *
  *   `aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, v) -> acc + v)`
  *
  * into the native codegen'd [[DotProduct]] expression. Users (and the
  * DuckDB-oracle-parity queries) write the portable higher-order-function
  * form; the optimizer swaps in the primitive loop — the Spark-idiomatic
  * division of labor: declarative plan in, physical choice by rule. The
  * rewrite is a pure physical swap ([[DotProduct]] reproduces the fold's
  * left-to-right IEEE accumulation and zip_with's null semantics
  * bit-for-bit, DotProductSpec) and fires only on float/double arrays
  * with the exact fold shape — any other element type, zero value, or
  * lambda keeps the interpreted form.
  *
  * Disable with Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.NativeDotRewrite`
  * (read per query optimization, so one session can A/B both plans).
  */
object NativeDotRewrite extends Rule[LogicalPlan] {

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  /** The lambda body may cast the element to double (needed for float
    * arrays); the cast is what [[DotProduct]] does natively.
    */
  private def sameVar(e: Expression, v: NamedLambdaVariable): Boolean = e match {
    case nv: NamedLambdaVariable => nv.exprId == v.exprId
    case c: Cast if c.dataType == DoubleType => sameVar(c.child, v)
    case _ => false
  }

  /** x*y over exactly the two zip_with variables, either order (IEEE-754
    * multiplication is commutative). BOTH operands must already be
    * double-typed (a double element, or the lambda's explicit cast):
    * an uncast float*float multiplies in FLOAT precision per element,
    * which [[DotProduct]]'s widen-then-multiply does NOT reproduce —
    * rewriting it would change results, not just the physical plan.
    */
  private def isPairProduct(body: Expression,
      xv: NamedLambdaVariable, yv: NamedLambdaVariable): Boolean = body match {
    case Multiply(l, r, _) if l.dataType == DoubleType && r.dataType == DoubleType =>
      (sameVar(l, xv) && sameVar(r, yv)) || (sameVar(l, yv) && sameVar(r, xv))
    case _ => false
  }

  private def isPositiveZero(v: Any): Boolean = v match {
    case d: java.lang.Double => java.lang.Double.doubleToRawLongBits(d) == 0L
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(
            ZipWith(a, b,
              LambdaFunction(prod, Seq(xv: NamedLambdaVariable, yv: NamedLambdaVariable), _)),
            Literal(zero, DoubleType),
            LambdaFunction(Add(accRef, elemRef, _),
              Seq(acc: NamedLambdaVariable, elem: NamedLambdaVariable), _),
            LambdaFunction(finishRef: NamedLambdaVariable, Seq(fin: NamedLambdaVariable), _))
          if isDoubleArray(a) && isDoubleArray(b) &&
            isPairProduct(prod, xv, yv) &&
            isPositiveZero(zero) &&
            sameVar(accRef, acc) && sameVar(elemRef, elem) &&
            finishRef.exprId == fin.exprId =>
        DotProduct(a, b)
    }
}

/** Session extension point: `GraftSession.builder` installs this, and
  * external users can opt in with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * Besides the optimizer rule, the native kernels register as SQL
  * functions so `spark.sql` users get them without touching the Scala
  * API:
  *
  *   SELECT dot_product(a, b)                 -- double
  *   SELECT int_dot_product(a, b)             -- bigint (int8-domain scans)
  *   SELECT minhash_signature(shingles, k, p) -- array<bigint>, k perms mod prime p
  *   SELECT simhash_signature(words)          -- 60-bit bigint
  *   SELECT kmv_sketch(hash_col, k)           -- aggregate: k smallest distinct hashes
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def litLong(e: Expression, what: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType)   => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => NativeDotRewrite)
    e.injectFunction((FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "usage: dot_product(a, b)")
        DotProduct(args(0), args(1))
      }))
    e.injectFunction((FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinhashSignature].getName, "minhash_signature"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "usage: minhash_signature(shingles, k, p)")
        MinhashSignature(args(0),
          litLong(args(1), "k").toInt, litLong(args(2), "p"))
      }))
    e.injectFunction((FunctionIdentifier("simhash_signature"),
      new ExpressionInfo(classOf[SimhashSignature].getName, "simhash_signature"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "usage: simhash_signature(words)")
        SimhashSignature(args.head)
      }))
    e.injectFunction((FunctionIdentifier("int_dot_product"),
      new ExpressionInfo(classOf[graft.functions.IntDotProduct].getName, "int_dot_product"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "usage: int_dot_product(a, b)")
        graft.functions.IntDotProduct(args(0), args(1))
      }))
    e.injectFunction((FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo(classOf[graft.functions.KmvSketchAgg].getName, "kmv_sketch"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "usage: kmv_sketch(hash_col, k)")
        graft.functions.KmvSketchAgg(args.head, litLong(args(1), "k").toInt)
          .toAggregateExpression()
      }))
  }
}
