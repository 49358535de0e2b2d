package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The one table of graft's native SQL functions: the vector rows of
  * [[VectorExpressions]], the text rows of [[TextExpressions]] and the
  * MinHash rows of [[MinHashExpressions]].
  * [[GraftExtensions]] injects it into every GraftSession and
  * [[register]] installs it on a session built without the extension,
  * so `DESCRIBE FUNCTION` reads the same however the session was
  * built. */
object NativeFunctions {
  type Row = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private[functions] def fn(cls: Class[_], name: String, usage: String,
                            group: String = "array_funcs")
                           (build: Seq[Expression] => Expression): Row =
    (FunctionIdentifier(name),
      new ExpressionInfo(cls.getName, null, name, usage, "", "", "",
        group, "4.0.0", "", "built-in"),
      build)

  /** A builder's plan-time integer argument; `what` names it. */
  private[functions] def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** A builder's plan-time string argument; `what` names it. */
  private[functions] def strLit(e: Expression, what: String): String = e match {
    case Literal(v: UTF8String, StringType) => v.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  lazy val functions: Seq[Row] =
    VectorExpressions.functions ++ TextExpressions.functions ++
      MinHashExpressions.functions

  /** Register the table on an existing session (callable via
    * `call_function` / SQL). Idempotent: operators call this
    * defensively per query, and re-registering spams "replaced a
    * previously registered function" warnings through every test log.
    * The guard checks the LAST row, so a call on a session registered
    * by an older build re-registers the full set. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (registry.functionExists(functions.last._1)) return
    functions.foreach { case (id, info, build) =>
      registry.registerFunction(id, info, build)
    }
  }
}

/** SparkSessionExtensions hook:
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    NativeFunctions.functions.foreach(ext.injectFunction)
}
