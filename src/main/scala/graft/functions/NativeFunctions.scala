package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one table of graft's native SQL functions: the vector rows of
  * [[VectorExpressions]] and the text rows of [[TextExpressions]].
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

  lazy val functions: Seq[Row] =
    VectorExpressions.functions ++ TextExpressions.functions

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
