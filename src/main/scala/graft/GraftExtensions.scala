package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extensions: the one way a session gets graft's native functions
  * and its as-of join strategy. [[GraftSession.build]] installs them; any
  * other session enables them with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`), and
  * `newSession()` inherits them. The function list itself lives in
  * [[graft.functions.NativeFunctions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    graft.functions.NativeFunctions.all.foreach {
      case (name, usage, builder) =>
        e.injectFunction((FunctionIdentifier(name), info(name, usage),
          builder))
    }
  }
}
