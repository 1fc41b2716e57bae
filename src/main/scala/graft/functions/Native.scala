package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** A native function as the (identifier, info, builder) triple that both
  * `SparkSessionExtensions.injectFunction` and a live session's function
  * registry take. */
object Native {
  type Function =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** `build` maps a well-formed argument list; any other list throws an
    * IllegalArgumentException naming the function and `sig`. */
  def apply(name: String, cls: Class[_], sig: String)(
      build: PartialFunction[Seq[Expression], Expression]): Function =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      exprs => build.applyOrElse(exprs, (other: Seq[Expression]) =>
        throw new IllegalArgumentException(
          s"$name takes $sig, got ${other.length} args")))

  def register(spark: SparkSession, fns: Seq[Function]): Unit =
    fns.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
