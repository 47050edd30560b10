package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge

/** SQL-surface registration for the engine's custom Catalyst expressions,
  * so `spark.sql("SELECT product_agg(x) ...")` works exactly like the
  * Column API (§2.10). Two entry points:
  *
  *  - config-time: `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (or `.withExtensions(new GraftExtensions)`) — the cluster-wide path;
  *  - runtime: `GraftFunctions.register(spark)` on a live session (what
  *    the specs use — `getOrCreate` reuses existing sessions, where
  *    config-time extensions can no longer be injected).
  */
object GraftFunctions {

  private def one(name: String)(mk: Expression => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftFunctions.type].getName, name),
      (children: Seq[Expression]) => {
        require(children.length == 1, s"$name takes exactly 1 argument")
        mk(children.head)
      })

  private def two(name: String)(mk: (Expression, Expression) => Expression) =
    (new FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftFunctions.type].getName, name),
      (children: Seq[Expression]) => {
        require(children.length == 2, s"$name takes exactly 2 arguments")
        mk(children(0), children(1))
      })

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    one("product_agg")(c => ProductAgg(c).toAggregateExpression()),
    one("md5_hash60")(Md5Hash60(_)),
    two("dot_product")(DotProduct(_, _)),
    two("array_minus")(ArrayMinus(_, _)))

  def register(spark: SparkSession): Unit =
    all.foreach { case (id, info, builder) =>
      Bridge.registerFunction(spark, id, info, builder)
    }
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}
