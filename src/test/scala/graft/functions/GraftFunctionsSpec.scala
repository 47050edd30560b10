package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The SQL surface must behave exactly like the Column API (§2.10). */
class GraftFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("registered SQL functions equal their Column-API twins") {
    GraftFunctions.register(spark)

    Seq(("g", 2.0), ("g", 3.0), ("g", 4.0), ("h", 5.0)).toDF("k", "x")
      .createOrReplaceTempView("fx")
    val sqlAgg = spark.sql(
      "SELECT k, product_agg(x) AS p FROM fx GROUP BY k ORDER BY k")
      .as[(String, Double)].collect().toSeq
    assert(sqlAgg === Seq(("g", 24.0), ("h", 5.0)))

    val sqlHash = spark.sql("SELECT md5_hash60('abc') AS h").head().getLong(0)
    assert(sqlHash === java.lang.Long.parseLong("900150983cd24fb", 16))

    val sqlDot = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d")
      .head().getDouble(0)
    assert(sqlDot === 32.0)

    val minusArgs = ("array('b', 'a', 'b', NULL, 'c')", "array('b', NULL, 'x')")
    val sqlMinus = spark.sql(
      s"SELECT array_minus(${minusArgs._1}, ${minusArgs._2}) AS m")
      .head().getSeq[String](0)
    val apiMinus = spark.range(1).select(ArrayMinus.array_minus(
      expr(minusArgs._1), expr(minusArgs._2))).head().getSeq[String](0)
    assert(sqlMinus === Seq("a", null, "c"))
    assert(apiMinus === sqlMinus)

    // window usage through SQL, vs the Column API over the same frame
    Seq((1, 2.0), (2, 3.0), (3, 4.0)).toDF("i", "x").createOrReplaceTempView("wx")
    val sqlWin = spark.sql(
      """SELECT i, product_agg(x) OVER (ORDER BY i
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |FROM wx ORDER BY i""".stripMargin)
      .select($"p").as[Double].collect().toSeq
    assert(sqlWin === Seq(2.0, 6.0, 24.0))
  }

  test("dot_product refuses mismatched dimensions instead of silently " +
      "truncating, on both eval paths (r8)") {
    // dimension drift (an index trained at another dim, a probe from a
    // different embedding model) must fail loudly at the one choke point
    // every scoring path shares — a truncated dot over the common prefix
    // is plausible-but-wrong similarity with no error anywhere downstream
    val df = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    // whole-stage codegen path
    val gen = intercept[Exception] {
      df.select(VectorExpressions.dot_product(col("a"), col("b"))).collect()
    }
    assert(gen.getMessage.contains("dimension mismatch") ||
      gen.getCause != null && gen.getCause.getMessage.contains("dimension mismatch"))
    // interpreted path (codegen off forces nullSafeEval)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = intercept[Exception] {
        df.select(VectorExpressions.dot_product(col("a"), col("b"))).collect()
      }
      assert(interp.getMessage.contains("dimension mismatch") ||
        interp.getCause != null &&
          interp.getCause.getMessage.contains("dimension mismatch"))
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    // equal dims still answer on both paths
    val ok = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      .select(VectorExpressions.dot_product(col("a"), col("b")).as("d"))
      .head().getDouble(0)
    assert(ok === 11.0)
  }
}
