package graft.functions

import graft.SparkSpec
import graft.functions.ArrayMinus.array_minus
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}

/** `array_minus(a, b)` must equal the lambda it replaces,
  * `filter(a, x -> !coalesce(array_contains(b, x), false))`, row for row —
  * same members, same order, same duplicates, same nulls — on both eval
  * paths. */
class ArrayMinusSpec extends SparkSpec {
  import spark.implicits._

  private def reference(a: Column, b: Column): Column =
    filter(a, x => !coalesce(array_contains(b, x), lit(false)))

  /** Runs `body` interpreted (no whole-stage codegen, no expression
    * codegen), then restores the session's defaults. */
  private def interpreted[T](body: => T): T = {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  /** Both directions of the diff against the reference, as rendered rows
    * (toString keeps NaN and -0.0 apart from 0.0, which Row equality
    * inside arrays would not). The repartition keeps the projection out
    * of the optimizer's local-relation folding, so it really executes. */
  private def mismatches(df: DataFrame): Seq[String] = {
    val got = df.repartition(2, $"i").select($"i",
      array_minus($"a", $"b"), reference($"a", $"b"),
      array_minus($"b", $"a"), reference($"b", $"a"))
    got.collect().toSeq.flatMap { r =>
      Seq(1, 3).collect {
        case c if String.valueOf(r.get(c)) != String.valueOf(r.get(c + 1)) =>
          s"row ${r.getInt(0)}: ${r.get(c)} vs reference ${r.get(c + 1)}"
      }
    }
  }

  private def arrays(elem: Gen[Any]): Gen[Seq[Any]] =
    Gen.frequency(1 -> Gen.const(null), 9 -> Gen.choose(0, 8).flatMap(
      Gen.listOfN(_, Gen.frequency(1 -> Gen.const(null), 6 -> elem))))

  private def checkProperty(elemType: DataType, elem: Gen[Any]): Unit = {
    val schema = StructType(Seq(StructField("i", IntegerType),
      StructField("a", ArrayType(elemType)), StructField("b", ArrayType(elemType))))
    val rows = Gen.listOfN(60, Gen.zip(arrays(elem), arrays(elem)))
    var failures = Seq.empty[String]
    val prop = Prop.forAllNoShrink(rows) { pairs =>
      val df = spark.createDataFrame(java.util.Arrays.asList(
        pairs.zipWithIndex.map { case ((a, b), i) => Row(i, a, b) }: _*), schema)
      failures = mismatches(df) ++ interpreted(mismatches(df))
      failures.isEmpty
    }
    val result = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(8).withInitialSeed(7L), prop)
    assert(result.passed, s"${elemType.sql}: ${failures.take(5).mkString("\n")}")
  }

  test("property: array_minus equals the filter/array_contains lambda on " +
      "string arrays (nulls, duplicates, empty and null arrays)") {
    checkProperty(StringType, Gen.oneOf("a", "b", "c", "", "é", "A"))
  }

  test("property: array_minus equals the lambda on int arrays") {
    checkProperty(IntegerType, Gen.choose(-3, 3))
  }

  test("property: array_minus equals the lambda on double arrays " +
      "(NaN = NaN, 0.0 = -0.0)") {
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    checkProperty(DoubleType,
      Gen.oneOf(0.0, -0.0, Double.NaN, otherNaN, 1.5, -1.5, Double.PositiveInfinity))
  }

  test("fixture: same answer interpreted and under whole-stage codegen") {
    val df = Seq[(Seq[String], Seq[String])](
      (Seq("b", "a", "b", null, "c"), Seq("b", null)),
      (Seq("x"), null),
      (null, Seq("x")),
      (Seq(), Seq("x")),
      (Seq("x", "y"), Seq()))
      .toDF("a", "b").repartition(1)
    val diff = df.select(array_minus($"a", $"b").as("d"))
    // AQE hides the physical tree until it runs; plan without it
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = try diff.queryExecution.executedPlan
      finally spark.conf.unset("spark.sql.adaptive.enabled")
    assert(plan.collect { case w: WholeStageCodegenExec => w }
      .exists(_.child.expressions.exists(_.exists(_.isInstanceOf[ArrayMinus]))),
      s"array_minus left whole-stage codegen:\n$plan")
    val expected = Seq(Seq("a", null, "c"), Seq("x"), null, Seq(), Seq("x", "y"))
    def rows(d: DataFrame) = d.collect().toSeq.map(r => Option(r.getSeq[String](0)).orNull)
    assert(rows(diff) === expected)
    assert(interpreted(rows(df.select(array_minus($"a", $"b")))) === expected)
  }

  test("element types off the hash path compare like array_contains " +
      "(collated strings, decimals, structs, binary)") {
    val cases = Seq(
      ("array(collate('A', 'UTF8_LCASE'), 'b', 'a')", "array(collate('a', 'UTF8_LCASE'))"),
      ("array(1.10BD, 2.00BD, 1.1BD)", "array(1.10BD)"),
      ("array(named_struct('k', 1), named_struct('k', 2), null)", "array(named_struct('k', 2))"),
      ("array(X'01', X'02')", "array(X'01')"))
    cases.foreach { case (a, b) =>
      val df = spark.range(1).repartition(1).select(expr(a).as("a"), expr(b).as("b"))
      val Seq(got, want) = df.select(array_minus($"a", $"b").cast("string"),
        reference($"a", $"b").cast("string")).head().toSeq
      assert(got === want, s"array_minus($a, $b)")
    }
  }
}
