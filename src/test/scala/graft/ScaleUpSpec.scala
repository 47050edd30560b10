package graft

/** Schema-fidelity contract for the ScaleUp replica generator (the
  * [[ReseedSpec]] clause, applied to the other corpus generator): every
  * output table's schema must BYTE-equal the source's. Type-family
  * preflights (Tables.verifySchemas) cannot catch an INTEGER-narrowed
  * BIGINT — the skew branch's post-union `length()` n_chars shipped
  * exactly that for two rounds until q83's typed-roundtrip dtype gate
  * failed on the skewed corpus; this spec makes the class fail at
  * unit-test speed for BOTH branches. */
class ScaleUpSpec extends SparkSpec {

  private def schemasEqual(dst: String): Unit =
    Tables.names.foreach { t =>
      val src = spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet").schema
      val got = spark.read.parquet(s"$dst/$t.parquet").schema
      assert(got === src, s"$t: scaled schema drifted from the source's")
    }

  test("ScaleUp preserves every table's schema exactly (plain)") {
    val dir = java.nio.file.Files.createTempDirectory("scaleup_plain").toString
    ScaleUp.run(spark, "/root/testdata/sf0.001", dir, factor = 2, skew = false)
    schemasEqual(dir)
  }

  test("ScaleUp preserves every table's schema exactly (skew — the " +
      "branch that narrowed n_chars)") {
    val dir = java.nio.file.Files.createTempDirectory("scaleup_skew").toString
    ScaleUp.run(spark, "/root/testdata/sf0.001", dir, factor = 2, skew = true)
    schemasEqual(dir)
  }
}
