package graft

import org.apache.spark.sql.functions._

/** The reseed generator's CONTRACT, pinned (r13): its whole value is
  * that the full oracle gate runs UNMODIFIED against the output, which
  * holds only if schemas, id sets, and group labels survive the
  * mutations exactly. The n_chars lesson motivates the schema clause:
  * the first money-jitter draw silently narrowed BIGINT n_chars to
  * length()'s INT, and the typed-roundtrip query (q83) caught it —
  * this spec makes that class of drift fail at unit-test speed. */
class ReseedSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dst: String = {
    val dir = java.nio.file.Files.createTempDirectory("reseed_spec").toString
    Reseed.run(spark, "/root/testdata/sf0.001", dir, "spec-salt")
    dir
  }

  test("reseed preserves every table's schema exactly") {
    Tables.names.foreach { t =>
      val src = spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet").schema
      val got = spark.read.parquet(s"$dst/$t.parquet").schema
      assert(got === src, s"$t schema drifted")
    }
  }

  test("reseed preserves id sets, row counts, and group labels; mutates values") {
    val srcD = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dstD = spark.read.parquet(s"$dst/documents.parquet")
    assert(dstD.count() === srcD.count())
    assert(dstD.select($"doc_id").as[Long].collect().sorted.toSeq
      === srcD.select($"doc_id").as[Long].collect().sorted.toSeq)
    // lang/source are grouping labels for the mixture queries — verbatim
    assert(dstD.select($"doc_id", $"lang", $"source").as[(Long, String, String)]
      .collect().toSet
      === srcD.select($"doc_id", $"lang", $"source").as[(Long, String, String)]
      .collect().toSet)
    // ...but the text is a genuinely different draw for most docs
    val same = dstD.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val orig = srcD.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val changed = orig.count { case (id, t) => same(id) != t }
    assert(changed > orig.size / 2, s"only $changed/${orig.size} texts changed")
    // n_chars stays CONSISTENT with the mutated text (recomputed, typed)
    val bad = dstD.filter(length($"text") =!= $"n_chars").count()
    assert(bad === 0L)
    // deterministic: a second run with the same salt is byte-identical
    val dir2 = java.nio.file.Files.createTempDirectory("reseed_spec2").toString
    Reseed.run(spark, "/root/testdata/sf0.001", dir2, "spec-salt")
    val again = spark.read.parquet(s"$dir2/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(again === same)
  }

  test("reseed keeps fact join keys closed and money values 2dp-adjacent") {
    val srcO = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val dstO = spark.read.parquet(s"$dst/orders.parquet")
    assert(dstO.select($"o_orderkey").as[Long].collect().sorted.toSeq
      === srcO.select($"o_orderkey").as[Long].collect().sorted.toSeq)
    // jitter is ±5% in per-mille steps — bounded, never sign-flipping
    val joined = dstO.select($"o_orderkey", $"o_totalprice".as("np"))
      .join(srcO.select($"o_orderkey", $"o_totalprice".as("op")), "o_orderkey")
    val outOfBand = joined
      .filter(abs($"np" / $"op" - 1.0) > 0.0501 || $"np" <= 0.0).count()
    assert(outOfBand === 0L)
    // and at least some rows actually moved
    assert(joined.filter($"np" =!= $"op").count() > 0L)
  }
}
