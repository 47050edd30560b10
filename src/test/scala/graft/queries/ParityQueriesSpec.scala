package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Role-map contracts of the paper's faces over lineitem, on hand-built
  * lineitem files. */
class ParityQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("q01 breaks a price tie by numeric orderkey, as the oracle does") {
    // As strings "10-1" < "9-1"; the oracle orders l_orderkey as a number.
    val dir = java.nio.file.Files.createTempDirectory("q01_tie").toString
    val ship = java.sql.Timestamp.valueOf("1998-03-15 00:00:00")
    Seq((10L, 1, 100.0, ship), (9L, 1, 100.0, ship), (3L, 1, 50.0, ship))
      .toDF("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q01_index_daily")(spark, dir)
      .select($"index_value", $"composition").as[(Double, String)].collect().toSeq
    assert(got === Seq((250.0 / 10, "9-1,10-1,3-1")))
  }
}
