package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CoreOpsSpec extends SparkSpec {
  import spark.implicits._

  test("topKPerGroup keeps exactly K with deterministic tiebreak") {
    val df = Seq(("d1", "a", 5.0), ("d1", "b", 5.0), ("d1", "c", 3.0),
      ("d2", "x", 1.0)).toDF("d", "t", "cap")
    val got = CoreOps.topKPerGroup(df, Seq($"d"), Seq($"cap".desc, $"t"), 2)
      .orderBy($"d", $"rn").select($"t").as[String].collect()
    assert(got.toSeq === Seq("a", "b", "x")) // tie at 5.0 broken by t asc; d2 short group
  }

  test("upsertLastWins keeps the newest version per key") {
    val existing = Seq(("k1", 1, "old"), ("k2", 1, "keep")).toDF("k", "ver", "v")
    val incoming = Seq(("k1", 2, "new")).toDF("k", "ver", "v")
    val got = CoreOps.upsertLastWins(existing, incoming, Seq("k"), Seq($"ver"))
      .orderBy($"k").select($"v").as[String].collect()
    assert(got.toSeq === Seq("new", "keep"))
  }

  test("ratioToTotal sums to 1 within a partition") {
    val df = Seq(("g", 1.0), ("g", 3.0)).toDF("k", "v")
    val got = CoreOps.ratioToTotal(df, Seq($"k"), $"v", "share")
      .agg(sum($"share")).head().getDouble(0)
    assert(math.abs(got - 1.0) < 1e-12)
  }

  test("changeString formats add/remove and '-' for no change / first row") {
    val df = Seq[(Int, Seq[String], Seq[String])](
      (1, Seq("a", "b"), null),
      (2, Seq("a", "b"), Seq("a", "b")),
      (3, Seq("a", "c"), Seq("a", "b"))).toDF("i", "cur", "prev")
      .withColumn("added", filter($"cur", x => !array_contains($"prev", x)))
      .withColumn("removed", filter($"prev", x => !array_contains($"cur", x)))
    val got = df.select(CoreOps.changeString($"added", $"removed")).as[String]
      .collect()
    assert(got.toSeq === Seq("-", "-", "+(c) , -(b)"))
  }

  test("upsertLastWins prefers incoming on a version tie") {
    val existing = Seq(("k1", 1, "stale")).toDF("k", "ver", "v")
    val incoming = Seq(("k1", 1, "fresh")).toDF("k", "ver", "v") // same ver
    val got = CoreOps.upsertLastWins(existing, incoming, Seq("k"), Seq($"ver"))
      .select($"v").as[String].collect()
    assert(got.toSeq === Seq("fresh"))
  }

  test("upsertLastWins: duplicate incoming keys at the same version " +
      "collapse to one deterministic survivor (r8)") {
    val existing = Seq(("k1", 1, "old")).toDF("k", "ver", "v")
    // a retried append concatenated into one batch: same key twice at the
    // same version — (ver, __incoming) alone is not a total order and an
    // arbitrary row_number pick could differ between runs
    val incoming = Seq(("k1", 2, "dupA"), ("k1", 2, "dupB")).toDF("k", "ver", "v")
    val r1 = CoreOps.upsertLastWins(existing, incoming, Seq("k"), Seq($"ver"))
      .select($"v").as[String].collect().toSeq
    val r2 = CoreOps.upsertLastWins(existing,
        incoming.repartition(7), Seq("k"), Seq($"ver"))
      .select($"v").as[String].collect().toSeq
    assert(r1.length === 1 && r1 === r2,
      "survivor must not depend on execution/partitioning")
    // and the reserved merge column names fail loud instead of silently
    // overwriting caller data
    val rn = Seq(("k1", 1, 9)).toDF("k", "ver", "rn")
    val e = intercept[IllegalArgumentException] {
      CoreOps.upsertLastWins(rn, rn, Seq("k"), Seq($"ver"))
    }
    assert(e.getMessage.contains("reserves column name"))
  }

  test("lagArrayDiff: one null member must not blank the whole diff (r8)") {
    // array_contains(prev, x) is NULL (not false) when prev holds a null
    // member and x is absent — unguarded, !NULL drops every genuinely
    // added/removed element
    val df = Seq(
      (1, Seq[String]("b", null)), (2, Seq[String]("a"))).toDF("i", "arr")
    val got = CoreOps.lagArrayDiff(df, Nil, Seq($"i"), $"arr")
      .orderBy($"i").select($"added", $"removed").collect()
    assert(got(1).getSeq[String](0) === Seq("a"), "added blanked by null member")
    assert(got(1).getSeq[String](1).toSet === Set[String]("b", null))
  }

  test("lagArrayDiff with partition columns diffs per group independently") {
    val df = Seq(
      ("A", 1, Seq("x", "y")), ("A", 2, Seq("y", "z")),
      ("B", 1, Seq("p")), ("B", 2, Seq("p"))
    ).toDF("g", "i", "arr")
    val got = CoreOps.lagArrayDiff(df, Seq($"g"), Seq($"i"), $"arr")
      .orderBy($"g", $"i")
      .select($"g", $"i", $"prev", $"added", $"removed")
      .collect()
    // each group's FIRST row has null prev — B's row 1 is not "lagged"
    // from A's last row, proving the diff runs per partition
    assert(got(0).isNullAt(2) && got(2).isNullAt(2))
    assert(got(1).getSeq[String](3) === Seq("z"))
    assert(got(1).getSeq[String](4) === Seq("x"))
    assert(got(3).getSeq[String](3) === Seq() && got(3).getSeq[String](4) === Seq())
  }

  test("lagSetDiff equals lagArrayDiff on distinct-member arrays") {
    // hash-based array_except vs the order/dup-preserving lambda filter:
    // on SET-valued arrays (the W6 contract) they must coincide exactly
    val df = Seq(
      (1, Seq("a", "b", "c")), (2, Seq("b", "c", "d")), (3, Seq("b", "c", "d")),
      (4, Seq("x")), (5, Seq.empty[String])
    ).toDF("i", "arr")
    def rows(d: org.apache.spark.sql.DataFrame) = d.orderBy($"i")
      .select($"i", $"added", $"removed").collect().toSeq.map(_.toString)
    assert(rows(CoreOps.lagSetDiff(df, Nil, Seq($"i"), $"arr")) ===
      rows(CoreOps.lagArrayDiff(df, Nil, Seq($"i"), $"arr")))
  }

  test("saltedExactSum equals the direct exact aggregation") {
    val df = (1 to 500).map(i => (i % 3, i * 1.01)).toDF("k", "v")
    val salted = CoreOps.saltedExactSum(df, Seq("k"), $"v", 4, "s", buckets = 8)
      .orderBy($"k").select($"s").as[Double].collect().toSeq
    val direct = df.groupBy($"k").agg(CoreOps.exactSum($"v", 4).as("s"))
      .orderBy($"k").select($"s").as[Double].collect().toSeq
    assert(salted === direct)
  }

  test("asOfBackward honors the lower bound (reference 5-day fallback)") {
    val events = Seq(("u1", d("2024-01-01"), 1.0), ("u1", d("2024-01-08"), 2.0))
      .toDF("u", "dt", "v")
    // probe Jan 10, look back 4 days: Jan 8 hit, Jan 1 out of range
    val hit = CoreOps.asOfBackward(events, Seq($"u"), $"dt",
      lit(d("2024-01-10")), expr("INTERVAL 4 DAYS"), Seq($"dt".desc))
    assert(hit.select($"v").as[Double].collect().toSeq === Seq(2.0))
    // probe Jan 7, look back 4 days: nothing in (Jan 3, Jan 7]
    val miss = CoreOps.asOfBackward(events, Seq($"u"), $"dt",
      lit(d("2024-01-07")), expr("INTERVAL 4 DAYS"), Seq($"dt".desc))
    assert(miss.count() === 0)
  }

  test("bucketPairs: distinct a < b pairs per shared bucket; bucketPairWork is Σ C(c,2)") {
    val sigs = Seq[(Int, Long, Option[Long])](
      (0, 10L, Some(2L)), (0, 10L, Some(1L)),   // 1 and 2 share two buckets
      (1, 20L, Some(1L)), (1, 20L, Some(2L)),
      (1, 30L, Some(3L)), (1, 30L, None),       // 3's only partner is a null id
      (2, 10L, Some(4L)),                       // 4 alone in its bucket
      (3, 10L, Some(8L)), (3, 10L, Some(6L)), (3, 10L, Some(7L))
    ).toDF("band", "sig", "doc_id")
    val pairs = CoreOps.bucketPairs(sigs, Seq("band", "sig"), "doc_id")
    assert(pairs.columns.toSeq === Seq("doc_a", "doc_b"))
    val got = pairs.as[(Long, Long)].collect().toSeq
    assert(got.forall { case (a, b) => a < b })
    assert(got.sorted === Seq((1L, 2L), (6L, 7L), (6L, 8L), (7L, 8L)))
    val named = CoreOps.bucketPairs(sigs, Seq("band", "sig"), "doc_id", "id_a", "id_b")
    assert(named.columns.toSeq === Seq("id_a", "id_b"))
    assert(named.count() === 4)
    // bucket sizes 2, 2, 2 (the null id counts), 1 and 3
    assert(CoreOps.bucketPairWork(sigs, Seq("band", "sig")) === 1 + 1 + 1 + 0 + 3)
    assert(CoreOps.bucketPairWork(sigs.limit(0), Seq("band", "sig")) === 0L)
  }
}
