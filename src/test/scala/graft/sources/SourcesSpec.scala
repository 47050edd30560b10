package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("tickerUniverse parses the screener JSON shape, normalizes and limits (S1/S2)") {
    val dir = Files.createTempDirectory("screener").toFile
    val json =
      """{"data":{"table":{"rows":[
        |{"symbol":"MSFT","name":"Microsoft","marketCap":"3T"},
        |{"symbol":"BRK/B","name":"Berkshire B","marketCap":"900B"},
        |{"symbol":"AAPL","name":"Apple","marketCap":"3T"}]}}}""".stripMargin.replace("\n", "")
    Files.writeString(new java.io.File(dir, "snap.json").toPath, json)
    val got = Snapshots.tickerUniverse(spark, dir.toString, 2)
      .select($"ticker").as[String].collect().toSeq
    // RESPONSE order (market-cap ranked, stock_data_fetcher.py:106-118),
    // not alphabetical: the first `limit` rows by array position,
    // normalized. MSFT and BRK/B→BRK-B come before AAPL in the snapshot.
    assert(got === Seq("MSFT", "BRK-B"))
  }

  test("KeyedParquetStore upsert: INSERT OR REPLACE last-wins across writes (S6/S7)") {
    val path = Files.createTempDirectory("store").toString + "/stocks"
    val v1 = Seq(("AAA", d("2024-01-01"), 10.0, 1), ("BBB", d("2024-01-01"), 3.0, 1))
      .toDF("ticker", "date", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v1, Seq("ticker", "date"), Seq($"ver"))
    // second batch replaces AAA@Jan1 and adds AAA@Jan2
    val v2 = Seq(("AAA", d("2024-01-01"), 11.0, 2), ("AAA", d("2024-01-02"), 12.0, 2))
      .toDF("ticker", "date", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v2, Seq("ticker", "date"), Seq($"ver"))
    val got = KeyedParquetStore.read(spark, path).get
      .orderBy($"ticker", $"date")
      .select($"ticker", $"price").as[(String, Double)].collect().toSeq
    assert(got === Seq(("AAA", 11.0), ("AAA", 12.0), ("BBB", 3.0)))
  }

  test("upsert into a store whose PARENT directory does not exist yet " +
      "succeeds (O_EXCL lock must mkdirs, r12)") {
    // regression: the r11 O_EXCL lock switch dropped Hadoop create()'s
    // implicit parent-dir creation, so the first-ever upsert under a
    // not-yet-existing directory failed lock acquisition with a bogus
    // "concurrent upsert detected" (found by EmbedIngestProbe)
    val path = Files.createTempDirectory("store_parent").toString +
      "/nested/deeper/stocks"
    val v1 = Seq(("AAA", d("2024-01-01"), 10.0, 1))
      .toDF("ticker", "date", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v1, Seq("ticker", "date"), Seq($"ver"))
    assert(KeyedParquetStore.read(spark, path).get.count() === 1L)
  }

  test("partition-scoped upsert rewrites ONLY partitions present in incoming") {
    val path = Files.createTempDirectory("store_scoped").toString + "/stocks"
    val v1 = Seq(("AAA", "2024-01-01", 10.0, 1), ("AAA", "2024-01-02", 11.0, 1),
      ("BBB", "2024-01-01", 3.0, 1)).toDF("ticker", "date", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v1, Seq("ticker", "date"), Seq($"ver"),
      partitionCols = Seq("date"))
    val day1 = new java.io.File(s"$path/date=2024-01-01")
    def fileStats() = day1.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSeq.sortBy(_._1)
    val before = fileStats()
    assert(before.nonEmpty)
    Thread.sleep(1000) // beat coarse mtime granularity so a rewrite would show
    // second batch touches Jan 2 (replace) and Jan 3 (new) — never Jan 1
    val v2 = Seq(("AAA", "2024-01-02", 12.0, 2), ("CCC", "2024-01-03", 7.0, 2))
      .toDF("ticker", "date", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v2, Seq("ticker", "date"), Seq($"ver"),
      partitionCols = Seq("date"))
    assert(fileStats() === before, "untouched partition files must be byte-identical")
    val got = KeyedParquetStore.read(spark, path).get
      .select($"ticker", $"date".cast("string"), $"price")
      .as[(String, String, Double)].collect().toSeq.sorted
    assert(got === Seq(("AAA", "2024-01-01", 10.0), ("AAA", "2024-01-02", 12.0),
      ("BBB", "2024-01-01", 3.0), ("CCC", "2024-01-03", 7.0)))
  }

  test("partition-scoped upsert handles MULTI-LEVEL partitioning") {
    val path = Files.createTempDirectory("store_multi").toString + "/t"
    val v1 = Seq(("2024-01-01", "AAA", 1.0, 1), ("2024-01-01", "BBB", 2.0, 1),
      ("2024-01-02", "AAA", 3.0, 1)).toDF("date", "ticker", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v1, Seq("date", "ticker"), Seq($"ver"),
      partitionCols = Seq("date", "ticker"))
    val untouched = new java.io.File(s"$path/date=2024-01-01/ticker=BBB")
    val before = untouched.listFiles().map(f => (f.getName, f.length, f.lastModified)).toSeq.sorted
    Thread.sleep(1000)
    // touches (Jan1, AAA) and a brand-new (Jan2, CCC) leaf only
    val v2 = Seq(("2024-01-01", "AAA", 9.0, 2), ("2024-01-02", "CCC", 7.0, 2))
      .toDF("date", "ticker", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v2, Seq("date", "ticker"), Seq($"ver"),
      partitionCols = Seq("date", "ticker"))
    assert(untouched.listFiles().map(f => (f.getName, f.length, f.lastModified)).toSeq.sorted === before)
    val got = KeyedParquetStore.read(spark, path).get
      .select($"date".cast("string"), $"ticker", $"price")
      .as[(String, String, Double)].collect().toSeq.sorted
    assert(got === Seq(("2024-01-01", "AAA", 9.0), ("2024-01-01", "BBB", 2.0),
      ("2024-01-02", "AAA", 3.0), ("2024-01-02", "CCC", 7.0)))
  }

  test("partition-scoped upsert with an EMPTY batch is a no-op (idle stream trigger)") {
    val path = Files.createTempDirectory("store_empty").toString + "/t"
    val v1 = Seq(("2024-01-01", "AAA", 1.0, 1)).toDF("date", "ticker", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v1, Seq("ticker"), Seq($"ver"),
      partitionCols = Seq("date"))
    KeyedParquetStore.upsert(spark, path, v1.limit(0), Seq("ticker"), Seq($"ver"),
      partitionCols = Seq("date"))
    assert(KeyedParquetStore.read(spark, path).get.count() === 1)
  }

  test("EMPTY FIRST write of a partitioned store is a no-op, not a " +
      "fileless store that wedges later reads (r8)") {
    val path = Files.createTempDirectory("store_empty_first").toString + "/t"
    val v1 = Seq(("2024-01-01", "AAA", 1.0, 1)).toDF("date", "ticker", "price", "ver")
    // an idle FIRST micro-batch: partitioned write of zero rows stages no
    // parquet files — swapping it in would create a store that "exists"
    // but cannot be schema-inferred, poisoning every later read/merge
    KeyedParquetStore.upsert(spark, path, v1.limit(0), Seq("ticker"), Seq($"ver"),
      partitionCols = Seq("date"))
    assert(KeyedParquetStore.read(spark, path).isEmpty) // still absent
    // and the store is NOT wedged: the next real batch lands normally
    KeyedParquetStore.upsert(spark, path, v1, Seq("ticker"), Seq($"ver"),
      partitionCols = Seq("date"))
    assert(KeyedParquetStore.read(spark, path).get.count() === 1)
    // same guard on replace: empty truth = absent store
    KeyedParquetStore.replace(spark, path, v1.limit(0), partitionCols = Seq("date"))
    assert(KeyedParquetStore.read(spark, path).isEmpty)
  }

  test("tickerUniverse fails loud on a snapshot that does not parse (r8)") {
    val dir = Files.createTempDirectory("screener_bad").toFile
    // the classic re-save: pretty-printed multi-line JSON, which the
    // JSON-lines reader sees as corrupt records — silently empty before
    // FAILFAST, an error now
    Files.writeString(new java.io.File(dir, "snap.json").toPath,
      "{\n  \"data\": {\n    \"table\": {\"rows\": []}\n  }\n}")
    val e = intercept[Exception] {
      Snapshots.tickerUniverse(spark, dir.toString, 5).collect()
    }
    assert(e.getMessage.toLowerCase.contains("malformed") ||
      e.getCause != null, s"expected a parse failure, got: ${e.getMessage}")
  }

  test("upsert known-schema merge path skips footer inference and merges correctly (r8)") {
    val path = Files.createTempDirectory("store_ks").toString + "/t"
    val sc = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ticker", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("price", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("ver", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("date", org.apache.spark.sql.types.StringType)))
    val v1 = Seq(("AAA", 1.0, 1, "2024-01-01")).toDF("ticker", "price", "ver", "date")
    KeyedParquetStore.upsert(spark, path, v1, Seq("ticker"), Seq($"ver"),
      partitionCols = Seq("date"), schema = Some(sc))
    // RETRY of the same partition takes the MERGE path (the dir exists);
    // with the known schema it must read the store without mergeSchema
    // and still merge last-wins correctly
    val v2 = Seq(("AAA", 2.0, 2, "2024-01-01")).toDF("ticker", "price", "ver", "date")
    KeyedParquetStore.upsert(spark, path, v2, Seq("ticker"), Seq($"ver"),
      partitionCols = Seq("date"), schema = Some(sc))
    val got = KeyedParquetStore.read(spark, path, schema = Some(sc)).get
      .select($"ticker", $"price").as[(String, Double)].collect().toSeq
    assert(got === Seq(("AAA", 2.0)))
  }

  test("upsert version tie prefers the incoming row (INSERT OR REPLACE)") {
    val path = Files.createTempDirectory("store_tie").toString + "/dim"
    val v1 = Seq(("AAA", 10.0, 1)).toDF("ticker", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v1, Seq("ticker"), Seq($"ver"))
    val v2 = Seq(("AAA", 99.0, 1)).toDF("ticker", "price", "ver") // same version
    KeyedParquetStore.upsert(spark, path, v2, Seq("ticker"), Seq($"ver"))
    val got = KeyedParquetStore.read(spark, path).get
      .select($"price").as[Double].collect().toSeq
    assert(got === Seq(99.0))
  }

  test("read heals a crashed swap (only .old present)") {
    val path = Files.createTempDirectory("store_crash").toString + "/t"
    val v1 = Seq(("AAA", 1.0, 1)).toDF("ticker", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v1, Seq("ticker"), Seq($"ver"))
    // simulate a crash between the two swap renames: target gone, .old left
    assert(new java.io.File(path).renameTo(new java.io.File(path + ".old")))
    val got = KeyedParquetStore.read(spark, path)
    assert(got.isDefined && got.get.count() === 1)
    assert(new java.io.File(path).exists() && !new java.io.File(path + ".old").exists())
  }

  test("read heals a crashed PARTITION-scoped swap (displaced dir outside root)") {
    val path = Files.createTempDirectory("store_pcrash").toString + "/t"
    val v1 = Seq(("2024-01-01", "AAA", 1.0, 1), ("2024-01-02", "BBB", 2.0, 1))
      .toDF("date", "ticker", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v1, Seq("ticker", "date"), Seq($"ver"),
      partitionCols = Seq("date"))
    // simulate a crash between the two renames of ONE partition's swap:
    // its pre-image sits under path + ".old"/<rel> (never inside the
    // store root, so partition discovery can't see it), target missing
    assert(new java.io.File(path + ".old").mkdirs())
    assert(new java.io.File(s"$path/date=2024-01-02")
      .renameTo(new java.io.File(s"$path.old/date=2024-01-02")))
    val got = KeyedParquetStore.read(spark, path).get
      .select($"ticker", $"price").as[(String, Double)].collect().toSeq.sorted
    assert(got === Seq(("AAA", 1.0), ("BBB", 2.0))) // partition restored
    assert(!new java.io.File(path + ".old").exists())
    // stale case: the swap COMPLETED but the old copy wasn't dropped —
    // read must prefer the committed target and discard the leftover
    val v2 = Seq(("2024-01-02", "BBB", 9.0, 2)).toDF("date", "ticker", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v2, Seq("ticker", "date"), Seq($"ver"),
      partitionCols = Seq("date"))
    assert(new java.io.File(s"$path.old/date=2024-01-02").mkdirs())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path.old/date=2024-01-02/stale.parquet"), "junk")
    val after = KeyedParquetStore.read(spark, path).get
      .filter($"ticker" === "BBB").select($"price").as[Double].collect().toSeq
    assert(after === Seq(9.0))
    assert(!new java.io.File(path + ".old").exists())
  }

  test("upsert fails fast when another writer holds the lock, takes over stale locks") {
    val path = Files.createTempDirectory("store_lock").toString + "/t"
    val v1 = Seq(("AAA", 1.0, 1)).toDF("ticker", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v1, Seq("ticker"), Seq($"ver"))
    assert(!new java.io.File(path + ".lock").exists()) // released after success
    // a FRESH foreign lock -> concurrent writer -> fail fast, store intact
    assert(new java.io.File(path + ".lock").createNewFile())
    val ex = intercept[IllegalStateException] {
      KeyedParquetStore.upsert(spark, path,
        Seq(("AAA", 9.0, 2)).toDF("ticker", "price", "ver"), Seq("ticker"), Seq($"ver"))
    }
    assert(ex.getMessage.contains("concurrent upsert"))
    assert(KeyedParquetStore.read(spark, path).get
      .select($"price").as[Double].head() === 1.0)
    // a STALE lock (older than ttl) is presumed crashed and taken over
    assert(new java.io.File(path + ".lock")
      .setLastModified(System.currentTimeMillis() - 3600 * 1000))
    KeyedParquetStore.upsert(spark, path,
      Seq(("AAA", 9.0, 2)).toDF("ticker", "price", "ver"), Seq("ticker"), Seq($"ver"))
    assert(KeyedParquetStore.read(spark, path).get
      .select($"price").as[Double].head() === 9.0)
    assert(!new java.io.File(path + ".lock").exists())
  }

  test("heartbeat keeps a slow writer's lock fresh past the ttl; contender fails fast") {
    val dir = Files.createTempDirectory("store_hb").toString
    val lockPath = new org.apache.hadoop.fs.Path(dir + "/t.lock")
    val hfs = lockPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ttl = 300L // heartbeat every ~100ms
    val h = KeyedParquetStore.acquireLock(hfs, lockPath, ttl)
    try {
      Thread.sleep(ttl * 3) // a merge running well past the ttl
      // without the heartbeat this lock would now be "stale" and usurped;
      // with it, freshness means liveness and the contender fails fast
      val ex = intercept[IllegalStateException] {
        KeyedParquetStore.acquireLock(hfs, lockPath, ttl)
      }
      assert(ex.getMessage.contains("concurrent upsert"))
    } finally h.release()
    assert(!new java.io.File(dir + "/t.lock").exists())
  }

  test("heartbeat survives a transient displacement — a takeover probe's " +
      "rename/hand-back window must not kill a live owner's beat (r8)") {
    val dir = Files.createTempDirectory("store_hb_disp").toString
    val lockPath = new org.apache.hadoop.fs.Path(dir + "/t.lock")
    val hfs = lockPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ttl = 600L // heartbeat every ~200ms
    val h = KeyedParquetStore.acquireLock(hfs, lockPath, ttl)
    try {
      // a contender's stale-takeover probe displaces the lock, inspects
      // it, finds it fresh, and hands it back — simulate the window wide
      // enough that at least one beat samples the missing lock (the old
      // beat loop exited permanently on that miss, so the lock's mtime
      // froze and the NEXT contender usurped a live merge at the ttl)
      val displaced = new org.apache.hadoop.fs.Path(dir + "/t.lock.stale-probe")
      assert(hfs.rename(lockPath, displaced))
      Thread.sleep(450)
      assert(hfs.rename(displaced, lockPath)) // hand-back
      Thread.sleep(450) // beats must RESUME refreshing
      val age = System.currentTimeMillis() -
        hfs.getFileStatus(lockPath).getModificationTime
      assert(age < ttl,
        s"heartbeat never resumed after the displacement window (lock mtime " +
          s"${age}ms old >= ttl ${ttl}ms — a contender would now take over " +
          "a live merge)")
    } finally h.release()
  }

  test("release leaves a successor's lock in place after a takeover (token mismatch)") {
    val dir = Files.createTempDirectory("store_tok").toString
    val lockPath = new org.apache.hadoop.fs.Path(dir + "/t.lock")
    val hfs = lockPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val h = KeyedParquetStore.acquireLock(hfs, lockPath, 10L * 60 * 1000)
    // simulate a (stale-presumed) takeover: the lock now carries a
    // successor's token — the original writer's release must not delete it
    hfs.delete(lockPath, false)
    Files.writeString(java.nio.file.Paths.get(dir + "/t.lock"), "successor-token")
    h.release()
    assert(Files.readString(java.nio.file.Paths.get(dir + "/t.lock")) === "successor-token")
  }

  test("stale takeover goes through rename, and a crashed writer's lock is replaced") {
    val path = Files.createTempDirectory("store_stale").toString + "/t"
    val v1 = Seq(("AAA", 1.0, 1)).toDF("ticker", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v1, Seq("ticker"), Seq($"ver"))
    // a crashed writer's lock: foreign token, mtime far in the past
    val lockFile = new java.io.File(path + ".lock")
    Files.writeString(lockFile.toPath, "crashed-writer")
    assert(lockFile.setLastModified(System.currentTimeMillis() - 3600 * 1000))
    KeyedParquetStore.upsert(spark, path,
      Seq(("AAA", 5.0, 2)).toDF("ticker", "price", "ver"), Seq("ticker"), Seq($"ver"))
    assert(KeyedParquetStore.read(spark, path).get
      .select($"price").as[Double].head() === 5.0)
    assert(!lockFile.exists()) // the takeover's own lock was released
    // the rename-displaced stale lock was cleaned up too
    assert(!lockFile.getParentFile.listFiles().exists(_.getName.contains(".lock.stale-")))
  }

  test("read leaves a live writer's displaced dirs alone, heals once the lock is gone") {
    val path = Files.createTempDirectory("store_rw").toString + "/t"
    val v1 = Seq(("2024-01-01", "AAA", 1.0, 1), ("2024-01-02", "BBB", 2.0, 1))
      .toDF("date", "ticker", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v1, Seq("ticker", "date"), Seq($"ver"),
      partitionCols = Seq("date"))
    // a LIVE writer mid-swap: fresh lock + one displaced partition
    assert(new java.io.File(path + ".lock").createNewFile())
    assert(new java.io.File(path + ".old").mkdirs())
    assert(new java.io.File(s"$path/date=2024-01-02")
      .renameTo(new java.io.File(s"$path.old/date=2024-01-02")))
    // reader must NOT "recover" under the live writer (that would make the
    // writer's staging rename fail); it sees the store without the
    // in-flight partition
    val during = KeyedParquetStore.read(spark, path).get
      .select($"ticker").as[String].collect().toSeq
    assert(during === Seq("AAA"))
    assert(new java.io.File(s"$path.old/date=2024-01-02").exists())
    // writer died: lock gone -> next read heals
    assert(new java.io.File(path + ".lock").delete())
    val after = KeyedParquetStore.read(spark, path).get
      .select($"ticker").as[String].collect().toSeq.sorted
    assert(after === Seq("AAA", "BBB"))
    assert(!new java.io.File(path + ".old").exists())
  }

  test("bucketed tables sort-merge-join with zero exchanges") {
    val wh = Files.createTempDirectory("bkt_wh").toString.replace("\\", "/")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS bkt LOCATION '$wh'")
    val facts = (1 to 1000).map(i => (i % 50L, i.toLong, i * 1.5))
      .toDF("k", "fact_id", "v")
    val dims = (0 until 50).map(i => (i.toLong, s"dim_$i")).toDF("k", "name")
    KeyedParquetStore.writeBucketed(facts, "bkt.facts", Seq("k"), 4, Seq("k"))
    KeyedParquetStore.writeBucketed(dims, "bkt.dims", Seq("k"), 4, Seq("k"))
    // S8: catalog existence check — the reference's table-exists guard
    assert(spark.catalog.tableExists("bkt.facts"))
    assert(!spark.catalog.tableExists("bkt.nonexistent"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt.facts").join(spark.table("bkt.dims"), "k")
      assert(joined.count() === 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      // the whole point of bucketing: both sides pre-shuffled at rest
      assert(!plan.contains("Exchange"), s"expected no exchanges:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP DATABASE bkt CASCADE")
    }
  }

  test("store tolerates additive schema evolution across upserts (r4)") {
    val path = Files.createTempDirectory("store_evolve").toString + "/t"
    val v1 = Seq(("AAA", "2024-01-01", 1.0, 1), ("BBB", "2024-01-02", 2.0, 1))
      .toDF("ticker", "date", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v1, Seq("ticker", "date"), Seq($"ver"),
      partitionCols = Seq("date"))
    // an evolved writer adds a column and touches only Jan 2: the Jan 1
    // partition's footers never learn about it — mergeSchema on read is
    // what keeps the store's schema deterministic afterwards
    val v2 = Seq(("BBB", "2024-01-02", 2.5, 2, 9L))
      .toDF("ticker", "date", "price", "ver", "volume")
    KeyedParquetStore.upsert(spark, path, v2, Seq("ticker", "date"), Seq($"ver"),
      partitionCols = Seq("date"))
    val got = KeyedParquetStore.read(spark, path).get
      .select($"ticker", $"price", $"volume").as[(String, Double, Option[Long])]
      .collect().toSeq.sorted
    assert(got === Seq(("AAA", 1.0, None), ("BBB", 2.5, Some(9L))))
    // a NOT-yet-evolved writer replacing the row nulls the column back —
    // whole-row INSERT OR REPLACE semantics, deterministically
    val v3 = Seq(("BBB", "2024-01-02", 3.0, 3)).toDF("ticker", "date", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v3, Seq("ticker", "date"), Seq($"ver"),
      partitionCols = Seq("date"))
    val after = KeyedParquetStore.read(spark, path).get
      .select($"ticker", $"price", $"volume").as[(String, Double, Option[Long])]
      .collect().toSeq.sorted
    assert(after === Seq(("AAA", 1.0, None), ("BBB", 3.0, None)))
  }

  test("upsert partitionValues hint: no discovery job, over-broad is harmless (r4)") {
    val path = Files.createTempDirectory("store_hint").toString + "/t"
    val v1 = Seq(("2024-01-01", "AAA", 1.0, 1), ("2024-01-02", "BBB", 3.0, 1))
      .toDF("date", "ticker", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v1, Seq("ticker", "date"), Seq($"ver"),
      partitionCols = Seq("date"))
    val v2 = Seq(("2024-01-01", "AAA", 2.0, 2)).toDF("date", "ticker", "price", "ver")
    // hint names the touched partition plus one incoming never touches:
    // the swap only moves directories the staged write produced
    KeyedParquetStore.upsert(spark, path, v2, Seq("ticker", "date"), Seq($"ver"),
      partitionCols = Seq("date"),
      partitionValues = Seq(Seq("2024-01-01"), Seq("2024-02-01")))
    val got = KeyedParquetStore.read(spark, path).get
      .select($"ticker", $"price").as[(String, Double)].collect().toSeq.sorted
    assert(got === Seq(("AAA", 2.0), ("BBB", 3.0)))
    assert(!new java.io.File(s"$path/date=2024-02-01").exists())
    // a tuple not aligned to partitionCols is rejected up front
    intercept[IllegalArgumentException] {
      KeyedParquetStore.upsert(spark, path, v2, Seq("ticker", "date"), Seq($"ver"),
        partitionCols = Seq("date"), partitionValues = Seq(Seq("x", "y")))
    }
  }

  test("compact coalesces only fragmented partitions, preserving content (r4)") {
    val path = Files.createTempDirectory("store_compact").toString + "/docs"
    // append-only ingest shape (the incremental-dedup band index): each
    // write task leaves its own file, fragmenting every partition
    val rows = (1 to 40).map(i => (i.toLong, s"b${i % 2}", i * 1.0, 1))
      .toDF("id", "batch", "v", "ver")
    rows.repartition(4).write.partitionBy("batch").parquet(path)
    def dataFiles(p: String) = new java.io.File(p).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(dataFiles(s"$path/batch=b0").length > 1, "setup should fragment")
    val before = spark.read.parquet(path)
      .select($"id", $"batch", $"v").as[(Long, String, Double)].collect().toSet
    assert(KeyedParquetStore.compact(spark, path) === 2)
    assert(dataFiles(s"$path/batch=b0").length === 1)
    assert(dataFiles(s"$path/batch=b1").length === 1)
    val after = spark.read.parquet(path)
      .select($"id", $"batch", $"v").as[(Long, String, Double)].collect().toSet
    assert(after === before, "compaction must be a pure layout change")
    // partition pruning still works on the compacted layout
    val q = spark.read.parquet(path).filter($"batch" === "b0")
    assert(q.count() === 20)
    assert(q.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(batch"))
    // second pass: everything already at target -> zero rewrites
    assert(KeyedParquetStore.compact(spark, path) === 0)
    // the lock was released: a subsequent upsert acquires it normally
    KeyedParquetStore.upsert(spark, path,
      Seq((99L, "b0", 9.9, 1)).toDF("id", "batch", "v", "ver"),
      Seq("id"), Seq($"ver"), partitionCols = Seq("batch"))
    assert(spark.read.parquet(path).count() === 41)
  }

  test("compact handles unpartitioned stores and fails fast under a live lock (r4)") {
    val path = Files.createTempDirectory("store_compact_flat").toString + "/dim"
    (1 to 30).map(i => (i.toLong, i * 2.0)).toDF("id", "v")
      .repartition(3).write.parquet(path)
    def dataFiles() = new java.io.File(path).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(dataFiles().length > 1)
    val before = spark.read.parquet(path).select($"id", $"v")
      .as[(Long, Double)].collect().toSet
    assert(KeyedParquetStore.compact(spark, path) === 1)
    assert(dataFiles().length === 1)
    assert(spark.read.parquet(path).select($"id", $"v")
      .as[(Long, Double)].collect().toSet === before)
    // a live writer's fresh lock makes compaction fail fast, files untouched
    Files.writeString(java.nio.file.Paths.get(path + ".lock"), "someone-else")
    intercept[IllegalStateException] { KeyedParquetStore.compact(spark, path) }
    assert(dataFiles().length === 1)
    new java.io.File(path + ".lock").delete()
  }

  test("store writes plan AQE-off at one shuffle partition and restore the " +
      "session's planning conf after every call") {
    val planning = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    // coalescing off: AQE must not hide a missing partition pin by merging
    // the four tiny shuffle partitions back into one
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = (planning :+ coalesce).map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set(coalesce, "false")
    def confRestored(after: String): Unit =
      assert(planning.map(spark.conf.get) === Seq("true", "4"),
        s"session planning conf changed by $after")
    try {
      val path = Files.createTempDirectory("store_planning").toString + "/t"
      def batch(ver: Int) = (0 until 40).map(i => (i.toLong, i % 2, ver, s"v$ver-$i"))
        .toDF("k", "p", "ver", "payload").repartition(4)
      KeyedParquetStore.upsert(spark, path, batch(1), Seq("k"), Seq($"ver"),
        partitionCols = Seq("p"))
      confRestored("the first upsert")
      // partition-scoped MERGE over both existing partitions: the
      // last-wins window's shuffle is planned at one partition, so each
      // rewritten partition dir holds exactly one data file
      KeyedParquetStore.upsert(spark, path, batch(2), Seq("k"), Seq($"ver"),
        partitionCols = Seq("p"), incomingUnique = false)
      confRestored("the merge upsert")
      def dataFiles(p: String) = new java.io.File(p).listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      Seq("p=0", "p=1").foreach { d =>
        assert(dataFiles(s"$path/$d").length === 1, s"$d after the merge upsert")
      }
      assert(KeyedParquetStore.read(spark, path).get
        .filter(!$"payload".startsWith("v2-")).count() === 0)
      KeyedParquetStore.replace(spark, path, batch(3), partitionCols = Seq("p"))
      confRestored("replace")
      assert(KeyedParquetStore.deleteMatching(spark, path, Seq(0L, 1L).toDF("k"),
        Seq("k"), Seq("p")) === 2)
      confRestored("deleteMatching")
      KeyedParquetStore.compact(spark, path)
      confRestored("compact")
      assert(KeyedParquetStore.read(spark, path).get.count() === 38)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("known-schema read skips footer inference yet stays evolution-safe (r7)") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val path = Files.createTempDirectory("store_schema").toString + "/t"
    val v1 = Seq(("AAA", "2024-01-01", 1.0, 1)).toDF("ticker", "date", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v1, Seq("ticker", "date"), Seq($"ver"),
      partitionCols = Seq("date"))
    // an evolved writer adds `volume`, touching only Jan 2 — the Jan 1
    // files never learn the column
    val v2 = Seq(("BBB", "2024-01-02", 2.0, 1, 7L))
      .toDF("ticker", "date", "price", "ver", "volume")
    KeyedParquetStore.upsert(spark, path, v2, Seq("ticker", "date"), Seq($"ver"),
      partitionCols = Seq("date"))
    // reading with the CURRENT schema: no mergeSchema inference, and the
    // pre-evolution file's missing column null-fills
    val cur = StructType(Seq(
      StructField("ticker", StringType), StructField("price", DoubleType),
      StructField("ver", LongType), StructField("volume", LongType),
      StructField("date", StringType)))
    val got = KeyedParquetStore.read(spark, path, schema = Some(cur)).get
      .select($"ticker", $"volume").as[(String, Option[Long])]
      .collect().toSeq.sorted
    assert(got === Seq(("AAA", None), ("BBB", Some(7L))))
    // a column the schema omits is simply not read (projection, not error)
    val narrow = StructType(Seq(
      StructField("ticker", StringType), StructField("date", StringType)))
    assert(KeyedParquetStore.read(spark, path, schema = Some(narrow)).get
      .columns.toSeq === Seq("ticker", "date"))
  }

  test("debugChecks: false incomingUnique vouch fails fast ON, zero extra jobs OFF (r7)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
    val dup = Seq(("AAA", 1.0, 1), ("AAA", 2.0, 1)).toDF("ticker", "price", "ver")
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // OFF (the default): the vouch is trusted — duplicates stored, the
      // documented caller-contract trade-off — and the check adds no jobs.
      val pOff = Files.createTempDirectory("store_vouch_off").toString + "/t"
      jobs = 0
      KeyedParquetStore.upsert(spark, pOff, dup, Seq("ticker"), Seq($"ver"),
        incomingUnique = true)
      Thread.sleep(500) // listener bus drains asynchronously
      val jOff = jobs
      assert(KeyedParquetStore.read(spark, pOff).get.count() === 2)
      // ON: the same call is caught BEFORE anything lands on disk.
      val pOn = Files.createTempDirectory("store_vouch_on").toString + "/t"
      spark.conf.set("spark.graft.store.debugChecks", "true")
      try {
        jobs = 0
        val ex = intercept[IllegalArgumentException] {
          KeyedParquetStore.upsert(spark, pOn, dup, Seq("ticker"), Seq($"ver"),
            incomingUnique = true)
        }
        assert(ex.getMessage.contains("incomingUnique"))
        assert(KeyedParquetStore.read(spark, pOn).isEmpty)
        Thread.sleep(500) // listener bus drains asynchronously
        // the verification is what spent jobs; OFF ran none of them
        assert(jobs > 0 && jOff > 0)
        // a TRUE vouch passes with the flag on and costs only the check
        val ok = Seq(("AAA", 1.0, 1), ("BBB", 2.0, 1)).toDF("ticker", "price", "ver")
        KeyedParquetStore.upsert(spark, pOn, ok, Seq("ticker"), Seq($"ver"),
          incomingUnique = true)
        assert(KeyedParquetStore.read(spark, pOn).get.count() === 2)
      } finally spark.conf.unset("spark.graft.store.debugChecks")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("debugChecks: partitionValues hint missing an incoming partition fails fast (r7)") {
    val path = Files.createTempDirectory("store_hintchk").toString + "/t"
    val v = Seq(("2024-01-01", "AAA", 1.0, 1), ("2024-01-02", "BBB", 2.0, 1))
      .toDF("date", "ticker", "price", "ver")
    spark.conf.set("spark.graft.store.debugChecks", "true")
    try {
      val ex = intercept[IllegalArgumentException] {
        KeyedParquetStore.upsert(spark, path, v, Seq("ticker", "date"), Seq($"ver"),
          partitionCols = Seq("date"), partitionValues = Seq(Seq("2024-01-01")))
      }
      assert(ex.getMessage.contains("2024-01-02"))
      // a COVERING hint passes (over-broad remains fine)
      KeyedParquetStore.upsert(spark, path, v, Seq("ticker", "date"), Seq($"ver"),
        partitionCols = Seq("date"),
        partitionValues = Seq(Seq("2024-01-01"), Seq("2024-01-02"), Seq("2024-03-01")))
      assert(KeyedParquetStore.read(spark, path).get.count() === 2)
    } finally spark.conf.unset("spark.graft.store.debugChecks")
  }

  test("append fast path rendering guard: mismatched hint rendering loses no rows (r7)") {
    val path = Files.createTempDirectory("store_render").toString + "/t"
    // string partition values with a leading zero: directory is batch=07
    val v1 = Seq(("A1", "07", 1.0, 1)).toDF("id", "batch", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v1, Seq("id"), Seq($"ver"),
      partitionCols = Seq("batch"))
    assert(new java.io.File(s"$path/batch=07").exists())
    // hint renders Int 7 -> probes batch=7, misses the existing batch=07:
    // without the staged-name guard the fast path would judge the
    // partition NEW and swap over it, displacing A1 unmerged. The guard
    // compares staged directory names against the probed set and falls
    // back to the by-VALUE merge path instead.
    val v2 = Seq(("A2", "07", 2.0, 1)).toDF("id", "batch", "price", "ver")
    KeyedParquetStore.upsert(spark, path, v2, Seq("id"), Seq($"ver"),
      partitionCols = Seq("batch"), partitionValues = Seq(Seq(7)))
    val ids = KeyedParquetStore.read(spark, path).get
      .select($"id").as[String].collect().toSet
    assert(ids === Set("A1", "A2"), "existing rows must survive a mis-rendered hint")
  }

  test("replace overwrites wholesale, may read from itself, and stays " +
      "crash-healable (r7)") {
    val path = Files.createTempDirectory("store_replace").toString + "/partials"
    val v1 = Seq(("a", 1L, "e0"), ("a", 2L, "e1"), ("b", 3L, "e1"))
      .toDF("term", "df", "batch")
    KeyedParquetStore.upsert(spark, path, v1, Seq("term", "batch"), Seq(lit(1)),
      partitionCols = Seq("batch"))
    // the roll-up shape: contents DERIVED FROM the store being replaced
    val rolled = KeyedParquetStore.read(spark, path).get
      .groupBy($"term").agg(sum($"df").as("df"))
      .withColumn("batch", org.apache.spark.sql.functions.lit("rollup"))
    KeyedParquetStore.replace(spark, path, rolled, partitionCols = Seq("batch"))
    val got = KeyedParquetStore.read(spark, path).get
      .select($"term", $"df", $"batch").as[(String, Long, String)]
      .collect().toSet
    assert(got === Set(("a", 3L, "rollup"), ("b", 3L, "rollup"))) // shrunk: 3 -> 2 rows
    // crash simulation: store vanished mid-swap, .old pre-image left
    val f = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    f.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".old"))
    val healed = KeyedParquetStore.read(spark, path).get
      .select($"term", $"df", $"batch").as[(String, Long, String)]
      .collect().toSet
    assert(healed === got)
  }

  test("deleteMatching removes matching rows partition-scoped, drops " +
      "emptied partitions, leaves untouched partitions alone (r16)") {
    val path = Files.createTempDirectory("store_delete").toString + "/bands"
    val rows = Seq(
      (1L, 0, "s10", "b0"), (1L, 1, "s11", "b0"), (2L, 0, "s20", "b0"),
      (3L, 0, "s30", "b1"),                      // b1 holds ONLY victim 3
      (4L, 0, "s40", "b2"), (5L, 0, "s50", "b2") // b2 untouched
    ).toDF("doc_id", "band", "sig", "batch")
    KeyedParquetStore.upsert(spark, path, rows, Seq("doc_id", "band"),
      Seq(lit(1)), partitionCols = Seq("batch"), incomingUnique = true)
    val f = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val b2Before = f.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$path/batch=b2")).getModificationTime
    // victims at NATURAL grain (duplicate ids must not fan the anti-join)
    val victims = Seq(1L, 1L, 3L, 99L).toDF("doc_id")
    val n = KeyedParquetStore.deleteMatching(spark, path, victims,
      on = Seq("doc_id"), partitionCols = Seq("batch"))
    assert(n === 2) // b0 rewritten, b1 removed; b2 never touched
    val got = KeyedParquetStore.read(spark, path).get
      .select($"doc_id", $"batch").as[(Long, String)].collect().toSet
    assert(got === Set((2L, "b0"), (4L, "b2"), (5L, "b2")))
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$path/batch=b1")))
    assert(f.getFileStatus(new org.apache.hadoop.fs.Path(s"$path/batch=b2"))
      .getModificationTime === b2Before)
    // no victims present → 0, no write at all
    assert(KeyedParquetStore.deleteMatching(spark, path,
      Seq(42L).toDF("doc_id"), Seq("doc_id"), Seq("batch")) === 0)
    // idempotent re-run of the same victims → 0 (already gone)
    assert(KeyedParquetStore.deleteMatching(spark, path, victims,
      Seq("doc_id"), Seq("batch")) === 0)
  }

  test("deleteMatching: deleting every row leaves an ABSENT store; " +
      "absent store is a no-op; unpartitioned stores rewrite (r16)") {
    val path = Files.createTempDirectory("store_delete_all").toString + "/idx"
    assert(KeyedParquetStore.deleteMatching(spark, path,
      Seq(1L).toDF("doc_id"), Seq("doc_id")) === 0) // absent: no-op
    val rows = Seq((1L, "x", "b0"), (2L, "y", "b0")).toDF("doc_id", "v", "batch")
    KeyedParquetStore.upsert(spark, path, rows, Seq("doc_id"), Seq(lit(1)),
      partitionCols = Seq("batch"), incomingUnique = true)
    KeyedParquetStore.deleteMatching(spark, path, Seq(1L, 2L).toDF("doc_id"),
      Seq("doc_id"), Seq("batch"))
    // absent-after-empty: replace()'s rendering of "the new truth is nothing"
    assert(KeyedParquetStore.read(spark, path).isEmpty)
    // unpartitioned: wholesale rewrite, store stays readable when emptied
    val p2 = Files.createTempDirectory("store_delete_flat").toString + "/dim"
    KeyedParquetStore.upsert(spark, p2,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Seq("k"), Seq(lit(1)))
    assert(KeyedParquetStore.deleteMatching(spark, p2,
      Seq(1L).toDF("k"), Seq("k")) === 1)
    assert(KeyedParquetStore.read(spark, p2).get
      .select($"k").as[Long].collect().toSeq === Seq(2L))
  }

  test("deleteMatching falls back to a full rewrite on non-plain " +
      "partition renderings and still deletes correctly (r16)") {
    val path = Files.createTempDirectory("store_delete_esc").toString + "/idx"
    // ':' forces Hadoop path escaping — the scoped path cannot name the
    // emptied live dir safely, so the fallback full rewrite must run
    val rows = Seq((1L, "b:0"), (2L, "b:0"), (3L, "b:1"))
      .toDF("doc_id", "batch")
    KeyedParquetStore.upsert(spark, path, rows, Seq("doc_id"), Seq(lit(1)),
      partitionCols = Seq("batch"), incomingUnique = true)
    assert(KeyedParquetStore.deleteMatching(spark, path,
      Seq(3L).toDF("doc_id"), Seq("doc_id"), Seq("batch")) === 1) // full rewrite
    assert(KeyedParquetStore.read(spark, path).get
      .select($"doc_id", $"batch").as[(Long, String)].collect().toSet ===
      Set((1L, "b:0"), (2L, "b:0")))
  }

  test("rollupBatchPartitions folds aged batch dirs verbatim, keeps the " +
      "horizon, preserves sub-partitions, and stays idempotent (r13)") {
    val path = Files.createTempDirectory("store_rollup").toString + "/postings"
    // (batch, tbucket) layout — the bm25-postings shape, the most
    // structured of the stores this maintains
    val rows = (0 until 4).flatMap(i => Seq(
      (s"doc${i}a", 1L, i % 2, s"e$i"), (s"doc${i}b", 2L, (i + 1) % 2, s"e$i")))
      .toDF("doc", "tf", "tbucket", "batch")
    (0 until 4).foreach { i =>
      KeyedParquetStore.upsert(spark, path, rows.filter($"batch" === s"e$i"),
        Seq("doc"), Seq(lit(1)), partitionCols = Seq("batch", "tbucket"),
        partitionValues = Seq(Seq(s"e$i", 0), Seq(s"e$i", 1)))
    }
    val before = KeyedParquetStore.read(spark, path).get
      .select($"doc", $"tf", $"tbucket").as[(String, Long, Int)].collect().toSet
    KeyedParquetStore.rollupBatchPartitions(spark, path,
      keepBatches = Set("e3"), partitionCols = Seq("batch", "tbucket"))
    val after = KeyedParquetStore.read(spark, path).get
    // rows verbatim (batch label aside); tbucket survives the fold
    assert(after.select($"doc", $"tf", $"tbucket").as[(String, Long, Int)]
      .collect().toSet === before)
    val batches = after.select($"batch").distinct().as[String].collect().toSet
    assert(batches === Set("rollup", "e3"))
    // partition DIRECTORY population: 4 batch dirs -> 2
    val dirs = new java.io.File(path).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
    assert(dirs === Set("batch=rollup", "batch=e3"))
    // idempotent: rollup folds into rollup, horizon stays put
    KeyedParquetStore.rollupBatchPartitions(spark, path,
      keepBatches = Set("e3"), partitionCols = Seq("batch", "tbucket"))
    assert(KeyedParquetStore.read(spark, path).get
      .select($"doc", $"tf", $"tbucket").as[(String, Long, Int)]
      .collect().toSet === before)
    // the kept batch still replays idempotently AFTER the fold (the
    // whole point of the horizon): re-upsert e3 with a bumped value
    KeyedParquetStore.upsert(spark, path,
      Seq(("doc3a", 9L, 1, "e3")).toDF("doc", "tf", "tbucket", "batch"),
      Seq("doc"), Seq(lit(2)), partitionCols = Seq("batch", "tbucket"),
      partitionValues = Seq(Seq("e3", 0), Seq("e3", 1)))
    val replayed = KeyedParquetStore.read(spark, path).get
      .filter($"doc" === "doc3a").select($"tf").as[Long].collect().toSeq
    assert(replayed === Seq(9L)) // merged, not duplicated
  }

  test("rollupBatchPartitions self-gates geometrically: a small aged batch " +
      "defers, enough aged bytes fold, the count trigger overrides (r14)") {
    val path = Files.createTempDirectory("store_gate").toString + "/idx"
    def ingest(b: String, rows: Int): Unit =
      KeyedParquetStore.upsert(spark, path,
        (0 until rows).map(i => (s"$b-$i", 1L, b)).toDF("k", "v", "batch"),
        Seq("k"), Seq(lit(1)), partitionCols = Seq("batch"),
        partitionValues = Seq(Seq(b)))
    def batchDirs: Set[String] = new java.io.File(path).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
    // a big consolidated history + one tiny fresh-aged batch
    ingest("e0", 5000)
    KeyedParquetStore.rollupBatchPartitions(spark, path, keepBatches = Set.empty,
      minAgedBytesFraction = 0.0) // force the initial fold
    assert(batchDirs === Set("batch=rollup"))
    ingest("e1", 1)
    // aged bytes (1 row) ≪ half the store → the fold DEFERS: O(store)
    // rewrites must be bought by proportional growth, not by cadence
    KeyedParquetStore.rollupBatchPartitions(spark, path, keepBatches = Set("e2"))
    assert(batchDirs === Set("batch=rollup", "batch=e1"))
    // rows still read back complete while deferred
    assert(KeyedParquetStore.read(spark, path).get.count() === 5001L)
    // enough aged bytes (≈ the rollup itself) → the fold runs
    ingest("e2", 6000)
    KeyedParquetStore.rollupBatchPartitions(spark, path, keepBatches = Set("e3"))
    assert(batchDirs === Set("batch=rollup"))
    assert(KeyedParquetStore.read(spark, path).get.count() === 11001L)
    // count trigger: many tiny aged dirs fold regardless of bytes — the
    // directory-population bound the byte gate alone cannot give
    ingest("e3", 1); ingest("e4", 1); ingest("e5", 1)
    KeyedParquetStore.rollupBatchPartitions(spark, path, keepBatches = Set("e6"),
      maxAgedBatches = 3)
    assert(batchDirs === Set("batch=rollup"))
    assert(KeyedParquetStore.read(spark, path).get.count() === 11004L)
  }

  test("rollupBatchPartitions unescapes partition dir names before the " +
      "keep-horizon compare: an escape-needing live batch id defers, " +
      "and the fold relabels only truly-aged batches (ADVICE r14)") {
    // ':' is in Hadoop's charToEscape set, so batch id "e:1" lands on
    // disk as dir "batch=e%3A1". Pre-fix, the gate compared the RAW dir
    // token against keepBatches' column values: the live horizon never
    // matched, was counted as aged, and a dominant live batch forced a
    // premature O(store) fold that relabeled... nothing it should.
    val path = Files.createTempDirectory("store_esc").toString + "/idx"
    def ingest(b: String, rows: Int): Unit =
      KeyedParquetStore.upsert(spark, path,
        (0 until rows).map(i => (s"$b-$i", 1L, b)).toDF("k", "v", "batch"),
        Seq("k"), Seq(lit(1)), partitionCols = Seq("batch"),
        partitionValues = Seq(Seq(b)))
    def batchDirs: Set[String] = new java.io.File(path).listFiles
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName).toSet
    ingest("e0", 40)       // small genuinely-aged history
    ingest("e:1", 4000)    // the live horizon, escape-needing id
    assert(batchDirs === Set("batch=e0", "batch=e%3A1")) // escaping is real
    // live bytes dominate: with the horizon correctly classified as
    // KEPT, aged bytes (e0) ≪ half the store → the fold must DEFER.
    // Under the raw-token compare e:1 counted as aged → fold fired.
    KeyedParquetStore.rollupBatchPartitions(spark, path,
      keepBatches = Set("e:1"))
    assert(batchDirs === Set("batch=e0", "batch=e%3A1"))
    // force the fold: only e0 relabels; the escaped horizon stays put
    KeyedParquetStore.rollupBatchPartitions(spark, path,
      keepBatches = Set("e:1"), minAgedBytesFraction = 0.0)
    assert(batchDirs === Set("batch=rollup", "batch=e%3A1"))
    assert(KeyedParquetStore.read(spark, path).get.count() === 4040L)
    // the horizon still replays idempotently after the fold
    KeyedParquetStore.upsert(spark, path,
      Seq(("e:1-0", 9L, "e:1")).toDF("k", "v", "batch"),
      Seq("k"), Seq(lit(2)), partitionCols = Seq("batch"),
      partitionValues = Seq(Seq("e:1")))
    assert(KeyedParquetStore.read(spark, path).get
      .filter($"k" === "e:1-0").select($"v").as[Long].collect().toSeq === Seq(9L))
  }

  test("q83 JSONL ingest: corrupt lines quarantine whole, clean lines " +
      "round-trip exactly (r13)") {
    // The registry face asserts the clean-output contract against the
    // oracle; THIS spec asserts the quarantine side the oracle can't
    // see — corrupt lines are captured raw (not silently nulled into
    // the corpus, not crashing the read).
    val dir = Files.createTempDirectory("jsonl").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
    val fields = struct($"doc_id", $"text", $"lang", $"source", $"n_chars")
    docs.select(
        when(pmod($"doc_id", lit(50)) === 7, substring(to_json(fields), 1, 20))
          .otherwise(to_json(fields)).as("value"))
      .write.mode("overwrite").text(s"$dir/docs_jsonl")
    // cached: Spark refuses plans whose referenced columns are ONLY the
    // corrupt column over a raw JSON scan (QUERY_ONLY_CORRUPT_RECORD_
    // COLUMN) — its documented pattern is to materialize the parse once
    // and query that, which is what the quarantine projections below do
    val parsed = spark.read
      .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
        "n_chars BIGINT, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(s"$dir/docs_jsonl")
      .cache()
    val nCorruptIds = docs.filter(pmod($"doc_id", lit(50)) === 7).count()
    assert(nCorruptIds > 0, "fixture must corrupt at least one line")
    val quarantined = parsed.filter($"_corrupt_record".isNotNull)
    assert(quarantined.count() === nCorruptIds)
    // quarantine carries the RAW truncated line (auditable), with the
    // data columns null — never a half-parsed chimera row
    val qRows = quarantined.select($"_corrupt_record", $"text").collect()
    assert(qRows.forall(r => r.getString(0).length === 20 && r.isNullAt(1)))
    // clean rows round-trip every column exactly
    val clean = parsed.filter($"_corrupt_record".isNull)
      .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      .as[(Long, String, String, String, Long)].collect().toSet
    val want = docs.filter(pmod($"doc_id", lit(50)) =!= 7)
      .as[(Long, String, String, String, Long)].collect().toSet
    assert(clean === want)
  }

  test("partitioned store prunes partitions on date filters") {
    val path = Files.createTempDirectory("store_part").toString + "/stocks"
    val rows = (1 to 10).flatMap(day => Seq(("AAA", f"2024-01-$day%02d", day * 1.0, 1)))
      .toDF("ticker", "date", "price", "ver")
    KeyedParquetStore.upsert(spark, path, rows, Seq("ticker", "date"), Seq($"ver"),
      partitionCols = Seq("date"))
    val q = KeyedParquetStore.read(spark, path).get.filter($"date" === "2024-01-03")
    assert(q.count() === 1)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(date"),
      s"expected partition pruning in plan:\n$plan")
  }

  // r9 regression: the driver regenerated events.parquet from
  // TIMESTAMP(NANOS) to plain micros and the encoding-pinned reader broke
  // 7 registry queries at ANALYSIS time. Pin the adaptive contract here,
  // where the fix lives: all physical encodings of `ts` the driver has
  // shipped (or could) must surface identical TimestampType instants.
  test("Tables.events adapts to tz-micros, NTZ-micros, and nanos-long ts encodings") {
    import org.apache.spark.sql.types.TimestampType
    val base = Seq(
      (1L, "2024-01-03 12:34:56.789012", 10L, "click", 1.5, """{"k":1}"""),
      (2L, "2024-01-04 00:00:00.000001", 11L, "view", 2.5, """{"k":2}"""))
      .toDF("event_id", "tss", "user_id", "event_type", "value", "props")
    def writeDir(ts: org.apache.spark.sql.Column): String = {
      val dir = Files.createTempDirectory("events_enc").toString
      base.withColumn("ts", ts)
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
        .coalesce(1).write.parquet(s"$dir/events.parquet")
      dir
    }
    val tzMicros = writeDir($"tss".cast("timestamp"))
    val ntzMicros = writeDir($"tss".cast("timestamp_ntz"))
    // What a TIMESTAMP(NANOS) column surfaces as under nanosAsLong=true:
    // a BIGINT of nanos-since-epoch (Spark cannot WRITE physical NANOS,
    // so the long column stands in for the post-read shape directly).
    val nanosLong = writeDir(unix_micros($"tss".cast("timestamp")) * lit(1000L))
    val got = Seq(tzMicros, ntzMicros, nanosLong).map { dir =>
      val df = graft.Tables.events(spark, dir)
      assert(df.schema("ts").dataType === TimestampType, s"dir=$dir")
      df.orderBy($"event_id").select($"event_id", $"ts".cast("string"))
        .as[(Long, String)].collect().toSeq
    }
    assert(got(0) === got(1), "tz-micros vs NTZ-micros mismatch")
    assert(got(0) === got(2), "tz-micros vs nanos-long mismatch")
    assert(got(0).map(_._2) ===
      Seq("2024-01-03 12:34:56.789012", "2024-01-04 00:00:00.000001"))
  }

  test("model-based random op sequences: store ≡ in-memory last-wins model " +
      "across interleaved upsert/compact/replace (r13)") {
    // The pointwise specs above each pin ONE behavior; this drives the
    // store through random INTERLEAVINGS and checks the full contents
    // against an in-memory last-wins model after every operation — the
    // class of bug it exists to catch is an interaction (a compact that
    // drops a just-upserted row, a replace that resurrects a displaced
    // pre-image) that no pointwise case composes. Keys map to partitions
    // functionally (p = k % 4, the keys↔partition contract); versions
    // tie → incoming wins (the INSERT OR REPLACE rendering); batches
    // hold at most one row per key (duplicate keys WITH tied versions in
    // one batch are outside the contract — order among them is
    // undefined in any engine).
    for (seed <- Seq(7, 99, 20260815)) {
      val rnd = new scala.util.Random(seed)
      val path = Files.createTempDirectory(s"model$seed").toString + "/store"
      var model = Map.empty[Long, (Long, String)] // k -> (ver, payload)
      def checkEq(opIdx: Int, op: String): Unit = {
        val rows = KeyedParquetStore.read(spark, path) match {
          case None => Array.empty[(Long, Long, String, Long)]
          case Some(df) => df
            .select(col("k").cast("long"), col("ver").cast("long"),
              col("payload"), col("p").cast("long"))
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
        }
        // row count FIRST: a duplicate-key row would vanish inside toMap
        assert(rows.length === model.size,
          s"seed $seed op #$opIdx ($op): ${rows.length} rows vs model ${model.size}")
        assert(rows.forall(r => r._4 == r._1 % 4),
          s"seed $seed op #$opIdx ($op): a row left its partition")
        val got = rows.map(r => r._1 -> (r._2, r._3)).toMap
        assert(got === model, s"seed $seed op #$opIdx ($op): store != model")
      }
      for (i <- 0 until 12) {
        rnd.nextInt(10) match {
          case n if n <= 6 => // upsert: 0-6 unique keys, random versions
            val ks = rnd.shuffle((0L until 24L).toList).take(rnd.nextInt(7))
            val rows = ks.map { k =>
              val v = rnd.nextInt(5).toLong
              (k, k % 4, v, s"$k-$v-$i")
            }
            val df = rows.toDF("k", "p", "ver", "payload")
            KeyedParquetStore.upsert(spark, path, df, Seq("k"), Seq($"ver"),
              partitionCols = Seq("p"))
            rows.foreach { case (k, _, v, pay) =>
              if (model.get(k).forall(_._1 <= v)) model += k -> (v, pay)
            }
            checkEq(i, s"upsert(${rows.size})")
          case 7 | 8 => // compact: pure layout change
            if (model.nonEmpty) {
              KeyedParquetStore.compact(spark, path)
              checkEq(i, "compact")
            }
          case 9 => // replace: the new truth is a random subset (maybe empty)
            val keep = model.filter(_ => rnd.nextBoolean())
            val rows = keep.toSeq.map { case (k, (v, pay)) => (k, k % 4, v, pay) }
            KeyedParquetStore.replace(spark, path,
              rows.toDF("k", "p", "ver", "payload"), partitionCols = Seq("p"))
            model = keep
            checkEq(i, s"replace(${rows.size})")
        }
      }
    }
  }

  test("verifySchemas: green on testdata, one loud diff naming table.column on drift") {
    graft.Tables.verifySchemas(spark, "/root/testdata/sf0.001")
    // Perturbed snapshot: symlink the 9 healthy tables, replace events
    // with a cross-family ts (string) — the drift the reader cannot absorb.
    val dir = Files.createTempDirectory("drift").toString
    graft.Tables.names.filterNot(_ == "events").foreach { t =>
      Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$dir/$t.parquet"),
        java.nio.file.Paths.get(s"/root/testdata/sf0.001/$t.parquet"))
    }
    Seq((1L, "not-a-timestamp", 10L, "click", 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalStateException] {
      graft.Tables.verifySchemas(spark, dir)
    }
    assert(e.getMessage.contains("events.ts"), e.getMessage)
  }
}
