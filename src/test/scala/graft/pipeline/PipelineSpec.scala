package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog near the river bank"),       // near dup of 1
    (4L, "completely different words about spark catalyst optimizer and shuffles here"),
    (5L, "another unrelated snippet mentioning parquet columnar storage formats")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id and counts copies") {
    val got = Dedup.exact(docs).orderBy($"kept_id")
      .select($"kept_id", $"n_copies").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("softDedup keeps each copy at ~targetCopies/n via the deterministic " +
      "deal: uniques always survive, a 10-cluster thins to the hash-chosen " +
      "subset, at-or-under-target clusters keep everything (r17)") {
    val boiler = "the same boilerplate paragraph repeated across many shards here"
    val corpus = ((1L to 10L).map(i => (i, boiler)) :+
      (20L, "a genuinely unique document about spark window operators"))
      .toDF("doc_id", "text")
    // independent reimplementation of the 60-bit deal (MessageDigest,
    // not TextAnalysis.md5Hash60) — the spec's own oracle
    def h60(sx: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(sx.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val expectCluster = (1L to 10L)
      .filter(i => h60(s"${i}_s1") % 1000000L < 100000L).toSet
    val got = Dedup.softDedup(corpus, targetCopies = 1L, salt = "s1")
      .select($"doc_id", $"n_copies").as[(Long, Long)].collect().toMap
    assert(got.keySet === expectCluster + 20L)
    assert(got(20L) === 1L)
    assert(expectCluster.forall(got(_) === 10L))
    // a target at or above the cluster size keeps every copy
    val all = Dedup.softDedup(corpus, targetCopies = 10L, salt = "s1")
      .select($"doc_id").as[Long].collect().toSet
    assert(all === (1L to 10L).toSet + 20L)
    // intermediate target: threshold scales to (10⁶·2) div 10 = 200000
    val expectTwo = (1L to 10L)
      .filter(i => h60(s"${i}_s1") % 1000000L < 200000L).toSet
    val gotTwo = Dedup.softDedup(corpus, targetCopies = 2L, salt = "s1")
      .select($"doc_id").as[Long].collect().toSet
    assert(gotTwo === expectTwo + 20L)
    assert(expectCluster.subsetOf(expectTwo), "raising the target only ADDS survivors")
    // deterministic across plans
    assert(Dedup.softDedup(corpus, targetCopies = 1L, salt = "s1")
      .select($"doc_id").as[Long].collect().toSet === got.keySet)
  }

  test("segmentDedup keeps first occurrences, reassembles in order, " +
      "and empties a fully-duplicate doc") {
    // 3-token segments: doc 1 = [a b c][d e f], doc 2 repeats doc 1's
    // first segment then adds new text, doc 3 is entirely doc 1's
    // segments (→ empty survivor), doc 4 repeats a segment WITHIN itself.
    val d = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c x y z"),
      (3L, "a b c d e f"),
      (4L, "p q r p q r")
    ).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(d, segTokens = 3)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 2L, 2L, "a b c d e f"),
      (2L, 2L, 1L, "x y z"),
      (3L, 2L, 0L, ""),
      (4L, 2L, 1L, "p q r")))
  }

  test("softDedup groups null-text docs into ONE shared null cluster " +
      "(r18: the aggregate-then-join shape must keep the window/groupBy " +
      "null verdict — a plain equi-join would silently drop them)") {
    val corpus = Seq[(Long, String)]((1L, null), (2L, null), (3L, null),
      (4L, "a genuinely unique document present exactly once"))
      .toDF("doc_id", "text")
    def h60(sx: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(sx.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val expectNulls = (1L to 3L)
      .filter(i => h60(s"${i}_sN") % 1000000L < 333333L).toSet
    val got = Dedup.softDedup(corpus, targetCopies = 1L, salt = "sN")
      .select($"doc_id", $"content_hash", $"n_copies")
      .as[(Long, Option[Long], Long)].collect()
    assert(got.map(_._1).toSet === expectNulls + 4L)
    got.filter(_._1 <= 3L).foreach { case (_, ch, n) =>
      assert(ch.isEmpty && n === 3L,
        "null-text docs must carry a null content_hash and the shared " +
          "cluster's count")
    }
  }

  test("spanDedup burns a boundary-straddling duplicated span that " +
      "segmentDedup misses, keeps the first occurrence, and leaves " +
      "unrelated docs intact (r18)") {
    // S=4 grid: the span s1..s4 occupies token positions 2..5 in BOTH
    // docs — straddling the segment boundary at 4, so all four base
    // segments are distinct and segment dedup keeps every copy. The
    // odd stride-2 bridge window w=1 covers exactly [2,6) = the span:
    // doc 1's occurrence wins the bridge election, doc 2's loses and
    // burns its base segments 0 and 1.
    val d = Seq(
      (1L, "a1 a2 s1 s2 s3 s4 a7 a8"),
      (2L, "b1 b2 s1 s2 s3 s4 b7 b8"),
      (3L, "d1 d2 d3 d4 d5")
    ).toDF("doc_id", "text")
    val missed = Dedup.segmentDedup(d, segTokens = 4)
    assert(missed.filter($"n_kept" =!= $"n_segs").count() === 0,
      "precondition: the straddle must be INVISIBLE to segment dedup")
    val got = Dedup.spanDedup(d, segTokens = 4)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 2L, 2L, "a1 a2 s1 s2 s3 s4 a7 a8"),
      (2L, 2L, 0L, ""),
      (3L, 2L, 2L, "d1 d2 d3 d4 d5")))
  }

  test("spanDedup subsumes segmentDedup's aligned-duplicate verdicts " +
      "and rejects an odd grain") {
    // whole-segment duplicates (segmentDedup's own planted case) get
    // the same verdicts: doc 3 is entirely doc 1's segments → empty.
    val d = Seq(
      (1L, "a b c d e f g h"),
      (3L, "a b c d e f g h")
    ).toDF("doc_id", "text")
    val got = Dedup.spanDedup(d, segTokens = 4)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got === Seq(
      (1L, 2L, 2L, "a b c d e f g h"),
      (3L, 2L, 0L, "")))
    intercept[IllegalArgumentException] {
      Dedup.spanDedup(d, segTokens = 3)
    }
  }

  test("segmentDedup leaves a duplicate-free corpus bit-identical") {
    // docs 2 and 3 share segments with doc 1; 1/4/5 share none.
    val orig = docs.filter($"doc_id".isin(1L, 4L, 5L))
    val got = Dedup.segmentDedup(orig, segTokens = 4)
    val back = got.select($"doc_id", $"text_dedup".as("text"))
    assert(got.filter($"n_kept" =!= $"n_segs").count() === 0)
    assert(back.except(orig).count() === 0 && orig.except(back).count() === 0)
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashLsh(docs, numHashes = 16, rowsPerBand = 4,
      shingleN = 3, threshold = 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => b == 4L || b == 5L || a == 4L || a == 5L })
  }

  test("LSH candidates agree with all-pairs baseline at threshold 0.5") {
    val lsh = Dedup.minhashLsh(docs, 16, 4, 3, 0.5)
      .select($"doc_a", $"doc_b", $"jaccard").collect().toSet
    val exact = Dedup.allPairsJaccard(docs, 3, 0.5)
      .select($"doc_a", $"doc_b", $"jaccard").collect().toSet
    assert(lsh === exact)
  }

  test("identical-collapse (r19): candidate work is O(distinct-class pairs), " +
      "not O(copies²); pair and label faces stay byte-exact") {
    // a 40-copy boilerplate class, a near-dup of it, an isolated
    // 2-copy clique, a sub-shingle 2-copy class, and an unrelated doc
    val boiler = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = ((1L to 40L).map(i => (i, boiler)) ++ Seq(
      (50L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (60L, "completely different words about spark catalyst optimizer and shuffles here"),
      (70L, "some entirely unique sentence about keyed parquet stores and advisory locking"),
      (71L, "some entirely unique sentence about keyed parquet stores and advisory locking"),
      (80L, "too short"), (81L, "too short"))).toDF("doc_id", "text")
    // the collapsed core bands ONE rep per class: its candidate/confirm
    // relation is bounded by distinct-class pairs — C(40,2) never exists
    val (members, _, repPairs) = Dedup.collapsedRepPairs(corpus, 16, 4, 3, 0.5)
    assert(members.count() === 46)
    assert(members.filter($"doc_id" === $"rep").select($"rep").as[Long]
      .collect().toSet === Set(1L, 50L, 60L, 70L, 80L))
    val reps = repPairs.select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(reps === Set((1L, 50L)),
      s"rep-level pairs must be O(distinct-class pairs), got $reps")
    // the expanded PAIR face still honors its (inherently quadratic)
    // contract: C(40,2) within pairs at exact jaccard 1.0, 40 cross
    // pairs to 50 at the reps' jaccard, the isolated clique at 1.0,
    // nothing for the sub-shingle class or the unrelated doc
    val pairs = Dedup.minhashLsh(corpus, 16, 4, 3, 0.5)
      .select($"doc_a", $"doc_b", $"jaccard").as[(Long, Long, Double)].collect()
    val within = pairs.filter { case (a, b, _) => a <= 40 && b <= 40 }
    assert(within.length === 40 * 39 / 2 && within.forall(_._3 === 1.0))
    val cross = pairs.filter { case (_, b, _) => b == 50L }
    assert(cross.length === 40 && cross.map(_._1).toSet === (1L to 40L).toSet)
    assert(pairs.count { case (a, _, _) => a == 70L } === 1 &&
      pairs.filter(_._1 == 70L).forall(p => p._2 == 71L && p._3 == 1.0))
    assert(!pairs.exists { case (a, b, _) =>
      Set(60L, 80L, 81L).contains(a) || Set(60L, 80L, 81L).contains(b) })
    // the LABEL face is byte-equal to dedupClusters∘minhashLsh while
    // never materializing member-grain pairs
    val viaPairs = Dedup.dedupClusters(
      Dedup.minhashLsh(corpus, 16, 4, 3, 0.5).select("doc_a", "doc_b"))
      .as[(Long, Long)].collect().toSet
    val direct = Dedup.nearDupLabels(corpus, 16, 4, 3, 0.5)
      .as[(Long, Long)].collect().toSet
    assert(direct === viaPairs)
    assert(direct.map(_._1) === (1L to 40L).toSet + 50L + 70L + 71L)
    assert(direct.filter(p => p._1 == 70L || p._1 == 71L).forall(_._2 == 70L))
  }

  test("curation-chain collapse (r19): rep-grain band chain + " +
      "expandMemberLabels reproduces the uncollapsed inline chain's " +
      "labels, and the longest-member election always picks a rep") {
    // The q90/q91/q92/q96 curationKept rewrite's two proof obligations,
    // at unit grain: (1) labels from the collapsed chain are byte-equal
    // to the uncollapsed shingle→band→candidate→Jaccard→dedupClusters
    // chain; (2) keepBestPerCluster's winner is always a rep (a non-rep
    // ties its own rep on any text-derived score and loses the id
    // tie-break), so a rep-grain shingle relation still covers every
    // kept doc downstream.
    val boiler = "subscribe now for unlimited access to premium local news coverage daily"
    val corpus = ((100L to 119L).map(i => (i, boiler)) ++ Seq(
      (10L, "subscribe now for unlimited access to premium local news coverage"),
      (20L, "a genuinely different document about adaptive query execution planning"),
      (30L, "another unique document mentioning broadcast joins and bloom filters"))
      ).toDF("doc_id", "text")
    // uncollapsed reference: the pre-r19 inline chain verbatim
    val shAll = TextAnalysis.hashedShingles(corpus, 3)
    val sigsAll = Dedup.bandSigs(shAll, 16, 4)
    val candsAll = sigsAll.select($"band", $"sig", $"doc_id".as("doc_a"))
      .join(sigsAll.select($"band", $"sig", $"doc_id".as("doc_b")),
        Seq("band", "sig"))
      .filter($"doc_a" < $"doc_b").select("doc_a", "doc_b").distinct()
    val refLabels = Dedup.dedupClusters(
      Dedup.exactJaccard(candsAll, shAll).filter($"jaccard" >= 0.5)
        .select($"doc_a", $"doc_b"))
      .as[(Long, Long)].collect().toSet
    // collapsed chain: the curationKept stage-2 shape
    val members = Dedup.identicalClasses(corpus)
    val repText = corpus.join(
      members.filter($"doc_id" === $"rep").select($"doc_id"),
      Seq("doc_id"), "left_semi")
    val shRep = TextAnalysis.hashedShingles(repText, 3)
    val sigs = Dedup.bandSigs(shRep, 16, 4)
    val cands = sigs.select($"band", $"sig", $"doc_id".as("doc_a"))
      .join(sigs.select($"band", $"sig", $"doc_id".as("doc_b")),
        Seq("band", "sig"))
      .filter($"doc_a" < $"doc_b").select("doc_a", "doc_b").distinct()
    val labels = Dedup.expandMemberLabels(members, shRep,
      Dedup.exactJaccard(cands, shRep).filter($"jaccard" >= 0.5)
        .select($"doc_a", $"doc_b"), threshold = 0.5)
    assert(labels.as[(Long, Long)].collect().toSet === refLabels)
    // the 20-copy cluster + its near-dup form one component labeled by
    // the near-dup's smaller id; min-id labeling is preserved
    assert(refLabels.map(_._2) === Set(10L))
    // longest-member election over text length: every member of the
    // boilerplate class ties, so the winner must be the class rep (100)
    // — never a higher-id identical copy whose shingles a rep-grain
    // relation would not carry
    val scored = corpus.select($"doc_id", length($"text").as("s"))
    val kept = Dedup.keepBestPerCluster(scored, labels.toDF("doc_id", "label"),
      $"s").select($"doc_id").as[Long].collect().toSet
    val repSet = members.filter($"doc_id" === $"rep")
      .select($"rep").as[Long].collect().toSet
    assert(kept.subsetOf(repSet), s"kept $kept must be reps $repSet")
    assert(kept === Set(100L, 20L, 30L))
  }

  test("component-aware candidate pruning (r20): confirmedPairsForClustering " +
      "reproduces the full confirm's labels on a planted NEAR-identical " +
      "cluster while confirming ≈K pairs, not C(K,2)") {
    // The q81 regime: K DISTINCT texts at Jaccard ≈ 0.97 (shared
    // boilerplate + per-doc unique suffix — identical-class collapse is
    // a no-op), plus a second smaller near-identical cluster, a true
    // identical pair, and unrelated docs. The facility's contract is
    // label equality under dedupClusters, NOT pair-list equality.
    // Shared sections are LONG (≈200 distinct tokens) relative to the
    // per-doc suffix (2 unique tokens) so pairwise Jaccard ≈ 0.97 — the
    // q81 regime — and every pair collides in ≥1 of the 4 bands (band
    // recall ≈ (1-(1-J⁴)⁴) ≈ 1): the full confirm really is C(K,2).
    val boiler = "please subscribe now for unlimited premium access to " +
      "our award winning local news coverage updated daily with exclusive stories " +
      (1 to 180).map(j => s"wa$j").mkString(" ")
    val boilerB = "terms of service apply to all purchases made through the " +
      "online store including digital downloads and gift subscriptions " +
      (1 to 60).map(j => s"vb$j").mkString(" ")
    val corpus = (
      (100L to 129L).map(i => (i, s"$boiler contact user$i ext$i")) ++
      (200L to 209L).map(i => (i, s"$boilerB order ref$i code$i")) ++
      Seq(
        (300L, "a genuinely different document about adaptive query execution"),
        (310L, "identical twins share every single shingle in this text exactly"),
        (311L, "identical twins share every single shingle in this text exactly"))
      ).toDF("doc_id", "text")
    val sh = TextAnalysis.hashedShingles(corpus, 3)
    val sigs = Dedup.bandSigs(sh, 16, 4)
    val candsAll = sigs.select($"band", $"sig", $"doc_id".as("doc_a"))
      .join(sigs.select($"band", $"sig", $"doc_id".as("doc_b")),
        Seq("band", "sig"))
      .filter($"doc_a" < $"doc_b").select("doc_a", "doc_b").distinct()
    for (threshold <- Seq(0.5, 0.99)) {
      // reference: the unpruned chain verbatim (confirm EVERY candidate)
      val refLabels = Dedup.dedupClusters(
        Dedup.exactJaccard(candsAll, sh).filter($"jaccard" >= threshold)
          .select($"doc_a", $"doc_b"))
        .as[(Long, Long)].collect().toSet
      val pruned = Dedup.confirmedPairsForClustering(sigs, sh, threshold)
      val gotLabels = Dedup.dedupClusters(pruned.select($"doc_a", $"doc_b"))
        .as[(Long, Long)].collect().toSet
      assert(gotLabels === refLabels, s"labels diverged at threshold $threshold")
      if (threshold == 0.5) {
        // every clustered member labeled by its component min
        assert(refLabels.filter(_._1 <= 129L).map(_._2) === Set(100L))
        assert(refLabels.filter(p => p._1 >= 200L && p._1 <= 209L)
          .map(_._2) === Set(200L))
        assert(gotLabels.exists(_._1 == 310L) && gotLabels.exists(_._1 == 311L))
        // the pruning claim: the 30-copy cluster alone yields C(30,2) =
        // 435 confirmed pairs unpruned; the facility returns ≈K
        val nPruned = pruned.count()
        val nFull = Dedup.exactJaccard(candsAll, sh)
          .filter($"jaccard" >= threshold).count()
        // ≥ 430 not == 435: minhash banding is probabilistic and may
        // drop a pair or two even at J ≈ 0.97 (P(miss) ≈ (1-J⁴)⁴)
        assert(nFull >= 430L, s"planted cluster lost band recall: $nFull")
        assert(nPruned <= 120L,
          s"pruning did not prune: $nPruned confirmed pairs vs $nFull full")
      }
    }
  }

  test("quadratic baselines refuse corpora above maxRows (r11)") {
    // The labeled small-scale baselines would happily cross-expand a
    // production corpus if called directly; the guard makes them fail
    // loudly at the gate with a pointer to the scale path.
    val eJac = intercept[IllegalArgumentException] {
      Dedup.allPairsJaccard(docs, 3, 0.5, maxRows = 2)
    }
    assert(eJac.getMessage.contains("minhashLsh"))
    val eSim = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(Dedup.simhash(docs), maxHamming = 3, maxRows = 2)
    }
    assert(eSim.getMessage.contains("simhashPairsBanded"))
  }

  test("banded simhash pairs equal the all-pairs baseline (pigeonhole blocking)") {
    val sigs = Dedup.simhash(docs)
    val banded = Dedup.simhashPairsBanded(sigs, maxHamming = 3)
      .collect().map(_.toSeq).toSet
    val allPairs = Dedup.simhashPairs(sigs, maxHamming = 3)
      .collect().map(_.toSeq).toSet
    assert(banded === allPairs)
    assert(banded.nonEmpty) // the exact-dup pair qualifies
  }

  test("structural-parameter guards: non-dividing rowsPerBand and " +
    "out-of-signature simhash bands are refused, not silently degraded") {
    // a remainder minhash would vanish from every band signature
    val sh = TextAnalysis.hashedShingles(docs, 3)
    val rem = intercept[IllegalArgumentException] {
      Dedup.bandSigs(sh, numHashes = 16, rowsPerBand = 5)
    }
    assert(rem.getMessage.contains("multiple of"))
    // band 4 of 5×15 starts at bit 60: all-zero for every doc — the
    // bucket join would put the whole corpus in one bucket
    val sigs = Dedup.simhash(docs)
    val beyond = intercept[IllegalArgumentException] {
      Dedup.simhashPairsBanded(sigs, maxHamming = 3, bands = 5, bitsPerBand = 15)
    }
    assert(beyond.getMessage.contains("60"))
    // the largest legal coverage still works and stays exact
    val wide = Dedup.simhashPairsBanded(sigs, maxHamming = 3,
      bands = 5, bitsPerBand = 12).collect().map(_.toSeq).toSet
    val allPairs5 = Dedup.simhashPairs(sigs, maxHamming = 3)
      .collect().map(_.toSeq).toSet
    assert(wide === allPairs5)
    // a NARROWER simhash(docs, bits) hits the same all-zero-band
    // degeneracy below bit 60 — the guard must honor the declared width,
    // not the default (r8 ADVICE)
    val narrow = Dedup.simhash(docs, bits = 30)
    val past30 = intercept[IllegalArgumentException] {
      Dedup.simhashPairsBanded(narrow, maxHamming = 3,
        bands = 4, bitsPerBand = 15, signatureBits = 30)
    }
    assert(past30.getMessage.contains("30"))
    // and a legal banding of the narrow signature stays exact vs its
    // own all-pairs baseline
    val narrowBanded = Dedup.simhashPairsBanded(narrow, maxHamming = 3,
      bands = 4, bitsPerBand = 7, signatureBits = 30)
      .collect().map(_.toSeq).toSet
    val narrowAll = Dedup.simhashPairs(narrow, maxHamming = 3)
      .collect().map(_.toSeq).toSet
    assert(narrowBanded === narrowAll)
    // declared widths outside the md5-derived 60 bits are refused
    val over = intercept[IllegalArgumentException] {
      Dedup.simhashPairsBanded(sigs, maxHamming = 3, signatureBits = 64)
    }
    assert(over.getMessage.contains("1..60"))
  }

  test("incremental dedup: a second batch dedups against the STORED index, " +
    "bodies unread (r4)") {
    val dir = java.nio.file.Files.createTempDirectory("inc_dedup").toString
    val bands = dir + "/bands"
    val shingles = dir + "/shingles"
    val batch1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different words about spark catalyst optimizer and shuffles here"))
      .toDF("doc_id", "text")
    val r1 = IncrementalDedup.ingestBatch(spark, batch1, "b1", bands, shingles)
      .select($"doc_id", $"status").as[(Long, String)].collect().toMap
    assert(r1 === Map(1L -> "kept", 2L -> "kept"))
    // the index stores ONLY signatures — no text column anywhere
    val bandStore = graft.sources.KeyedParquetStore.read(spark, bands).get
    assert(!bandStore.columns.contains("text"))
    // batch 2: 10 duplicates STORED doc 1; 11 is new; 12 duplicates 11
    // within the batch; 13 is new and independent; 14 is too short to
    // shingle (< shingleN tokens) — always kept, never indexed
    val batch2 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (11L, "another unrelated snippet mentioning parquet columnar storage formats"),
      (12L, "another unrelated snippet mentioning parquet columnar storage formats"),
      (13L, "fresh text about keyed stores advisory locks and partition swaps"),
      (14L, "too short"))
      .toDF("doc_id", "text")
    val r2 = IncrementalDedup.ingestBatch(spark, batch2, "b2", bands, shingles)
      .select($"doc_id", $"status").as[(Long, String)].collect().toMap
    assert(r2 === Map(10L -> "dup_of_stored", 11L -> "kept",
      12L -> "dup_in_batch", 13L -> "kept", 14L -> "kept"))
    // the index accreted exactly the shingle-bearing survivors,
    // append-only per batch (14 kept but produced nothing to index)
    val indexed = graft.sources.KeyedParquetStore.read(spark, bands).get
      .select($"doc_id").distinct().as[Long].collect().toSet
    assert(indexed === Set(1L, 2L, 11L, 13L))
    assert(new java.io.File(s"$bands/batch=b1").exists())
    assert(new java.io.File(s"$bands/batch=b2").exists())
    // idempotent retry: re-ingesting batch 2 keeps the same KEPT set (a
    // doc is never a dup of itself, so 11/13 stay kept and re-upsert
    // their own keys; 12 now reads as dup of the STORED 11 — rejected
    // either way)
    val r2retry = IncrementalDedup.ingestBatch(spark, batch2, "b2", bands, shingles)
      .select($"doc_id", $"status").as[(Long, String)].collect().toMap
    assert(r2retry === Map(10L -> "dup_of_stored", 11L -> "kept",
      12L -> "dup_of_stored", 13L -> "kept", 14L -> "kept"))
    assert(graft.sources.KeyedParquetStore.read(spark, bands).get
      .select($"doc_id").distinct().as[Long].collect().toSet === Set(1L, 2L, 11L, 13L))
    // compacting the accreted per-batch partitions is a pure layout
    // change: the read-only labeling face answers identically after
    val preCompact = IncrementalDedup.dedupBatch(spark, batch2, bands, shingles)
      .select($"doc_id", $"status").as[(Long, String)].collect().toMap
    graft.sources.KeyedParquetStore.compact(spark, bands)
    graft.sources.KeyedParquetStore.compact(spark, shingles)
    assert(IncrementalDedup.dedupBatch(spark, batch2, bands, shingles)
      .select($"doc_id", $"status").as[(Long, String)].collect().toMap === preCompact)
  }

  test("incremental dedup: a crash between the two index upserts replays " +
      "cleanly (shingles-before-bands ordering, r8)") {
    val dir = java.nio.file.Files.createTempDirectory("inc_dedup_crash").toString
    val (bands, shingles) = (dir + "/bands", dir + "/shingles")
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text")
    IncrementalDedup.ingestBatch(spark, b1, "e0", bands, shingles)
    // crash state: the SECOND upsert (bands) never landed — with the r8
    // ordering that leaves shingles-only, which must read as an ABSENT
    // index (the old bands-first order left the reverse state, whose
    // every replay died on the missing-shingle-store error: a wedged
    // stream)
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete(); ()
    }
    deleteRec(new java.io.File(bands))
    // the replayed epoch relabels from scratch and re-merges both stores
    val replay = IncrementalDedup.ingestBatch(spark, b1, "e0", bands, shingles)
      .select($"doc_id", $"status").as[(Long, String)].collect().toMap
    assert(replay === Map(1L -> "kept"))
    // and the index answers: a near-dup of the replayed doc is rejected
    val label = IncrementalDedup.dedupBatch(spark,
      Seq((9L, "the quick brown fox jumps over the lazy dog near the river bank today"))
        .toDF("doc_id", "text"), bands, shingles)
      .select($"status").as[String].head()
    assert(label === "dup_of_stored")
  }

  test("incremental dedup debugChecks: parameter drift and cross-batch " +
      "re-delivery both fail fast (r8)") {
    val dir = java.nio.file.Files.createTempDirectory("inc_dedup_guards").toString
    val (bands, shingles) = (dir + "/bands", dir + "/shingles")
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text")
    IncrementalDedup.ingestBatch(spark, b1, "e0", bands, shingles)
    spark.conf.set("spark.graft.store.debugChecks", "true")
    try {
      // same batch id, same params: the sanctioned replay — passes
      IncrementalDedup.ingestBatch(spark, b1, "e0", bands, shingles)
      // drifted structural params: stored signatures would match nothing
      val drift = intercept[IllegalArgumentException] {
        IncrementalDedup.ingestBatch(spark, b1, "e0", bands, shingles,
          shingleN = 5)
      }
      assert(drift.getMessage.contains("parameter drift"))
      // the read-only face mislabels under drift exactly like an ingest
      // — same guard, same gate
      val dryDrift = intercept[IllegalArgumentException] {
        IncrementalDedup.dedupBatch(spark, b1, bands, shingles,
          numHashes = 32).collect()
      }
      assert(dryDrift.getMessage.contains("parameter drift"))
      // an indexed doc re-sent under a NEW batch id: the self-pair
      // exemption would hide it from its own stored copy
      val resend = intercept[IllegalArgumentException] {
        IncrementalDedup.ingestBatch(spark, b1, "e9", bands, shingles)
      }
      assert(resend.getMessage.contains("precondition"))
    } finally spark.conf.unset("spark.graft.store.debugChecks")
  }

  test("retireDocs: a refreshed index equals a from-scratch build over " +
      "the merged corpus, and retirement restores re-deliverability (r16)") {
    val dir = java.nio.file.Files.createTempDirectory("inc_dedup_retire").toString
    val (bands, shingles) = (dir + "/bands", dir + "/shingles")
    val (bands2, shingles2) = (dir + "/bands2", dir + "/shingles2")
    val t1 = "the quick brown fox jumps over the lazy dog near the river bank"
    val nd1 = "the quick brown fox jumps over the lazy dog near the river shore"
    val tG = "gamma rays cross interstellar dust clouds and reach detectors on earth today"
    val tD = "delta waves dominate deep sleep stages in most healthy adults every night"
    val tE = "epsilon is the smallest letter used for limits in classical analysis texts"
    val tE2 = "entirely rewritten body about container orchestration and cluster scheduling at scale"
    val tZ = "zeta functions encode primes through an infinite product over all prime numbers"
    val ndZ = "zeta functions encode primes through an infinite product over all prime values"
    // prev snapshot: 2 is an in-batch dup of 1 (never indexed);
    // 4 will be REMOVED by the refresh, 5 CHANGED
    val prev = Seq((1L, t1), (2L, nd1), (3L, tG), (4L, tD), (5L, tE))
      .toDF("doc_id", "text")
    val r0 = IncrementalDedup.ingestBatch(spark, prev, "b0", bands, shingles)
      .select($"doc_id", $"status").as[(Long, String)].collect().toMap
    assert(r0 === Map(1L -> "kept", 2L -> "dup_in_batch", 3L -> "kept",
      4L -> "kept", 5L -> "kept"))
    // refresh: retire removed(4) + changed(5), re-ingest 5's new content
    // with the new docs under a NEW batch id — WITH the guards armed, to
    // prove retirement makes the re-delivery sound, not merely unflagged
    val (nb, ns) = IncrementalDedup.retireDocs(spark,
      Seq(4L, 5L).toDF("doc_id"), bands, shingles)
    assert(nb >= 1 && ns >= 1)
    val b1 = Seq((5L, tE2), (6L, tZ), (7L, nd1)).toDF("doc_id", "text")
    spark.conf.set("spark.graft.store.debugChecks", "true")
    val r1 = try IncrementalDedup.ingestBatch(spark, b1, "b1", bands, shingles)
      .select($"doc_id", $"status").as[(Long, String)].collect().toMap
    finally spark.conf.unset("spark.graft.store.debugChecks")
    assert(r1 === Map(5L -> "kept", 6L -> "kept", 7L -> "dup_of_stored"))
    // stream≡batch: the refreshed index must EQUAL a from-scratch build
    // over the merged (current) corpus — contents compared ignoring the
    // provenance columns (batch/cfg), which legitimately differ
    val merged = Seq((1L, t1), (3L, tG), (5L, tE2), (6L, tZ), (7L, nd1))
      .toDF("doc_id", "text")
    IncrementalDedup.ingestBatch(spark, merged, "all", bands2, shingles2)
    def bandRows(p: String) = graft.sources.KeyedParquetStore.read(spark, p).get
      .select($"doc_id", $"band", $"sig").as[(Long, Int, String)].collect().toSet
    def shingleRows(p: String) = graft.sources.KeyedParquetStore.read(spark, p).get
      .select($"doc_id", $"h").as[(Long, Long)].collect().toSet
    assert(bandRows(bands) === bandRows(bands2))
    assert(shingleRows(shingles) === shingleRows(shingles2))
    // and both stores adjudicate a future probe identically
    val probe = Seq((8L, ndZ)).toDF("doc_id", "text")
    val lab1 = IncrementalDedup.dedupBatch(spark, probe, bands, shingles)
      .select($"status").as[String].head()
    val lab2 = IncrementalDedup.dedupBatch(spark, probe, bands2, shingles2)
      .select($"status").as[String].head()
    assert(lab1 === "dup_of_stored" && lab1 === lab2)
    // retiring ids the store never held is a no-op
    assert(IncrementalDedup.retireDocs(spark,
      Seq(99L).toDF("doc_id"), bands, shingles) === ((0, 0)))
  }

  test("IncrementalBm25.retireDocs: a refreshed index scores exactly like " +
      "a from-scratch build, negative partials fold away at rollup, and " +
      "replays / unknown ids no-op (r16)") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_retire").toString
    val (pP, tP, sP) = (s"$dir/p", s"$dir/t", s"$dir/s")
    val (pP2, tP2, sP2) = (s"$dir/p2", s"$dir/t2", s"$dir/s2")
    val q = Seq("spark", "window", "merge")
    def search(p: String, t: String, st: String) =
      IncrementalBm25.searchStored(spark, p, t, st, q, k = 10)
        .as[(Long, Double)].collect().toSeq
    val tNew2 = "window functions rank and merge spark partitions nightly"
    val prev = Seq(
      (1L, "spark joins shuffle data across wide tables"),
      (2L, "window ranks rows in spark without merge today"),
      (3L, "merge sorts sorted runs from disk spill files"),
      (4L, "unrelated prose about gardens rain and soil")).toDF("doc_id", "text")
    IncrementalBm25.ingestBatch(spark, prev, "b0", pP, tP, sP)
    // refresh: 3 removed, 2 changed — retire both
    assert(IncrementalBm25.retireDocs(spark, Seq(2L, 3L).toDF("doc_id"), "r1",
      pP, tP, sP) === 2L)
    // a healing replay of the SAME retirement (post-delete window) finds
    // nothing left and leaves the recorded negatives untouched
    assert(IncrementalBm25.retireDocs(spark, Seq(2L, 3L).toDF("doc_id"), "r1",
      pP, tP, sP) === 0L)
    // re-delivery of the retired-changed doc is SOUND under the ARMED
    // guards: its postings are gone, so one-batch-per-doc passes
    spark.conf.set("spark.graft.store.debugChecks", "true")
    try IncrementalBm25.ingestBatch(spark,
      Seq((2L, tNew2), (5L, "spark merge window spark")).toDF("doc_id", "text"),
      "b1", pP, tP, sP)
    finally spark.conf.unset("spark.graft.store.debugChecks")
    // refresh ≡ rebuild: scores equal a from-scratch build over the
    // current corpus, row for row (order included — top-k is sorted)
    val merged = Seq(
      (1L, "spark joins shuffle data across wide tables"),
      (2L, tNew2),
      (4L, "unrelated prose about gardens rain and soil"),
      (5L, "spark merge window spark")).toDF("doc_id", "text")
    IncrementalBm25.ingestBatch(spark, merged, "all", pP2, tP2, sP2)
    assert(search(pP, tP, sP).nonEmpty)
    assert(search(pP, tP, sP) === search(pP2, tP2, sP2))
    // the stats and per-term df partials NET to the rebuild's exactly
    // (b0 + negative r1 + b1 ≡ all)
    def stTotals(p: String) = graft.sources.KeyedParquetStore.read(spark, p)
      .get.agg(sum($"n_docs"), sum($"sum_dl")).as[(Long, Long)].head()
    assert(stTotals(sP) === stTotals(sP2))
    def dfTotals(p: String) = graft.sources.KeyedParquetStore.read(spark, p)
      .get.groupBy($"term").agg(sum($"df").as("df")).filter($"df" =!= 0L)
      .as[(String, Long)].collect().toSet
    assert(dfTotals(tP) === dfTotals(tP2))
    // the roll-up folds the negative partials away; scores unchanged
    IncrementalBm25.rollupPartials(spark, tP, sP)
    assert(dfTotals(tP) === dfTotals(tP2))
    assert(search(pP, tP, sP) === search(pP2, tP2, sP2))
    // retiring ids the store never held is a no-op and records nothing
    assert(IncrementalBm25.retireDocs(spark, Seq(99L).toDF("doc_id"), "r9",
      pP, tP, sP) === 0L)
    assert(graft.sources.KeyedParquetStore.read(spark, sP).get
      .filter($"batch" === "r9").count() === 0L)
  }

  test("IncrementalBm25.retireDocs guards: the reserved rollup label is " +
      "refused unconditionally, an ingest-batch-id collision and a reused " +
      "retire id fail fast under debugChecks, and a crash-window healing " +
      "replay still passes the reuse probe (r17)") {
    val dir = java.nio.file.Files.createTempDirectory("bm25_retire_guard").toString
    val (pP, tP, sP) = (s"$dir/p", s"$dir/t", s"$dir/s")
    val corpus = Seq(
      (1L, "spark joins shuffle data across wide tables"),
      (2L, "window ranks rows in spark without merge today"),
      (3L, "merge sorts sorted runs from disk spill files")).toDF("doc_id", "text")
    IncrementalBm25.ingestBatch(spark, corpus, "b0", pP, tP, sP)
    // the reserved roll-up label: refused BEFORE any read, no flag needed
    val roll = intercept[IllegalArgumentException] {
      IncrementalBm25.retireDocs(spark, Seq(2L).toDF("doc_id"), "rollup",
        pP, tP, sP)
    }
    assert(roll.getMessage.contains("rollup"))
    spark.conf.set("spark.graft.store.debugChecks", "true")
    try {
      // retire id colliding with an existing INGEST batch id: the marker
      // check would false-positive and skip the negative partials — the
      // positive-df rows give it away exactly
      val coll = intercept[IllegalArgumentException] {
        IncrementalBm25.retireDocs(spark, Seq(2L).toDF("doc_id"), "b0",
          pP, tP, sP)
      }
      assert(coll.getMessage.contains("INGEST partition"))
      // nothing was deleted by the refused call
      assert(graft.sources.KeyedParquetStore.read(spark, pP).get
        .filter($"doc_id" === 2L).count() > 0L)
      // crash-window simulation: run the real retirement (markers written,
      // postings deleted), then restore the postings store from a
      // pre-retire copy — exactly the state after a crash between the
      // commit marker and the delete
      spark.conf.unset("spark.graft.store.debugChecks")
      import scala.sys.process._
      assert(Seq("cp", "-r", pP, s"$dir/p_bak").! === 0)
      assert(IncrementalBm25.retireDocs(spark, Seq(2L, 3L).toDF("doc_id"),
        "r1", pP, tP, sP) === 2L)
      assert(Seq("rm", "-rf", pP).! === 0)
      assert(Seq("cp", "-r", s"$dir/p_bak", pP).! === 0)
      spark.conf.set("spark.graft.store.debugChecks", "true")
      // the healing replay (same ids, same retire id) is NOT a reuse: the
      // still-present footprint equals the recorded negatives, the probe
      // passes, and the delete completes
      assert(IncrementalBm25.retireDocs(spark, Seq(2L, 3L).toDF("doc_id"),
        "r1", pP, tP, sP) === 2L)
      // reusing r1 for a DIFFERENT, still-indexed victim set is caught
      // EXACTLY by the victim-set fingerprint (r18, ADVICE r17) — the
      // overflow set {1} and, crucially, the subset-SHAPED set {2} ⊂
      // {2,3}, whose still-present footprint the containment probe alone
      // cannot distinguish from a healing replay (the r17 false negative)
      assert(Seq("rm", "-rf", pP).! === 0)
      assert(Seq("cp", "-r", s"$dir/p_bak", pP).! === 0)
      val subsetReuse = intercept[IllegalArgumentException] {
        IncrementalBm25.retireDocs(spark, Seq(2L).toDF("doc_id"), "r1",
          pP, tP, sP)
      }
      assert(subsetReuse.getMessage.contains("fingerprints as"))
      val reuse = intercept[IllegalArgumentException] {
        IncrementalBm25.retireDocs(spark, Seq(1L).toDF("doc_id"), "r1",
          pP, tP, sP)
      }
      assert(reuse.getMessage.contains("fingerprints as"))
      assert(graft.sources.KeyedParquetStore.read(spark, pP).get
        .filter($"doc_id".isin(1L, 2L)).count() > 0L)
      // the sidecar SURVIVES a roll-up that keeps the retire partition
      // (ADVICE r18: replace()'s stage-and-swap dropped the underscore
      // files, silently degrading the exact guard to containment) — the
      // fingerprint check must still fire post-rollup
      IncrementalBm25.rollupPartials(spark, tP, sP, keepBatches = Set("r1"))
      val postRollup = intercept[IllegalArgumentException] {
        IncrementalBm25.retireDocs(spark, Seq(2L).toDF("doc_id"), "r1",
          pP, tP, sP)
      }
      assert(postRollup.getMessage.contains("fingerprints as"),
        s"exact fingerprint guard lost through rollup: ${postRollup.getMessage}")
      // legacy store / upsert→fingerprint crash window: with the sidecar
      // gone the probe degrades to footprint CONTAINMENT — overflow sets
      // still refuse (the subset-shaped blind spot is the documented
      // residue of that fallback, and only of it)
      assert(Seq("bash", "-c", s"rm $tP/batch=r1/_victims.*").! === 0)
      val legacy = intercept[IllegalArgumentException] {
        IncrementalBm25.retireDocs(spark, Seq(1L).toDF("doc_id"), "r1",
          pP, tP, sP)
      }
      assert(legacy.getMessage.contains("cannot cover"))
    } finally spark.conf.unset("spark.graft.store.debugChecks")
  }

  test("decontaminate drops train docs overlapping the eval set, keeps the rest (r4)") {
    val eval = docs.filter($"doc_id" === 1) // "benchmark" doc
    val train = docs.filter($"doc_id" >= 3) // 3 near-dups eval; 4, 5 unrelated
    val kept = Dedup.decontaminate(train, eval, shingleN = 3, minOverlap = 5)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept === Set(4L, 5L))
    // a stricter overlap demand keeps everything (3 and 1 differ at the tail)
    val keptStrict = Dedup.decontaminate(train, eval, shingleN = 3, minOverlap = 1000)
      .select($"doc_id").as[Long].collect().toSet
    assert(keptStrict === Set(3L, 4L, 5L))
  }

  test("decontaminateFuzzy: containment catches an eval doc EMBEDDED in a " +
      "bigger train doc where Jaccard stays low, at DEFAULTS (r13, r14)") {
    // eval doc = 13 tokens; train doc 10 = those 13 tokens inside 300
    // others → containment 1.0 but Jaccard ≈ 11/309 ≈ 0.036: a Jaccard
    // threshold misses exactly the leakage this face exists for — and so
    // did the r13 minhash band gate (P(collision) ≈ 1-(1-J⁴)⁴ ≈ 7e-6 at
    // this Jaccard), which is why candidates now come from the exact
    // shared-shingle join and this must pass with NO recall tuning.
    val evalText = "the secret benchmark question about catalyst shuffle " +
      "planning appears verbatim in here somewhere"
    val filler = (1 to 300).map(i => s"tok$i").mkString(" ")
    val train = Seq(
      10L -> s"$filler $evalText",
      11L -> "completely unrelated words about parquet columnar formats and so on",
      12L -> filler).toDF("doc_id", "text")
    val eval = Seq(0L -> evalText).toDF("doc_id", "text")
    val kept = Dedup.decontaminateFuzzy(train, eval, minContainment = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept === Set(11L, 12L))
    // a full-Jaccard-style demand (containment 1.0 still holds for the
    // embedded doc) vs an impossible one
    val keptNone = Dedup.decontaminateFuzzy(train, eval, minContainment = 1.0)
      .select($"doc_id").as[Long].collect().toSet
    assert(keptNone === Set(11L, 12L), "containment of the embedded doc is exactly 1.0")
    // empty eval set: nothing drops
    val keptAll = Dedup.decontaminateFuzzy(train, eval.limit(0), minContainment = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(keptAll === Set(10L, 11L, 12L))
    // the broadcast-small contract refuses a corpus-sized eval loudly
    val big = intercept[IllegalArgumentException] {
      Dedup.decontaminateFuzzy(train, eval, maxEvalShingles = 2L)
    }
    assert(big.getMessage.contains("maxEvalShingles"))
    // the audit relation reports the VALUE exactly: the embedded doc's
    // containment is 1.0 on the nose (integer micro-unit arithmetic)
    val c = Dedup.containmentPairs(
        TextAnalysis.hashedShingles(train, 3), TextAnalysis.hashedShingles(eval, 3))
      .filter($"doc_id" === 10L).select($"containment").as[Double].head()
    assert(c === 1.0)
  }

  test("spanContainmentPairs is the exact transpose of containmentPairs: " +
      "a span fully inside a big eval doc scores 1.0 on the span ratio " +
      "while the eval ratio stays structurally below threshold (r15)") {
    // span: 10 shingles, all shared with a 200-shingle eval doc — the
    // plagiarized-chunk shape. ∩/|span| = 1.0 (fires); ∩/|eval| = 0.05
    // (can never fire at any sane threshold — the reason the chunk
    // grain needs the transposed face, not swapped arguments, which
    // would also broadcast the corpus side).
    val span = spark.range(10).select(lit("7#0").as("doc_id"), $"id".as("h"))
    val eval_ = spark.range(200).select(lit(0L).as("doc_id"), $"id".as("h"))
    val sp = Dedup.spanContainmentPairs(span, eval_)
      .select($"containment").as[Double].head()
    assert(sp === 1.0)
    val ev = Dedup.containmentPairs(
        span.select($"doc_id", $"h"), eval_)
      .select($"containment").as[Double].head()
    assert(ev === 0.05)
    // same micro-unit rounding discipline as containmentPairs, nt-side
    def ref(ni: Long, nt: Long): Double =
      new java.math.BigDecimal(ni * 1000000L)
        .divide(new java.math.BigDecimal(nt), 0, java.math.RoundingMode.HALF_UP)
        .longValueExact() / 1e6
    Seq((1L, 3L), (1L, 2000000L), (1999999L, 2000000L)).foreach { case (ni, nt) =>
      val tr = spark.range(nt).select(lit("s").as("doc_id"), $"id".as("h"))
      val ev2 = spark.range(ni).select(lit(9L).as("doc_id"), $"id".as("h"))
      val got = Dedup.spanContainmentPairs(tr, ev2)
        .select($"containment").as[Double].head()
      assert(got === ref(ni, nt), s"ni=$ni nt=$nt")
    }
  }

  test("containmentPairs: exact 6-dp half-up micro-unit rounding at " +
      "adversarial ne — ne = 1, huge ne, the .5-boundary tie (r15)") {
    // reference: round-half-up(10^6 · ni / ne) integer micro-units
    def ref(ni: Long, ne: Long): Double =
      new java.math.BigDecimal(ni * 1000000L)
        .divide(new java.math.BigDecimal(ne), 0, java.math.RoundingMode.HALF_UP)
        .longValueExact() / 1e6
    // (1, 2000000) is the exact .5-micro-unit boundary (true value
    // 0.0000005): floor-not-half engines report 0.0; (1999999, 2000000)
    // is the symmetric 0.9999995 → 1.0 case. ne = 1 is the smallest
    // legal eval doc; thirds/sevenths never terminate in binary OR
    // decimal, so they'd expose any float detour in the arithmetic.
    val cases = Seq((1L, 1L), (1L, 3L), (2L, 3L), (1L, 7L), (6L, 7L),
      (1L, 2000000L), (1999999L, 2000000L))
    cases.foreach { case (ni, ne) =>
      val eval = spark.range(ne).select(lit(0L).as("doc_id"), $"id".as("h"))
      val train = spark.range(ni).select(lit(1L).as("doc_id"), $"id".as("h"))
      val got = Dedup.containmentPairs(train, eval)
        .select($"containment").as[Double].head()
      assert(got === ref(ni, ne), s"ni=$ni ne=$ne")
    }
  }

  test("keepBestPerCluster elects the highest score, breaks ties on min id, " +
      "and leaves unclustered docs alone (r14)") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "label")
    val d = Seq((1L, 5L), (2L, 9L), (3L, 7L), (10L, 4L), (11L, 4L),
      (99L, 1L)).toDF("doc_id", "quality")
    val kept = Dedup.keepBestPerCluster(d, labels, $"quality")
      .select($"doc_id").as[Long].collect().toSet
    // cluster 1: doc 2 wins on score; cluster 10: tie 4 = 4 → min id 10;
    // doc 99 is in no cluster and survives
    assert(kept === Set(2L, 10L, 99L))
    // min-id election (dropNonCanonical) would keep doc 1 instead — the
    // two applications genuinely differ on this input
    val minId = Dedup.dropNonCanonical(d, labels)
      .select($"doc_id").as[Long].collect().toSet
    assert(minId === Set(1L, 10L, 99L))
  }

  test("shingle-level decontamination faces match their doc-level wrappers " +
      "off ONE shared corpus pass (r14)") {
    val train = docs.filter($"doc_id" >= 3)
    val eval = docs.filter($"doc_id" === 1)
    val sh = TextAnalysis.hashedShingles(train, 3)
    val shE = TextAnalysis.hashedShingles(eval, 3)
    // the q85 composition: both criteria off the same shingle relation
    val keptDual = train.join(
      Dedup.contaminatedExact(sh, shE, minOverlap = 5)
        .unionByName(Dedup.contaminatedByContainment(sh, shE, minContainment = 0.5))
        .distinct(),
      Seq("doc_id"), "left_anti").select($"doc_id").as[Long].collect().toSet
    val keptExact = Dedup.decontaminate(train, eval, shingleN = 3, minOverlap = 5)
      .select($"doc_id").as[Long].collect().toSet
    val keptFuzzy = Dedup.decontaminateFuzzy(train, eval, minContainment = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    // dual-criterion keep = intersection of the per-criterion keeps, and
    // the shared-pass faces reproduce the wrappers exactly
    assert(keptDual === (keptExact intersect keptFuzzy))
    assert(keptExact === Set(4L, 5L))  // doc 3 near-dups the eval doc
    assert(keptFuzzy === Set(4L, 5L))
  }

  test("simhash: identical docs share a signature; near dups are close, unrelated far") {
    val sigs = Dedup.simhash(docs).orderBy($"doc_id")
      .select($"simhash").as[Long].collect()
    assert(sigs(0) === sigs(1)) // exact dups
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0), sigs(2)) < ham(sigs(0), sigs(3)))
    val pairs = Dedup.simhashPairs(Dedup.simhash(docs), maxHamming = 3)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 4L)))
  }

  test("exactJaccard rounds half-up on an exact 6-dp grid tie (r9)") {
    // 1/128 = 0.0078125 sits EXACTLY on the 6-dp rounding boundary — the
    // case where double-based round() is engine-dependent (the nearest
    // double is below the tie, so an engine rounding the double's decimal
    // form answers ...812 while one rounding x·10⁶ answers ...813; q62's
    // mean hit this for real at the 10× corpus). The integer micro-unit
    // formula must answer half-up, and away from the boundary must agree
    // with plain round() — 1/3 stays 0.333333.
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    // docs 1∩2 share 1 of 128 shingles; docs 3∩4 share 1 of 3
    val sh = (Seq((1L, 0L)) ++ (0L until 128L).map(h => (2L, h)) ++
      Seq((3L, 200L), (4L, 200L), (4L, 201L), (4L, 202L)))
      .toDF("doc_id", "h")
    val got = Dedup.exactJaccard(pairs, sh).orderBy($"doc_a")
      .select($"jaccard").as[Double].collect().toSeq
    assert(got === Seq(0.007813, 0.333333))
  }
}

class CorpusSketchSpec extends SparkSpec {
  import spark.implicits._

  test("the null-group cohort appears in the profile (null-safe join, r8)") {
    // a plain equi-join between the two aggregations drops exactly the
    // null-keyed row (null never equals null) — in a curation audit the
    // unlabeled cohort is often the interesting one
    val docs = Seq((1L, "s0", "a b"), (2L, null.asInstanceOf[String], "c d e"))
      .toDF("doc_id", "source", "text")
    val sk = TextAnalysis.corpusSketch(docs, "source").collect()
    assert(sk.length === 2)
    val nullRow = sk.find(_.isNullAt(0)).getOrElse(
      fail("null-source cohort missing from the sketch"))
    assert(nullRow.getLong(1) === 1L) // approx_docs exact at this size
  }

  test("sketch statistics land within tolerance of the exact aggregation") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select($"source", $"doc_id", $"text")
    val sk = TextAnalysis.corpusSketch(docs, "source").collect()
      .map(r => r.getString(0) -> r).toMap
    val exact = docs
      .select($"source", $"doc_id", explode(TextAnalysis.tokens($"text")).as("tok"))
      .groupBy($"source")
      .agg(countDistinct($"doc_id").as("docs"), countDistinct($"tok").as("toks"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sk.keySet === exact.keySet)
    exact.foreach { case (src, (nDocs, nToks)) =>
      val row = sk(src)
      assert(math.abs(row.getLong(1) - nDocs).toDouble / nDocs <= 0.05,
        s"$src approx_docs ${row.getLong(1)} vs exact $nDocs")
      assert(math.abs(row.getLong(5) - nToks).toDouble / nToks <= 0.05,
        s"$src approx_distinct_tokens ${row.getLong(5)} vs exact $nToks")
      // quantiles come out as ordered scalar columns
      val q = Seq(row.getDouble(2), row.getDouble(3), row.getDouble(4))
      assert(q(0) <= q(1) && q(1) <= q(2))
    }
  }
}

class TfIdfSpec extends SparkSpec {
  import spark.implicits._

  test("tfidfTopTerms ranks distinctive terms above common ones") {
    val docs = Seq(
      (1L, "spark spark spark shared"),
      (2L, "duck duck shared"),
      (3L, "goose shared")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(docs, k = 2)
      .filter($"doc_id" === 1L).orderBy($"rank")
      .select($"term", $"tf", $"df").as[(String, Long, Long)].collect().toSeq
    // 'spark' (tf=3, df=1) must outrank 'shared' (tf=1, df=3, idf=ln(1)=0)
    assert(got.head === (("spark", 3L, 1L)))
    assert(got(1)._1 === "shared")
    val sharedScore = TextAnalysis.tfidfTopTerms(docs, 2)
      .filter($"term" === "shared").select($"tfidf").as[Double].head()
    assert(sharedScore === 0.0) // df == n_docs -> smoothed idf = ln(1) = 0
  }
}

class DedupClustersSpec extends SparkSpec {
  import spark.implicits._

  test("dedupClusters labels every member with the component minimum") {
    // chain 1-2-3-4 (diameter 3) + separate pair 10-11
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.dedupClusters(pairs)
      .orderBy($"doc_id").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (10L, 10L), (11L, 10L)))
  }

  test("distributed path converges on a deep chain via pointer jumping") {
    // driverEdgeLimit = 0 forces the iterative path; a 120-node chain has
    // diameter 119 — plain 1-hop propagation would need 119 rounds, so
    // finishing inside maxIters=25 proves the label(label) jump works
    val pairs = (1L until 120L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.dedupClusters(pairs, driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(got.size === 120 && got.values.forall(_ == 1L))
  }

  test("driver union-find and distributed propagation agree") {
    val rnd = new scala.util.Random(7)
    val pairs = (1 to 300).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
    val fast = Dedup.dedupClusters(pairs).as[(Long, Long)].collect().toMap
    val dist = Dedup.dedupClusters(pairs, driverEdgeLimit = 0L)
      .as[(Long, Long)].collect().toMap
    assert(fast === dist)
  }

  test("non-convergence throws instead of returning partial labels") {
    val pairs = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      Dedup.dedupClusters(pairs, maxIters = 2, driverEdgeLimit = 0L).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("dropNonCanonical keeps cluster minima and untouched singletons") {
    val docs = (1L to 6L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "label") // doc 6 is a singleton, absent from labels
    val kept = Dedup.dropNonCanonical(docs, labels)
      .select($"doc_id").as[Long].collect().toSeq.sorted
    assert(kept === Seq(1L, 4L, 6L))
  }
}

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.01/documents.parquet").select($"doc_id")

  test("assignSplit is disjoint, exhaustive, and close to the weights") {
    val got = Sampling.assignSplit(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val n = docs.count().toDouble
    val byName = got.groupBy($"split").count()
      .as[(String, Long)].collect().toMap
    assert(byName.keySet === Set("train", "val", "test")) // exhaustive
    assert(byName.values.sum === n.toLong)                // disjoint
    // hash buckets are uniform-ish; 500 docs -> allow generous tolerance
    assert(math.abs(byName("train") / n - 0.8) < 0.08, byName.toString)
    assert(math.abs(byName("val") / n - 0.1) < 0.05, byName.toString)
  }

  test("assignSplit is deterministic and salt re-deals it") {
    val a = Sampling.assignSplit(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.5))
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val b = Sampling.assignSplit(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.5))
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(a === b) // same salt -> identical deal, any run, any partitioning
    val c = Sampling.assignSplit(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.5),
      salt = "deal2").select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(c !== a) // new salt -> a different (still deterministic) deal
  }

  test("deterministicSample nests: the 1% slice is a subset of the 10% slice") {
    val p10 = Sampling.deterministicSample(docs, "doc_id", 0.10)
      .as[Long].collect().toSet
    val p01 = Sampling.deterministicSample(docs, "doc_id", 0.01)
      .as[Long].collect().toSet
    assert(p01.subsetOf(p10))
    assert(Sampling.deterministicSample(docs, "doc_id", 0.0).count() === 0)
    assert(Sampling.deterministicSample(docs, "doc_id", 1.0).count() === docs.count())
  }

  test("repeatByWeight: integer weights repeat exactly, fractional weights " +
      "deal deterministically, zero/NaN/null drop, clamp caps (r14)") {
    val d = Seq((1L, 2.0), (2L, 0.0), (3L, 2.5), (4L, Double.NaN),
      (5L, 1e9), (6L, 0.4)).toDF("doc_id", "w")
    val got = Sampling.repeatByWeight(d, "doc_id", $"w", maxRepeat = 5)
      .groupBy($"doc_id").agg(count(lit(1)).as("n"), max($"rep").as("maxr"))
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got(1L) === ((2L, 2L)))          // integer weight: exactly w copies
    assert(!got.contains(2L))               // zero weight: dropped
    assert(!got.contains(4L))               // NaN: dropped, never keep-always
    assert(got(5L) === ((5L, 5L)))          // clamped to maxRepeat
    assert(Set(2L, 3L).contains(got(3L)._1)) // 2.5 → 2 or 3, hash-decided
    assert(got.get(6L).forall(_._1 === 1L)) // 0.4 → 0 or 1
    // rep is a 1-based contiguous index (max == count per doc)
    got.values.foreach { case (n, maxr) => assert(n === maxr) }
    // deterministic: the identical deal on a second run
    val again = Sampling.repeatByWeight(d, "doc_id", $"w", maxRepeat = 5)
      .groupBy($"doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(again === got.map { case (k, (n, _)) => k -> n })
    // null weight drops; null ID drops too — even at an INTEGER weight,
    // where only the explicit isNotNull filter (not bucket-null
    // propagation) can reach it (ADVICE r14: floor(w) copies leaked)
    val withNull = Seq((7L, null.asInstanceOf[java.lang.Double]))
      .toDF("doc_id", "w")
    assert(Sampling.repeatByWeight(withNull, "doc_id", $"w").count() === 0L)
    val nullId = Seq((null.asInstanceOf[java.lang.Long], 2.0))
      .toDF("doc_id", "w")
    assert(Sampling.repeatByWeight(nullId, "doc_id", $"w").count() === 0L)
  }

  test("temperatureMixture: maxGroups refusal fires before the driver " +
      "materializes an unbounded group table (judge r15)") {
    val d = (1 to 50).map(i => (i.toLong, s"dom$i")).toDF("doc_id", "lang")
    val e = intercept[IllegalArgumentException] {
      Sampling.temperatureMixture(d, "doc_id", $"lang", targetRows = 10,
        maxGroups = 20)
    }
    assert(e.getMessage.contains("maxGroups"))
    // at or under the cap the mixture proceeds unchanged
    assert(Sampling.temperatureMixture(d, "doc_id", $"lang", targetRows = 50,
      maxGroups = 50).count() === 50L)
    // a caller's own g/thr columns no longer collide with the internal
    // lookup join (ADVICE r14: bare "g"/"thr" names were ambiguous)
    val clash = (1 to 20).map(i => (i.toLong, "en", "x", 9L))
      .toDF("doc_id", "g", "thr", "lang2")
    assert(Sampling.temperatureMixture(clash, "doc_id", $"g",
      targetRows = 20).columns.toSeq === Seq("doc_id", "g", "thr", "lang2"))
  }

  test("deterministicShuffleRank/packBudget over repeated ids: the " +
      "composite (id, rep) key makes the deal per-copy deterministic (r15)") {
    val docs = Seq((1L, 2.5), (2L, 3.0), (3L, 1.9), (4L, 2.2), (5L, 3.0))
      .toDF("doc_id", "w")
    val rep = Sampling.repeatByWeight(docs, "doc_id", $"w", maxRepeat = 5)
    def run(): Seq[(Long, Long, Long, Long)] =
      Sampling.packBudget(
        Sampling.deterministicShuffleRank(rep, Seq("doc_id", "rep"),
          salt = "shuffle", shuffleBuckets = 8),
        Seq("doc_id", "rep"), lit(7L), budget = 20, packBuckets = 4,
        salt = "pack")
        .select($"doc_id", $"rep", $"shuffle_rank", $"pack_id")
        .as[(Long, Long, Long, Long)].collect().sortBy(t => (t._1, t._2)).toSeq
    val a = run()
    val b = run() // row-for-row identical across runs (the r14 finding #2
                  // contract: copies are distinguishable, nothing arbitrary)
    assert(a === b)
    // ranks are an exact 1..n permutation even with duplicate doc_ids
    assert(a.map(_._3).sorted === (1L to a.length.toLong))
    // copies of one doc get DIFFERENT ranks (the single-id face cannot
    // promise which copy is which; the composite key can)
    val byDoc = a.groupBy(_._1)
    byDoc.values.foreach { copies =>
      assert(copies.map(_._3).distinct.length === copies.length)
    }
  }

  test("deal-key hygiene: debugChecks refuses '#'-aliased and duplicate " +
      "key tuples in the rank/pack faces, exempts null components (r16)") {
    // the aliasing class from the r15 verdict: a '#' inside a string
    // component folds two DISTINCT tuples into one composite rendering —
    // identical hash and tie-break, retry/engine-arbitrary deal
    val aliased = Seq(("x#1", "2", 10L), ("x", "1#2", 20L))
      .toDF("doc_id", "rep", "n_tokens")
    // gate OFF (production default): no probe job, the face still runs
    assert(Sampling.deterministicShuffleRank(aliased, Seq("doc_id", "rep"),
      salt = "s", shuffleBuckets = 16).count() === 2L)
    spark.conf.set("spark.graft.store.debugChecks", "true")
    try {
      val e1 = intercept[IllegalArgumentException] {
        Sampling.deterministicShuffleRank(aliased, Seq("doc_id", "rep"),
          salt = "s", shuffleBuckets = 16)
      }
      assert(e1.getMessage.contains("deal-key contract"))
      val e2 = intercept[IllegalArgumentException] {
        Sampling.packBudget(aliased, Seq("doc_id", "rep"), $"n_tokens",
          budget = 100, packBuckets = 16, salt = "p")
      }
      assert(e2.getMessage.contains("deal-key contract"))
      // a genuine duplicate tuple is the same violation
      val dup = Seq(("a", "1", 5L), ("a", "1", 6L))
        .toDF("doc_id", "rep", "n_tokens")
      intercept[IllegalArgumentException] {
        Sampling.deterministicShuffleRank(dup, Seq("doc_id", "rep"),
          salt = "s", shuffleBuckets = 16)
      }
      // unique keys pass with the gate armed; a null component stays
      // exempt (it already carries the module's NULL-rank verdict)
      val ok = Seq(("a", "1", 5L), ("b", null, 6L), ("c", null, 7L))
        .toDF("doc_id", "rep", "n_tokens")
      val ranks = Sampling.deterministicShuffleRank(ok, Seq("doc_id", "rep"),
          salt = "s", shuffleBuckets = 16)
        .select($"doc_id", $"shuffle_rank").as[(String, Option[Long])]
        .collect().toMap
      assert(ranks("a").isDefined && ranks("b").isEmpty && ranks("c").isEmpty)
    } finally spark.conf.unset("spark.graft.store.debugChecks")
  }

  test("temperatureMixture flattens toward uniform, keeps everything at a " +
      "full-corpus target, excludes null groups, nests in target (r14)") {
    val d = ((1 to 400).map(i => (i.toLong, "big")) ++
      (401 to 425).map(i => (i.toLong, "small")) ++
      Seq((426L, null.asInstanceOf[String]))).toDF("doc_id", "lang")
    val kept = Sampling.temperatureMixture(d, "doc_id", $"lang", targetRows = 100)
    val byLang = kept.groupBy($"lang").count().as[(String, Long)].collect().toMap
    // alpha 0.5 flattening: thresholds ∝ 1/sqrt(n) → the small group's
    // keep RATE (expected 80%) dominates the big group's (expected 20%)
    assert(!byLang.contains(null))
    assert(byLang("small").toDouble / 25 > byLang("big").toDouble / 400,
      byLang.toString)
    // expectation ≈ target (hash-deal variance allowed)
    val n = kept.count()
    assert(n > 60 && n < 140, s"kept $n of target 100")
    // at alpha = 1 (no flattening) a full-corpus target keeps every
    // non-null-group row exactly: thr = 10000·T/Σn = 10000 for all
    // groups. NOT true at alpha < 1 — flattening down-weights the big
    // group even at a full target (thr 8500 here), which is the point.
    assert(Sampling.temperatureMixture(d, "doc_id", $"lang",
      targetRows = 425, alpha = 1.0).count() === 425L)
    // nesting: halving the target yields a subset (thresholds monotone)
    val k50 = Sampling.temperatureMixture(d, "doc_id", $"lang", targetRows = 50)
      .select($"doc_id").as[Long].collect().toSet
    val k100 = kept.select($"doc_id").as[Long].collect().toSet
    assert(k50.subsetOf(k100))
  }

  test("stratifiedSample: per-stratum rates, nesting across re-weights (r4)") {
    val withLang = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select($"doc_id", $"lang")
    val mixed = Sampling.stratifiedSample(withLang, "doc_id", $"lang",
      Seq("en" -> 1.0, "es" -> 0.5), defaultFraction = 0.0)
    val byLang = mixed.groupBy($"lang").count().as[(String, Long)].collect().toMap
    val total = withLang.groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(byLang("en") === total("en"))          // fraction 1.0 keeps all
    assert(!byLang.contains("zh"))                // default 0.0 keeps none
    assert(byLang("es") > 0 && byLang("es") < total("es"))
    // nesting: shrinking a stratum's fraction yields a SUBSET (no re-roll)
    val smaller = Sampling.stratifiedSample(withLang, "doc_id", $"lang",
      Seq("es" -> 0.1), defaultFraction = 0.0)
      .select($"doc_id").as[Long].collect().toSet
    val larger = Sampling.stratifiedSample(withLang, "doc_id", $"lang",
      Seq("es" -> 0.5), defaultFraction = 0.0)
      .select($"doc_id").as[Long].collect().toSet
    assert(smaller.subsetOf(larger))
  }

  test("weightedSample: monotone in weight, exact at extremes, clamped (r4)") {
    val df = (1L to 1000L).toDF("doc_id")
      .withColumn("w", (col("doc_id") % 10).cast("double") / 10)
    assert(Sampling.weightedSample(df, "doc_id", lit(1.0)).count() === 1000)
    assert(Sampling.weightedSample(df, "doc_id", lit(0.0)).count() === 0)
    // monotone: a lower uniform weight keeps a SUBSET (no re-roll)
    val half = Sampling.weightedSample(df, "doc_id", lit(0.5))
      .select($"doc_id").as[Long].collect().toSet
    val quarter = Sampling.weightedSample(df, "doc_id", lit(0.25))
      .select($"doc_id").as[Long].collect().toSet
    assert(quarter.subsetOf(half))
    assert(math.abs(half.size - 500) < 75)
    // per-row weights: E[kept] = Σw = 1000 · mean(0.0 … 0.9) = 450
    val kept = Sampling.weightedSample(df, "doc_id", $"w").count()
    assert(math.abs(kept - 450) < 75)
    // out-of-range weights behave as the clamped extremes
    assert(Sampling.weightedSample(df, "doc_id", lit(5.0)).count() === 1000)
    assert(Sampling.weightedSample(df, "doc_id", lit(-1.0)).count() === 0)
    // a NaN weight DROPS the row: both engines order NaN above every
    // number, so an unguarded clamp would keep-always on a corrupt score
    assert(Sampling.weightedSample(df, "doc_id", lit(Double.NaN)).count() === 0)
  }

  test("the deals refuse out-of-range structural arguments up front (r8)") {
    val df = (1L to 10L).toDF("doc_id").withColumn("n", lit(5L))
    // negative split weights sum to 1 but mis-deal silently if admitted
    val neg = intercept[IllegalArgumentException] {
      Sampling.assignSplit(df, "doc_id",
        Seq("a" -> 0.5, "b" -> -0.3, "c" -> 0.8))
    }
    assert(neg.getMessage.contains("[0,1]"))
    // pmod(x, 0) is null: zero pack buckets would emit all-null pack_ids
    val zb = intercept[IllegalArgumentException] {
      Sampling.packBudget(df, "doc_id", $"n", budget = 16, packBuckets = 0)
    }
    assert(zb.getMessage.contains("packBuckets"))
  }

  test("packBudget: contiguous budget-aligned packs, ≤ one straddling doc over (r4)") {
    val withTok = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select($"doc_id", size(split($"text", "\\s+")).cast("long").as("n_tokens"))
    val budget = 512L
    val packed = Sampling.packBudget(withTok, "doc_id", $"n_tokens", budget,
      packBuckets = 4)
    // every row assigned; deterministic across invocations
    assert(packed.count() === withTok.count())
    val again = Sampling.packBudget(withTok, "doc_id", $"n_tokens", budget,
      packBuckets = 4).select($"doc_id", $"pack_id").as[(Long, Long)].collect().toMap
    assert(packed.select($"doc_id", $"pack_id").as[(Long, Long)].collect().toMap === again)
    // pack totals: each pack holds < budget BEFORE its last doc (the
    // bounded-overflow contract — only a straddling final doc may exceed)
    val totals = packed.groupBy($"pack_id")
      .agg(sum($"n_tokens").as("tot"), max($"n_tokens").as("maxdoc"))
      .select($"tot", $"maxdoc").as[(Long, Long)].collect()
    assert(totals.forall { case (tot, maxdoc) => tot - maxdoc < budget },
      "a pack exceeded its budget by more than its final straddling doc")
    // packs never cross buckets
    assert(packed.groupBy($"pack_id")
      .agg(countDistinct($"pack_bucket").as("nb"))
      .filter($"nb" > 1).isEmpty)
  }

  test("deterministicShuffleRank: exact 1..n permutation, bucket-count " +
      "invariant, null id ranks null (r10)") {
    val ranked = Sampling.deterministicShuffleRank(docs, "doc_id")
    val n = docs.count()
    val ranks = ranked.select($"shuffle_rank").as[Long].collect().sorted
    assert(ranks.toSeq === (1L to n).toSeq) // a permutation, no gaps/dups
    // the bucketed computation IS the global order: 1 bucket (a single
    // within-bucket window == the naive global plan) and 64 buckets
    // (the scale path) must agree row-for-row
    val one = Sampling.deterministicShuffleRank(docs, "doc_id",
      shuffleBuckets = 1).select($"doc_id", $"shuffle_rank")
      .as[(Long, Long)].collect().toMap
    val sixtyFour = ranked.select($"doc_id", $"shuffle_rank")
      .as[(Long, Long)].collect().toMap
    assert(one === sixtyFour)
    // null ids join no offset and surface a null rank; others unaffected
    val withNull = Seq(Some(1L), Some(2L), None).toDF("doc_id")
    val got = Sampling.deterministicShuffleRank(withNull, "doc_id")
      .select($"doc_id", $"shuffle_rank").collect()
    assert(got.filter(_.isNullAt(0)).forall(_.isNullAt(1)))
    assert(got.filter(!_.isNullAt(0)).map(_.getLong(1)).sorted.toSeq === Seq(1L, 2L))
    // power-of-two bucket guard
    val e = intercept[IllegalArgumentException] {
      Sampling.deterministicShuffleRank(docs, "doc_id", shuffleBuckets = 48)
    }
    assert(e.getMessage.contains("power of two"))
  }

  test("deterministicShuffleRank: a new salt re-deals the order (the " +
      "per-epoch shuffle); the same salt reproduces it (r10)") {
    def deal(salt: String) = Sampling
      .deterministicShuffleRank(docs, "doc_id", salt = salt)
      .select($"doc_id", $"shuffle_rank").as[(Long, Long)].collect().toMap
    val e0 = deal("epoch0")
    assert(deal("epoch0") === e0) // reproducible within a salt
    val e1 = deal("epoch1")
    assert(e0.keySet === e1.keySet) // same corpus, both full permutations
    // different epochs genuinely reorder (identical orders would mean
    // the salt never reached the hash)
    assert(e0.count { case (id, r) => e1(id) == r } < e0.size / 2)
  }

  test("takeTokenBudget: exact prefix vs a driver-side reference, " +
      "straddler kept, bucket-count invariant (r10)") {
    val scored = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select($"doc_id",
        round(($"n_chars" % 97).cast("double") / 97.0, 8).as("score"),
        size(split($"text", "\\s+")).cast("long").as("n_tokens"))
    val budget = 5000L
    val got = Sampling.takeTokenBudget(scored, "doc_id", $"score",
      $"n_tokens", budget)
      .select($"doc_id", $"cum_before").as[(Long, Long)].collect().toMap
    // reference: sort all rows driver-side, exact running total
    val ref = scored.select($"doc_id", $"score", $"n_tokens")
      .as[(Long, Double, Long)].collect().sortBy(r => (r._2, r._1))
    var cum = 0L
    val want = scala.collection.mutable.Map[Long, Long]()
    ref.foreach { case (id, _, t) =>
      if (cum < budget) want(id) = cum
      cum += t
    }
    assert(got === want.toMap)
    // the last kept row STARTS under budget (straddler convention) and
    // the selection is non-trivial at this corpus/budget
    assert(got.nonEmpty && got.size < ref.length)
    assert(got.values.forall(_ < budget))
    // approximate boundaries never change the arithmetic: 1 bucket (the
    // naive single-window plan) agrees with the 64-bucket scale path
    val one = Sampling.takeTokenBudget(scored, "doc_id", $"score",
      $"n_tokens", budget, scoreBuckets = 1)
      .select($"doc_id", $"cum_before").as[(Long, Long)].collect().toMap
    assert(one === got)
    // a zero budget keeps nothing; null scores are excluded
    assert(Sampling.takeTokenBudget(scored, "doc_id", $"score",
      $"n_tokens", 0L).isEmpty)
    val withNull = Seq((1L, Some(0.5), 10L), (2L, None, 10L))
      .toDF("doc_id", "score", "n_tokens")
    val kept = Sampling.takeTokenBudget(withNull, "doc_id", $"score",
      $"n_tokens", 100L).select($"doc_id").as[Long].collect().toSeq
    assert(kept === Seq(1L))
  }

  test("takeTokenBudget: heavy score-tie classes split into id-range " +
      "sub-cells — same rows, no single-cell pileup (r11)") {
    // A constant-score corpus is the worst case for score-quantile
    // bucketing: every row is one tie class, so without the tie-split
    // the whole corpus sorts in ONE window partition.
    val n = 8000
    val scored = spark.range(n.toLong)
      .select($"id".as("doc_id"), lit(0.0).as("score"),
        (($"id" % 7) + 1).cast("long").as("n_tokens"))
    val got = Sampling.takeTokenBudget(scored, "doc_id", $"score",
      $"n_tokens", budget = 9000L, scoreBuckets = 8, tieSubBuckets = 16)
      .select($"doc_id", $"cum_before").as[(Long, Long)].collect().toMap
    // exact: ties order by id, so the kept prefix is ids 0.. with the
    // running (id % 7) + 1 total — compare against the naive plan
    val ref = Sampling.takeTokenBudget(scored, "doc_id", $"score",
      $"n_tokens", budget = 9000L, scoreBuckets = 1)
      .select($"doc_id", $"cum_before").as[(Long, Long)].collect().toMap
    assert(got === ref)
    assert(got.nonEmpty && got.size < n)
    // the split actually SPLITS: the tie class lands in many (cell, sub)
    // partitions, near-balanced (ids are dense, so quantile cuts are tight)
    val cells = Sampling.budgetCells(scored, "doc_id", $"score",
      $"n_tokens", scoreBuckets = 8, tieSubBuckets = 16)
      .groupBy($"__qb", $"__sub").count().as[(Int, Int, Long)].collect()
    assert(cells.length >= 8, s"tie class did not split: ${cells.toSeq}")
    assert(cells.map(_._3).max <= 2L * n / cells.length,
      s"sub-cells unbalanced: ${cells.toSeq}")
    // tieSubBuckets = 1 disables the split (the documented escape hatch):
    // one cell holds everything, and the result is still identical
    val off = Sampling.budgetCells(scored, "doc_id", $"score",
      $"n_tokens", scoreBuckets = 8, tieSubBuckets = 1)
      .groupBy($"__qb", $"__sub").count().as[(Int, Int, Long)].collect()
    assert(off.length === 1 && off.head._3 === n.toLong)
    // STRING ids under a heavy tie class (r12): sampled-member-id
    // boundaries split the class into id-range sub-cells and the kept
    // prefix is still exactly the first ids in string order
    val strIds = spark.range(4000L)
      .select(format_string("d%05d", $"id").as("doc_id"),
        lit(0.0).as("score"), lit(3L).as("n_tokens"))
    val gotStr = Sampling.takeTokenBudget(strIds, "doc_id", $"score",
      $"n_tokens", budget = 900L, scoreBuckets = 4, tieSubBuckets = 16)
      .select($"doc_id").as[String].collect().sorted.toSeq
    assert(gotStr === (0 until 300).map(i => f"d$i%05d"))
    val strCells = Sampling.budgetCells(strIds, "doc_id", $"score",
      $"n_tokens", scoreBuckets = 4, tieSubBuckets = 16)
      .groupBy($"__qb", $"__sub").count().as[(Int, Int, Long)].collect()
    assert(strCells.length >= 8,
      s"string-id tie class did not split: ${strCells.toSeq}")
    assert(strCells.map(_._3).max <= 4000L / 2,
      s"string-id sub-cells unbalanced: ${strCells.toSeq}")
  }

  test("takeTokenBudget: string-id tie-split survives adversarial UTF-8 " +
      "ids — multi-byte, surrogate-pair, shared-prefix (r12 item 7)") {
    // Property under test: budgetCells' driver-side boundary sort
    // (UTF-8 byte comparator) must agree with Spark's own binary string
    // order — a disagreeing boundary is not an interval cut of the
    // (score, id) order, the cell concatenation reorders the tie, and
    // cum_before drifts. Ground truth is the sanctioned naive plan
    // (scoreBuckets = 1: no tie machinery, one native Spark window).
    // Alphabet spans 1- to 4-byte UTF-8 (the 4-byte rows are surrogate
    // PAIRS in the JVM — the case where UTF-16 code-unit order and
    // UTF-8 byte order can diverge) plus prefix-of-another ids; lone
    // (unpaired) surrogates are out of contract — they don't round-trip
    // UTF-8 and two distinct ids could encode identically.
    val alphabet = Vector("a", "B", "0", "~", "é", "ß", "€",
      "한", "￮", "😀", "𝄞", "zé", "")
    for (seed <- Seq(1, 42, 20260814)) {
      val rnd = new scala.util.Random(seed)
      val ids = (0 until 3000).map { _ =>
        (0 until (1 + rnd.nextInt(6))).map(_ => alphabet(rnd.nextInt(alphabet.size))).mkString
      }.distinct
      val rows = ids.map(id => (id, 0.0, 1L + rnd.nextInt(7).toLong))
      val scored = rows.toDF("doc_id", "score", "n_tokens")
      val split = Sampling.takeTokenBudget(scored, "doc_id", $"score",
        $"n_tokens", budget = 2000L, scoreBuckets = 16, tieSubBuckets = 8)
        .select($"doc_id", $"cum_before").as[(String, Long)].collect().toMap
      val naive = Sampling.takeTokenBudget(scored, "doc_id", $"score",
        $"n_tokens", budget = 2000L, scoreBuckets = 1)
        .select($"doc_id", $"cum_before").as[(String, Long)].collect().toMap
      assert(split === naive, s"seed $seed: tie-split diverged from the naive order")
      assert(split.nonEmpty && split.size < ids.size, s"seed $seed: degenerate draw")
      // and the machinery actually engaged (the whole corpus is one tie)
      val cells = Sampling.budgetCells(scored, "doc_id", $"score",
        $"n_tokens", scoreBuckets = 16, tieSubBuckets = 8)
        .groupBy($"__qb", $"__sub").count().as[(Int, Int, Long)].collect()
      assert(cells.length >= 4, s"seed $seed: UTF-8 tie class did not split")
    }
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)

  private lazy val vectors = Seq(
    (0L, vec(1, 0, 0, 0)),
    (1L, vec(0.9, 0.1, 0, 0)),   // close to 0
    (2L, vec(0, 1, 0, 0)),       // orthogonal to 0
    (3L, vec(1, 0, 0, 0)),       // identical to 0
    (4L, vec(-1, 0, 0, 0))       // opposite
  ).toDF("vec_id", "embedding")

  test("bruteForceTopK ranks by cosine with id tiebreak") {
    val got = Similarity.bruteForceTopK(vectors, vectors.filter($"vec_id" === 0), 3)
      .orderBy($"rank").select($"neighbor_id", $"cos_sim").as[(Long, Double)].collect()
    assert(got.map(_._1).toSeq === Seq(3L, 1L, 2L)) // identical, close, orthogonal
    assert(got(0)._2 === 1.0)
    assert(math.abs(got(1)._2 - 0.9 / math.sqrt(0.81 + 0.01)) < 1e-4)
    assert(got(2)._2 === 0.0)
  }

  test("lshTopK finds the identical vector (same bucket by construction)") {
    val got = Similarity.lshTopK(vectors, vectors.filter($"vec_id" === 0), 3,
      bits = 3, tables = 2, dim = 4)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(got.contains(3L)) // identical vector always shares the signature
    assert(!got.contains(4L)) // opposite vector flips every plane sign
  }

  test("ivfTopK finds the identical vector when probing its own cell") {
    val got = Similarity.ivfTopK(vectors, vectors.filter($"vec_id" === 0), k = 3,
      numCells = 2, nProbe = 1)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(got.contains(3L)) // identical vector shares the Voronoi cell
  }

  test("ivfTopK with all cells probed reproduces brute force") {
    val ivf = Similarity.ivfTopK(vectors, vectors.filter($"vec_id" === 0), k = 3,
      numCells = 2, nProbe = 2)
      .select($"neighbor_id", $"cos_sim", $"rank").collect().toSet
    val brute = Similarity.bruteForceTopK(vectors, vectors.filter($"vec_id" === 0), 3)
      .select($"neighbor_id", $"cos_sim", $"rank").collect().toSet
    assert(ivf === brute) // nProbe == numCells -> exhaustive -> exact
  }

  test("kmeansCentroids converges to per-cluster means (trained IVF)") {
    // ids chosen so the two smallest hash-bucket seeds — vec 3 and vec 5
    // (buckets 770 and 855) — land in DIFFERENT clusters: 3 in the
    // x-cluster {0,3,4}, 5 in the z-cluster {1,2,5}
    val clustered = Seq(
      (0L, vec(1, 0, 0, 0)), (1L, vec(0, 0.1, 0.9, 0)),
      (2L, vec(0, 0.05, 0.95, 0)), (3L, vec(0.9, 0.1, 0, 0)),
      (4L, vec(0.95, 0.05, 0, 0)), (5L, vec(0, 0, 1, 0))
    ).toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(clustered, numCells = 2, iters = 2)
      .orderBy($"cell").select($"centroid").as[Seq[Double]].collect()
    assert(cents.length === 2)
    // cell 3 (x-cluster seed) -> the x-cluster mean; cell 5 -> z-cluster
    assert(math.abs(cents(0)(0) - (1.0 + 0.9 + 0.95) / 3) < 1e-6)
    assert(math.abs(cents(1)(2) - (1.0 + 0.9 + 0.95) / 3) < 1e-6)
    // nProbe=1 over the trained index returns only in-cluster neighbors
    val got = Similarity.ivfTopK(clustered, clustered.filter($"vec_id" === 3), k = 2,
      numCells = 2, nProbe = 1, trainIters = 2)
      .select($"neighbor_id").as[Long].collect().toSet
    assert(got === Set(0L, 4L))
  }

  test("IVF seeding is id-distribution-free: ids starting at 10000 (r4)") {
    // the old seed (`vec_id < numCells`) produced ZERO centroids here and
    // threw; hash-bucket seeding works from any id range
    val shifted = vectors.select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    val probes = shifted.filter($"vec_id" === 10000L)
    // nProbe == numCells -> exhaustive -> must equal brute force
    val ivf = Similarity.ivfTopK(shifted, probes, k = 3, numCells = 2, nProbe = 2)
      .select($"neighbor_id", $"cos_sim", $"rank").collect().toSet
    val brute = Similarity.bruteForceTopK(shifted, probes, 3)
      .select($"neighbor_id", $"cos_sim", $"rank").collect().toSet
    assert(ivf === brute)
  }

  test("buildIvfIndex + searchIvf equals per-call-trained ivfTopK (train-once face, r4)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter($"vec_id" < 5)
    val index = Similarity.buildIvfIndex(emb, numCells = 8, trainIters = 2)
    val once = Similarity.searchIvf(emb, index, probes, k = 5, nProbe = 2)
      .select($"probe_id", $"neighbor_id", $"cos_sim", $"rank").collect().toSet
    val perCall = Similarity.ivfTopK(emb, probes, k = 5, numCells = 8,
      nProbe = 2, trainIters = 2)
      .select($"probe_id", $"neighbor_id", $"cos_sim", $"rank").collect().toSet
    assert(once === perCall)
  }

  test("persisted cell-partitioned IVF layout searches identically and prunes the scan (r7)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter($"vec_id" < 5)
    val index = Similarity.buildIvfIndex(emb, numCells = 8, trainIters = 2)
    // the production at-rest layout: assignment persisted partitioned by cell
    val store = java.nio.file.Files.createTempDirectory("ivf_assigned").toString + "/assigned"
    Similarity.assignIvfCells(emb, index)
      .write.partitionBy("cell").parquet(store)
    val assigned = spark.read.parquet(store)
    val stored = Similarity.searchIvfAssigned(assigned, index, probes, k = 5, nProbe = 2)
    val perCall = Similarity.ivfTopK(emb, probes, k = 5, numCells = 8,
      nProbe = 2, trainIters = 2)
      .select($"probe_id", $"neighbor_id", $"cos_sim", $"rank").collect().toSet
    assert(stored.select($"probe_id", $"neighbor_id", $"cos_sim", $"rank")
      .collect().toSet === perCall)
    // the point of the layout: the probed `cell IN (…)` literal reaches the
    // file listing, so only the probed cells' directories are read
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"expected partition pruning on the cell directories:\n$plan")
  }

  test("int8 quantization round-trips at ≥0.999 cosine fidelity (r4)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val fid = emb.withColumn("qs", Similarity.quantizeInt8($"e"))
      .select(Similarity.cosine($"e", Similarity.dequantizeInt8($"qs")).as("c"))
      .agg(min($"c")).as[Double].head()
    assert(fid >= 0.999, s"worst round-trip cosine $fid")
    // zero vector: scale 0, all-zero codes, no division blow-up
    val z = Seq((0L, Seq(0.0, 0.0, 0.0))).toDF("vec_id", "e")
      .select(Similarity.quantizeInt8($"e").as("qs"))
      .select($"qs.scale", $"qs.q").as[(Double, Seq[Int])].head()
    assert(z === ((0.0, Seq(0, 0, 0))))
  }

  test("quantizedTopK matches the exact top-5 almost everywhere (r4)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter($"vec_id" < 20)
    val exact = Similarity.bruteForceTopK(emb, probes, 5)
      .select($"probe_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val quant = Similarity.quantizedTopK(emb, probes, 5)
      .select($"probe_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & quant).size.toDouble / exact.size
    // int8 round-trip moves cosines by ~1e-3; only genuinely tied
    // neighbors can swap in/out of the top-5
    assert(recall >= 0.9, s"quantized recall@5 $recall")
  }

  test("recall contracts pass at the registered configs (q75-q77, r11)") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val probes = emb.filter($"vec_id" < 20)
    def allOk(c: org.apache.spark.sql.DataFrame): Unit = {
      val rows = c.select($"probe_ok", $"mean_ok").as[(Long, Long)].collect()
      assert(rows.length === 20)
      assert(rows.forall(_ == ((1L, 1L))), s"contract rows: ${rows.toSeq}")
    }
    allOk(Similarity.recallContract(emb, probes,
      Similarity.lshTopK(emb, probes, k = 10, bits = 4, tables = 8),
      k = 10, minProbeRecall = 0.2, minMeanRecall = 0.5))
    allOk(Similarity.recallContract(emb, probes,
      Similarity.ivfTopK(emb, probes, k = 10, numCells = 16, nProbe = 6, trainIters = 2),
      k = 10, minProbeRecall = 0.1, minMeanRecall = 0.4))
    allOk(Similarity.recallContract(emb, probes,
      Similarity.quantizedTopK(emb, probes, k = 10),
      k = 10, minProbeRecall = 0.7, minMeanRecall = 0.9, simSlack = 0.002))
  }

  test("recall contracts have teeth: degraded configs flip the columns (r11)") {
    // The q75-q77 rows only guard anything if a genuine quality collapse
    // flips the 1/0 columns and breaks the oracle hash. Degrade each
    // face the way it would really fail — LSH with one over-wide table
    // (near-zero collision recall), IVF probing one cell of an untrained
    // index — and assert the SAME floors the registry uses now fail.
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val probes = emb.filter($"vec_id" < 20)
    val lshBad = Similarity.recallContract(emb, probes,
      Similarity.lshTopK(emb, probes, k = 10, bits = 16, tables = 1),
      k = 10, minProbeRecall = 0.2, minMeanRecall = 0.5)
      .select($"probe_ok", $"mean_ok").as[(Long, Long)].collect()
    assert(lshBad.forall(_._2 == 0L), "degraded LSH must fail the mean floor")
    assert(lshBad.count(_._1 == 0L) >= 15,
      s"degraded LSH should fail nearly every per-probe floor: ${lshBad.toSeq}")
    val ivfBad = Similarity.recallContract(emb, probes,
      Similarity.ivfTopK(emb, probes, k = 10, numCells = 16, nProbe = 1, trainIters = 0),
      k = 10, minProbeRecall = 0.1, minMeanRecall = 0.4)
      .select($"mean_ok").as[Long].collect()
    assert(ivfBad.forall(_ == 0L), "degraded IVF must fail the mean floor")
  }

  test("IVF index composes with int8 quantization (full memory-bound stack, r4)") {
    // the 100 TB ANN deployment shape: train once on the fp corpus,
    // store the corpus quantized, search the quantized corpus through
    // the prebuilt index — faces compose with no special-case code
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter($"vec_id" < 10)
    val index = Similarity.buildIvfIndex(emb, numCells = 8, trainIters = 2)
    val quantCorpus = emb.select($"vec_id",
      Similarity.dequantizeInt8(Similarity.quantizeInt8($"embedding".cast("array<double>")))
        .as("embedding"))
    val quant = Similarity.searchIvf(quantCorpus, index, probes, k = 5, nProbe = 2)
      .select($"probe_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val full = Similarity.searchIvf(emb, index, probes, k = 5, nProbe = 2)
      .select($"probe_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val agree = (quant & full).size.toDouble / full.size
    assert(agree >= 0.85, s"quantized-IVF agreement with fp-IVF: $agree")
  }

  test("cosinePairs flags identical pairs at high threshold") {
    // cos(v0, v1) = 0.9/sqrt(0.82) ≈ 0.9939, so 0.999 isolates the exact copy
    val got = Similarity.cosinePairs(vectors, 0.999)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((0L, 3L)))
  }

  test("cosinePairs refuses corpora above maxRows (r11)") {
    val e = intercept[IllegalArgumentException] {
      Similarity.cosinePairs(vectors, 0.999, maxRows = 2)
    }
    assert(e.getMessage.contains("cosinePairsLsh"))
  }

  test("measured recall@5 vs brute force on real embeddings (LSH and IVF)") {
    // quantified recall on the sf0.001 testdata corpus: for each of 20
    // probes, |approx top-5 ∩ exact top-5| / 5, averaged
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter($"vec_id" < 20)
    def top5(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"probe_id", $"neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = top5(Similarity.bruteForceTopK(emb, probes, 5))
    def recall(approx: Map[Long, Set[Long]]): Double =
      exact.map { case (p, want) =>
        approx.getOrElse(p, Set.empty).count(want).toDouble / want.size
      }.sum / exact.size
    val lshRecall = recall(top5(Similarity.lshTopK(emb, probes, 5,
      bits = 4, tables = 8, dim = 64)))
    val ivfRecall = recall(top5(Similarity.ivfTopK(emb, probes, 5,
      numCells = 8, nProbe = 2, trainIters = 2)))
    val ivfStubRecall = recall(top5(Similarity.ivfTopK(emb, probes, 5,
      numCells = 8, nProbe = 2, trainIters = 0)))
    info(f"recall@5: lsh=$lshRecall%.3f ivf=$ivfRecall%.3f ivf-untrained=$ivfStubRecall%.3f")
    // floors chosen below current measurements (lsh≈0.69, ivf≈0.44) to
    // catch regressions, not to flatter. The ivf floor was re-measured
    // after r4's id-distribution-free hash-bucket seeding: the old
    // first-8-contiguous seed happened to draw a luckier 0.68 on this
    // corpus; the hash draw is the price of working on any id range —
    // recall tunes back up with nProbe/numCells, not seed luck.
    assert(ivfRecall >= 0.35, s"IVF recall@5 regressed: $ivfRecall")
    assert(lshRecall >= 0.6, s"LSH recall@5 regressed: $lshRecall")
    // k-means training must not LOSE recall vs the raw hash-bucket seed
    // (small tolerance: cell boundaries shift, individual probes can swap)
    assert(ivfRecall >= ivfStubRecall - 0.1,
      s"training hurt recall: trained=$ivfRecall untrained=$ivfStubRecall")
    // the recall knob is nProbe: probing more cells must not lose recall
    val ivfWide = recall(top5(Similarity.ivfTopK(emb, probes, 5,
      numCells = 8, nProbe = 4, trainIters = 2)))
    info(f"recall@5: ivf nProbe=4 -> $ivfWide%.3f")
    assert(ivfWide >= ivfRecall, s"nProbe=4 recall $ivfWide < nProbe=2 $ivfRecall")
  }

  test("LSH recall matrix: recall grows with tables, shrinks with bits (tuning surface)") {
    // The two 100 TB knobs, measured instead of asserted: more TABLES =
    // more chances to collide (recall up, candidates up); more BITS per
    // table = finer buckets (candidates down, recall down). This sweep
    // documents the monotone trends a deployment tunes against.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter($"vec_id" < 10)
    def top5(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"probe_id", $"neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = top5(Similarity.bruteForceTopK(emb, probes, 5))
    def recall(bits: Int, tables: Int): Double = {
      val approx = top5(Similarity.lshTopK(emb, probes, 5, bits, tables, dim = 64))
      exact.map { case (p, want) =>
        approx.getOrElse(p, Set.empty).count(want).toDouble / want.size
      }.sum / exact.size
    }
    val byTables = Seq(1, 4, 8).map(t => t -> recall(4, t))
    val byBits = Seq(2, 4, 8).map(b => b -> recall(b, 4))
    info(s"recall@5 by tables (bits=4): ${byTables.map { case (t, r) => f"$t->$r%.2f" }.mkString(" ")}")
    info(s"recall@5 by bits (tables=4): ${byBits.map { case (b, r) => f"$b->$r%.2f" }.mkString(" ")}")
    // trends must hold loosely (small corpus: allow flat, forbid reversal)
    assert(byTables(2)._2 >= byTables.head._2,
      s"recall fell as tables grew: $byTables")
    assert(byBits.head._2 >= byBits(2)._2,
      s"recall rose as bits grew: $byBits")
    // the production-ish corner is usable
    assert(byTables(2)._2 >= 0.6, s"8-table recall floor: $byTables")
  }

  test("IncrementalIvf: batch insertion against frozen centroids equals " +
      "a one-shot build, and a replayed batch id changes nothing (r7)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter($"vec_id" < 5)
    val root = java.nio.file.Files.createTempDirectory("ivf_incr").toString
    val (cP, aP) = (s"$root/centroids", s"$root/assigned")
    // train ONCE on the first half; insert the rest in two batches
    val seed = emb.filter($"vec_id" % 2 === 0)
    IncrementalIvf.buildCentroids(spark, seed, cP, numCells = 8, trainIters = 2)
    IncrementalIvf.ingestBatch(spark, seed, "e0", cP, aP)
    IncrementalIvf.ingestBatch(spark, emb.filter($"vec_id" % 2 === 1), "e1", cP, aP)
    val got = IncrementalIvf.searchStored(spark, cP, aP, probes, k = 5, nProbe = 2)
      .select($"probe_id", $"neighbor_id", $"cos_sim", $"rank").collect().toSet
    // one-shot: the WHOLE corpus assigned at once to the same centroids
    val index = graft.sources.KeyedParquetStore.read(spark, cP,
      schema = Some(IncrementalIvf.centroidsSchema)).get
    val oneShot = Similarity.searchIvfAssigned(
      Similarity.assignIvfCells(emb, index), index, probes, k = 5, nProbe = 2)
      .select($"probe_id", $"neighbor_id", $"cos_sim", $"rank").collect().toSet
    assert(got === oneShot) // similarities included: insertion is exact
    // at-least-once delivery: replaying e1 re-merges idempotently
    IncrementalIvf.ingestBatch(spark, emb.filter($"vec_id" % 2 === 1), "e1", cP, aP)
    val after = IncrementalIvf.searchStored(spark, cP, aP, probes, k = 5, nProbe = 2)
      .select($"probe_id", $"neighbor_id", $"cos_sim", $"rank").collect().toSet
    assert(after === got)
  }

  test("IncrementalIvf.retrain rebuilds from the stored vectors and " +
      "equals a fresh one-shot build at the new cell count (r7)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter($"vec_id" < 5)
    val root = java.nio.file.Files.createTempDirectory("ivf_retrain").toString
    val (cP, aP) = (s"$root/centroids", s"$root/assigned")
    // seed with a DELIBERATELY coarse index, then grow the corpus
    IncrementalIvf.buildCentroids(spark, emb.filter($"vec_id" % 2 === 0), cP,
      numCells = 4, trainIters = 2)
    IncrementalIvf.ingestBatch(spark, emb.filter($"vec_id" % 2 === 0), "e0", cP, aP)
    IncrementalIvf.ingestBatch(spark, emb.filter($"vec_id" % 2 === 1), "e1", cP, aP)
    IncrementalIvf.retrain(spark, cP, aP, numCells = 8, trainIters = 2)
    val got = IncrementalIvf.searchStored(spark, cP, aP, probes, k = 5, nProbe = 2)
      .select($"probe_id", $"neighbor_id", $"cos_sim", $"rank").collect().toSet
    // fresh one-shot build over the same corpus at the same cell count:
    // training is hash-seeded + decimal-exact, so the indexes coincide
    val fresh = Similarity.buildIvfIndex(emb, numCells = 8, trainIters = 2)
    val want = Similarity.searchIvfAssigned(
      Similarity.assignIvfCells(emb, fresh), fresh, probes, k = 5, nProbe = 2)
      .select($"probe_id", $"neighbor_id", $"cos_sim", $"rank").collect().toSet
    assert(got === want)
  }

  test("IncrementalIvf.retrain keepBatches: a replayed kept epoch " +
      "re-merges idempotently after the re-train (r8)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter($"vec_id" < 5)
    val root = java.nio.file.Files.createTempDirectory("ivf_keep").toString
    val (cP, aP) = (s"$root/centroids", s"$root/assigned")
    val (evens, odds) =
      (emb.filter($"vec_id" % 2 === 0), emb.filter($"vec_id" % 2 === 1))
    IncrementalIvf.buildCentroids(spark, evens, cP, numCells = 4, trainIters = 2)
    IncrementalIvf.ingestBatch(spark, evens, "e0", cP, aP)
    IncrementalIvf.ingestBatch(spark, odds, "e1", cP, aP)
    // e1 is the epoch a crashed stream could still redeliver: re-train
    // with it on the replay horizon
    IncrementalIvf.retrain(spark, cP, aP, numCells = 8, trainIters = 2,
      keepBatches = Set("e1"))
    def search() = IncrementalIvf
      .searchStored(spark, cP, aP, probes, k = 5, nProbe = 2)
      .select($"probe_id", $"neighbor_id", $"cos_sim", $"rank").collect().toSet
    val fresh = Similarity.buildIvfIndex(emb, numCells = 8, trainIters = 2)
    val want = Similarity.searchIvfAssigned(
      Similarity.assignIvfCells(emb, fresh), fresh, probes, k = 5, nProbe = 2)
      .select($"probe_id", $"neighbor_id", $"cos_sim", $"rank").collect().toSet
    assert(search() === want) // kept epoch re-assigned to the NEW cells
    // the crash replay: e1 redelivers AFTER the re-train — same vectors
    // against the same (now frozen) new centroids re-merge their own
    // partitions; without the keepBatches horizon its folded copies would
    // duplicate every odd neighbor
    IncrementalIvf.ingestBatch(spark, odds, "e1", cP, aP)
    assert(search() === want)
    val stored = graft.sources.KeyedParquetStore.read(spark, aP,
      schema = Some(IncrementalIvf.assignedSchema)).get
    assert(stored.groupBy($"neighbor_id").count().filter($"count" > 1)
      .count() === 0L, "replay duplicated stored neighbors")
    // the iv pairing must not cost the layout its point: the version
    // equality AND the probed cells both reach the file listing
    val plan = IncrementalIvf
      .searchStored(spark, cP, aP, probes, k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters: ["))
      .filterNot(_.contains("PartitionFilters: []"))
    assert(pf.exists(l => l.matches(""".*PartitionFilters: \[[^\]]*\(iv.*""")
        && l.matches(""".*PartitionFilters: \[[^\]]*cell[^\]]* IN \(.*""")),
      s"expected iv + cell partition pruning on the assigned store:\n$plan")
  }

  test("IncrementalIvf.retireVecs: retire + delta ingest + retrain equals " +
      "the one-shot build over the current corpus (r16)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val probes = emb.filter($"vec_id" < 5)
    val root = java.nio.file.Files.createTempDirectory("ivf_retire").toString
    val (cP, aP) = (s"$root/centroids", s"$root/assigned")
    // yesterday's corpus: %7==3 absent (will arrive as new), %11==5
    // re-embedded since (stale = reversed), +400000 reversed copies of
    // the %5==0 slice (only ever existed in prev — will be removed)
    val changed = emb.filter($"vec_id" % 11 === 5 && $"vec_id" % 7 =!= 3)
      .select($"vec_id")
    val removed = emb.filter($"vec_id" % 5 === 0)
      .select(($"vec_id" + 400000L).as("vec_id"),
        reverse($"embedding").as("embedding"))
    val prev = emb.filter($"vec_id" % 7 =!= 3)
      .select($"vec_id",
        when($"vec_id" % 11 === 5, reverse($"embedding"))
          .otherwise($"embedding").as("embedding"))
      .unionByName(removed)
    // seeds and training deliberately on PREV, not the current corpus —
    // if retrain failed to move them the equality below would fail
    IncrementalIvf.buildCentroids(spark, prev, cP, numCells = 8, trainIters = 2)
    IncrementalIvf.ingestBatch(spark, prev, "b0", cP, aP)
    assert(IncrementalIvf.retireVecs(spark,
      removed.select($"vec_id").unionByName(changed), aP) >= 1)
    IncrementalIvf.ingestBatch(spark,
      emb.filter($"vec_id" % 7 === 3)
        .unionByName(emb.join(changed, Seq("vec_id"), "left_semi")),
      "b1", cP, aP)
    IncrementalIvf.retrain(spark, cP, aP, numCells = 8, trainIters = 2,
      keepBatches = Set("b1"))
    val got = IncrementalIvf.searchStored(spark, cP, aP, probes, k = 5, nProbe = 2)
      .select($"probe_id", $"neighbor_id", $"cos_sim", $"rank").collect().toSet
    // the surviving store is exactly the current corpus, so the
    // refreshed-and-retrained index must coincide with a one-shot build
    val fresh = Similarity.buildIvfIndex(emb, numCells = 8, trainIters = 2)
    val want = Similarity.searchIvfAssigned(
      Similarity.assignIvfCells(emb, fresh), fresh, probes, k = 5, nProbe = 2)
      .select($"probe_id", $"neighbor_id", $"cos_sim", $"rank").collect().toSet
    assert(got === want)
    // no ghost assignments: one row per surviving vector, none retired
    val stored = graft.sources.KeyedParquetStore.read(spark, aP,
      schema = Some(IncrementalIvf.assignedSchema)).get
    assert(stored.filter($"neighbor_id" >= 400000L).count() === 0L)
    assert(stored.groupBy($"neighbor_id").count().filter($"count" > 1)
      .count() === 0L)
    // retiring ids the store never held is a no-op
    assert(IncrementalIvf.retireVecs(spark,
      Seq(999999L).toDF("vec_id"), aP) === 0)
  }

  test("IncrementalIvf.searchStored refuses a version-skewed store pair (r8)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val root = java.nio.file.Files.createTempDirectory("ivf_skew").toString
    val (cP, aP) = (s"$root/centroids", s"$root/assigned")
    IncrementalIvf.buildCentroids(spark, emb, cP, numCells = 4, trainIters = 2)
    IncrementalIvf.ingestBatch(spark, emb, "e0", cP, aP)
    // simulate retrain's crash window (one store replaced, not the
    // other): advance ONLY the centroid store's version
    val bumped = graft.sources.KeyedParquetStore.read(spark, cP,
      schema = Some(IncrementalIvf.centroidsSchema)).get
      .withColumn("iv", lit(2L)).localCheckpoint()
    graft.sources.KeyedParquetStore.replace(spark, cP, bumped)
    val e = intercept[IllegalArgumentException] {
      IncrementalIvf.searchStored(spark, cP, aP,
        emb.filter($"vec_id" < 5), k = 5, nProbe = 2).collect()
    }
    assert(e.getMessage.contains("version-skewed"))
  }

  test("IncrementalIvf.retrain converges a crash-skewed store whose " +
      "epoch replay landed cross-iv duplicates (r8)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter($"vec_id" < 5)
    val root = java.nio.file.Files.createTempDirectory("ivf_heal").toString
    val (cP, aP) = (s"$root/centroids", s"$root/assigned")
    val (evens, odds) =
      (emb.filter($"vec_id" % 2 === 0), emb.filter($"vec_id" % 2 === 1))
    IncrementalIvf.buildCentroids(spark, evens, cP, numCells = 4, trainIters = 2)
    IncrementalIvf.ingestBatch(spark, evens, "e0", cP, aP)
    IncrementalIvf.ingestBatch(spark, odds, "e1", cP, aP)
    IncrementalIvf.retrain(spark, cP, aP, numCells = 8, trainIters = 2,
      keepBatches = Set("e1"))
    // CRASH-WINDOW SIMULATION: the assignment replace committed (iv=2)
    // but the centroid replace did not — training is deterministic, so
    // rebuilding the original seed index reproduces the pre-re-train
    // centroid store exactly
    graft.sources.KeyedParquetStore.replace(spark, cP,
      Similarity.buildIvfIndex(evens, numCells = 4, trainIters = 2)
        .withColumn("iv", lit(1L)).localCheckpoint())
    // the replay INSIDE the window stamps the stale version: the same
    // vectors now sit under (iv=1, old cells) AND (iv=2, new cells) —
    // the partition-scoped merge cannot see across ivs
    IncrementalIvf.ingestBatch(spark, odds, "e1", cP, aP)
    val stored = () => graft.sources.KeyedParquetStore.read(spark, aP,
      schema = Some(IncrementalIvf.assignedSchema)).get
    assert(stored().groupBy($"neighbor_id").count().filter($"count" > 1)
      .count() > 0L, "expected cross-iv duplicates to reproduce the bug")
    // loud, not mis-pruned
    intercept[IllegalArgumentException] {
      IncrementalIvf.searchStored(spark, cP, aP, probes, k = 5, nProbe = 2)
        .collect()
    }
    // the documented repair: re-running retrain collapses the store to
    // one row per vector (newest iv wins) BEFORE re-training — without
    // that collapse it would write the duplicates back verbatim and the
    // version check would pass forever after
    IncrementalIvf.retrain(spark, cP, aP, numCells = 8, trainIters = 2,
      keepBatches = Set("e1"))
    val got = IncrementalIvf
      .searchStored(spark, cP, aP, probes, k = 5, nProbe = 2)
      .select($"probe_id", $"neighbor_id", $"cos_sim", $"rank").collect().toSet
    val fresh = Similarity.buildIvfIndex(emb, numCells = 8, trainIters = 2)
    val want = Similarity.searchIvfAssigned(
      Similarity.assignIvfCells(emb, fresh), fresh, probes, k = 5, nProbe = 2)
      .select($"probe_id", $"neighbor_id", $"cos_sim", $"rank").collect().toSet
    assert(got === want)
    assert(stored().groupBy($"neighbor_id").count().filter($"count" > 1)
      .count() === 0L, "retrain did not heal the duplicated store")
  }

  test("cosinePairsLsh finds exact copies within buckets, never opposites") {
    val got = Similarity.cosinePairsLsh(vectors, 0.999, bits = 6, dim = 4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // identical vectors share every sign bit, so the exact copy survives
    // the bucketing; the opposite vector flips all bits and is never paired
    assert(got === Set((0L, 3L)))
  }

  test("cosinePairsLsh emits each pair once despite multi-table collisions") {
    // exact copies collide in EVERY table; the cross-table distinct must
    // still emit the pair exactly once
    val got = Similarity.cosinePairsLsh(vectors, 0.999, bits = 6, tables = 8,
      dim = 4).select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(got.length === got.distinct.length)
    assert(got.toSet === Set((0L, 3L)))
  }

  test("cosinePairsLsh refuses a candidate-pair explosion loudly (r11)") {
    // bits=1 puts everything into 2 buckets per table — the fixed-bits-at-
    // growing-n mistake in miniature; the pre-join estimate must refuse
    // before any dim-wide pair materializes
    val e = intercept[IllegalArgumentException] {
      Similarity.cosinePairsLsh(vectors, 0.999, bits = 1, tables = 2,
        dim = 4, maxCandidatePairs = 2L)
    }
    assert(e.getMessage.contains("bits"))
    // the same corpus passes once bits spread it out (sanity: guard is not
    // a constant refusal)
    Similarity.cosinePairsLsh(vectors, 0.999, bits = 6, dim = 4,
      maxCandidatePairs = 100L).collect()
  }

  test("cosineClusters chains a replica class into one min-id cluster (r12)") {
    // a 6-member replica class: the pair face would emit 15 pairs; the
    // cluster face links consecutively (5 edges) and still elects ONE
    // label — the linear-in-docs contract for sf10's ~200-member classes
    val reps = (10L to 15L).map(i => (i, vec(0.5, 0.5, 0, 0)))
    val df = (Seq(
      (0L, vec(1, 0, 0, 0)), (1L, vec(0.9, 0.1, 0, 0)),
      (2L, vec(0, 1, 0, 0)), (3L, vec(1, 0, 0, 0)),
      (4L, vec(-1, 0, 0, 0))) ++ reps).toDF("vec_id", "embedding")
    val got = Similarity.cosineClusters(df, 0.999, bits = 6, dim = 4)
      .as[(Long, Long)].collect().toSet
    assert(got === (Set((0L, 0L), (3L, 0L)) ++ (10L to 15L).map(i => (i, 10L))))
  }

  test("cosineClusters agrees with clustering the pair face's output (r12)") {
    val viaPairs = Dedup.dedupClusters(
      Similarity.cosinePairsLsh(vectors, 0.999, bits = 6, dim = 4)
        .select($"id_a".as("doc_a"), $"id_b".as("doc_b")))
      .as[(Long, Long)].collect().toSet
    val direct = Similarity.cosineClusters(vectors, 0.999, bits = 6, dim = 4)
      .select($"vec_id", $"label").as[(Long, Long)].collect().toSet
    assert(direct === viaPairs)
  }
}

class IncrementalEmbedDedupSpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)

  test("incremental embed dedup: a second batch dedups against the STORED " +
      "index, vectors read only when colliding (r12)") {
    val dir = java.nio.file.Files.createTempDirectory("inc_embed").toString
    val (sigsP, vecsP) = (dir + "/sigs", dir + "/vecs")
    val b1 = Seq(
      (1L, vec(1, 0, 0, 0)),
      (2L, vec(0, 1, 0, 0))).toDF("vec_id", "embedding")
    val r1 = IncrementalEmbedDedup.ingestBatch(spark, b1, "b1", sigsP, vecsP,
      threshold = 0.999, bits = 6, dim = 4)
      .select($"vec_id", $"status").as[(Long, String)].collect().toMap
    assert(r1 === Map(1L -> "kept", 2L -> "kept"))
    // batch 2: 10 duplicates STORED vec 1; 11 is new; 12 duplicates 11
    // within the batch; 13 is the opposite of 1 (never a near-dup)
    val b2 = Seq(
      (10L, vec(1, 0, 0, 0)),
      (11L, vec(0, 0, 1, 0)),
      (12L, vec(0, 0, 1, 0)),
      (13L, vec(-1, 0, 0, 0))).toDF("vec_id", "embedding")
    val r2 = IncrementalEmbedDedup.ingestBatch(spark, b2, "b2", sigsP, vecsP,
      threshold = 0.999, bits = 6, dim = 4)
      .select($"vec_id", $"status").as[(Long, String)].collect().toMap
    assert(r2 === Map(10L -> "dup_of_stored", 11L -> "kept",
      12L -> "dup_in_batch", 13L -> "kept"))
    // the index accreted exactly the survivors, append-only per batch
    val indexed = graft.sources.KeyedParquetStore.read(spark, sigsP).get
      .select($"vec_id").distinct().as[Long].collect().toSet
    assert(indexed === Set(1L, 2L, 11L, 13L))
    assert(new java.io.File(s"$sigsP/batch=b1").exists())
    assert(new java.io.File(s"$sigsP/batch=b2").exists())
    // idempotent retry: 11/13 are never their own duplicates (self-pair
    // exemption); 12 now reads as dup of the STORED 11 — rejected
    // either way, and the kept set is unchanged
    val r2retry = IncrementalEmbedDedup.ingestBatch(spark, b2, "b2", sigsP,
      vecsP, threshold = 0.999, bits = 6, dim = 4)
      .select($"vec_id", $"status").as[(Long, String)].collect().toMap
    assert(r2retry === Map(10L -> "dup_of_stored", 11L -> "kept",
      12L -> "dup_of_stored", 13L -> "kept"))
    assert(graft.sources.KeyedParquetStore.read(spark, sigsP).get
      .select($"vec_id").distinct().as[Long].collect().toSet === indexed)
    // the read-only face answers identically across a store compaction
    val pre = IncrementalEmbedDedup.dedupBatch(spark, b2, sigsP, vecsP,
      threshold = 0.999, bits = 6, dim = 4)
      .select($"vec_id", $"status").as[(Long, String)].collect().toMap
    graft.sources.KeyedParquetStore.compact(spark, sigsP)
    graft.sources.KeyedParquetStore.compact(spark, vecsP)
    assert(IncrementalEmbedDedup.dedupBatch(spark, b2, sigsP, vecsP,
      threshold = 0.999, bits = 6, dim = 4)
      .select($"vec_id", $"status").as[(Long, String)].collect().toMap === pre)
  }

  test("incremental embed dedup: crash between the upserts replays " +
      "cleanly (vectors-before-signatures ordering, r12)") {
    val dir = java.nio.file.Files.createTempDirectory("inc_embed_crash").toString
    val (sigsP, vecsP) = (dir + "/sigs", dir + "/vecs")
    val b1 = Seq((1L, vec(1, 0, 0, 0))).toDF("vec_id", "embedding")
    IncrementalEmbedDedup.ingestBatch(spark, b1, "e0", sigsP, vecsP,
      threshold = 0.999, bits = 6, dim = 4)
    // crash state: the SECOND upsert (signatures) never landed —
    // vectors-only must read as an ABSENT index
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete(); ()
    }
    deleteRec(new java.io.File(sigsP))
    val replay = IncrementalEmbedDedup.ingestBatch(spark, b1, "e0", sigsP,
      vecsP, threshold = 0.999, bits = 6, dim = 4)
      .select($"vec_id", $"status").as[(Long, String)].collect().toMap
    assert(replay === Map(1L -> "kept"))
    val label = IncrementalEmbedDedup.dedupBatch(spark,
      Seq((9L, vec(1, 0, 0, 0))).toDF("vec_id", "embedding"),
      sigsP, vecsP, threshold = 0.999, bits = 6, dim = 4)
      .select($"status").as[String].head()
    assert(label === "dup_of_stored")
  }

  test("retireVecs: retirement removes stale signatures so retired content " +
      "re-adjudicates fresh, and the refreshed index equals a from-scratch " +
      "build (r16)") {
    val dir = java.nio.file.Files.createTempDirectory("embed_retire").toString
    val (sigsP, vecsP) = (dir + "/sigs", dir + "/vecs")
    val (sigsP2, vecsP2) = (dir + "/sigs2", dir + "/vecs2")
    // prev: 1 will be REMOVED, 2 RE-EMBEDDED, 3 survives unchanged
    val prev = Seq(
      (1L, vec(1, 0, 0, 0)),
      (2L, vec(0, 1, 0, 0)),
      (3L, vec(0, 0, 1, 0))).toDF("vec_id", "embedding")
    IncrementalEmbedDedup.ingestBatch(spark, prev, "b0", sigsP, vecsP,
      threshold = 0.999, bits = 6, dim = 4)
    val (ns, nv) = IncrementalEmbedDedup.retireVecs(spark,
      Seq(1L, 2L).toDF("vec_id"), sigsP, vecsP)
    assert(ns >= 1 && nv >= 1)
    // b1 under the ARMED guards: 2's re-embedding passes the re-delivery
    // check (its rows are gone); 10 carries EXACTLY the removed 1's
    // content and must adjudicate KEPT (a stale signature row would
    // resurrect it as dup_of_stored); 11 dups the surviving 3
    spark.conf.set("spark.graft.store.debugChecks", "true")
    val b1 = Seq(
      (2L, vec(0, 0, 0, 1)),
      (10L, vec(1, 0, 0, 0)),
      (11L, vec(0, 0, 1, 0))).toDF("vec_id", "embedding")
    val r1 = try IncrementalEmbedDedup.ingestBatch(spark, b1, "b1",
      sigsP, vecsP, threshold = 0.999, bits = 6, dim = 4)
      .select($"vec_id", $"status").as[(Long, String)].collect().toMap
    finally spark.conf.unset("spark.graft.store.debugChecks")
    assert(r1 === Map(2L -> "kept", 10L -> "kept", 11L -> "dup_of_stored"))
    // refresh ≡ rebuild: both stores equal a from-scratch build over the
    // merged corpus row-for-row (batch provenance aside); 11 is rejected
    // there too (in-batch dup of 3, min-label canonical)
    val merged = Seq(
      (2L, vec(0, 0, 0, 1)),
      (3L, vec(0, 0, 1, 0)),
      (10L, vec(1, 0, 0, 0)),
      (11L, vec(0, 0, 1, 0))).toDF("vec_id", "embedding")
    IncrementalEmbedDedup.ingestBatch(spark, merged, "all", sigsP2, vecsP2,
      threshold = 0.999, bits = 6, dim = 4)
    def sigRows(p: String) = graft.sources.KeyedParquetStore.read(spark, p)
      .get.select($"vec_id", $"t", $"sig").as[(Long, Int, Long)]
      .collect().toSet
    def vecIds(p: String) = graft.sources.KeyedParquetStore.read(spark, p)
      .get.select($"vec_id").as[Long].collect().toSet
    assert(sigRows(sigsP) === sigRows(sigsP2))
    assert(vecIds(vecsP) === vecIds(vecsP2))
    // both indexes adjudicate a future probe identically (dups 2's NEW
    // content — the old content would not have matched)
    val probe = Seq((20L, vec(0, 0, 0, 1))).toDF("vec_id", "embedding")
    def label(sp: String, vp: String) = IncrementalEmbedDedup
      .dedupBatch(spark, probe, sp, vp, threshold = 0.999, bits = 6, dim = 4)
      .select($"status").as[String].head()
    assert(label(sigsP, vecsP) === "dup_of_stored")
    assert(label(sigsP, vecsP) === label(sigsP2, vecsP2))
    // retiring ids the store never held is a no-op
    assert(IncrementalEmbedDedup.retireVecs(spark,
      Seq(99L).toDF("vec_id"), sigsP, vecsP) === ((0, 0)))
  }

  test("incremental embed dedup debugChecks: parameter drift, cross-batch " +
      "re-delivery, and in-batch duplicate ids all fail fast (r12)") {
    val dir = java.nio.file.Files.createTempDirectory("inc_embed_guards").toString
    val (sigsP, vecsP) = (dir + "/sigs", dir + "/vecs")
    val b1 = Seq((1L, vec(1, 0, 0, 0))).toDF("vec_id", "embedding")
    IncrementalEmbedDedup.ingestBatch(spark, b1, "e0", sigsP, vecsP,
      threshold = 0.999, bits = 6, dim = 4)
    spark.conf.set("spark.graft.store.debugChecks", "true")
    try {
      // sanctioned replay passes
      IncrementalEmbedDedup.ingestBatch(spark, b1, "e0", sigsP, vecsP,
        threshold = 0.999, bits = 6, dim = 4)
      val drift = intercept[IllegalArgumentException] {
        IncrementalEmbedDedup.ingestBatch(spark, b1, "e0", sigsP, vecsP,
          threshold = 0.999, bits = 4, dim = 4)
      }
      assert(drift.getMessage.contains("parameter drift"))
      val dryDrift = intercept[IllegalArgumentException] {
        IncrementalEmbedDedup.dedupBatch(spark, b1, sigsP, vecsP,
          threshold = 0.999, bits = 4, dim = 4)
      }
      assert(dryDrift.getMessage.contains("parameter drift"))
      val resent = intercept[IllegalArgumentException] {
        IncrementalEmbedDedup.ingestBatch(spark, b1, "e1", sigsP, vecsP,
          threshold = 0.999, bits = 6, dim = 4)
      }
      assert(resent.getMessage.contains("different batch"))
      val dup = intercept[IllegalArgumentException] {
        IncrementalEmbedDedup.ingestBatch(spark,
          b1.unionByName(b1), "e0", sigsP, vecsP,
          threshold = 0.999, bits = 6, dim = 4)
      }
      assert(dup.getMessage.contains("more than once"))
    } finally spark.conf.unset("spark.graft.store.debugChecks")
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("corpusDiff classifies new/removed/changed/same per group, is " +
      "null-safe on content, and takes the group from the surviving " +
      "side (r15)") {
    val cur = Seq(
      (1L, "alpha", "en"),              // same
      (2L, "beta CHANGED", "en"),       // changed
      (3L, "gamma", "de"),              // new (absent from prev)
      (5L, null.asInstanceOf[String], "fr"), // null body both sides: SAME
      (6L, "zeta", "en")                // null body in prev: CHANGED
    ).toDF("doc_id", "text", "lang")
    val prev = Seq(
      (1L, "alpha", "en"),
      (2L, "beta", "en"),
      (4L, "delta", "de"),              // removed — lang from PREV side
      (5L, null.asInstanceOf[String], "fr"),
      (6L, null.asInstanceOf[String], "en")
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.corpusDiff(cur, prev, "doc_id", "text", "lang")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("en") === ((0L, 0L, 2L, 1L)))  // 2 changed (one via null), 1 same
    assert(got("de") === ((1L, 1L, 0L, 0L)))  // new id 3, removed id 4
    assert(got("fr") === ((0L, 0L, 0L, 1L)))  // null <=> null is SAME
  }

  test("docStatus is the id-grain verdict under corpusDiff: per-doc " +
      "statuses, cur-wins group on label drift, ungrouped overload (r16)") {
    val cur = Seq(
      (1L, "alpha", "en"),   // same content, group RELABELED de→en in cur
      (2L, "beta CHANGED", "en"),
      (3L, "gamma", "de")    // new
    ).toDF("doc_id", "text", "lang")
    val prev = Seq(
      (1L, "alpha", "de"),   // old label — cur must win
      (2L, "beta", "en"),
      (4L, "delta", "fr")    // removed — prev's label survives (only side)
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.docStatus(cur, prev, "doc_id", "text", Some("lang"))
      .as[(Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // a group-label change with UNCHANGED content reads `same` — the diff
    // is content-grain by contract; the label reported is cur's
    assert(got(1L) === (("en", "same")))
    assert(got(2L) === (("en", "changed")))
    assert(got(3L) === (("de", "new")))
    assert(got(4L) === (("fr", "removed")))
    // ungrouped overload: identical statuses, two-column shape
    val ug = TextAnalysis.docStatus(cur, prev, "doc_id", "text", None)
    assert(ug.columns.toSeq === Seq("doc_id", "status"))
    assert(ug.as[(Long, String)].collect().toMap ===
      got.map { case (k, (_, s)) => k -> s })
    // the counts face delegates: same inputs, aggregated verdicts
    val cd = TextAnalysis.corpusDiff(cur, prev, "doc_id", "text", "lang")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(cd("en") === ((0L, 0L, 1L, 1L)))
    assert(cd("de") === ((1L, 0L, 0L, 0L)))
    assert(cd("fr") === ((0L, 1L, 0L, 0L)))
  }

  test("docStatus under debugChecks refuses duplicate ids within either " +
      "snapshot — a fanned verdict would double-retire/double-ingest (r17)") {
    val dup = Seq((1L, "alpha"), (1L, "alpha bis"), (2L, "beta"))
      .toDF("doc_id", "text")
    val clean = Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text")
    spark.conf.set("spark.graft.store.debugChecks", "true")
    try {
      val curDup = intercept[IllegalArgumentException] {
        TextAnalysis.docStatus(dup, clean, "doc_id", "text", None)
      }
      assert(curDup.getMessage.contains("cur snapshot"))
      val prevDup = intercept[IllegalArgumentException] {
        TextAnalysis.docStatus(clean, dup, "doc_id", "text", None)
      }
      assert(prevDup.getMessage.contains("prev snapshot"))
      // clean snapshots pass with the guard armed — identical verdicts
      val ok = TextAnalysis.docStatus(clean, clean, "doc_id", "text", None)
        .as[(Long, String)].collect().toMap
      assert(ok === Map(1L -> "same", 2L -> "same"))
    } finally spark.conf.unset("spark.graft.store.debugChecks")
  }

  test("redactPii replaces typed PII with placeholders and counts it (r7)") {
    val df = Seq(
      (1L, "mail a.b@ex.org or c@d.co, ip 192.168.0.1, acct 12345678 ok"),
      (2L, "no pii here, short num 123, version 1.2.3.x"),
      (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.redactPii(col("text"))
      .foldLeft(df) { case (acc, (n, c)) => acc.withColumn(n, c) }
      .select(col("doc_id"), col("redacted"), col("n_emails"), col("n_ips"),
        col("n_long_nums"))
      .as[(Long, String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._2 === "mail <EMAIL> or <EMAIL>, ip <IP>, acct <NUM> ok")
    assert((got(1L)._3, got(1L)._4, got(1L)._5) === ((2L, 1L, 1L)))
    // structure preserved, nothing false-positive: dotted versions with a
    // non-digit segment and short numbers survive
    assert(got(2L)._2 === "no pii here, short num 123, version 1.2.3.x")
    assert((got(2L)._3, got(2L)._4, got(2L)._5) === ((0L, 0L, 0L)))
    assert(got(3L)._2 === "")
  }

  test("redactPii audit counts equal actual replacements on overlapping " +
      "patterns (staged counting, r8)") {
    // the 7-digit local part is consumed by the EMAIL stage; counting
    // long numbers on the original text would report 1 while the output
    // carries no <NUM> — the audit must describe what was replaced
    val df = Seq((1L, "reach 1234567@example.com today")).toDF("doc_id", "text")
    val got = TextAnalysis.redactPii(col("text"))
      .foldLeft(df) { case (acc, (n, c)) => acc.withColumn(n, c) }
      .select(col("redacted"), col("n_emails"), col("n_ips"), col("n_long_nums"))
      .as[(String, Long, Long, Long)].head()
    assert(got === (("reach <EMAIL> today", 1L, 0L, 0L)))
  }

  test("mixture rollup emits every grain with consistent subtotals (r7)") {
    val docs = Seq(
      (1L, "en", "s0", "one two three"), (2L, "en", "s0", "four five"),
      (3L, "en", "s1", "six"), (4L, "de", "s0", "sieben acht"))
      .toDF("doc_id", "lang", "source", "text")
    val got = docs
      .select(col("lang"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("ntok"))
      .rollup(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("n_tokens"))
      .select(coalesce(col("lang"), lit("<all>")).as("lang"),
        coalesce(col("source"), lit("<all>")).as("source"),
        col("n_docs"), col("n_tokens"))
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // grains: 3 (lang, source) pairs + 2 lang subtotals + 1 grand total
    assert(got.size === 6)
    assert(got(("en", "s0")) === ((2L, 5L)))
    assert(got(("en", "<all>")) === ((3L, 6L)))   // s0 + s1
    assert(got(("de", "<all>")) === got(("de", "s0")))
    assert(got(("<all>", "<all>")) === ((4L, 8L)))
  }

  test("unigramLogProb: common-token docs score low, rare-token docs high (r7)") {
    val docs = Seq(
      (1L, "the the the the"),     // only the corpus-dominant token
      (2L, "the zzyzx qwfp vexq"), // mostly hapax tokens
      (3L, "the the qwfp the")     // in between
    ).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(1L)._1 === 4L) // repeated tokens each count
    // the quality ordering the CCNet filter relies on
    assert(got(1L)._2 < got(3L)._2 && got(3L)._2 < got(2L)._2)
    // hand-checked: doc 1 is pure p=8/12 tokens -> -ln(2/3)
    assert(math.abs(got(1L)._2 - (-math.log(8.0 / 12.0))) < 1e-6)
    // partition-order insensitive: the DECIMAL-routed per-doc sum
    val re = TextAnalysis.unigramLogProb(docs.repartition(7))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(re === got.map { case (k, v) => k -> v._2 })
  }

  test("unigramLogProb rounds its mean half-up on an exact 6-dp tie (r9)") {
    // The engine-dependent case the r9 micro-unit rewrite fixed: the
    // per-doc DECIMAL sum has exactly 6 dp, so s/n can sit EXACTLY on
    // the 6-dp grid's half-way point, where round(s/n, 6) on a double
    // splits by engine (q62 hit s/n = 125.523827/22 = 5.7056285 at the
    // 10× corpus). A doc "a b" has mean (L_a + L_b)/2 in micro-units
    // (L_t = round6(-ln(tf_t/n))·10⁶), an exact tie whenever
    // L_a + L_b is odd — search a one-filler-doc family for such a
    // corpus (skipping candidates whose ln values land near their OWN
    // 6-dp boundary, so the model's round6 mirror is unambiguous), then
    // assert the engine answers the model's half-up value bit-for-bit.
    def round6micro(x: Double): Long =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .*(BigDecimal(1000000)).toLongExact
    def boundarySafe(x: Double): Boolean = {
      val f = (BigDecimal(math.abs(x)) * BigDecimal(1000000)) % BigDecimal(1)
      (f - BigDecimal("0.5")).abs > BigDecimal("0.001") &&
        f.min(BigDecimal(1) - f) > BigDecimal("0.001")
    }
    val found = (for {
      d1 <- 1 to 20; d2 <- 1 to 20
      tfA = 1 + d1; tfB = 1 + d2; n = tfA + tfB
      lnA = -math.log(tfA.toDouble / n); lnB = -math.log(tfB.toDouble / n)
      if boundarySafe(lnA) && boundarySafe(lnB)
      la = round6micro(lnA); lb = round6micro(lnB)
      if (la + lb) % 2 == 1 // odd sum -> doc "a b" mean ties at 6 dp
    } yield (d1, d2, la, lb)).headOption
    assert(found.nonEmpty, "no tie-producing corpus in the search family")
    val (d1, d2, la, lb) = found.get
    val filler = (Seq.fill(d1)("a") ++ Seq.fill(d2)("b")).mkString(" ")
    val docs = Seq((1L, "a b"), (2L, filler)).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(docs)
      .filter($"doc_id" === 1L).select($"avg_neg_logp").as[Double].head()
    val tieHalfUp = ((la + lb) / 2 + 1) / 1000000.0 // (sum odd) div 2, + 1
    assert(got === tieHalfUp)
  }

  test("quality features compute exact token stats") {
    val df = Seq((1L, "the cat sat on a mat")).toDF("doc_id", "text")
    val row = TextAnalysis.qualityFeatures(col("text"))
      .foldLeft(df) { case (acc, (n, c)) => acc.withColumn(n, c) }.head()
    assert(row.getAs[Long]("n_tokens") === 6L)
    assert(row.getAs[Long]("n_chars_computed") === 20L)
    assert(row.getAs[Long]("n_regex_tokens") === 6L)
    // ratios are round(x, 8), so compare at that precision
    assert(math.abs(row.getAs[Double]("stopword_ratio") - 2.0 / 6) < 1e-7) // the, a
    assert(math.abs(row.getAs[Double]("avg_token_len") - 15.0 / 6) < 1e-7)
  }

  test("shingles produce distinct in-order n-grams") {
    val df = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val got = TextAnalysis.shingles(df, 3).select($"shingle").as[String].collect().toSet
    assert(got === Set("a b c", "b c d"))
  }

  test("scrub strips urls/emails and collapses whitespace") {
    val df = Seq("visit https://x.io/p?q=1 or mail bob.c@x.co.uk   now \t ok")
      .toDF("text")
    val got = df.select(TextAnalysis.scrub(col("text"))).as[String].head()
    assert(got === "visit or mail now ok")
  }

  test("qualityFilter keeps only documents clearing all thresholds") {
    val docs = Seq(
      (1L, ("word " * 30).trim),              // 30 tokens, no stopwords
      (2L, ("the " * 30).trim),               // all stopwords
      (3L, "short text")                      // too few tokens
    ).toDF("doc_id", "text")
    val kept = TextAnalysis.qualityFilter(docs, minTokens = 20,
      maxStopwordRatio = 0.5, maxShortTokenRatio = 0.6)
      .select($"doc_id").as[Long].collect().toSeq
    assert(kept === Seq(1L))
  }

  test("language-ID picks the marker-majority language deterministically") {
    // doc 3: null text — null marker counts make every when() branch
    // three-valued-null; the guard must land it on 'und', not the
    // otherwise('fr') fall-through
    val df = Seq((1L, "der hund und die katze"), (2L, "xyz qrs"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val scored = TextAnalysis.langIdScores(col("text"))
      .foldLeft(df) { case (acc, (n, c)) => acc.withColumn(n, c) }
    val got = scored.withColumn("p", TextAnalysis.predictedLang(
      col("c_en"), col("c_de"), col("c_fr"), col("c_es")))
      .orderBy($"doc_id").select($"p").as[String].collect()
    assert(got.toSeq === Seq("de", "und", "und"))
  }

  test("repetitionSignals computes dup-token/dup-bigram/top-bigram fractions (r4)") {
    val docs = Seq(
      (1L, "a b a b c"), // 5 toks, 3 distinct; bigrams [a b, b a, a b, b c]
      (2L, "x"),         // single token: no bigrams -> NULL bigram fracs
      (3L, "w w w w"))   // degenerate repetition: top bigram covers all
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(docs).orderBy($"doc_id")
      .select($"n_tokens", $"dup_token_frac", $"dup_bigram_frac", $"top_bigram_frac")
      .as[(Long, Double, Option[Double], Option[Double])].collect().toSeq
    assert(got(0) === ((5L, 0.4, Some(0.25), Some(0.5))))
    assert(got(1) === ((1L, 0.0, None, None)))
    assert(got(2) === ((4L, 0.75, Some(2.0 / 3), Some(1.0))))
  }

  test("bm25SearchMany agrees with bm25Search per query in one corpus pass (r4)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val queries = Seq(("a", "spark"), ("a", "merge"), ("b", "hash"), ("b", "scan"))
      .toDF("query_id", "term")
    val many = TextAnalysis.bm25SearchMany(docs, queries, k = 5)
      .select($"query_id", $"doc_id", $"bm25").as[(String, Long, Double)]
      .collect().groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    val a = TextAnalysis.bm25Search(docs, Seq("spark", "merge"), k = 5)
      .as[(Long, Double)].collect().toSet
    val b = TextAnalysis.bm25Search(docs, Seq("hash", "scan"), k = 5)
      .as[(Long, Double)].collect().toSet
    assert(many("a") === a && many("b") === b)
    // duplicate query terms (a tokenized natural-language query) must
    // score once each, like bm25Search's isin — not sum twice
    val dup = Seq(("a", "spark"), ("a", "merge"), ("a", "spark"))
      .toDF("query_id", "term")
    val dedup = TextAnalysis.bm25SearchMany(docs, dup, k = 5)
      .select($"doc_id", $"bm25").as[(Long, Double)].collect().toSet
    assert(dedup === a)
  }

  test("persisted BM25 index searches identically and prunes to term buckets (r7)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val query = Seq("spark", "merge")
    val nBuckets = 16
    val (postings, terms, stats) = TextAnalysis.bm25IndexRelations(docs, nBuckets)
    // the at-rest layout: partitioned by the deterministic term bucket
    val root = java.nio.file.Files.createTempDirectory("bm25_idx").toString
    postings.write.partitionBy("tbucket").parquet(s"$root/postings")
    terms.write.partitionBy("tbucket").parquet(s"$root/terms")
    stats.write.parquet(s"$root/stats")
    // driver-side bucket ids agree with the stored column's values
    val storedB = terms.filter($"term".isin(query: _*))
      .select($"term", $"tbucket").as[(String, Int)].collect().toMap
    query.foreach { t =>
      assert(TextAnalysis.bm25TermBucket(t, nBuckets) === storedB(t)) }
    val buckets = query.map(TextAnalysis.bm25TermBucket(_, nBuckets)).distinct
    val stored = TextAnalysis.bm25SearchStored(
      spark.read.parquet(s"$root/postings").filter($"tbucket".isin(buckets: _*)),
      spark.read.parquet(s"$root/terms").filter($"tbucket".isin(buckets: _*)),
      spark.read.parquet(s"$root/stats"), query, k = 10)
    val fresh = TextAnalysis.bm25Search(docs, query, k = 10)
      .as[(Long, Double)].collect().toSeq
    assert(stored.as[(Long, Double)].collect().toSeq === fresh)
    // the literal bucket filter reaches the file listing
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [tbucket"),
      s"expected partition pruning on term buckets:\n$plan")
  }

  test("chunkDocuments windows tokens with overlap; contained tail not emitted (r4)") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks
      (2L, "a b c"),                                  // shorter than a window
      (3L, ""))                                       // empty: no chunks
      .toDF("doc_id", "text")
    // maxTokens=4, overlap=1, stride=3: starts 0,3,6 -> ceil((10-1)/3)=3
    // chunks; start 9 would be fully inside [6,10) and must NOT appear
    val got = TextAnalysis.chunkDocuments(docs, maxTokens = 4, overlap = 1)
      .orderBy($"doc_id", $"chunk_id")
      .select($"doc_id", $"chunk_id", $"chunk_text", $"n_chunk_tokens")
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(got === Seq(
      (1L, 0L, "t1 t2 t3 t4", 4L),
      (1L, 1L, "t4 t5 t6 t7", 4L),
      (1L, 2L, "t7 t8 t9 t10", 4L),
      (2L, 0L, "a b c", 3L)))
  }

  test("bm25Search ranks higher tf above lower, rarer terms above common (r4)") {
    val docs = Seq(
      (1L, "spark spark spark runs fast today and tomorrow morning"), // tf=3
      (2L, "spark runs somewhere else entirely with other words here"), // tf=1
      (3L, "rocket launch rocket window pad countdown ignition lift off"), // rare term
      (4L, "nothing relevant in this particular document at all maybe"),
      (5L, "spark spark appears twice in this one document right here")) // tf=2
      .toDF("doc_id", "text")
    val got = TextAnalysis.bm25Search(docs, Seq("spark", "window"), k = 4)
      .select($"doc_id").as[Long].collect().toSeq
    // doc 4 never matches; within the 'spark' docs, tf orders 1 > 5 > 2;
    // 'window' appears in 1 of 5 docs (rarer than 'spark' in 3 of 5), so
    // doc 3 outscores every single-term 'spark' doc except the tf-3 one
    assert(got.length === 4 && !got.contains(4L))
    assert(got.indexOf(1L) < got.indexOf(5L) && got.indexOf(5L) < got.indexOf(2L))
    assert(got.indexOf(3L) < got.indexOf(2L))
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("documentFeatures: mapPartitions decode emits byte-exact features") {
    val docs = Seq((7L, "AB c", "en", "src1", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = Multimodal.documentFeatures(spark, docs).head()
    assert(f.media_id === 7L)
    assert(f.kind === "text/plain")
    assert(f.n_bytes === 4L)
    assert(f.first_byte === 'A'.toInt)
    assert(f.n_frames === 1L)
    assert(f.checksum === "AB c".getBytes("UTF-8").map(_ & 0xff).sum.toLong)
  }

  test("empty payload takes the stub's sentinel path") {
    val docs = Seq((1L, "", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = Multimodal.documentFeatures(spark, docs).head()
    assert(f.first_byte === -1 && f.n_bytes === 0L && f.checksum === 0L)
    assert(f.n_frames === 0L) // == frames sampleFrames emits (none)
  }

  test("n_frames equals the frame fan-out on every boundary; null text " +
      "normalizes to an empty payload instead of an executor NPE (r8)") {
    // exact multiple of the frame size — the old len/100+1 said 3 here
    // while sampleFrames emits 2
    val docs = Seq((1L, "x" * 200, "en", "s", 200L),
      (2L, null.asInstanceOf[String], "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val feats = Multimodal.documentFeatures(spark, docs)
      .collect().map(f => f.media_id -> f).toMap
    val media = Multimodal.fromDocuments(docs).as[Multimodal.MediaRow]
    val frameCounts = Multimodal.sampleFrames(media)
      .groupBy($"media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(feats(1L).n_frames === 2L)
    assert(frameCounts(1L) === 2L)
    // the null-text doc decodes as empty media on BOTH faces, no NPE
    assert(feats(2L).n_bytes === 0L && feats(2L).first_byte === -1)
    assert(feats(2L).n_frames === 0L && !frameCounts.contains(2L))
    // a zero frame size fails on the driver, not inside retried tasks
    val zf = intercept[IllegalArgumentException] {
      Multimodal.sampleFrames(media, frameSize = 0)
    }
    assert(zf.getMessage.contains("frameSize"))
  }

  test("sampleFrames fans one media row out to exact byte windows") {
    val text = "x" * 250 // 3 frames of 100/100/50 bytes
    val docs = Seq((3L, text, "en", "s", 250L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val frames = Multimodal.sampleFrames(
      Multimodal.fromDocuments(docs).as[Multimodal.MediaRow], frameSize = 100)
      .orderBy($"frame_idx").collect()
    assert(frames.map(f => (f.frame_idx, f.offset, f.n_bytes)).toSeq ===
      Seq((0, 0L, 100L), (1, 100L, 100L), (2, 200L, 50L)))
    assert(frames.map(_.checksum).toSeq === Seq(12000L, 12000L, 6000L)) // 'x'=120
    // empty payload -> zero frames (no sentinel rows in the fan-out shape)
    val empty = Seq((4L, "", "en", "s", 0L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Multimodal.sampleFrames(
      Multimodal.fromDocuments(empty).as[Multimodal.MediaRow]).isEmpty)
  }
}
