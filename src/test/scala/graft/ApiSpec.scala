package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Dedup, Joins, Similarity, TextAnalysis, VersionedIndex}

/** The `graft.api` operators must work on ANY DataFrame with the right
  * column types — not just the driver fixtures the oracle-checked
  * queries instantiate them on. These tests run them on small synthetic
  * frames with NON-default column names. */
class ApiSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val corpus = Seq(
    (10L, "the quick brown fox jumps over the lazy dog"),
    (11L, "the quick brown fox jumps over the lazy cat"),
    (12L, "the quick brown fox jumps over the lazy dog"), // exact dup of 10
    (13L, "entirely different content about spark engines"),
    (14L, "entirely different content about spark engines and scale"))

  test("Dedup.exact groups identical texts under custom column names") {
    val df = corpus.toDF("id", "body")
    val out = Dedup.exact(df, idCol = "id", textCol = "body").collect()
    val dupGroup = out.find(_.getAs[Long]("dup_count") == 2L)
    assert(dupGroup.isDefined, "docs 10 and 12 are byte-identical")
    assert(dupGroup.get.getAs[Long]("keep_id") == 10L, "survivor is the min id")
    assert(out.map(_.getAs[Long]("dup_count")).sum == corpus.size)
  }

  test("Dedup exact pair join and MinHash-LSH agree on a synthetic corpus") {
    val df = corpus.toDF("id", "body")
    def pairSet(r: Array[org.apache.spark.sql.Row]) =
      r.map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
    val exact = pairSet(Dedup.nearDupPairsExact(df, "id", "body", threshold = 0.5).collect())
    val lsh = pairSet(Dedup.minHashLshPairs(df, "id", "body", threshold = 0.5).collect())
    assert(exact.nonEmpty, "near-identical docs must pair")
    assert(exact == lsh)
    assert(exact.exists { case (a, b, j) => a == 10L && b == 12L && j == 1.0 })
  }

  test("Dedup.corpusDiff classifies added/removed/changed/unchanged") {
    val oldSnap = Seq((1L, "stable text"), (2L, "gone text"), (3L, "before"))
      .toDF("id", "body")
    val newSnap = Seq((1L, "stable   TEXT"), (3L, "after"), (4L, "fresh"))
      .toDF("id", "body")
    val diff = Dedup.corpusDiff(oldSnap, newSnap, "id", "body").collect()
      .map(r => r.getLong(0) -> r.getAs[String]("status")).toMap
    // fingerprint is whitespace-normalized + lowercased: 1 is unchanged
    assert(diff == Map(1L -> "unchanged", 2L -> "removed",
      3L -> "changed", 4L -> "added"))
  }

  test("Dedup.containmentPairs catches quote-inclusion that Jaccard misses") {
    // doc 20 is wholly embedded in doc 21's much longer text: containment
    // 1.0 inner→outer, but Jaccard ≈ |20|/|21| is far below 0.8
    val quoted = Seq(
      (20L, "alpha beta gamma delta epsilon zeta"),
      (21L, "intro words first alpha beta gamma delta epsilon zeta " +
        "and then a very long unrelated tail keeps the union large " +
        "one two three four five six seven eight nine ten eleven twelve"),
      (22L, "completely unrelated text about something else entirely here"))
      .toDF("id", "body")
    val cont = Dedup.containmentPairs(quoted, "id", "body", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(cont.toSeq == Seq((20L, 21L, 1.0)),
      s"only 20→21 at containment 1.0, got ${cont.toSeq}")
    assert(Dedup.nearDupPairsExact(quoted, "id", "body", threshold = 0.8)
      .collect().isEmpty, "symmetric Jaccard must miss the quote inclusion")
  }

  test("Dedup.containmentAgainstCorpus drops quote-contained fresh docs only") {
    val corpus = Seq(
      (100L, "intro words first alpha beta gamma delta epsilon zeta " +
        "and then a very long unrelated tail keeps the union large " +
        "one two three four five six seven eight nine ten eleven twelve"),
      (101L, "some other corpus document about spark planning"))
      .toDF("id", "body")
    val fresh = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // contained in 100
      (2L, "completely novel content that matches nothing at all here"),
      (3L, "some other corpus document about spark planning")) // exact dup
      .toDF("id", "body")
    val out = Dedup.containmentAgainstCorpus(corpus, fresh, "id", "body",
      threshold = 0.8).collect().map(_.getLong(0)).toSet
    assert(out == Set(2L), s"1 is quoted, 3 is an exact repost; got $out")
    // survivors keep their original columns
    assert(Dedup.containmentAgainstCorpus(corpus, fresh, "id", "body")
      .columns.toSeq == Seq("id", "body"))
  }

  test("Dedup.containmentPairs boundary: containment EXACTLY t with the missing shingles rarest") {
    // regression for the sf0.1 false negative: inner has 10 shingles,
    // exactly 8 shared (containment 0.8 == t) and the 2 missing ones
    // have df=1 — they sort FIRST in the df-ascending prefix, so an
    // undersized prefix (floor(10·(1−0.8)) = floor(1.9999…) = 1 under
    // double rounding) indexes ONLY missing shingles and drops the pair
    val words = (1 to 12).map(i => s"w$i")
    val inner = words.mkString(" ")                      // 10 shingles
    val outer = words.drop(2).mkString(" ") +            // shares 8
      " zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9"             // unrelated tail
    val df = Seq((1L, inner), (2L, outer)).toDF("id", "body")
    val got = Dedup.containmentPairs(df, "id", "body", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(got.toSeq == Seq((1L, 2L, 0.8)),
      s"boundary pair at containment exactly t must survive: ${got.toSeq}")
  }

  test("Dedup.containmentPairs matches the brute-force definition (no false negatives)") {
    val df = corpus.toDF("id", "body")
    val t = 0.5
    val got = Dedup.containmentPairs(df, "id", "body", threshold = t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    // brute force over the same shingle sets
    val sets = Dedup.shingleSets(df, "id", "body").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val want = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a != b
      c = sa.intersect(sb).size.toDouble / sa.size if c >= t
    } yield (a, b, math.rint(c * 1e6) / 1e6)).toSet
    assert(got == want, s"got $got, want $want")
    // exact dups 10/12 appear in BOTH directions at containment 1.0
    assert(got.contains((10L, 12L, 1.0)) && got.contains((12L, 10L, 1.0)))
  }

  test("Dedup.simHashPairs finds identical docs at hamming 0") {
    val pairs = Dedup.simHashPairs(corpus.toDF("id", "body"), "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists { case (a, b, h) => a == 10L && b == 12L && h == 0 })
  }

  test("persistent hamming index: build, append, dedup signatures") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hidx-spec").toString
    val built = Seq((1L, 0L)).toDF("id", "h")
    val appended = Seq((2L, -1L)).toDF("id", "h")
    Dedup.buildHammingIndex(built, dir, idCol = "id", sigCol = "h", maxHamming = 3)
    Dedup.appendToHammingIndex(appended, dir, idCol = "id", sigCol = "h")
    val fresh = Seq(
      (100L, 0L),   // exact match of built
      (101L, -4L),  // hamming 2 from appended -1 (bits 0,1 differ)
      (102L, 0x0F0F0F0F0F0F0F0FL)) // hamming 32 from both -> survives
      .toDF("id", "h")
    val survivors = Dedup.hammingAgainstIndex(fresh, dir, idCol = "id", sigCol = "h")
      .select("id").as[Long].collect().sorted
    assert(survivors.toSeq == Seq(102L),
      s"exact and near matches of built AND appended sigs must drop, got ${survivors.toSeq}")
    intercept[Exception] {
      Dedup.hammingAgainstIndex(fresh, dir + "-nowhere", idCol = "id", sigCol = "h").count()
    }
    // delete completes the lifecycle: removing the built sig makes its
    // exact copy novel; the appended sig keeps matching
    assert(Dedup.deleteFromHammingIndex(spark, dir, Seq(1L, 999L).toDF("id"),
      idCol = "id") == 1L)
    val after = Dedup.hammingAgainstIndex(fresh, dir, idCol = "id", sigCol = "h")
      .select("id").as[Long].collect().sorted
    assert(after.toSeq == Seq(100L, 102L), s"got ${after.toSeq}")
    assert(Dedup.deleteFromHammingIndex(spark, dir, Seq(1L).toDF("id"), idCol = "id") == 0L)
  }

  test("keepBest elects the highest-scored member per component, ties to min id") {
    // components: {1,2,3} (chain), {10,11} (pair); 4 isolated (absent)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val scores = Seq((1L, 0.2), (2L, 0.9), (3L, 0.5),
      (10L, 0.7), (11L, 0.7), (4L, 1.0)).toDF("id", "s")
    val out = Dedup.keepBest(pairs, scores, idCol = "id", scoreCol = "s")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 10L, 11L),
      "exactly the component members appear, never unpaired docs")
    // chain component: best quality is the MIDDLE doc, not the min id
    assert(Seq(1L, 2L, 3L).forall(d => out(d) == ((1L, 2L))))
    // tie on score -> lowest id survives
    assert(Seq(10L, 11L).forall(d => out(d) == ((10L, 10L))))
  }

  test("selectTopFraction keeps the exact top quantile, ties included") {
    val scored = (1 to 100).map(i => (i.toLong, i / 100.0)).toDF("id", "s")
    // top 10% of 1..100 scaled scores = scores 0.91..1.00
    val top10 = TextAnalysis.selectTopFraction(scored, "s", 0.10)
      .select("id").as[Long].collect().sorted
    assert(top10.toSeq == (91L to 100L), s"got ${top10.toSeq}")
    // frac = 1 keeps everything
    assert(TextAnalysis.selectTopFraction(scored, "s", 1.0).count() == 100)
    // ties AT the threshold all survive: 50 rows of 0.5, 50 of 0.9 —
    // asking for 30% must keep all 50 of the 0.9 tie group
    val tied = ((1 to 50).map(i => (i.toLong, 0.5)) ++
      (51 to 100).map(i => (i.toLong, 0.9))).toDF("id", "s")
    assert(TextAnalysis.selectTopFraction(tied, "s", 0.30).count() == 50)
    // original columns come back intact
    assert(TextAnalysis.selectTopFraction(scored, "s", 0.5).columns.toSeq
      == Seq("id", "s"))
    intercept[IllegalArgumentException] {
      TextAnalysis.selectTopFraction(scored, "s", 0.0)
    }
  }

  test("persistent near-dup index: build, append, dedup a fresh batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ndidx-spec").toString
    val built = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")).toDF("id", "body")
    val appended = Seq(
      (3L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do")).toDF("id", "body")
    Dedup.buildNearDupIndex(built, dir, idCol = "id", textCol = "body")
    Dedup.appendToNearDupIndex(appended, dir, idCol = "id", textCol = "body")
    val fresh = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // copy of built 1
      (101L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"), // copy of APPENDED 3
      (102L, "completely novel text with no overlap whatsoever anywhere here")).toDF("id", "body")
    val survivors = Dedup.nearDupAgainstIndex(fresh, dir, idCol = "id", textCol = "body")
      .select("id").as[Long].collect().sorted
    assert(survivors.toSeq == Seq(102L),
      s"copies of built AND appended docs must both be dropped, got ${survivors.toSeq}")
    // survivors keep the original columns intact
    val cols = Dedup.nearDupAgainstIndex(fresh, dir, idCol = "id", textCol = "body").columns
    assert(cols.toSeq == Seq("id", "body"))
    // increments hash under the index's own persisted params
    val params = spark.read.parquet(s"$dir/v1/params").collect().head
    assert((params.getInt(0), params.getInt(1), params.getInt(2)) == ((3, 64, 16)))
    // a missing index fails loudly, not with an empty result
    intercept[Exception] {
      Dedup.nearDupAgainstIndex(fresh, dir + "-nowhere", idCol = "id", textCol = "body")
        .count()
    }
    // DELETE completes the lifecycle: after removing built doc 1, its
    // fresh copy is novel again, while the appended doc still matches
    val n = Dedup.deleteFromNearDupIndex(spark, dir, Seq(1L, 999L).toDF("id"), idCol = "id")
    assert(n == 1L, s"only the one indexed id should count as deleted, got $n")
    val after = Dedup.nearDupAgainstIndex(fresh, dir, idCol = "id", textCol = "body")
      .select("id").as[Long].collect().sorted
    assert(after.toSeq == Seq(100L, 102L),
      s"deleted doc must stop matching, appended doc must keep matching: $after")
    // idempotent: nothing left to delete
    assert(Dedup.deleteFromNearDupIndex(spark, dir, Seq(1L).toDF("id"), idCol = "id") == 0L)
  }

  test("index deletes are crash-atomic: old version serves until the pointer flips") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-atomic-spec").toString
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten"),
      (3L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"))
      .toDF("id", "body")
    Dedup.buildNearDupIndex(docs, dir, idCol = "id", textCol = "body")
    val copies = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "one two three four five six seven eight nine ten")).toDF("id", "body")

    // the delete commits v2 beside the build's v1, which it leaves UNTOUCHED
    assert(Dedup.deleteFromNearDupIndex(spark, dir, Seq(1L).toDF("id"), idCol = "id") == 1L)
    assert(Files.exists(Paths.get(dir, "v2", "_committed")))
    assert(VersionedIndex.current(spark, dir) == Some("v2"))
    // the pre-delete version still holds ALL the build-time docs — a
    // crash before the commit marker would have served it consistently
    assert(spark.read.parquet(s"$dir/v1/sketches").count() == 3L)
    assert(spark.read.parquet(s"$dir/v2/sketches").count() == 2L)
    val afterDel = Dedup.nearDupAgainstIndex(copies, dir, idCol = "id", textCol = "body")
      .select("id").as[Long].collect().sorted
    assert(afterDel.toSeq == Seq(100L), s"got ${afterDel.toSeq}")

    // simulate a crash MID-DELETE: a half-written version dir (sketches
    // only, no bands, no commit marker) must be invisible to readers...
    val junk = Paths.get(dir, "v99", "sketches")
    Files.createDirectories(junk)
    spark.read.parquet(s"$dir/v2/sketches").limit(1)
      .write.mode("overwrite").parquet(junk.toString)
    val midCrash = Dedup.nearDupAgainstIndex(copies, dir, idCol = "id", textCol = "body")
      .select("id").as[Long].collect().sorted
    assert(midCrash.toSeq == Seq(100L), "half-written version dir must not affect reads")
    // ...and the next delete numbers PAST it, never reusing the junk dir
    assert(Dedup.deleteFromNearDupIndex(spark, dir, Seq(2L).toDF("id"), idCol = "id") == 1L)
    assert(Files.exists(Paths.get(dir, "v100", "_committed")))
    assert(VersionedIndex.current(spark, dir) == Some("v100"))
    val afterDel2 = Dedup.nearDupAgainstIndex(copies, dir, idCol = "id", textCol = "body")
      .select("id").as[Long].collect().sorted
    assert(afterDel2.toSeq == Seq(100L, 101L), s"got ${afterDel2.toSeq}")

    // append + re-build land in the live version / a fresh committed one
    Dedup.appendToNearDupIndex(docs.filter($"id" === 3L), dir, idCol = "id", textCol = "body")
    Dedup.buildNearDupIndex(docs, dir, idCol = "id", textCol = "body")
    assert(VersionedIndex.current(spark, dir) == Some("v101"))
    assert(Dedup.nearDupAgainstIndex(copies, dir, idCol = "id", textCol = "body").count() == 0L)

    // vacuum drops every superseded version, the junk dir too; reads survive
    val dropped = Dedup.vacuumNearDupIndexVersions(spark, dir)
    assert(dropped == Seq("v1", "v100", "v2", "v99"), s"got $dropped")
    assert(Dedup.nearDupAgainstIndex(copies, dir, idCol = "id", textCol = "body").count() == 0L)

    // hamming index: same commit discipline
    val hdir = Files.createTempDirectory("graft-atomic-hspec").toString
    Dedup.buildHammingIndex(Seq((1L, 0L), (2L, -1L)).toDF("id", "h"),
      hdir, idCol = "id", sigCol = "h")
    assert(Dedup.deleteFromHammingIndex(spark, hdir, Seq(1L).toDF("id"), idCol = "id") == 1L)
    assert(Files.exists(Paths.get(hdir, "v2", "_committed")))
    assert(VersionedIndex.current(spark, hdir) == Some("v2"))
    assert(spark.read.parquet(s"$hdir/v1/chunks").select("doc_id").distinct().count() == 2L,
      "the build's chunk table untouched by the versioned delete")
    val hsurv = Dedup.hammingAgainstIndex(Seq((100L, 0L), (101L, -1L)).toDF("id", "h"),
      hdir, idCol = "id", sigCol = "h").select("id").as[Long].collect().sorted
    assert(hsurv.toSeq == Seq(100L), s"got ${hsurv.toSeq}")
    assert(Dedup.vacuumHammingIndexVersions(spark, hdir) == Seq("v1"))
    assert(Dedup.hammingAgainstIndex(Seq((101L, -1L)).toDF("id", "h"),
      hdir, idCol = "id", sigCol = "h").count() == 0L)
  }

  test("removeDuplicatedSpansTiered cuts short-common and long-rare, keeps short-rare") {
    val boiler = "one two three four five six seven eight nine ten"   // 10 tokens
    val license = (1 to 25).map(i => s"w$i").mkString(" ")            // 25 tokens
    val rare = "alpha beta gamma delta epsilon zeta eta theta"        // 8 tokens
    val docs = (
      (1 to 6).map(i => (i.toLong, s"unique$i body$i " + boiler)) ++
      Seq((10L, "prefix10 " + license), (11L, "prefix11 " + license)) ++
      Seq((20L, "start20 " + rare), (21L, "start21 " + rare))
    ).toDF("id", "body")
    val out = Dedup.removeDuplicatedSpansTiered(docs, idCol = "id",
        textCol = "body", tiers = Seq((8, 5), (20, 2)))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("n_removed")).toMap
    // short boilerplate on 6 docs: over the (8, 5) count floor -> cut
    (1 to 6).foreach(i => assert(out(i.toLong) == 10, s"doc $i: ${out(i.toLong)}"))
    // long license on 2 docs: under the short tier's floor, but the
    // (20, 2) tier covers all 25 tokens
    assert(out(10L) == 25 && out(11L) == 25, s"license: ${out(10L)}/${out(11L)}")
    // short AND rare: the case no single-n pass can keep -> untouched
    assert(out(20L) == 0 && out(21L) == 0, s"rare: ${out(20L)}/${out(21L)}")
    // single-tier form still behaves as before (q122's contract)
    val single = Dedup.removeDuplicatedSpans(docs, idCol = "id",
      textCol = "body", n = 8, minCount = 2)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Int]("n_removed")).toMap
    assert(single(20L) == 8, "minCount 2 at n=8 cuts the rare pair too")
  }

  test("index deletes match the stored id dtype: string-id indexes delete correctly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-strid-spec").toString
    val docs = Seq(
      ("doc-a", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      ("doc-b", "one two three four five six seven eight nine ten")).toDF("id", "body")
    Dedup.buildNearDupIndex(docs, dir, idCol = "id", textCol = "body")
    val copy = Seq(("fresh-1", "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("id", "body")
    assert(Dedup.nearDupAgainstIndex(copy, dir, idCol = "id", textCol = "body").count() == 0L)
    assert(Dedup.deleteFromNearDupIndex(spark, dir, Seq("doc-a").toDF("id"), idCol = "id") == 1L)
    assert(Dedup.nearDupAgainstIndex(copy, dir, idCol = "id", textCol = "body").count() == 1L,
      "after deleting the string-id doc its copy is novel again")

    val hdir = java.nio.file.Files.createTempDirectory("graft-strid-hspec").toString
    Dedup.buildHammingIndex(Seq(("img-a", 0L), ("img-b", -1L)).toDF("id", "h"),
      hdir, idCol = "id", sigCol = "h")
    assert(Dedup.deleteFromHammingIndex(spark, hdir, Seq("img-a").toDF("id"), idCol = "id") == 1L)
    val hsurv = Dedup.hammingAgainstIndex(Seq(("f1", 0L), ("f2", -1L)).toDF("id", "h"),
      hdir, idCol = "id", sigCol = "h").select("id").as[String].collect().sorted
    assert(hsurv.toSeq == Seq("f1"), s"got ${hsurv.toSeq}")
  }

  test("Dedup.keepOne labels a chain and an isolated pair with component minima") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 9L)).toDF("doc_a", "doc_b")
    val labels = Dedup.keepOne(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("Similarity.cosineTopKExact ranks an obvious neighbor first") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f))).toDF("id", "vec")
    val top = Similarity.cosineTopKExact(emb, idCol = "id", vecCol = "vec", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top(1L) == 2L && top(2L) == 1L)
    // 3 is orthogonal to 1, so its nearest is 2 (cos > 0)
    assert(top(3L) == 2L)
  }

  test("Similarity.ivfAnnTopK recall does not drop when probing more cells") {
    val emb = graft.core.Tables.embeddings(spark, TestSpark.sf)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = pairs(Similarity.cosineTopKExact(emb))
    val r1 = pairs(Similarity.ivfAnnTopK(emb, nprobe = 1))
    val r2 = pairs(Similarity.ivfAnnTopK(emb, nprobe = 2))
    def recall(s: Set[(Long, Long)]) = (s intersect exact).size.toDouble / exact.size
    assert(recall(r2) >= recall(r1),
      f"nprobe=2 recall ${recall(r2)}%.3f < nprobe=1 ${recall(r1)}%.3f")
    assert(recall(r2) > 0.0)
  }

  test("persistent IVF index: build once, search without refitting") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    val emb = graft.core.Tables.embeddings(spark, TestSpark.sf)
    Similarity.buildIvfIndex(emb, dir)
    // the index is cell-partitioned on disk — the partition-pruning unit
    val cellDirs = new java.io.File(s"$dir/v1/vectors").listFiles()
    assert(cellDirs != null && cellDirs.exists(_.getName.startsWith("cell=")))
    val got = Similarity.ivfSearchIndex(spark, dir, emb, k = 3, nprobe = 2)
    assert(got.columns.sameElements(Array("vec_id", "rank", "neighbor_id", "cos")))
    val rows = got.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Int]("rank") <= 3))
    val exact = Similarity.cosineTopKExact(emb).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val gotPairs = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (gotPairs intersect exact).size.toDouble / exact.size
    assert(recall > 0.1, f"indexed IVF recall $recall%.3f too low")
    // a selective query side must PRUNE index partitions: one query
    // vector at nprobe=1 probes exactly one cell, and the index scan's
    // partition filter keeps every other cell= directory unread
    val one = emb.limit(1)
    val narrow = Similarity.ivfSearchIndex(spark, dir, one, k = 3, nprobe = 1)
    val plan = narrow.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell#") || plan.contains("cell IN") ||
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*cell[^\\]]*\\].*"),
      s"index scan must carry a cell partition filter:\n$plan")
    assert(narrow.select("vec_id").distinct().count() == 1)
  }

  test("IVF+PQ index: ADC search + exact rescore track the exact-resident search") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    val emb = graft.core.Tables.embeddings(spark, TestSpark.sf)
    Similarity.buildIvfPqIndex(emb, dir)
    // layout: codes cell-partitioned (the pruning unit) + codebooks model
    val codeDirs = new java.io.File(s"$dir/v1/codes").listFiles()
    assert(codeDirs != null && codeDirs.exists(_.getName.startsWith("cell=")))
    assert(new java.io.File(s"$dir/v1/codebooks").exists())
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = pairs(Similarity.cosineTopKExact(emb))
    def recall(s: Set[(Long, Long)]) = (s intersect exact).size.toDouble / exact.size
    val ivfExact = recall(pairs(Similarity.ivfSearchIndex(spark, dir, emb, k = 3, nprobe = 2)))
    val adc = recall(pairs(Similarity.ivfPqSearchIndex(spark, dir, emb, k = 3, nprobe = 2)))
    val rescored = recall(pairs(
      Similarity.ivfPqSearchIndex(spark, dir, emb, k = 3, nprobe = 2, rescoreDepth = 9)))
    // rescoring the PQ-ranked survivors with exact cosines must recover
    // (essentially) the exact-resident search over the same probed cells;
    // raw ADC trades a bounded quantization loss for 16x less memory
    assert(rescored >= ivfExact - 0.075,
      f"rescored recall $rescored%.3f vs exact-resident $ivfExact%.3f")
    assert(adc >= ivfExact - 0.25, f"ADC recall $adc%.3f vs exact-resident $ivfExact%.3f")
    assert(adc > 0.0 && ivfExact > 0.0)
    // ADC cosine fidelity: scores of pairs shared with the exact top-k
    // must sit close to the true cosine (residual quantization error)
    val trueCos = Similarity.cosineTopKExact(emb).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val adcRows = Similarity.ivfPqSearchIndex(spark, dir, emb, k = 3, nprobe = 2).collect()
    val errs = adcRows.flatMap(r =>
      trueCos.get((r.getLong(0), r.getLong(2))).map(c => math.abs(c - r.getDouble(3))))
    assert(errs.nonEmpty)
    assert(errs.sum / errs.length < 0.15,
      f"mean ADC cosine error ${errs.sum / errs.length}%.4f too high")
  }

  test("Similarity.semanticDedup keeps one survivor per near-dup group") {
    // two tight direction-groups + isolated vectors; threshold 0.9
    // separates groups from strangers at any clustering
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val emb = Seq(
      (1L, v(1, 0, 0, 0)), (2L, v(1, 0.01, 0, 0)), (3L, v(1, 0, 0.01, 0)), // group A
      (10L, v(0, 1, 0, 0)), (11L, v(0, 1, 0.01, 0)),                       // group B
      (20L, v(0, 0, 1, 0)), (21L, v(0, 0, 0, 1))                           // isolated
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(emb, cells = 2, threshold = 0.9)
      .collect().map(_.getLong(0)).toSet
    // min id of each connected group survives; isolated vectors survive
    assert(kept == Set(1L, 10L, 20L, 21L), s"kept: $kept")
    // no survivors are near-dups of each other at the threshold — the
    // residual property, checked with the exact pair scan
    assert(Similarity.embeddingNearDupPairs(
      Similarity.semanticDedup(emb, cells = 2, threshold = 0.9),
      minCosine = 0.9).isEmpty)
    // nothing at/above threshold → input unchanged (cheap-path guard)
    assert(Similarity.semanticDedup(emb, cells = 2, threshold = 0.9999999)
      .count() == 7)
    intercept[IllegalArgumentException] {
      Similarity.semanticDedup(emb, threshold = 0.0)
    }
    // frozen-quantizer form: an index built from the same corpus with
    // the same (cells, seed) has identical centroids, so dedup under
    // the index reproduces the fresh-fit result exactly — dedup and
    // serving speak the same cells
    val idx = java.nio.file.Files.createTempDirectory("graft-semdedup-idx").toString
    Similarity.buildIvfIndex(emb, idx, cells = 2)
    val keptIdx = Similarity.semanticDedupWithIndex(spark, idx, emb, threshold = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(keptIdx == kept, s"index-quantizer dedup diverged: $keptIdx vs $kept")
  }

  test("ivfPqSearchIndexBoth == the two independent searches, from one probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-both").toString
    val emb = graft.core.Tables.embeddings(spark, TestSpark.sf)
    Similarity.buildIvfPqIndex(emb, dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val (adcB, resB) = Similarity.ivfPqSearchIndexBoth(
      spark, dir, emb, k = 3, nprobe = 2, rescoreDepth = 9)
    // bit-exact against the single-purpose searches: same ranks, same
    // neighbors, same rounded cosines — the Both form is a pure
    // work-sharing rewrite, never a semantic variant
    assert(rows(adcB) == rows(
      Similarity.ivfPqSearchIndex(spark, dir, emb, k = 3, nprobe = 2)))
    assert(rows(resB) == rows(Similarity.ivfPqSearchIndex(
      spark, dir, emb, k = 3, nprobe = 2, rescoreDepth = 9)))
    spark.catalog.clearCache()
    // empty query side: both frames empty, correctly typed
    val (ea, er) = Similarity.ivfPqSearchIndexBoth(
      spark, dir, emb.limit(0), k = 3, nprobe = 2, rescoreDepth = 9)
    assert(ea.count() == 0 && er.count() == 0)
    intercept[IllegalArgumentException] {
      Similarity.ivfPqSearchIndexBoth(spark, dir, emb, k = 5, nprobe = 2, rescoreDepth = 3)
    }
  }

  test("IVF and IVF+PQ appends add vectors under the frozen quantizer (no refit)") {
    import org.apache.spark.sql.functions.{col, not}
    val emb = graft.core.Tables.embeddings(spark, TestSpark.sf)
    val held = emb.filter(col("vec_id") % 5 === 0)
    val base = emb.filter(not(col("vec_id") % 5 === 0))

    val ivf = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    Similarity.buildIvfIndex(base, ivf)
    val centroidsBefore = spark.read.parquet(s"$ivf/v1/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    Similarity.appendToIvfIndex(held, ivf)
    // quantizer frozen, index grown to the full corpus
    val centroidsAfter = spark.read.parquet(s"$ivf/v1/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    assert(centroidsAfter == centroidsBefore, "append must not refit the quantizer")
    assert(spark.read.parquet(s"$ivf/v1/vectors").count() == emb.count())
    // searching with a held-out vector as the query now finds appended
    // residents: its top neighbors may legally be other held-out rows
    val got = Similarity.ivfSearchIndex(spark, ivf, emb, k = 3, nprobe = 2)
    val heldIds = held.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.collect().exists(r => heldIds.contains(r.getLong(2))),
      "appended vectors must be searchable")

    val pq = java.nio.file.Files.createTempDirectory("graft-ivfpq-app").toString
    Similarity.buildIvfPqIndex(base, pq)
    Similarity.appendToIvfIndex(held, pq)
    // both halves grow in lockstep: ADC codes and exact-rescore vectors
    assert(spark.read.parquet(s"$pq/v1/vectors").count() == emb.count())
    assert(spark.read.parquet(s"$pq/v1/codes").count() == emb.count())
    def pqIds(half: String, id: String) = spark.read.parquet(s"$pq/v1/$half")
      .select(id).collect().map(_.getLong(0)).toSet
    assert(pqIds("vectors", "vec_id") == pqIds("codes", "neighbor_id"),
      "the two halves hold the same ids")
    val adc = Similarity.ivfPqSearchIndex(spark, pq, emb, k = 3, nprobe = 2)
    assert(adc.collect().exists(r => heldIds.contains(r.getLong(2))),
      "appended vectors must surface through ADC search")
    val res = Similarity.ivfPqSearchIndex(spark, pq, emb, k = 3, nprobe = 2,
      rescoreDepth = 9)
    assert(res.collect().exists(r => heldIds.contains(r.getLong(2))),
      "appended vectors must survive exact rescoring")
    // a mismatched dimension fails loudly instead of silently mis-assigning
    import spark.implicits._
    val bad = Seq((9999L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(bad, ivf)
    }
  }

  test("Joins.skewProfile surfaces the hot keys with a leveling salt hint") {
    // 100 rows of 'hot' (half the corpus), 50 'warm', 50 spread thin
    val df = ((1 to 100).map(_ => "hot") ++ (1 to 50).map(_ => "warm") ++
      (1 to 50).map(i => s"k$i")).toDF("k")
    val prof = Joins.skewProfile(df, "k", topN = 3, partitions = 8).collect()
    assert(prof.map(_.getString(0)).take(2).toSeq == Seq("hot", "warm"))
    val hot = prof.head
    assert(hot.getLong(1) == 100L)
    assert(hot.getDouble(2) == 0.5)
    // half the corpus at 8 partitions = 4 partitions-worth of rows
    assert(hot.getInt(3) == 4)
    assert(prof.last.getInt(3) == 1, "thin keys need no salt")
    // the hint feeds straight into the hot-key-scoped salted join
    val small = Seq(("hot", 1), ("warm", 2), ("k1", 3)).toDF("k", "v")
    val salted = Joins.saltedEquiJoinHotKeys(df, small, "k",
      hotKeys = prof.filter(_.getInt(3) > 1).map(_.getString(0)).toSeq,
      salts = hot.getInt(3))
    assert(salted.count() == df.join(small, "k").count())
  }

  test("Similarity.appendStreamToIvfIndex grows the index per micro-batch") {
    val dir = TestSpark.sf
    val emb = graft.core.Tables.embeddings(spark, dir)
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ivf-ckpt").toString
    Similarity.buildIvfIndex(emb.limit(200), idx)
    val before = spark.read.parquet(s"$idx/v1/vectors").count()
    val schema = spark.read.parquet(s"$dir/embeddings.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
    val q = Similarity.appendStreamToIvfIndex(stream, idx, ckpt)
    q.awaitTermination()
    val after = spark.read.parquet(s"$idx/v1/vectors").count()
    assert(after == before + emb.count(), "every streamed vector appended once")
    // appended vectors are immediately searchable through the same index
    val got = Similarity.ivfSearchIndex(spark, idx, emb.limit(5), k = 3, nprobe = 2)
    assert(got.count() > 0)
  }

  test("Joins.asOf ignores right rows with NULL timestamps") {
    // a null-ts right row sorts FIRST under ascending order — without
    // the filter its values would leak into every left row before the
    // first real right row
    val trades = Seq(("A", 5L, 100), ("A", 20L, 200)).toDF("sym", "t", "qty")
    val quotes = Seq((Some("A"), None: Option[Long], Some(9.9)),
        (Some("A"), Some(10L), Some(1.5)))
      .toDF("sym", "t", "px")
    val out = Joins.asOf(trades, quotes, keyCol = "sym", tsCol = "t")
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(3)) null else r.getDouble(3))).toMap
    assert(out(5L) == null, "no real quote at-or-before t=5")
    assert(out(20L) == 1.5)
  }

  test("ANN top-k accepts non-integral ids and empty inputs") {
    val emb = Seq(("u-a", Array(1.0f, 0.0f)), ("u-b", Array(0.9f, 0.1f)),
      ("u-c", Array(0.0f, 1.0f))).toDF("id", "vec")
    // string ids route through the window fallback — same contract
    val top = Similarity.hyperplaneAnnTopK(emb, "id", "vec", k = 1,
      tables = 4, planes = 2)
    assert(top.columns.sameElements(Array("vec_id", "rank", "neighbor_id", "cos")))
    assert(top.collect().forall(_.getInt(1) == 1))
    // empty corpus: empty typed result, not a crash
    val none = emb.filter(col("id") === "zzz")
    assert(Similarity.hyperplaneAnnTopK(none, "id", "vec").count() == 0)
    assert(Similarity.ivfAnnTopK(none, "id", "vec").count() == 0)
  }

  test("PQ round-trip: codes are in range, deterministic, and faithful on a clustered corpus") {
    // two tight clusters: reconstructions must stay near their source vector
    val base = Seq(Array(1f, 0f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val emb = (0 until 40).map { i =>
      val b = base(i % 2)
      (i.toLong, b.map(x => x + (i / 2 % 5) * 0.01f))
    }.toDF("id", "vec")
    val cb = Similarity.pqTrain(emb, "id", "vec", m = 2, k = 4, sampleN = 64)
    assert(cb.length == 2 && cb.forall(_.length == 4) &&
      cb.forall(_.forall(_.length == 2)), "m=2 subspaces x k=4 codewords of dim 2")
    val enc = Similarity.pqEncode(emb, cb, "id", "vec")
    val codes = enc.select(col("codes")).collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 2 && c.forall(x => x >= 0 && x < 4)))
    // deterministic: same seed, same codes
    val again = Similarity.pqEncode(emb, Similarity.pqTrain(emb, "id", "vec", m = 2, k = 4, sampleN = 64), "id", "vec")
      .select(col("codes")).collect().map(_.getSeq[Int](0))
    assert(codes.toSeq == again.toSeq)
    // faithful: a 2x4 codebook over two tight clusters reconstructs
    // with near-perfect cosine
    val rec = Similarity.pqReconstruct(col("codes"), cb)
    val minCos = emb.join(enc.withColumnRenamed("vec_id", "id"), "id")
      .select(graft.functions.VectorFunctions.cosine(col("vec"), rec).as("c"))
      .agg(min("c")).collect().head.getDouble(0)
    assert(minCos > 0.99, s"reconstruction cosine floor $minCos")
  }

  test("IVF+PQ search accepts non-integral ids and empty query frames") {
    val emb = Seq(("u-a", Array(1.0f, 0.0f)), ("u-b", Array(0.9f, 0.1f)),
      ("u-c", Array(0.0f, 1.0f)), ("u-d", Array(0.1f, 0.95f))).toDF("id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-str").toString
    // dim=2 → m must divide it; tiny corpus exercises the sample<cells path
    Similarity.buildIvfPqIndex(emb, dir, "id", "vec", cells = 2, m = 2, ksub = 2)
    val top = Similarity.ivfPqSearchIndex(spark, dir, emb, "id", "vec",
      k = 1, nprobe = 1, rescoreDepth = 2)
    assert(top.columns.sameElements(Array("vec_id", "rank", "neighbor_id", "cos")))
    val rows = top.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Int]("rank") == 1))
    // string ids survive both the ADC ranking and the exact rescore join
    assert(rows.forall(r => r.getString(0).startsWith("u-")))
    // empty query frame → empty typed result, not a crash
    val none = Similarity.ivfPqSearchIndex(spark, dir,
      emb.filter(col("id") === "zzz"), "id", "vec")
    assert(none.count() == 0)
    assert(none.columns.sameElements(Array("vec_id", "rank", "neighbor_id", "cos")))
  }

  test("TextAnalysis.keyedSample is a deterministic partition of the corpus") {
    val df = (1L to 500L).toDF("k")
    val all = "0123456789abcdef".map(_.toString)
    val counts = all.map(p => TextAnalysis.keyedSample(df, "k", Seq(p)).count())
    assert(counts.sum == 500L, "single-hex prefixes partition the corpus")
    val twice = TextAnalysis.keyedSample(df, "k").collect().map(_.getLong(0)).sorted
    val again = TextAnalysis.keyedSample(df, "k").collect().map(_.getLong(0)).sorted
    assert(twice.sameElements(again))
    // the labeled split marks 'eval' exactly the keyedSample subset
    val split = TextAnalysis.trainEvalSplit(df, "k")
    val evalIds = split.filter(org.apache.spark.sql.functions.col("split") === "eval")
      .collect().map(_.getLong(0)).toSet
    assert(evalIds == twice.toSet)
    assert(split.count() == 500L, "every row gets a split label")
  }

  test("TextAnalysis.gopherQualityFlags: each rule fires on its violator, the keeper passes") {
    val filler = Seq.fill(5)(
      "the cat and the dog have fun with all of that stuff now").mkString(" ")
    val docs = Seq(
      ("keeper", filler),
      ("short", "tiny doc"),
      ("symbols", filler + " " + Seq.fill(20)("#").mkString(" ")),
      ("bullets", Seq.fill(60)("- " + filler).mkString("\n")),
      ("ellipsis", Seq.fill(60)(filler + "...").mkString("\n")),
      ("numeric", filler + " " + (1 to 70).mkString(" ")),
      ("nostop", Seq.fill(60)("lorem ipsum dolor sit amet").mkString(" ")))
      .toDF("id", "text")
    val flags = TextAnalysis.gopherQualityFlags(docs)
      .select("id", "ok_words", "ok_symbols", "ok_bullets", "ok_ellipsis",
        "ok_alpha", "ok_stopwords", "keep")
      .collect().map(r => r.getString(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4),
          r.getBoolean(5), r.getBoolean(6), r.getBoolean(7))).toMap
    assert(flags("keeper") == (true, true, true, true, true, true, true))
    assert(!flags("short")._1 && !flags("short")._7)
    assert(!flags("symbols")._2, "20 symbols over 80 words exceeds 0.1/word")
    assert(!flags("bullets")._3 && flags("bullets")._4,
      "every line bulleted, none ellipsed")
    assert(!flags("ellipsis")._4 && flags("ellipsis")._3)
    assert(!flags("numeric")._5, "70 of 130 words lack an alphabetic char")
    assert(!flags("nostop")._6, "no Gopher stop word present")
    // bounds are parameters: the keeper fails a tighter word cap
    val strict = TextAnalysis.gopherQualityFlags(docs, maxWords = 10)
      .filter(col("id") === "keeper").select("ok_words").head.getBoolean(0)
    assert(!strict)
  }

  test("TextAnalysis.chunkDocuments windows every token with the requested overlap") {
    val docs = Seq(
      (1L, (1 to 100).map(i => s"t$i").mkString(" ")), // 100 toks -> 3 chunks at 40/10
      (2L, "just a short one"),                        // under budget -> whole, chunk 0
      (3L, (1 to 40).map(i => s"u$i").mkString(" "))   // exactly maxTokens -> one chunk
    ).toDF("doc_id", "text")
    val ch = TextAnalysis.chunkDocuments(docs, maxTokens = 40, overlap = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .sortBy(c => (c._1, c._2))
    assert(ch.count(_._1 == 1L) == 3 && ch.count(_._2 == 0) == 3)
    assert(ch.filter(_._1 == 2L).toSeq == Seq((2L, 0, 4, "just a short one")))
    assert(ch.count(_._1 == 3L) == 1)
    val c1 = ch.filter(_._1 == 1L).map(_._4.split(" ").toSeq)
    // stride 30: chunks start at tokens 1, 31, 61; consecutive chunks
    // share exactly the 10-token overlap; the tail chunk is short
    assert(c1(0).head == "t1" && c1(1).head == "t31" && c1(2).head == "t61")
    assert(c1(0).takeRight(10) == c1(1).take(10))
    assert(c1(2).size == 40 && ch.filter(_._1 == 1L).map(_._3).toSeq == Seq(40, 40, 40))
    // every source token appears in some chunk
    assert(c1.flatten.toSet == (1 to 100).map(i => s"t$i").toSet)
    // invalid overlap fails loudly
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocuments(docs, maxTokens = 10, overlap = 10)
    }
  }

  test("TextAnalysis.chunkBySentences never splits a sentence; bucketed prefix-sum boundaries") {
    val docs = Seq(
      // sentences of 3/4/5/2 tokens; maxTokens=6: buckets by tokens-
      // before = 0,3,7,12 -> /6 = 0,0,1,2 -> three chunks
      (1L, "one two three. four five six seven! eight nine ten eleven twelve? tail end"),
      // a single giant sentence overruns the budget but stays whole
      (2L, (1 to 20).map(i => s"w$i").mkString(" ") + "."),
      // doubled punctuation: the bare "." is its own 1-token sentence
      // (whitespace-token definition); only WHITESPACE-empty
      // extractions drop — noise filtering is normalizeText/gopher's
      // job, not the chunker's
      (3L, "a b.  . c d.")).toDF("doc_id", "text")
    val ch = TextAnalysis.chunkBySentences(docs, maxTokens = 6)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .sortBy(c => (c._1, c._2))
    val d1 = ch.filter(_._1 == 1L)
    assert(d1.map(_._5).toSeq == Seq(
      "one two three. four five six seven!",
      "eight nine ten eleven twelve?", "tail end"))
    assert(d1.map(_._4).toSeq == Seq(7L, 5L, 2L)) // n_tokens per chunk
    assert(d1.map(_._3).toSeq == Seq(2L, 1L, 1L)) // n_sentences per chunk
    val d2 = ch.filter(_._1 == 2L)
    assert(d2.length == 1 && d2.head._4 == 20L) // whole, overrunning chunk
    val d3 = ch.filter(_._1 == 3L)
    assert(d3.map(_._3).sum == 3L && d3.map(_._4).sum == 5L)
    intercept[IllegalArgumentException](
      TextAnalysis.chunkBySentences(docs, maxTokens = 0))
  }

  test("TextAnalysis.packSequences respects the budget, covers every doc, and is deterministic") {
    // mixed sizes incl. one oversized doc (a 2000-char word-soup blows
    // any 64-token budget) and several that only fit alone or in pairs
    val docs = (1L to 200L).map { i =>
      val words = if (i == 7L) 500 else (i % 40 + 1).toInt
      (i, (1 to words).map(w => s"w$w").mkString(" "))
    }.toDF("doc_id", "text")
    val packed = TextAnalysis.packSequences(docs, maxTokens = 64, partitions = 8)
    val rows = packed.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.map(_._1).sorted.toSeq == (1L to 200L).toSeq,
      "every doc packed exactly once")
    val byBin = rows.groupBy(_._3).values
    assert(byBin.forall(b => b.map(_._2).sum <= 64 || b.size == 1),
      "over-budget bins must be single oversized docs")
    assert(byBin.exists(b => b.size == 1 && b.head._2 > 64),
      "the oversized doc gets its own bin")
    assert(byBin.exists(_.size > 1), "small docs actually share bins")
    // next-fit-decreasing's fill bound, the q83 contract
    val total = rows.map(_._2.toLong).sum
    assert(byBin.size <= 2.0 * total / 64 + 8)
    val again = TextAnalysis.packSequences(docs, maxTokens = 64, partitions = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.sortBy(_._1).sameElements(again.sortBy(_._1)), "bin layout is deterministic")
    // the exchange that routes docs to packers carries (id, count) only —
    // the text payload must be pruned BELOW the shuffle (AQE hides the
    // physical exchange pre-execution, so pin the optimized plan's
    // repartition input instead)
    val shuffled = packed.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
        r.child.schema.fieldNames.toSet
    }
    assert(shuffled.nonEmpty && shuffled.forall(!_.contains("text")),
      s"text must not shuffle: $shuffled")
  }

  test("Dedup.exactStreaming over a file stream matches batch exact's fingerprint set") {
    val dir = TestSpark.sf
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val out = graft.streaming.EventStreams.runToMemory(
      spark, Dedup.exactStreaming(stream), "api_dedup_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val streamed = out.select("fingerprint").collect().map(_.getString(0)).toSet
    val batch = Dedup.exact(graft.core.Tables.documents(spark, dir))
      .select("fingerprint").collect().map(_.getString(0)).toSet
    assert(streamed == batch, "streaming dedup must keep exactly one row per fingerprint")
  }

  test("Dedup.fingerprintStreaming matches the batch sketch set, watermarked or not") {
    val dir = TestSpark.sf
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    def stream() = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val batch = TextAnalysis.minShingleFingerprint(
        graft.core.Tables.documents(spark, dir))
      .select("fp").distinct().collect().map(_.getLong(0)).toSet

    val plain = graft.streaming.EventStreams.runToMemory(
      spark, Dedup.fingerprintStreaming(stream()), "api_fp_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    assert(plain.select("fp").collect().map(_.getLong(0)).toSet == batch,
      "one survivor per distinct sketch fingerprint")

    // the bounded-state variant: same result while the horizon holds
    val ts = stream().withColumn("ts",
      org.apache.spark.sql.functions.lit("2024-01-01 00:00:00").cast("timestamp"))
    val wm = graft.streaming.EventStreams.runToMemory(
      spark, Dedup.fingerprintStreaming(ts, watermarkedOn = Some(("ts", "1 hour"))),
      "api_fp_stream_wm", org.apache.spark.sql.streaming.OutputMode.Append())
    assert(wm.select("fp").collect().map(_.getLong(0)).toSet == batch,
      "watermarked dedup agrees within the horizon")
  }

  test("Joins.asOf picks the latest right row at-or-before each left ts") {
    val trades = Seq(("A", 10L, 100), ("A", 20L, 200), ("B", 15L, 300))
      .toDF("sym", "t", "qty")
    val quotes = Seq(("A", 5L, 1.0), ("A", 10L, 1.5), ("A", 18L, 2.0), ("B", 99L, 9.9))
      .toDF("sym", "t", "px")
    val out = Joins.asOf(trades, quotes, keyCol = "sym", tsCol = "t")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toSet
    assert(out == Set(
      ("A", 10L, 100, 1.5),  // exact tie visible (>= semantics)
      ("A", 20L, 200, 2.0),  // latest at-or-before 20 is ts=18
      ("B", 15L, 300, null)))// no quote at-or-before 15
  }

  test("Joins.asOf agrees with a brute-force reference on seeded random data") {
    val rnd = new scala.util.Random(7)
    val left = (1 to 200).map(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(100).toLong, i.toLong))
    val right0 = (1 to 100).map(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(100).toLong, 1000L + i))
    // contract: right deduped per (key, ts)
    val right = right0.groupBy(t => (t._1, t._2))
      .map { case ((k, ts), vs) => (k, ts, vs.map(_._3).max) }.toSeq
    val out = Joins.asOf(left.toDF("k", "t", "lv"), right.toDF("k", "t", "rv"),
        keyCol = "k", tsCol = "t")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).sorted.toSeq
    val expected = left.map { case (k, t, lv) =>
      val cands = right.filter(r => r._1 == k && r._2 <= t)
      (k, t, lv, if (cands.isEmpty) -1L else cands.maxBy(_._2)._3)
    }.sorted
    assert(out == expected)
  }

  test("Joins.asOf carries multi-column right rows atomically (NULLs included)") {
    // The latest quote for the trade at t=20 is (px=null, sz=7): the
    // output must be that intact row — NOT px=1.5 resurrected from the
    // earlier quote with sz=7 from the later one (ADVICE r3).
    val trades = Seq(("A", 20L, 200)).toDF("sym", "t", "qty")
    val quotes = Seq(
      ("A", 10L, Some(1.5), Some(3)),
      ("A", 18L, None, Some(7))).toDF("sym", "t", "px", "sz")
    val out = Joins.asOf(trades, quotes, keyCol = "sym", tsCol = "t").collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.isNullAt(r.fieldIndex("px")), "px of the LATEST right row is null")
    assert(r.getInt(r.fieldIndex("sz")) == 7)
  }

  test("Joins.saltedEquiJoin equals the plain equi-join on a skewed key") {
    // 90% of the big side hits one hot key — the salting must spread it
    // without changing the result multiset
    val big = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i))
      .toDF("k", "payload")
    val small = Seq((1L, "hot"), (950L, "cold"), (2000L, "unmatched"))
      .toDF("k", "tag")
    val salted = Joins.saltedEquiJoin(big, small, "k", salts = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    val plain = big.join(small, "k")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    assert(salted.length == 901)
    assert(salted.sameElements(plain))
  }

  test("Joins.saltedEquiJoinHotKeys salts only the hot subset, same result") {
    val big = (1 to 1000).map(i => (if (i <= 900) 1L else i.toLong, i))
      .toDF("k", "payload")
    val small = Seq((1L, "hot"), (950L, "cold"), (2000L, "unmatched"))
      .toDF("k", "tag")
    val scoped = Joins.saltedEquiJoinHotKeys(big, small, "k", hotKeys = Seq(1L))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    val plain = big.join(small, "k")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted
    assert(scoped.sameElements(plain))
  }

  test("simhash chunk layout partitions all 64 bits with no empty chunk, any n") {
    // the pigeonhole guarantee needs every bit covered exactly once and
    // every chunk nonempty — for EVERY chunk count, including the ones
    // where a ceil-width layout under- or over-shoots 64 (n=12 → 66)
    for (n <- 1 to 64) {
      val layout = Dedup.chunkLayout(n)
      assert(layout.size == n)
      var covered = 0L
      layout.foreach { case (shift, mask) =>
        assert(mask != 0L, s"n=$n: empty chunk at shift $shift")
        val placed = mask << shift
        assert((covered & placed) == 0L, s"n=$n: overlapping chunks")
        covered |= placed
      }
      assert(covered == -1L, s"n=$n: bits not fully covered")
    }
    // previously-broken values now work end to end (n=12 had a negative
    // -width chunk; n=9 a zero-bit chunk)
    val df = corpus.toDF("id", "body")
    for (mh <- Seq(8, 11, 31, 63)) {
      val pairs = Dedup.simHashPairs(df, "id", "body", maxHamming = mh)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(pairs.exists { case (a, b, h) => a == 10L && b == 12L && h == 0 },
        s"maxHamming=$mh: identical docs must collide")
    }
    intercept[IllegalArgumentException] {
      Dedup.simHashPairs(df, "id", "body", maxHamming = 64)
    }
  }

  test("TextAnalysis.tfidfTopTerms ranks a document's distinctive term first") {
    val df = Seq(
      (1L, "alpha beta beta"),
      (2L, "alpha gamma"),
      (3L, "alpha delta")).toDF("id", "body")
    val top1 = TextAnalysis.tfidfTopTerms(df, "id", "body", k = 1)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // 'alpha' appears everywhere (idf = 0); the distinctive term wins
    assert(top1 == Map(1L -> "beta", 2L -> "gamma", 3L -> "delta"))
  }

  test("TextAnalysis.searchBm25 ranks by term coverage and respects k") {
    val df = Seq(
      (1L, "spark join window spark join window"),  // all terms, twice
      (2L, "spark join window"),                    // all terms once
      (3L, "spark spark spark spark"),              // one term, high tf
      (4L, "filter scan sort"),                     // no terms
      (5L, "join window other words here")).toDF("id", "body")
    val top = TextAnalysis.searchBm25(df, "spark join window", "id", "body", k = 3)
      .collect()
    assert(top.map(_.getInt(0)).toSeq == Seq(1, 2, 3), s"ranks: ${top.mkString(",")}")
    // broad term coverage beats repeating one term (saturating tf)
    assert(top.map(_.getLong(1)).toSeq == Seq(1L, 2L, 5L),
      s"order: ${top.mkString(",")}")
    // doc 4 matches nothing: even with k > matches it never appears
    val all = TextAnalysis.searchBm25(df, "spark join window", "id", "body", k = 10)
      .collect().map(_.getLong(1)).toSet
    assert(all == Set(1L, 2L, 3L, 5L))
    // query terms dedupe + case-fold: same ranking for a shouty query
    val loud = TextAnalysis.searchBm25(df, "SPARK Spark JOIN window window", "id", "body", k = 3)
      .collect().map(_.getLong(1)).toSeq
    assert(loud == top.map(_.getLong(1)).toSeq)
    intercept[IllegalArgumentException] {
      TextAnalysis.searchBm25(df, "   ", "id", "body")
    }
    // the batch (query-table) form ranks each query independently and
    // agrees with the single-query scan on ordering
    val qs = Seq((7, "spark join window"), (8, "filter scan")).toDF("query_id", "query")
    val batch = TextAnalysis.searchBm25All(df, qs, "id", "body", k = 3)
      .collect().groupBy(_.getInt(0))
    assert(batch(7).sortBy(_.getInt(1)).map(_.getLong(2)).toSeq ==
      top.map(_.getLong(1)).toSeq)
    assert(batch(8).map(_.getLong(2)).toSet == Set(4L))
  }

  test("Dedup.dedupParagraphs keeps only each paragraph's first occurrence") {
    val df = Seq(
      (1L, "header\nunique one\nfooter"),
      (2L, "header\nunique two\nfooter"),
      (3L, "header\nfooter"),            // nothing survives → doc vanishes
      (4L, "unique four\n\nheader")      // empty paragraph dropped, order kept
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(df).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(
      1L -> "header\nunique one\nfooter",
      2L -> "unique two",
      4L -> "unique four"))
    // custom separator + id/text column names
    val out2 = Dedup.dedupParagraphs(
      Seq((10L, "a|b"), (11L, "b|c")).toDF("id", "body"), "id", "body", "|")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2 == Map(10L -> "a|b", 11L -> "c"))
  }

  test("Dedup.removeDuplicatedSpans cuts merged duplicate spans, all occurrences") {
    val df = Seq(
      (1L, "u1 u2 u3 Shared One Two Three t1 t2"), // dup run mid-doc, mixed case
      (2L, "shared one two three v1 v2 v3"),       // same run at the start
      (3L, "w1  w2"),                              // shorter than n → normalized only
      (4L, "r r r r r"),                           // self-repetition → fully covered
      (5L, "")                                     // empty text edge
    ).toDF("id", "body")
    val out = Dedup.removeDuplicatedSpans(df, "id", "body", n = 3).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    // the two overlapping dup trigrams of doc 1 merge into ONE span
    // [3,6]; matching is case-insensitive, output keeps original case
    assert(out(1L) == (("u1 u2 u3 t1 t2", 9, 4)))
    assert(out(2L) == (("v1 v2 v3", 7, 4)), "all occurrences cut, not all-but-one")
    assert(out(3L) == (("w1 w2", 2, 0)), "short doc passes, whitespace-normalized")
    assert(out(4L) == (("", 5, 5)), "a fully-covered doc survives as empty text")
    assert(out(5L) == (("", 0, 0)))
  }

  test("TextAnalysis.importanceWeights ranks target-like docs above off-domain") {
    val raw = Seq(
      (1L, "spark engine shuffles data across the cluster"),
      (2L, "spark engine scales the query across the cluster"),
      (3L, "slow roasted garlic butter chicken with rosemary"),
      (4L, "caramelized onion soup with toasted gruyere bread"),
      (5L, "")).toDF("id", "body")
    val target = Seq((100L, "the spark engine runs the query across the cluster"))
      .toDF("id", "body")
    val w = TextAnalysis.importanceWeights(raw, target, "id", "body").collect()
      .map(r => r.getLong(0) -> ((r.getAs[Double]("dsir_logw"),
        r.getAs[Long]("n_features")))).toMap
    assert(w.keySet == Set(1L, 2L, 3L, 4L, 5L), "every raw row survives, weighted")
    assert(w(5L) == ((0.0, 0L)), "featureless doc gets zero weight, not null")
    val sparkMin = math.min(w(1L)._1, w(2L)._1)
    val foodMax = math.max(w(3L)._1, w(4L)._1)
    assert(sparkMin > foodMax, s"target-domain docs must outrank: $w")
    // n_features = unigrams + bigrams = 2·len − 1
    assert(w(1L)._2 == 13L && w(3L)._2 == 13L)
  }

  test("TextAnalysis.dsirSelect takes top-k; Gumbel draw is seed-deterministic") {
    val raw = Seq(
      (1L, "spark engine shuffles data across the cluster"),
      (2L, "spark engine scales the query across the cluster"),
      (3L, "slow roasted garlic butter chicken with rosemary"),
      (4L, "caramelized onion soup with toasted gruyere bread")).toDF("id", "body")
    val target = Seq((100L, "the spark engine runs the query across the cluster"))
      .toDF("id", "body")
    val top = TextAnalysis.dsirSelect(raw, target, k = 2, "id", "body")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(top == Set(1L, 2L), "temperature-0 selection is the weight head")
    val g1 = TextAnalysis.dsirSelect(raw, target, k = 2, "id", "body",
      gumbelSeed = Some(7L)).select("id").collect().map(_.getLong(0)).toSet
    val g2 = TextAnalysis.dsirSelect(raw, target, k = 2, "id", "body",
      gumbelSeed = Some(7L)).select("id").collect().map(_.getLong(0)).toSet
    assert(g1 == g2, "same seed, same corpus => same draw")
    assert(g1.size == 2 && g1.subsetOf(Set(1L, 2L, 3L, 4L)))
  }

  test("TextAnalysis.capTokensPerKey keeps the md5-order prefix within the budget") {
    // mirror the operator's order/cost rules locally to build the
    // expected set, so the test pins semantics rather than one fixture
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val rows = Seq(
      (1L, "a", "t1 t2 t3"), (2L, "a", "t1 t2"), (3L, "a", "t1"),
      (4L, "a", ""), (5L, "a", "t1 t2 t3 t4"),
      (6L, "b", "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"),
      // md5("7") < md5("8"): the heavy doc sorts FIRST — its overflow
      // must STOP source c, not silently vanish from the running sum
      // and let the light doc ride in (the sentinel regression)
      (7L, "c", "h1 h2 h3 h4 h5"), (8L, "c", "l1"))
    assert(md5hex("7") < md5hex("8"), "fixture premise: heavy sorts first")
    def expected(budget: Long): Set[Long] =
      rows.groupBy(_._2).values.flatMap { grp =>
        val ordered = grp.map { case (id, _, txt) =>
          (md5hex(id.toString), id.toString,
            math.max(1L, txt.split("\\s+").count(_.nonEmpty).toLong), id)
        }.sortBy { case (srt, ids, _, _) => (srt, ids) }
        var acc = 0L
        ordered.takeWhile { case (_, _, c, _) => acc += c; acc <= budget }.map(_._4)
      }.toSet
    val df = rows.toDF("id", "src", "body")
    for (budget <- Seq(1L, 3L, 4L, 7L, 100L)) {
      val got = TextAnalysis.capTokensPerKey(df, "src", "id", "body", budget)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == expected(budget), s"budget=$budget")
    }
    // the sentinel regression, pinned explicitly: at budget 3 source c
    // keeps NOTHING — the 5-token doc overflows first and stops the key
    assert(!expected(3L).contains(8L), "fixture premise: stop, not skip")
    // the 10-token doc alone overflows budget 7: source b keeps nothing
    assert(!TextAnalysis.capTokensPerKey(df, "src", "id", "body", 7L)
      .collect().map(_.getAs[String]("src")).contains("b"))
    // huge budget keeps everything, empty doc included (cost 1, not 0)
    assert(expected(100L) == rows.map(_._1).toSet)
  }

  test("TextAnalysis.scoreImportanceStreaming matches batch frozen scoring bit-exactly") {
    val dir = TestSpark.sf
    val docs = graft.core.Tables.documents(spark, dir)
    val target = docs.filter(col("doc_id") % 11 === 3)
    val (model, default) = TextAnalysis.fitImportanceModel(docs, target)
    val batch = TextAnalysis.scoreImportance(docs, model, default)
      .filter(col("n_features") > 0)
      .select("doc_id", "dsir_logw", "n_features").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(batch.nonEmpty)
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val out = graft.streaming.EventStreams.runToMemory(
      spark, TextAnalysis.scoreImportanceStreaming(stream, model, default),
      "api_dsir_stream", org.apache.spark.sql.streaming.OutputMode.Complete())
    val streamed = out.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(streamed == batch,
      "the stream-static model join must reproduce batch weights exactly")
  }

  test("TextAnalysis.fitImportanceModel is deterministic and parquet-round-trip exact") {
    // soundness pin for the q123/q125 per-JVM model cache: two
    // independent fits agree bit-exactly, and the persisted form scores
    // identically to the in-memory form
    val dir = TestSpark.sf
    val docs = graft.core.Tables.documents(spark, dir)
    val target = docs.filter(col("doc_id") % 11 === 3)
    val (m1, d1) = TextAnalysis.fitImportanceModel(docs, target)
    val (m2, d2) = TextAnalysis.fitImportanceModel(docs, target)
    assert(d1 == d2)
    def modelSet(m: org.apache.spark.sql.DataFrame) =
      m.select(col("f"), col("w")).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSet
    val s1 = modelSet(m1)
    assert(s1.nonEmpty && s1 == modelSet(m2))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-dsir-model").toString
    m1.write.mode("overwrite").parquet(tmp)
    val persisted = spark.read.parquet(tmp)
    assert(modelSet(persisted) == s1,
      "persisted model must round-trip the decimal weights bit-exactly")
    val a = TextAnalysis.scoreImportance(docs, m1, d1)
      .select("doc_id", "dsir_logw", "n_features").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val b = TextAnalysis.scoreImportance(docs, persisted, d1)
      .select("doc_id", "dsir_logw", "n_features").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(a == b, "scoring under the persisted model must be bit-identical")
  }

  test("Similarity.clusterBalancedSample keeps per-cell prototypes or outliers") {
    // two well-separated blobs; within each, distance-to-mean ordering
    // is unambiguous
    val vecs = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.1f, 0.0f)), (3L, Array(0.3f, 0.0f)),
      (4L, Array(10.0f, 10.0f)), (5L, Array(10.1f, 10.0f)), (6L, Array(10.5f, 10.0f)))
      .toDF("vid", "v")
    val proto = Similarity.clusterBalancedSample(vecs, perCell = 2,
      idCol = "vid", vecCol = "v", cells = 2).collect()
    assert(proto.length == 4, "2 cells x cap 2")
    assert(proto.map(_.getAs[Int]("cell")).distinct.length == 2,
      "selection is balanced across both blobs")
    val protoIds = proto.map(_.getAs[Long]("vid")).toSet
    // blob means are (0.133,0) and (10.2,10): the far points 3 and 6
    // are each their blob's outlier and must NOT be prototypes
    assert(protoIds == Set(1L, 2L, 4L, 5L), s"got $protoIds")
    val outl = Similarity.clusterBalancedSample(vecs, perCell = 1,
      idCol = "vid", vecCol = "v", cells = 2, prototypes = false)
      .collect().map(_.getAs[Long]("vid")).toSet
    assert(outl == Set(3L, 6L), s"farthest-from-centroid mining, got $outl")
    // cap above cell size: everything survives, with (cell, d2) attached
    val all = Similarity.clusterBalancedSample(vecs, perCell = 100,
      idCol = "vid", vecCol = "v", cells = 2)
    assert(all.count() == 6 &&
      all.columns.toSeq == Seq("vid", "v", "cell", "d2"))
    // empty input: schema intact, zero rows
    val empty = Similarity.clusterBalancedSample(vecs.limit(0), perCell = 2,
      idCol = "vid", vecCol = "v", cells = 2)
    assert(empty.count() == 0 && empty.columns.contains("cell"))
  }

  test("Dedup.decontaminate drops exactly the benchmark-overlapping docs") {
    val bench = Seq((100L, "the secret eval question about spark engines")).toDF("id", "body")
    val corp = Seq(
      (1L, "a training document with the secret eval question about spark inside"),
      (2L, "completely unrelated words nothing shared here at all"),
      (3L, "another clean document speaking of other things entirely")).toDF("id", "body")
    // doc 1 shares several 3-shingles ("the secret eval", "secret eval
    // question", ...) with the benchmark; docs 2 and 3 share none
    val profile = Dedup.contaminationProfile(corp, bench, "id", "body", minOverlap = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(profile.keySet == Set(1L))
    assert(profile(1L) >= 3L)
    val clean = Dedup.decontaminate(corp, bench, "id", "body", minOverlap = 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L, 3L), "decontaminate keeps the complement, unchanged")
  }

  test("TextAnalysis.repetitionProfile flags word- and phrase-level repetition") {
    val df = Seq(
      (1L, "spam spam spam spam"),                        // one token repeated
      (2L, "buy now buy now buy now"),                    // one bigram loops
      (3L, "all tokens here are fully distinct words"),   // no repetition
      (4L, "single")).toDF("id", "body")                  // no bigrams at all
    val out = TextAnalysis.repetitionProfile(df, "id", "body")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((4, 0.25, 1.0)), "spam^4: ratio 1/4, bigram 'spam spam' = 3/3")
    assert(out(2L)._3 == 0.6, "'now buy' appears 2/5 but 'buy now' 3/5")
    assert(out(3L)._2 == 1.0 && out(3L)._3 < 0.2)
    assert(out(4L) == ((1, 1.0, 0.0)), "a 1-token doc has no bigrams, share 0")
  }

  test("TextAnalysis.stratifiedSample keeps per-stratum fractions, deterministically") {
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "big" else "small"))
      .toDF("id", "grp")
    val kept = TextAnalysis.stratifiedSample(df, "grp", "id",
      Map("big" -> 0.5), defaultFraction = 0.1)
    val counts = kept.groupBy("grp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // md5 is uniform: 1000 keys per stratum land within a loose binomial band
    assert(counts("big") > 400 && counts("big") < 600, s"got ${counts("big")}")
    assert(counts("small") > 50 && counts("small") < 160, s"got ${counts("small")}")
    // pure function of the key: same subset every run, and a subset of df
    val ids1 = kept.select("id").collect().map(_.getLong(0)).toSet
    val ids2 = TextAnalysis.stratifiedSample(df, "grp", "id",
      Map("big" -> 0.5), defaultFraction = 0.1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // fraction 1 keeps everything; fraction 0 drops the stratum
    val all = TextAnalysis.stratifiedSample(df, "grp", "id",
      Map("big" -> 1.0, "small" -> 0.0))
    assert(all.filter(col("grp") === "big").count() == 1000)
    assert(all.filter(col("grp") === "small").count() == 0)
  }

  test("deterministic samplers are monotone in their fractions and weights") {
    // the reproducibility property remixes rely on: raising a stratum's
    // fraction/weight only ADDS rows — everything kept at the lower
    // setting stays kept (md5-prefix < threshold is monotone in the
    // threshold), so a remixed corpus is a superset, never a reshuffle
    val df = (0L until 2000L).map(i => (i, "s")).toDF("id", "grp")
    def kept(f: Double): Set[Long] =
      TextAnalysis.stratifiedSample(df, "grp", "id", Map("s" -> f))
        .select("id").collect().map(_.getLong(0)).toSet
    val fractions = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
    fractions.zip(fractions.tail).foreach { case (lo, hi) =>
      assert(kept(lo).subsetOf(kept(hi)), s"kept($lo) must be ⊆ kept($hi)")
    }
    def copies(w: Double): Map[Long, Long] =
      TextAnalysis.upsampleByStratum(df, "grp", "id", Map("s" -> w))
        .groupBy("id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val weights = Seq(0.5, 1.0, 1.5, 2.5)
    weights.zip(weights.tail).foreach { case (lo, hi) =>
      val (cLo, cHi) = (copies(lo), copies(hi))
      assert((0L until 2000L).forall(id => cLo(id) <= cHi(id)),
        s"copy counts at w=$lo must not exceed those at w=$hi")
    }
  }

  test("TextAnalysis.capPerKey keeps at most cap rows per key, deterministically") {
    val df = (0L until 300L).map(i => (i, s"k${i % 3}", s"payload-$i"))
      .toDF("id", "grp", "payload")
    val capped = TextAnalysis.capPerKey(df, "grp", "id", cap = 7)
    val counts = capped.groupBy("grp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.toSet == Set(7L), "every key is capped at exactly 7")
    assert(capped.columns.toSeq == df.columns.toSeq, "rows pass through unchanged")
    val ids1 = capped.select("id").collect().map(_.getLong(0)).toSet
    val ids2 = TextAnalysis.capPerKey(df, "grp", "id", cap = 7)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2, "survivor choice is a pure function of the ids")
    // a cap above the key's extent keeps the key whole
    assert(TextAnalysis.capPerKey(df, "grp", "id", cap = 1000).count() == 300)
  }

  test("TextAnalysis.redactPii scrubs emails, IPs and digit runs — and only those") {
    val df = Seq(
      (1L, "mail a.b+c@ex-ample.co.uk or 10.0.255.7 acct 12345678901 ref 1234567"),
      (2L, "no pii in this one 1.2.3 v2.0 year 2026")).toDF("id", "body")
    val out = TextAnalysis.redactPii(df, "body")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "mail <EMAIL> or <IP> acct <ID> ref 1234567",
      s"got: ${out(1L)}")
    assert(out(2L) == "no pii in this one 1.2.3 v2.0 year 2026",
      "short digit runs, versions and partial dotted numbers pass through")
  }

  test("subword tokenizer: greedy longest match, UNK fallback, deterministic fit") {
    import graft.functions.expr.Subword
    // explicit vocab: greedy longest-match semantics are checkable
    val vocab = new java.util.HashSet[String]()
    Seq("a", "##a", "b", "##b", "ab", "##ab").foreach(vocab.add)
    assert(Subword.tokenize("abab", vocab).toSeq == Seq("ab", "##ab"))
    assert(Subword.tokenize("ab ab", vocab).toSeq == Seq("ab", "ab"))
    assert(Subword.tokenize("abc", vocab).toSeq == Seq("[UNK]"),
      "no viable segmentation collapses the whole word to [UNK]")
    assert(Subword.tokenize("b a", vocab).toSeq == Seq("b", "a"))
    // fit: pure function of the word counts (two fits agree), covers
    // its alphabet (no [UNK] on training words), and actually merges
    val counts = Seq(("spark", 10L), ("sparse", 5L), ("park", 3L), ("spa", 2L))
    val v1 = Subword.fit(counts, vocabSize = 40)
    val v2 = Subword.fit(counts, vocabSize = 40)
    assert(v1.sameElements(v2), "fit must be deterministic")
    assert(v1.exists(_.length > 3), "frequent pairs must merge into longer pieces")
    val vs = new java.util.HashSet[String]()
    v1.foreach(vs.add)
    counts.foreach { case (w, _) =>
      val pieces = Subword.tokenize(w, vs)
      assert(!pieces.contains("[UNK]"), s"$w must segment under its own vocab")
      assert(pieces.map(_.stripPrefix("##")).mkString == w,
        s"$w pieces must reconstruct it: ${pieces.toSeq}")
    }
    // operator form over a frame: counts and columns
    val df = Seq((1L, "spark park"), (2L, "sparse spa")).toDF("id", "body")
    val out = TextAnalysis.subwordTokenize(df, v1, "body")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_subwords")).toMap
    assert(out.values.forall(_ >= 2), "two words of at least one piece each")

    // composition: packSequences under the REAL subword budget — every
    // bin's piece total respects maxTokens, every doc packs once
    val docs = graft.core.Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("text")).limit(200)
    val fitVocab = TextAnalysis.fitSubwordVocab(docs, vocabSize = 256)
    val packed = TextAnalysis.packSequences(docs, maxTokens = 64,
      tokenCounter = t => size(graft.functions.TextFunctions
        .subwordTokens(lower(t), fitVocab)))
    val bins = packed.groupBy("bin_id")
      .agg(sum("n_tokens").as("fill"), count(lit(1)).as("n"))
      .collect()
    assert(packed.count() == docs.count(), "every doc packs exactly once")
    assert(bins.forall(b => b.getAs[Long]("fill") <= 64 ||
      b.getAs[Long]("n") == 1), "bins respect the subword budget " +
      "(oversized single docs get their own bin)")
  }

  test("TextAnalysis.deterministicShuffle is a reproducible permutation") {
    val df = (1L to 100L).map(i => (i, s"doc $i")).toDF("id", "body")
    val a = TextAnalysis.deterministicShuffle(df, "id", seed = 7)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("shuffle_rank"))
    // a permutation: every rank 1..n exactly once, all rows kept
    assert(a.map(_._2).sorted.sameElements(1L to 100L))
    // deterministic: an independent second run is identical
    val b = TextAnalysis.deterministicShuffle(df, "id", seed = 7)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("shuffle_rank"))
    assert(a.toMap == b.toMap)
    // the seed matters: a different seed yields a different order
    val c = TextAnalysis.deterministicShuffle(df, "id", seed = 8)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("shuffle_rank"))
    assert(a.toMap != c.toMap)
    // and it actually shuffles: not the identity order
    assert(a.toMap.exists { case (id, rank) => id != rank })
  }

  test("Joins.integrityProfile counts orphans, childless and dup keys") {
    val parent = Seq(1L, 2L, 2L, 3L).toDF("pk")
    val child = Seq(1L, 1L, 4L).toDF("fk")
    val r = Joins.integrityProfile(parent, child, "pk", "fk").collect()(0)
    assert(r.getAs[Long]("parent_rows") == 4 && r.getAs[Long]("child_rows") == 3)
    assert(r.getAs[Long]("parent_keys") == 3 && r.getAs[Long]("child_keys") == 2)
    assert(r.getAs[Long]("orphan_child_rows") == 1,
      "key 4 has one child row and no parent")
    assert(r.getAs[Long]("orphan_child_keys") == 1)
    assert(r.getAs[Long]("childless_parent_keys") == 2, "keys 2 and 3")
    assert(r.getAs[Long]("dup_parent_keys") == 1, "key 2 appears twice")
  }

  test("Similarity.embeddingHealthProfile flags pathology, stats skip it") {
    val emb = Seq(
      (1L, Array(3f, 4f)),                 // norm 5
      (2L, Array(0f, 0f)),                 // zero vector
      (3L, Array(Float.NaN)),              // non-finite, dim 1
      (4L, Array(Float.NegativeInfinity, 1f)),
      (5L, null: Array[Float]))            // NULL embedding
      .toDF("id", "vec")
    val r = Similarity.embeddingHealthProfile(emb, "vec").collect()(0)
    assert(r.getAs[Long]("n_vecs") == 5)
    assert(r.getAs[Int]("min_dims") == 1 && r.getAs[Int]("max_dims") == 2)
    assert(r.getAs[Long]("n_zero") == 1 && r.getAs[Long]("n_nonfinite") == 2)
    assert(r.getAs[Long]("n_null") == 1,
      "a NULL embedding is counted, not silently healthy")
    // norm stats over the two finite vectors only: {0, 5}
    assert(r.getAs[Double]("avg_norm") == 2.5)
    assert(r.getAs[Double]("p50_norm") == 2.5)
    assert(r.getAs[Double]("p99_norm") == 4.95)
  }

  test("Dedup.exactAgainstCorpus drops corpus clones and batch-internal dups") {
    val corpus = Seq((100L, "alpha text"), (101L, "beta text")).toDF("id", "body")
    val fresh = Seq(
      (1L, "alpha  text"),   // ws-normalized clone of corpus 100 — dropped
      (2L, "gamma text"),    // novel — survives
      (3L, "gamma text"),    // batch-internal dup — loses to id 2
      (4L, "delta text"))    // novel — survives
      .toDF("id", "body")
    val out = Dedup.exactAgainstCorpus(corpus, fresh, "id", "body")
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(2L, 4L), s"got $out")
  }

  test("TextAnalysis.corpusProfile: counts, totals and interpolated percentiles") {
    val df = Seq(
      (1L, "en", "web", "aa"),          // chars 2
      (2L, "en", "web", "bbbb"),        // chars 4
      (3L, "en", "book", "cccccc"),     // chars 6
      (4L, "de", "web", "ddd dd"))      // chars 6, 2 ws tokens
      .toDF("doc_id", "lang", "source", "text")
    val out = TextAnalysis.corpusProfile(df)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("en", "de", "ALL"))
    val en = out("en")
    assert(en.getAs[Long]("n_docs") == 3 && en.getAs[Long]("n_sources") == 2)
    assert(en.getAs[Long]("total_chars") == 12)
    // p50 of {2,4,6} = 4; p90: h = 0.9*2 = 1.8 -> 4 + 0.8*(6-4) = 5.6
    assert(en.getAs[Double]("p50_chars") == 4.0)
    assert(en.getAs[Double]("p90_chars") == 5.6)
    val all = out("ALL")
    assert(all.getAs[Long]("n_docs") == 4 && all.getAs[Long]("total_chars") == 18)
    assert(all.getAs[Long]("ws_tokens") == 5)
    val de = out("de")
    assert(de.getAs[Long]("ws_tokens") == 2 && de.getAs[Long]("total_bytes") == 6)
    // a genuine NULL language is its own group — it must NOT collide
    // with the rollup total
    val withNull = df.union(Seq((5L, null: String, "web", "xyz"))
      .toDF("doc_id", "lang", "source", "text"))
    val out2 = TextAnalysis.corpusProfile(withNull)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out2.keySet == Set("en", "de", "ALL", "(null)"))
    assert(out2("(null)").getAs[Long]("n_docs") == 1)
    assert(out2("ALL").getAs[Long]("n_docs") == 5,
      "the total row covers every doc including the null-lang one")
  }

  test("TextAnalysis.normalizeText: every step lands, and the op is idempotent") {
    val df = Seq(
      (1L, "Cafe\u0301  du\tparc"),            // NFC compose + ws collapse
      (2L, "a\u200Bb  c\td\u200D"),            // zero-widths out
      (3L, "line1\r\nline2\rline3"),           // CRLF / CR → LF
      (4L, "\u0001boom\n\n\n\n\ngaps  "),      // ctrl strip, ≤2 newlines, trim
      (5L, "  already clean\n"),
      (6L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.normalizeText(df)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "Café du parc", s"got: ${out(1L)}")
    assert(out(2L) == "ab c d", s"got: ${out(2L)}")
    assert(out(3L) == "line1\nline2\nline3", s"got: ${out(3L)}")
    assert(out(4L) == "boom\n\ngaps", s"got: ${out(4L)}")
    assert(out(5L) == "already clean")
    assert(out(6L) == "")
    // idempotent: normalizing the normalized column is the identity
    val again = TextAnalysis.normalizeText(
      TextAnalysis.normalizeText(df).select(col("doc_id"),
        col("norm_text").as("text")))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(again == out)
  }

  test("Dedup.duplicatedNgramProfile measures cross-doc gram duplication positionally") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),  // shares a 3-gram span with 2
      (2L, "alpha beta gamma something else entirely here"),
      (3L, "nothing in common with the others at all"),
      (4L, "tiny")).toDF("id", "body")               // < n tokens: zero grams
    val out = Dedup.duplicatedNgramProfile(df, "id", "body", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getDouble(3)))).toMap
    // docs 1/2 share exactly one 3-gram ("alpha beta gamma") at one position each
    assert(out(1L) == ((4, 1L, 0.25)), s"got ${out(1L)}")
    assert(out(2L) == ((5, 1L, 0.2)), s"got ${out(2L)}")
    assert(out(3L) == ((6, 0L, 0.0)))
    assert(out(4L) == ((0, 0L, 0.0)), "sub-n docs carry zero grams, ratio 0")
    // positional counting: a gram repeated WITHIN one doc but nowhere
    // else is not cross-doc duplication
    val within = Seq(
      (1L, "x y x y x y"),    // "x y x" and "y x y" repeat within the doc only
      (2L, "totally different words")).toDF("id", "body")
    val w = Dedup.duplicatedNgramProfile(within, "id", "body", n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(w(1L) == 0L, "within-doc repetition is q88's job, not cross-doc dup")
  }

  test("TextAnalysis.upsampleByStratum realizes weights exactly and deterministically") {
    val df = (0L until 1200L).map(i => (i, i % 3 match {
      case 0 => "wiki"; case 1 => "web"; case 2 => "junk"
    })).toDF("id", "src")
    val mixed = TextAnalysis.upsampleByStratum(df, "src", "id",
      Map("wiki" -> 2.5, "junk" -> 0.0), defaultWeight = 1.0)
    val counts = mixed.groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!counts.contains("junk"), "weight 0 drops the stratum")
    assert(counts("web") == 400L, "weight 1 is the identity")
    // 400 wiki keys at w=2.5: 800 guaranteed + binomial(400, 0.5) extras
    assert(counts("wiki") > 950 && counts("wiki") < 1050, s"got ${counts("wiki")}")
    // every key appears a whole number of times, ⌊w⌋ or ⌈w⌉, with
    // contiguous 0-based copy indexes
    val perKey = mixed.filter(col("src") === "wiki").groupBy("id")
      .agg(count(lit(1)).as("n"), max("copy_idx").as("mx"), min("copy_idx").as("mn"))
      .collect()
    assert(perKey.forall(r => r.getLong(1) == 2L || r.getLong(1) == 3L))
    assert(perKey.forall(r => r.getLong(2) == r.getLong(1) - 1 && r.getLong(3) == 0L))
    // pure function of the key
    val again = TextAnalysis.upsampleByStratum(df, "src", "id",
      Map("wiki" -> 2.5, "junk" -> 0.0), defaultWeight = 1.0)
      .groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == counts)
  }

  test("TextAnalysis.materializePackedBins concatenates each bin in fill order") {
    val docs = Seq(
      (1L, "bb bb bb bb"),   // 4 tokens
      (2L, "aaa aaa aaa"),   // 3 tokens
      (3L, "c c"),           // 2 tokens
      (4L, "dd")             // 1 token
    ).toDF("id", "body")
    // budget 10, one partition: fill order is (tokens desc, id asc) —
    // 1(4) + 2(3) + 3(2) + 4(1) = 10 tokens, exactly one bin
    val packed = TextAnalysis.packSequences(docs, maxTokens = 10,
      idCol = "id", textCol = "body", partitions = 1)
    val mat = TextAnalysis.materializePackedBins(packed, docs,
      idCol = "id", textCol = "body")
    val rows = mat.collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n_docs") == 4L && r.getAs[Int]("n_tokens") == 10)
    assert(r.getAs[String]("body") == "bb bb bb bb aaa aaa aaa c c dd",
      s"fill order is (tokens desc, id asc): got '${r.getAs[String]("body")}'")
    // a custom separator rides through; every doc lands in exactly one bin
    val sep = TextAnalysis.materializePackedBins(packed, docs, "id", "body",
      sep = "<|sep|>").collect().head.getAs[String]("body")
    assert(sep.split(java.util.regex.Pattern.quote("<|sep|>")).length == 4)
  }

  test("curation ops degrade sanely on empty inputs") {
    val empty = Seq.empty[(Long, String)].toDF("id", "body")
    val docs = Seq((1L, "some ordinary words in here")).toDF("id", "body")
    // empty benchmark = nothing to leak: profile empty, corpus unchanged
    assert(Dedup.contaminationProfile(docs, empty, "id", "body").isEmpty)
    assert(Dedup.decontaminate(docs, empty, "id", "body").count() == 1)
    // empty corpus: every profile/dedup/sampling op yields an empty frame
    assert(Dedup.duplicatedNgramProfile(empty, "id", "body", n = 3).isEmpty)
    assert(TextAnalysis.repetitionProfile(empty, "id", "body").isEmpty)
    assert(TextAnalysis.capPerKey(empty, "body", "id", cap = 5).isEmpty)
    assert(TextAnalysis.upsampleByStratum(empty, "body", "id",
      Map("x" -> 2.0)).isEmpty)
    // round-7 ops: profiles report zeros (not nulls) on empty inputs,
    // transforms yield empty frames
    val emptyDocs = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "lang", "source", "text")
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(TextAnalysis.corpusProfile(emptyDocs).isEmpty,
      "empty corpus, empty report")
    val ip = Joins.integrityProfile(emptyDocs, emptyDocs, "doc_id", "doc_id")
      .collect()(0)
    assert(Seq("parent_rows", "child_rows", "parent_keys", "child_keys",
      "orphan_child_rows", "orphan_child_keys", "childless_parent_keys",
      "dup_parent_keys").forall(c => ip.getAs[Long](c) == 0L),
      s"empty integrity profile must be all zeros: $ip")
    val hp = Similarity.embeddingHealthProfile(emptyEmb).collect()(0)
    assert(hp.getAs[Long]("n_vecs") == 0 && hp.getAs[Long]("n_zero") == 0 &&
      hp.getAs[Long]("n_nonfinite") == 0)
    assert(hp.isNullAt(hp.fieldIndex("min_dims")) &&
      hp.isNullAt(hp.fieldIndex("avg_norm")),
      "nothing to describe stays null, counters stay zero")
    assert(TextAnalysis.deterministicShuffle(emptyDocs, "doc_id").isEmpty)
    assert(Dedup.exactAgainstCorpus(emptyDocs, emptyDocs).isEmpty)
    val oneDoc = Seq((1L, "en", "web", "hello")).toDF("doc_id", "lang", "source", "text")
    assert(Dedup.exactAgainstCorpus(emptyDocs, oneDoc).count() == 1,
      "an empty corpus excludes nothing")
    assert(TextAnalysis.normalizeText(emptyDocs).isEmpty)

    // empty-text documents: zero tokens, zero grams, ratio 0 — not a crash
    val blank = Seq((1L, ""), (2L, "   ")).toDF("id", "body")
    val rp = TextAnalysis.repetitionProfile(blank, "id", "body").collect()
    assert(rp.forall(r => r.getInt(1) == 0 && r.getDouble(3) == 0.0))
    val dg = Dedup.duplicatedNgramProfile(blank, "id", "body", n = 3).collect()
    assert(dg.forall(r => r.getInt(1) == 0 && r.getDouble(3) == 0.0))
  }

  test("stateless curation ops run unchanged on streaming frames") {
    // stratifiedSample / redactPii / upsampleByStratum are narrow,
    // stateless transformations — the dedup-at-ingest pipeline applies
    // them per micro-batch with no state store; parity with the batch
    // form is exact equality on the same input
    val dir = TestSpark.sf
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    def stream() = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val docs = graft.core.Tables.documents(spark, dir)

    val sampledStream = graft.streaming.EventStreams.runToMemory(
      spark, TextAnalysis.stratifiedSample(stream(), "lang", "doc_id",
        Map("en" -> 0.5), defaultFraction = 0.25), "api_strat_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val sampledBatch = TextAnalysis.stratifiedSample(docs, "lang", "doc_id",
      Map("en" -> 0.5), defaultFraction = 0.25)
    assert(sampledStream.select("doc_id").collect().map(_.getLong(0)).toSet ==
      sampledBatch.select("doc_id").collect().map(_.getLong(0)).toSet)

    val redactedStream = graft.streaming.EventStreams.runToMemory(
      spark, TextAnalysis.redactPii(stream()), "api_redact_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val redactedBatch = TextAnalysis.redactPii(docs)
    assert(redactedStream.agg(count(lit(1)), sum(length(col("redacted"))))
        .collect()(0).toSeq ==
      redactedBatch.agg(count(lit(1)), sum(length(col("redacted"))))
        .collect()(0).toSeq)

    // classifier scoring is a narrow in-plan sigmoid — model weights
    // fit once (batch), then the SAME frozen weights score a stream
    // per micro-batch with bit-exact parity
    val labeled = docs.limit(60).withColumn("label",
      (col("doc_id") % 2).cast("double"))
    val weights = TextAnalysis.fitQualityClassifier(labeled)
    val scoredStream = graft.streaming.EventStreams.runToMemory(
      spark, TextAnalysis.classifierScore(stream(), weights),
      "api_qc_stream", org.apache.spark.sql.streaming.OutputMode.Append())
    val scoredBatch = TextAnalysis.classifierScore(docs, weights)
    assert(scoredStream.select("doc_id", "qc_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      scoredBatch.select("doc_id", "qc_score").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet)

    // normalizeText is a narrow codegen'd expression chain — per
    // micro-batch application is bit-exact batch parity
    val normStream = graft.streaming.EventStreams.runToMemory(
      spark, TextAnalysis.normalizeText(stream()), "api_norm_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val normBatch = TextAnalysis.normalizeText(docs)
    assert(normStream.select("doc_id", "norm_text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet ==
      normBatch.select("doc_id", "norm_text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet)

    // URL features and HTML strip are narrow stateless projections —
    // same per-micro-batch parity as the ops above
    def withUrl(df: org.apache.spark.sql.DataFrame) =
      graft.api.Curation.withUrlFeatures(
        df.withColumn("url", concat(lit("HTTP://WWW."), col("source"),
          lit("-Site.COM:80/p/"), col("doc_id"), lit("?utm_x=1&id="), col("doc_id"))))
    val urlStream = graft.streaming.EventStreams.runToMemory(
      spark, withUrl(stream()), "api_url_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    assert(urlStream.select("doc_id", "url_norm", "domain").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet ==
      withUrl(docs).select("doc_id", "url_norm", "domain").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet)

    val htmlStream = graft.streaming.EventStreams.runToMemory(
      spark, graft.api.Curation.withHtmlStripped(stream()), "api_html_stream",
      org.apache.spark.sql.streaming.OutputMode.Append())
    assert(htmlStream.select("doc_id", "clean_text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet ==
      graft.api.Curation.withHtmlStripped(docs).select("doc_id", "clean_text")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet)
  }

  test("quality classifier: deterministic refit, separation, probability range") {
    val clean = (1L to 40L).map(i =>
      (i, s"the small team read the report and found the result number $i was good", 1.0))
    val junk = (41L to 80L).map(i =>
      (i, s"zxqv!!##kjw$i@@@qqpzz###xx!!9999$i##", 0.0))
    val df = (clean ++ junk).toDF("doc_id", "text", "label")
    val w1 = TextAnalysis.fitQualityClassifier(df)
    val w2 = TextAnalysis.fitQualityClassifier(df)
    assert(w1.toSeq == w2.toSeq, "refit must be bit-identical")
    val scored = TextAnalysis.classifierScore(df, w1)
      .select(col("label"), col("qc_score")).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1))
    assert(scored.forall { case (_, s) => s > 0.0 && s < 1.0 })
    val posAvg = scored.filter(_._1 == 1.0).map(_._2).sum / 40
    val negAvg = scored.filter(_._1 == 0.0).map(_._2).sum / 40
    assert(posAvg > negAvg + 0.3, f"separation too weak: $posAvg%.3f vs $negAvg%.3f")
    intercept[IllegalArgumentException] { // single-class sample refused
      TextAnalysis.fitQualityClassifier(df.filter(col("label") === 1.0))
    }
    intercept[IllegalArgumentException] { // wrong weight arity refused
      TextAnalysis.classifierScore(df, Array(1.0, 2.0))
    }
  }

  test("Joins.bloomPrefilteredJoin equals the plain join and actually prunes") {
    val big = (0L until 10000L).map(i => (i % 1000, i)).toDF("k", "payload")
    val dim = Seq((7L, "seven"), (13L, "thirteen"), (999L, "big"))
      .toDF("dk", "name")
    val got = Joins.bloomPrefilteredJoin(big, dim, "k", "dk",
        expectedItems = 100L, fpp = 0.01)
      .select("k", "payload", "name")
    val want = big.join(dim, col("k") === col("dk")).select("k", "payload", "name")
    assert(got.collect().toSet == want.collect().toSet)
    assert(got.count() == 30, "10 rows per matching key")
    // the prefilter itself keeps ~fpp of non-matching keys: measure the
    // pruned big side via a contradiction-free probe (semi shape)
    val survivors = Joins.bloomPrefilteredJoin(big, dim, "k", "dk",
      expectedItems = 100L, fpp = 0.01, joinType = "left_semi").count()
    assert(survivors == 30, "semi join sees only true matches")
  }

  test("char-bigram LM: deterministic fit, gibberish scores low, one-pass scoring") {
    val docs = graft.core.Tables.documents(spark, TestSpark.sf)
    val m1 = TextAnalysis.fitCharBigramLm(docs)
    val m2 = TextAnalysis.fitCharBigramLm(docs)
    assert(m1.sameElements(m2), "fit must be deterministic in (seed, corpus)")
    assert(m1.length == 27 * 27 && m1.forall(v => v < 0.0 && !v.isInfinite),
      "Laplace smoothing keeps every log-prob finite and negative")

    import spark.implicits._
    val probes = Seq(
      (1L, "the report and the market were good for the people"),
      (2L, "zq xvq jzx qkv zzq xjq vqz kxq jqz vxk"),
      (3L, "")).toDF("id", "text")
    val scored = TextAnalysis.lmScore(probes, m1).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scored(1L) > scored(2L), s"natural ${scored(1L)} <= gibberish ${scored(2L)}")
    assert(scored(3L) == 0.0, "no transitions -> score 0")
    // scoring is a narrow stage: no exchange in the plan
    val plan = TextAnalysis.lmScore(probes, m1).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "model-in-plan scoring must not shuffle")
  }

  test("TextAnalysis.repetitionFlags: per-rule violators, hand-computed metrics") {
    import spark.implicits._
    val docs = Seq(
      // 7 lines, 'spam line' x5: dup_lines 4/7 > 30%, dup chars 36/60 > 20%
      (1L, "unique intro\nspam line\nspam line\nspam line\nspam line\nspam line\nend"),
      // duplicated paragraph: count 1/4 PASSES 30% but chars 13/52 FAIL 20%
      (2L, "para one is here\n\npara two body\n\npara two body\n\npara three"),
      // dominant 2-gram 'buy now': 4 x 7 chars = 28 vs 31 non-ws chars
      (3L, "buy now buy now buy now buy now totally"),
      (4L, "alpha beta gamma\ndelta epsilon zeta\n\neta theta iota"),
      (5L, "")).toDF("k", "body")
    val out = TextAnalysis.repetitionFlags(docs, idCol = "k", textCol = "body")
      .collect().map(r => r.getAs[Long]("k") -> r).toMap

    assert(out(1L).getAs[Long]("n_lines") == 7L)
    assert(out(1L).getAs[Long]("dup_lines") == 4L)
    assert(out(1L).getAs[Long]("dup_line_chars") == 36L)
    assert(!out(1L).getAs[Boolean]("ok_dup_lines"))
    assert(!out(1L).getAs[Boolean]("ok_dup_line_chars"))

    assert(out(2L).getAs[Long]("n_paras") == 4L)
    assert(out(2L).getAs[Long]("dup_paras") == 1L)
    assert(out(2L).getAs[Boolean]("ok_dup_paras"), "1/4 is under the 30% bar")
    assert(!out(2L).getAs[Boolean]("ok_dup_para_chars"), "13/52 chars is over 20%")

    assert(out(3L).getAs[Long]("top2_chars") == 28L, "4 x len('buy now')")
    assert(out(3L).getAs[Long]("n_chars") == 31L)
    assert(!out(3L).getAs[Boolean]("ok_top_2gram"))
    assert(!out(3L).getAs[Boolean]("keep"))

    assert(out(4L).getAs[Boolean]("keep"), "clean multi-line doc passes the battery")
    assert(out(5L).getAs[Boolean]("keep"), "empty doc: all zero metrics pass")
    assert(out(5L).getAs[Long]("top2_chars") == 0L)
  }

  test("TextAnalysis.perplexityBuckets: exact terciles, ties share the better bucket") {
    import spark.implicits._
    val corpus = graft.core.Tables.documents(spark, TestSpark.sf)
      .filter(col("doc_id") < 60).select(col("doc_id"), col("text"))
    val model = TextAnalysis.fitCharBigramLm(corpus)
    val b = TextAnalysis.perplexityBuckets(corpus, model)
      .select("doc_id", "lm_score", "ppl_bucket")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(b.length == 60 && b.map(_._1).distinct.length == 60,
      "every doc lands in exactly one bucket")
    val byBucket = b.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    assert(byBucket("head").min >= byBucket("middle").max)
    assert(byBucket("middle").min >= byBucket("tail").max)
    // ceil floors: head >= N/3, head+middle >= 2N/3
    assert(3 * byBucket("head").size >= 60)
    assert(3 * (byBucket("head").size + byBucket("middle").size) >= 120)

    // all-tied scores collapse into one bucket — the head
    val tied = Seq((1L, "same text"), (2L, "same text"), (3L, "same text"))
      .toDF("doc_id", "text")
    val tb = TextAnalysis.perplexityBuckets(tied, model)
      .select("ppl_bucket").as[String].collect()
    assert(tb.forall(_ == "head"), "equal scores share the better bucket")
  }

  test("Profiling.featureDrift: identical frames score 0, planted shift scores high") {
    import spark.implicits._
    val ref = (1 to 1000).map(i => (i.toDouble % 100, i.toDouble % 7))
      .toDF("stable", "shifty")
    // identical distributions: every bin's pc == pr, so PSI is exactly 0
    val same = graft.api.Profiling.featureDrift(ref, ref,
      Seq("stable", "shifty")).collect()
    assert(same.length == 2 && same.forall(_.getAs[Double]("psi") == 0.0))
    // shift `shifty` entirely above the reference range: mass clamps
    // into the top bin, PSI explodes; `stable` stays identical
    val cur = (1 to 1000).map(i => (i.toDouble % 100, 100.0 + i % 7))
      .toDF("stable", "shifty")
    val drift = graft.api.Profiling.featureDrift(ref, cur,
        Seq("stable", "shifty")).collect()
      .map(r => r.getAs[String]("feature") -> r.getAs[Double]("psi")).toMap
    assert(drift("stable") == 0.0)
    assert(drift("shifty") > 1.0, s"clamped-out-of-range shift must alarm: $drift")
    assert(same.forall(r => r.getAs[Long]("n_ref") == 1000L &&
      r.getAs[Long]("n_cur") == 1000L))
  }

  test("Profiling.featureDrift: nulls drop per feature; degenerate column scores 0") {
    import spark.implicits._
    val ref = Seq((Some(1.0), 5.0), (None, 5.0), (Some(3.0), 5.0))
      .toDF("gaps", "flat")
    val cur = Seq((Some(2.0), 5.0), (Some(9.0), 5.0)).toDF("gaps", "flat")
    val out = graft.api.Profiling.featureDrift(ref, cur, Seq("gaps", "flat"))
      .collect().map(r => r.getAs[String]("feature") ->
        (r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
          r.getAs[Double]("psi"))).toMap
    assert(out("gaps")._1 == 2L && out("gaps")._2 == 2L, "nulls excluded")
    // single-valued reference degenerates to one bin -> PSI 0
    assert(out("flat") == ((3L, 2L, 0.0)))
  }

  test("Profiling.applyExpectations: rule tagging, split, corpus rules rejected") {
    import spark.implicits._
    import graft.api.Profiling.Check
    val df = Seq(
      (1L, Some("ok"), Some(5.0)),
      (2L, None, Some(5.0)),          // null tag
      (3L, Some("bad"), Some(5.0)),   // enum tag
      (4L, Some("ok"), Some(-1.0)),   // range tag
      (5L, None, Some(99.0))          // two tags
    ).toDF("id", "tag", "v")
    val out = graft.api.Profiling.applyExpectations(df, Seq(
        Check.NotNull("tag"), Check.InSet("tag", Seq("ok")),
        Check.InRange("v", 0.0, 10.0)))
    val m = out.collect().map(r => r.getLong(0) ->
      (r.getSeq[String](r.fieldIndex("violations")).toList,
        r.getBoolean(r.fieldIndex("quarantined")))).toMap
    assert(m(1L) == ((Nil, false)))
    assert(m(2L) == ((List("not_null(tag)"), true)))
    assert(m(3L) == ((List("in_set(tag)"), true)))
    assert(m(4L) == ((List("in_range(v)"), true)))
    assert(m(5L) == ((List("not_null(tag)", "in_range(v)"), true)),
      "tags keep rule argument order")
    assert(out.filter(!col("quarantined")).count() == 1L)
    intercept[IllegalArgumentException] {
      graft.api.Profiling.applyExpectations(df, Seq(Check.Unique(Seq("id"))))
    }
  }

  test("Profiling.columnProfile: nulls, distincts, string-rendered bounds, one scan") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("a"), 10), (2L, None, 10), (3L, Some("c"), 30), (4L, Some("a"), 40)
    ).toDF("id", "tag", "v")
    val rows = graft.api.Profiling.columnProfile(df, Seq("tag", "v"))
      .orderBy("column").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("tag", "v"))
    val tag = rows(0); val v = rows(1)
    assert(tag.getAs[Long]("n_rows") == 4L && tag.getAs[Long]("n_nulls") == 1L)
    assert(tag.getAs[Long]("n_distinct") == 2L, "distinct ignores nulls")
    assert(tag.getAs[String]("min_value") == "a" && tag.getAs[String]("max_value") == "c")
    assert(v.getAs[Long]("n_nulls") == 0L && v.getAs[Long]("n_distinct") == 3L)
    assert(v.getAs[String]("min_value") == "10" && v.getAs[String]("max_value") == "40")
    // HLL path returns the same shape with approximate cardinalities
    val approx = graft.api.Profiling.columnProfile(df, Seq("v"), approxDistinct = true)
      .collect()(0)
    assert(approx.getAs[Long]("n_distinct") >= 2L)
    intercept[IllegalArgumentException](
      graft.api.Profiling.columnProfile(df, Seq("nope")))
  }

  test("Profiling.rateAnomalies: integer z-test flags only the burst window") {
    import spark.implicits._
    // 10 windows of 10 events + one window of 100: mean ~18, the burst
    // is far beyond 2 sigma, the uniform windows are within it
    val ts = (0 until 10).flatMap(w => (0 until 10).map(i =>
      java.sql.Timestamp.valueOf(f"2024-01-01 ${w}%02d:00:${i}%02d"))) ++
      (0 until 100).map(i => java.sql.Timestamp.valueOf("2024-01-01 15:30:00"))
    val df = ts.toDF("ts")
    val out = graft.api.Profiling.rateAnomalies(df, windowDur = "1 hour")
      .collect().map(r => r.getAs[java.sql.Timestamp]("w_start").toString ->
        (r.getAs[Long]("n_events"), r.getAs[Boolean]("anomaly"))).toMap
    assert(out("2024-01-01 15:00:00.0") == ((100L, true)), "burst flags")
    assert(out.count(_._2._2) == 1, "only the burst flags")
    assert(out("2024-01-01 03:00:00.0") == ((10L, false)))
  }

  test("index compaction: fewer files, identical results, atomic version") {
    import spark.implicits._
    def parquetFiles(p: String): Long = {
      val base = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.exists(base)) 0L
      else {
        val s = java.nio.file.Files.walk(base)
        try s.filter(f => f.toString.endsWith(".parquet")).count()
        finally s.close()
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-spec").toString
    Dedup.buildNearDupIndex(
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
        .toDF("id", "body"), dir, idCol = "id", textCol = "body")
    // two single-doc appends: each leaves its own file set per band dir
    Dedup.appendToNearDupIndex(
      Seq((2L, "one two three four five six seven eight nine ten")).toDF("id", "body"),
      dir, idCol = "id", textCol = "body")
    Dedup.appendToNearDupIndex(
      Seq((3L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"))
        .toDF("id", "body"), dir, idCol = "id", textCol = "body")
    val fresh = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (101L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
      (102L, "completely novel text with no overlap whatsoever anywhere here"))
      .toDF("id", "body")
    def survivors() = Dedup.nearDupAgainstIndex(fresh, dir, idCol = "id", textCol = "body")
      .select("id").as[Long].collect().sorted.toSeq
    val before = survivors()
    assert(before == Seq(102L))
    val filesBefore = parquetFiles(s"$dir/v1/bands")
    Dedup.compactNearDupIndex(spark, dir)
    // compaction commits a version: v2 is current, the build's v1 untouched
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "v2", "_committed")))
    assert(VersionedIndex.current(spark, dir) == Some("v2"))
    assert(parquetFiles(s"$dir/v1/bands") == filesBefore, "pre-compaction files untouched")
    val filesAfter = parquetFiles(s"$dir/v2/bands")
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file count: $filesBefore -> $filesAfter")
    assert(survivors() == before, "compaction must never change results")
    // appends and deletes keep working against the compacted version
    assert(Dedup.deleteFromNearDupIndex(spark, dir, Seq(1L).toDF("id"), idCol = "id") == 1L)
    assert(survivors() == Seq(100L, 102L))
    assert(Dedup.vacuumNearDupIndexVersions(spark, dir).nonEmpty)

    // hamming index: same contract
    val hdir = java.nio.file.Files.createTempDirectory("graft-hcompact-spec").toString
    Dedup.buildHammingIndex(Seq((1L, 0L)).toDF("id", "s"), hdir, idCol = "id", sigCol = "s")
    Dedup.appendToHammingIndex(Seq((2L, -1L)).toDF("id", "s"), hdir, idCol = "id", sigCol = "s")
    Dedup.appendToHammingIndex(Seq((3L, 0xF0F0L)).toDF("id", "s"), hdir, idCol = "id", sigCol = "s")
    val probe = Seq((100L, 1L), (101L, 0xF0F1L), (102L, 0x0F0F0F0F0F0F0F0FL))
      .toDF("id", "s")
    def matches() = Dedup.hammingAgainstIndex(probe, hdir, idCol = "id", sigCol = "s")
      .select("id").as[Long].collect().sorted.toSeq
    val hBefore = matches()
    val hFilesBefore = parquetFiles(s"$hdir/v1/chunks")
    Dedup.compactHammingIndex(spark, hdir)
    assert(matches() == hBefore, "hamming compaction must never change results")
    assert(parquetFiles(s"$hdir/v2/chunks") < hFilesBefore)
  }

  test("Dedup.triangleStats: clique census, ordered once-counting, empty graph") {
    import spark.implicits._
    // a 4-clique (4 triangles), one pendant edge, duplicate + reversed
    // pair rows that must not double-count
    val clique = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val pairs = (clique ++ Seq((4L, 5L), (1L, 2L), (2L, 1L))).toDF("doc_a", "doc_b")
    val r = graft.api.Dedup.triangleStats(pairs).collect()(0)
    assert(r.getAs[Long]("n_nodes") == 5L)
    assert(r.getAs[Long]("n_edges") == 7L, "6 clique edges + 1 pendant")
    // degrees 3,3,3,4,1 -> wedges 3+3+3+6+0 = 15
    assert(r.getAs[Long]("n_wedges") == 15L)
    assert(r.getAs[Long]("n_triangles") == 4L, "C(4,3) in the clique")
    assert(r.getAs[Double]("clustering") == 0.8, "3*4/15")
    val empty = graft.api.Dedup.triangleStats(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).collect()(0)
    assert(empty.getAs[Long]("n_triangles") == 0L)
    assert(empty.getAs[Double]("clustering") == 0.0)
  }

  test("Dedup.leakageSafeSplit: clusters never straddle the split") {
    import spark.implicits._
    val docs = (1L to 40L).toDF("id")
    // chain 1-2-3 is one component; 10-11 another; the rest singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val out = graft.api.Dedup.leakageSafeSplit(docs, pairs, idCol = "id")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("canonical_id"), r.getAs[String]("split"))).toMap
    assert(out.size == 40)
    assert(Seq(1L, 2L, 3L).map(out(_)).distinct.size == 1,
      "whole chain shares canonical id and split")
    assert(out(10L) == out(11L))
    assert(out(20L)._1 == 20L, "singletons are their own component")
    // the split must agree with the md5-of-canonical contract
    val eval = out.values.count(_._2 == "eval")
    assert(eval > 0 && eval < 40, "both splits occur on 40 components")
    intercept[IllegalArgumentException](
      graft.api.Dedup.leakageSafeSplit(docs, pairs, "id", evalPrefixes = Seq("0", "ab")))
  }

  test("Profiling cardinality sketches: small-n exactness, parquet round-trip merge") {
    import spark.implicits._
    // 3 partitions with overlapping member sets: global distinct = 60,
    // union must dedupe across partitions, not sum
    val df = ((0 until 40).map(i => ("p1", i.toLong)) ++
      (20 until 60).map(i => ("p2", i.toLong)) ++
      (0 until 10).map(i => ("p3", i.toLong))).toDF("part", "member")
    val sk = graft.api.Profiling.cardinalitySketches(df, Seq("part"), "member")
    assert(sk.count() == 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-hll-spec").toString
    sk.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    // HLL is coupon-exact far below 2^lgK: estimates of 60 and of 40
    // must equal the true values after the binary round-trip
    // (hll_sketch_estimate returns a rounded LONG)
    val global = graft.api.Profiling.estimateDistinct(back, Seq.empty)
      .collect()(0).getLong(0)
    assert(global == 60L, s"global estimate $global")
    val per = graft.api.Profiling.estimateDistinct(back, Seq("part"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(per == Map("p1" -> 40L, "p2" -> 40L, "p3" -> 10L))
    intercept[IllegalArgumentException](
      graft.api.Profiling.cardinalitySketches(df, Seq.empty, "member"))
  }

  test("Dedup seen-filter: no false negatives, bounded fps, atomic append") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-seen-spec")
      .resolve("ids.bloom").toString
    Dedup.buildSeenFilter((0L until 500L).toDF("id"), "id", path,
      expectedItems = 10000L)
    Dedup.appendToSeenFilter((500L until 600L).toDF("id"), "id", path)
    val probe = (0L until 2000L).toDF("id")
    val marked = Dedup.markSeen(spark, probe, "id", path)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // every built/appended id flags — the guarantee the prefilter
    // contract rests on
    assert((0L until 600L).forall(marked(_)), "no false negatives allowed")
    // unseen ids: some may false-positive, most must pass as new
    val fps = (600L until 2000L).count(marked(_))
    assert(fps <= 70, s"fp count $fps way over the 1% target on 1400 unseen")
    // string ids ride the same xxhash path
    val sPath = java.nio.file.Files.createTempDirectory("graft-seen-spec2")
      .resolve("s.bloom").toString
    Dedup.buildSeenFilter(Seq("a", "b").toDF("k"), "k", sPath, 1000L)
    val sm = Dedup.markSeen(spark, Seq("a", "zzz").toDF("k"), "k", sPath)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(sm("a"), "string id must flag")
    intercept[IllegalArgumentException](
      Dedup.markSeen(spark, probe, "id", path + "-nowhere").count())
  }

  test("Dedup seen-filter: stale-based commit fails loudly, no ids lost") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-seen-cas")
      .resolve("ids").toString
    Dedup.buildSeenFilter((0L until 100L).toDF("id"), "id", path, 10000L)
    // a "racer" reads the current version, then ANOTHER append commits
    val stale = Dedup.readSeenState(spark, path)
    Dedup.appendToSeenFilter((100L until 200L).toDF("id"), "id", path)
    // the stale-based commit must error instead of silently dropping
    // the 100..200 batch (the r9 lost-update hazard, now enforced)
    intercept[IllegalStateException](
      Dedup.commitSeenVersion(spark, path, stale))
    // the committed state survives intact: both batches still flag
    val marked = Dedup.markSeen(spark, (0L until 200L).toDF("id"), "id", path)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert((0L until 200L).forall(marked(_)), "no ids may be lost by the failed racer")
    // a retried append (fresh read) succeeds
    Dedup.appendToSeenFilter((200L until 250L).toDF("id"), "id", path)
    assert(Dedup.markSeen(spark, (200L until 250L).toDF("id"), "id", path)
      .filter(!org.apache.spark.sql.functions.col("probably_seen")).isEmpty)
    // vacuum drops superseded versions; the filter keeps working
    assert(Dedup.vacuumSeenFilter(spark, path).nonEmpty)
    assert(Dedup.markSeen(spark, (0L until 250L).toDF("id"), "id", path)
      .filter(!org.apache.spark.sql.functions.col("probably_seen")).isEmpty)
  }

  test("Dedup seen-filter: a stale _lock fails the commit loudly, never silent theft") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-seen-lock")
      .resolve("ids").toString
    Dedup.buildSeenFilter((0L until 100L).toDF("id"), "id", path, 10000L)
    // simulate a crashed writer: its exclusive-create _lock survives
    val lock = new org.apache.hadoop.fs.Path(path, "_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(lock, false).close()
    val e = intercept[IllegalStateException](
      Dedup.appendToSeenFilter((100L until 200L).toDF("id"), "id", path))
    assert(e.getMessage.contains("_lock"),
      "the failure must tell the operator what to remove")
    // the operator removes the stale lock; the retried append succeeds
    // and the lock does not linger afterwards
    fs.delete(lock, false)
    Dedup.appendToSeenFilter((100L until 200L).toDF("id"), "id", path)
    assert(!fs.exists(lock), "the lock must release after a commit")
    assert(Dedup.markSeen(spark, (0L until 200L).toDF("id"), "id", path)
      .filter(!org.apache.spark.sql.functions.col("probably_seen")).isEmpty)
    // the alert carries the evidence: the failure message reports the
    // lock's age and names the opt-in break conf
    assert(e.getMessage.contains("lockStaleMs"),
      "the failure must name the automated-break opt-in")
  }

  test("Dedup seen-filter: opt-in age bound breaks a stale _lock and commits") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-seen-stale")
      .resolve("ids").toString
    Dedup.buildSeenFilter((0L until 100L).toDF("id"), "id", path, 10000L)
    val lock = new org.apache.hadoop.fs.Path(path, "_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(lock, false).close()
    Thread.sleep(150)
    spark.conf.set("spark.graft.seenFilter.lockStaleMs", "100")
    try {
      // the crashed writer's lock is older than the bound: broken,
      // append proceeds, no manual removal
      Dedup.appendToSeenFilter((100L until 200L).toDF("id"), "id", path)
      assert(!fs.exists(lock), "the broken-then-reacquired lock must release")
      assert(Dedup.markSeen(spark, (0L until 200L).toDF("id"), "id", path)
        .filter(!org.apache.spark.sql.functions.col("probably_seen")).isEmpty)
    } finally spark.conf.unset("spark.graft.seenFilter.lockStaleMs")
  }

  test("Dedup seen-filter merge: union flags both inputs' ids; geometry guard") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-seen-merge")
    def p(n: String) = base.resolve(n).toString
    Dedup.buildSeenFilter((0L until 300L).toDF("id"), "id", p("a"), 10000L)
    Dedup.buildSeenFilter((300L until 600L).toDF("id"), "id", p("b"), 10000L)
    Dedup.mergeSeenFilters(spark, p("a"), p("b"), p("m"))
    val marked = Dedup.markSeen(spark, (0L until 2000L).toDF("id"), "id", p("m"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // the union keeps BOTH inputs' no-false-negatives guarantee
    assert((0L until 600L).forall(marked(_)),
      "merged filter must flag every id either input flagged")
    val fps = (600L until 2000L).count(marked(_))
    assert(fps <= 70, s"fp count $fps way over target after merge")
    // re-merge is an idempotent overwrite (fresh version at outPath)
    Dedup.mergeSeenFilters(spark, p("a"), p("b"), p("m"))
    assert(Dedup.markSeen(spark, (0L until 600L).toDF("id"), "id", p("m"))
      .filter(!org.apache.spark.sql.functions.col("probably_seen")).isEmpty)
    // geometry mismatch fails loudly — different arrays are not
    // bit-compatible and a silent merge would corrupt the contract
    Dedup.buildSeenFilter((0L until 10L).toDF("id"), "id", p("g"), 20000L)
    intercept[IllegalArgumentException](
      Dedup.mergeSeenFilters(spark, p("a"), p("g"), p("x")))
  }

  test("hamming index federation: cross pairs from chunk state, A-wins merge") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-ham-merge")
    def p(n: String) = base.resolve(n).toString
    val a = Seq((1L, 0L), (2L, -1L)).toDF("doc_id", "sig")
    val b = Seq((10L, 1L), (11L, 0x0F0F0F0F0F0F0F0FL)).toDF("doc_id", "sig")
    Dedup.buildHammingIndex(a, p("a"))
    Dedup.buildHammingIndex(b, p("b"))
    val pairs = Dedup.crossIndexHammingPairs(spark, p("a"), p("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 10L, 1)))
    val dropped = Dedup.mergeHammingIndexes(spark, p("a"), p("b"), p("m"))
    assert(dropped == 1L)
    val members = spark.read.parquet(p("m") + "/v1/chunks")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(members == Set(1L, 2L, 11L))
    // the merged index serves searches: a near-copy of an A doc flags,
    // a far signature passes
    val kept = Dedup.hammingAgainstIndex(
        Seq((50L, 2L), (51L, 0x3333333333333333L)).toDF("doc_id", "sig"),
        p("m"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(51L))
    // guards: shared ids (pairs AND merge), mismatched maxHamming,
    // self-merge
    Dedup.buildHammingIndex(Seq((1L, 7L)).toDF("doc_id", "sig"), p("shared"))
    intercept[IllegalArgumentException](
      Dedup.crossIndexHammingPairs(spark, p("a"), p("shared")).count())
    intercept[IllegalArgumentException](
      Dedup.mergeHammingIndexes(spark, p("a"), p("shared"), p("x")))
    Dedup.buildHammingIndex(Seq((90L, 9L)).toDF("doc_id", "sig"), p("h5"),
      maxHamming = 5)
    intercept[IllegalArgumentException](
      Dedup.crossIndexHammingPairs(spark, p("a"), p("h5")))
    intercept[IllegalArgumentException](
      Dedup.mergeHammingIndexes(spark, p("a"), p("h5"), p("y"),
        dedupAcross = false))
    intercept[IllegalArgumentException](
      Dedup.mergeHammingIndexes(spark, p("a"), p("b"), p("a")))
  }

  test("Dedup seen-filter sharded: no false negatives across shard boundaries") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-seen-shard")
      .resolve("ids").toString
    val single = java.nio.file.Files.createTempDirectory("graft-seen-shard1")
      .resolve("ids").toString
    Dedup.buildSeenFilter((0L until 500L).toDF("id"), "id", path,
      expectedItems = 10000L, shards = 8)
    Dedup.appendToSeenFilter((500L until 600L).toDF("id"), "id", path)
    Dedup.buildSeenFilter((0L until 500L).toDF("id"), "id", single, 10000L)
    Dedup.appendToSeenFilter((500L until 600L).toDF("id"), "id", single)
    val probe = (0L until 2000L).toDF("id")
    val sharded = Dedup.markSeen(spark, probe, "id", path)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val plain = Dedup.markSeen(spark, probe, "id", single)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    // ids span all 8 shards; every one must flag in BOTH layouts —
    // the single-filter equivalence the sharding claims
    assert((0L until 600L).forall(id => sharded(id) && plain(id)),
      "seen ids must flag in sharded and single layouts alike")
    val fps = (600L until 2000L).count(sharded(_))
    assert(fps <= 70, s"sharded fp count $fps way over the 1% target")
  }

  test("Dedup seen-filter stats: geometry, saturation, cardinality estimate") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-seen-stats")
      .resolve("ids").toString
    Dedup.buildSeenFilter((0L until 2000L).toDF("id"), "id", path,
      expectedItems = 10000L, shards = 4)
    val s1 = Dedup.seenFilterStats(spark, path).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(s1.size == 4, "one row per shard")
    // the sketch's BitArray word-aligns: bitSize() = ceil(optimal/64)*64
    val expBits = (org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(2500L, 0.01) + 63) / 64 * 64
    s1.values.foreach { r =>
      assert(r.getString(1).matches("v\\d+"), "version column is the pointer")
      assert(r.getInt(2) == 4 && r.getLong(3) == 10000L && r.getDouble(4) == 0.01)
      assert(r.getLong(5) == expBits, "per-shard bits sized for items/shards")
      assert(r.getLong(6) > 0L, "xxhash routing must populate every shard")
      assert(r.getDouble(8) < 0.01, "under-filled filter stays under target fpp")
    }
    val est1 = s1.values.map(_.getLong(9)).sum
    assert(math.abs(est1 - 2000L) <= 200L,
      s"Swamidass-Baldi estimate $est1 should land within 10% of 2000")
    // re-appending the SAME ids sets the same bits: estimate unchanged,
    // version advanced — distinct-insert semantics a row counter lacks
    Dedup.appendToSeenFilter((0L until 2000L).toDF("id"), "id", path)
    val s2 = Dedup.seenFilterStats(spark, path).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert(s2.values.map(_.getLong(9)).sum == est1)
    assert((0 until 4).forall(s => s2(s).getLong(6) == s1(s).getLong(6)))
    assert(s2(0).getString(1) != s1(0).getString(1), "append commits a version")
    // new ids only grow set bits; the estimate tracks the union count
    Dedup.appendToSeenFilter((2000L until 3000L).toDF("id"), "id", path)
    val s3 = Dedup.seenFilterStats(spark, path).collect()
      .map(r => r.getInt(0) -> r).toMap
    assert((0 until 4).forall(s => s3(s).getLong(6) >= s2(s).getLong(6)))
    val est3 = s3.values.map(_.getLong(9)).sum
    assert(math.abs(est3 - 3000L) <= 300L, s"estimate $est3 vs 3000 true ids")
    // an empty build reports zeros, not NaN/negatives
    val empty = java.nio.file.Files.createTempDirectory("graft-seen-stats0")
      .resolve("ids").toString
    Dedup.buildSeenFilter(spark.range(0).toDF("id"), "id", empty, 1000L)
    val e = Dedup.seenFilterStats(spark, empty).head()
    assert(e.getLong(6) == 0L && e.getDouble(7) == 0.0 &&
      e.getDouble(8) == 0.0 && e.getLong(9) == 0L)
  }

  test("Dedup seen-filter: buildOrAppend creates then merges under one lock") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-seen-boa")
      .resolve("ids").toString
    Dedup.buildOrAppendSeenFilter((0L until 50L).toDF("id"), "id", path, 10000L)
    Dedup.buildOrAppendSeenFilter((50L until 100L).toDF("id"), "id", path, 10000L)
    val marked = Dedup.markSeen(spark, (0L until 100L).toDF("id"), "id", path)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert((0L until 100L).forall(marked(_)),
      "second call must APPEND, not rebuild over the first batch")
  }

  test("Similarity.semanticDecontaminate drops benchmark-similar rows only") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),        // exact copy of bench 10
      (2L, Array(0.95f, 0.05f)),      // paraphrase-close to bench 10
      (3L, Array(0.0f, 1.0f)),        // orthogonal — survives
      (4L, Array(0.0f, 0.0f)),        // zero norm — cos 0, survives
      (5L, null.asInstanceOf[Array[Float]])) // no evidence — survives
      .toDF("vec_id", "embedding")
    val bench = Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val prof = graft.api.Similarity
      .semanticContaminationProfile(corpus, bench)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(prof(1L) == (10L, 1.0))
    assert(prof(2L)._2 > 0.9 && prof(2L)._2 < 1.0)
    assert(prof(4L)._2 == 0.0, "zero-norm scores 0 by contract")
    assert(!prof.contains(5L), "null embeddings carry no evidence")
    val surv = graft.api.Similarity
      .semanticDecontaminate(corpus, bench, threshold = 0.9)
      .select("vec_id").as[Long].collect().sorted
    assert(surv.toSeq == Seq(3L, 4L, 5L),
      s"exact + near copies of benchmark items must drop, got ${surv.toSeq}")
    // empty benchmark: nothing can be contaminated
    val none = graft.api.Similarity.semanticDecontaminate(
      corpus, bench.filter($"vec_id" < 0), threshold = 0.9).count()
    assert(none == 5L)
  }

  test("Similarity.semanticContaminationWithIndex matches broadcast form at full probe") {
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.embeddings(spark, TestSpark.sf)
    val bench = emb.filter(col("vec_id") % 100 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-semdecon-idx").toString
    Similarity.buildIvfIndex(emb, dir, cells = 4)
    def triples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = triples(Similarity.semanticContaminationProfile(emb, bench)
      .filter(col("max_bench_cos") >= 0.45))
    assert(exact.nonEmpty, "fixture must contain contaminated rows")
    // probing EVERY cell makes the index form exhaustive: identical
    // flagged set, same argmax, same rounded cosines
    val full = triples(Similarity.semanticContaminationWithIndex(
      spark, dir, bench, threshold = 0.45, nprobe = 4))
    assert(full == exact, s"full-probe index form must equal broadcast form")
    // nprobe=1 may MISS (unprobed cells) but never invent a flag
    val one = Similarity.semanticContaminationWithIndex(
      spark, dir, bench, threshold = 0.45, nprobe = 1)
    assert(triples(one).map(_._1).subsetOf(exact.map(_._1)))
    // the drop variant: survivors = corpus minus the flagged ids
    val dropped = Similarity.semanticDecontaminateWithIndex(
      spark, dir, emb, bench, threshold = 0.45, nprobe = 4).count()
    assert(dropped == emb.count() - exact.size)
  }

  test("Dedup.keepOne converges in O(log diameter) rounds on a path graph") {
    import spark.implicits._
    // 1000-node path: plain min-label propagation needs ~999 rounds;
    // pointer doubling must land well under log2(1000)+c — maxIter=16
    // fails loudly if the doubling regresses
    val pairs = (0L until 999L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.keepOne(pairs, maxIter = 16).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 1000)
    assert(labels.values.forall(_ == 0L), "every node labels to the path min")
  }

  test("Profiling quantile sketches: KLL merge across partitions, proven rank error") {
    import spark.implicits._
    // values == ranks: 10k uniform values over 4 partitions, so the
    // quantile estimate error IS the rank error, directly checkable
    val df = (0 until 10000).map(i => (s"p${i % 4}", i.toDouble)).toDF("part", "v")
    val sk = graft.api.Profiling.quantileSketches(df, Seq("part"), "v")
    assert(sk.count() == 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-kll-spec").toString
    sk.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    val errBound = back.limit(1).collect()
      .map(r => graft.functions.KllAggregators.rankError(
        r.getAs[Array[Byte]]("sketch"))).head
    assert(errBound > 0 && errBound < 0.05, s"k=200 rank error ~1.65%: $errBound")
    val g = graft.api.Profiling.estimateQuantiles(
      back, Seq.empty, Seq(0.1, 0.5, 0.99)).collect()(0)
    val tol = 2 * errBound * 10000
    assert(math.abs(g.getDouble(0) - 1000.0) <= tol, s"p10 ${g.getDouble(0)}")
    assert(math.abs(g.getDouble(1) - 5000.0) <= tol, s"p50 ${g.getDouble(1)}")
    assert(math.abs(g.getDouble(2) - 9900.0) <= tol, s"p99 ${g.getDouble(2)}")
    // per-partition grouping keeps the group columns + q_ columns
    val per = graft.api.Profiling.estimateQuantiles(back, Seq("part"), Seq(0.5))
    assert(per.columns.toSeq == Seq("part", "q_0_5000"))
    assert(per.count() == 4)
    // each partition holds i % 4 == j values: medians differ per group
    val meds = per.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(meds.keySet == Set("p0", "p1", "p2", "p3"))
    intercept[IllegalArgumentException](
      graft.api.Profiling.estimateQuantiles(back, Seq.empty, Seq(1.5)))
    // null values skip (the HLL twin's semantics) instead of aborting
    // the typed aggregator on a non-nullable primitive input
    val withNulls = Seq(("a", Some(1.0)), ("a", None), ("a", Some(3.0)))
      .toDF("part", "v")
    val nsk = graft.api.Profiling.quantileSketches(withNulls, Seq("part"), "v")
    val med = graft.api.Profiling.estimateQuantiles(nsk, Seq("part"), Seq(0.5))
      .collect()(0).getDouble(1)
    assert(med == 1.0 || med == 3.0, s"median over {1,3}: $med")
  }

  test("Profiling.estimateOverlap: inclusion-exclusion over sketches, coupon-exact") {
    import spark.implicits._
    // A = 0..99, B = 60..139: true overlap 40, union 140
    val a = (0L until 100L).map(("a", _)).toDF("part", "m")
    val b = (60L until 140L).map(("b", _)).toDF("part", "m")
    val sa = graft.api.Profiling.cardinalitySketches(a, Seq("part"), "m")
    val sb = graft.api.Profiling.cardinalitySketches(b, Seq("part"), "m")
    val r = graft.api.Profiling.estimateOverlap(sa, sb).collect()(0)
    assert(r.getAs[Long]("est_a") == 100L && r.getAs[Long]("est_b") == 80L)
    assert(r.getAs[Long]("est_union") == 140L)
    assert(r.getAs[Long]("est_overlap") == 40L)
    assert(r.getAs[Double]("containment_a") == 0.4)
    // disjoint corpora: overlap clamps at 0, never negative
    val c = (1000L until 1100L).map(("c", _)).toDF("part", "m")
    val sc = graft.api.Profiling.cardinalitySketches(c, Seq("part"), "m")
    val d = graft.api.Profiling.estimateOverlap(sa, sc).collect()(0)
    assert(d.getAs[Long]("est_overlap") == 0L)
  }

  test("Profiling.funnel: strict in-order semantics, exact micro gaps") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // user 1 completes A→B in order; the B BEFORE its A must not count
      (1L, t("2024-01-01 00:00:05"), "B"),
      (1L, t("2024-01-01 00:00:10"), "A"),
      (1L, t("2024-01-01 00:00:12"), "B"),
      // user 2 has B only before A — reaches step A, never step B
      (2L, t("2024-01-01 00:00:01"), "B"),
      (2L, t("2024-01-01 00:00:02"), "A"),
      // user 3 never does A — in no step (B alone can't start the funnel)
      (3L, t("2024-01-01 00:00:03"), "B")
    ).toDF("uid", "when", "kind")
    val out = graft.api.Profiling.funnel(ev, "uid", "when", "kind", Seq("A", "B"))
      .collect().map(r => r.getInt(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out(0) == (("A", 2L, 0L, 1.0)), "users 1 and 2 did A")
    assert(out(1) == (("B", 1L, 2000000L, 0.5)),
      "only user 1 has B after A; gap is exactly 2s in micros")
    intercept[IllegalArgumentException](
      graft.api.Profiling.funnel(ev, "uid", "when", "kind", Seq("A", "A")))
  }

  test("Profiling.runChecks: one-scan suite, pass/fail mix, custom names") {
    import spark.implicits._
    val child = Seq(
      (1L, 1, Some("x"), 5.0), (1L, 2, Some("y"), 7.0),
      (2L, 1, None, 50.0),                 // null tag; v out of range
      (2L, 1, Some("x"), 3.0)              // duplicate (k, line) key
    ).toDF("k", "line", "tag", "v")
    val parent = Seq(1L, 3L).toDF("pk")    // k=2 is an orphan
    import graft.api.Profiling.Check._
    val out = graft.api.Profiling.runChecks(child, Seq(
      NotNull("tag", minRate = 0.5),
      Unique(Seq("k", "line")),
      InSet("tag", Seq("x", "y")),
      InRange("v", 0.0, 10.0),
      RowCountBetween(1L, 10L),
      ReferencedIn("k", parent, "pk")
    )).collect().map(r => (r.getString(0), r.getString(1)) ->
      (r.getDouble(2), r.getBoolean(3))).toMap
    assert(out(("not_null", "tag")) == ((0.75, true)), "3/4 non-null >= 0.5")
    assert(out(("unique", "k,line")) == ((1.0, false)), "one excess row")
    assert(out(("in_set", "tag")) == ((0.0, true)), "nulls don't violate in_set")
    assert(out(("in_range", "v")) == ((1.0, false)), "50.0 is out of range")
    assert(out(("row_count", "*")) == ((4.0, true)))
    assert(out(("referenced_in", "k")) == ((1.0, false)), "k=2 has no parent")
    intercept[IllegalArgumentException](
      graft.api.Profiling.runChecks(child, Seq.empty))
    // an unparseable non-null value is a range VIOLATION, never a
    // silent pass through a null cast
    val junk = Seq("1.5", "abc", "7").toDF("v")
    val jr = graft.api.Profiling.runChecks(junk,
      Seq(InRange("v", 0.0, 10.0))).collect()(0)
    assert(jr.getDouble(2) == 1.0 && !jr.getBoolean(3),
      "'abc' must count as out of range")
  }

  test("Joins.intervalOverlapJoin: exact pairs, multi-bucket dedupe, malformed dropped") {
    import spark.implicits._
    val left = Seq(
      (1L, 0L, 1000L),     // spans many buckets (width 10)
      (2L, 95L, 105L),     // crosses one bucket boundary
      (3L, 5000L, 5001L),  // far away — no partner
      (4L, 50L, 40L)       // malformed: end < start — dropped
    ).toDF("lid", "ls", "le")
    val right = Seq(
      (10L, 500L, 600L),   // overlaps interval 1 across 11 shared buckets
      (11L, 100L, 100L),   // point-touches 2 (and sits inside 1)
      (12L, 1000L, 1100L), // closed-interval boundary touch with 1
      (13L, 2000L, 2100L)  // no partner
    ).toDF("rid", "rs", "re")
    val pairs = graft.api.Joins
      .intervalOverlapJoin(left, right, "ls", "le", "rs", "re", bucketWidth = 10)
      .select("lid", "rid").as[(Long, Long)].collect()
    // exact pair MULTISET: a multi-bucket overlap must appear exactly once
    assert(pairs.length == pairs.toSet.size, "no duplicate pairs from shared buckets")
    assert(pairs.toSet == Set((1L, 10L), (1L, 11L), (1L, 12L), (2L, 11L)),
      s"got ${pairs.toSet}")
    intercept[IllegalArgumentException](
      graft.api.Joins.intervalOverlapJoin(left, right, "ls", "le", "rs", "re", 0))
    intercept[IllegalArgumentException](
      graft.api.Joins.intervalOverlapJoin(left, left.toDF("lid", "ls", "le"),
        "ls", "le", "ls", "le", 10))
  }

  test("TextAnalysis.temperatureFractions: alpha=1 natural, alpha<1 upweights small, cap at 1") {
    import spark.implicits._
    val df = ((1L to 90L).map(i => (i, "big")) ++ (91L to 100L).map(i => (i, "small")))
      .toDF("id", "grp")
    def shares(alpha: Double) = TextAnalysis
      .temperatureFractions(df, "grp", alpha, targetDocs = 50L)
      .collect().map(r => r.getAs[String]("grp") ->
        (r.getAs[Double]("temp_share"), r.getAs[Double]("keep_fraction"))).toMap

    val natural = shares(1.0)
    assert(math.abs(natural("big")._1 - 0.9) < 1e-9)
    assert(math.abs(natural("small")._1 - 0.1) < 1e-9)

    val tempered = shares(0.5)
    assert(tempered("small")._1 > 0.1 && tempered("big")._1 < 0.9,
      "alpha < 1 shifts share from the large stratum to the small one")
    // upweighting a 10-doc stratum toward a 50-doc target caps at 1
    val aggressive = TextAnalysis
      .temperatureFractions(df, "grp", 0.1, targetDocs = 90L)
      .collect().map(r => r.getAs[String]("grp") -> r.getAs[Double]("keep_fraction")).toMap
    assert(aggressive("small") == 1.0, "keep_fraction never exceeds 1")

    // the sample is a pure function of its inputs: same call, same docs
    val k1 = TextAnalysis.temperatureSample(df, "grp", "id", 0.5, 50L)
      .select("id").as[Long].collect().toSet
    val k2 = TextAnalysis.temperatureSample(df, "grp", "id", 0.5, 50L)
      .select("id").as[Long].collect().toSet
    assert(k1 == k2 && k1.nonEmpty)
    intercept[IllegalArgumentException](
      TextAnalysis.temperatureFractions(df, "grp", 0.0, 50L))
  }

  test("Dedup.decontaminateByFraction: strict bar, exact-50% survives, 0/0 survives") {
    import spark.implicits._
    // shingle=2 word bigrams: doc 1 has 4 distinct, exactly 2 in bench
    // (50% — NOT over the bar); doc 2 fully leaked; doc 3 is shorter
    // than the shingle width (hashes as ONE whole-text shingle, not in
    // bench); doc 4 untouched
    val corpus = Seq(
      (1L, "aa bb cc dd zz"),   // shingles: aa bb, bb cc, cc dd, dd zz
      (2L, "qq rr ss"),
      (3L, "single"),
      (4L, "xx yy ww vv")).toDF("id", "body")
    val bench = Seq(
      Tuple1("aa bb cc"),        // covers 'aa bb' and 'bb cc'
      Tuple1("qq rr ss extra")).toDF("body")
    val prof = Dedup.contaminationFractionProfile(corpus, bench,
        idCol = "id", textCol = "body", shingle = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    assert(prof(1L) == ((4L, 2L)))
    assert(prof(2L) == ((2L, 2L)))
    assert(prof(3L) == ((1L, 0L)),
      "a sub-width doc hashes as one whole-text shingle")
    assert(prof(4L) == ((3L, 0L)))

    val kept = Dedup.decontaminateByFraction(corpus, bench, idCol = "id",
        textCol = "body", shingle = 2, maxOverlapPct = 50)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L),
      "exactly-50% survives the STRICT bar; full leak drops")
  }

  test("TextAnalysis.dupNgramCoverage: interval union, overlap never double-counts") {
    import spark.implicits._
    val docs = Seq(
      // phrase at starts 0 and 6: union = [0,5) u [6,11) = 10 of 12
      (1L, "alpha beta gamma delta epsilon filler alpha beta gamma delta epsilon end"),
      // all 8 tokens identical: starts 0..3 chain with gap 1 -> 5+1+1+1 = 8
      (2L, "loop loop loop loop loop loop loop loop"),
      (3L, "all tokens here are fully distinct words"),
      (4L, "short doc")).toDF("k", "body")
    val out = TextAnalysis.dupNgramCoverage(docs, idCol = "k", textCol = "body", n = 5)
      .collect().map(r => r.getAs[Long]("k") -> r).toMap
    assert(out(1L).getAs[Long]("covered_tokens") == 10L)
    assert(!out(1L).getAs[Boolean]("ok_dup_ngrams"), "10/12 is over 15%")
    assert(out(2L).getAs[Long]("covered_tokens") == 8L, "full coverage via chained overlaps")
    assert(out(3L).getAs[Long]("covered_tokens") == 0L)
    assert(out(3L).getAs[Boolean]("ok_dup_ngrams"))
    assert(out(4L).getAs[Long]("covered_tokens") == 0L, "docs shorter than n carry no grams")
    assert(out(4L).getAs[Boolean]("ok_dup_ngrams"))
  }

  test("TextAnalysis.interleaveByWeight: WFQ positions, prefix mixture, unweighted strata dropped") {
    import spark.implicits._
    val df = (1L to 40L).map(i => (i, if (i <= 20) "a" else if (i <= 30) "b" else "x"))
      .toDF("id", "grp")
    val out = TextAnalysis.interleaveByWeight(df, "grp", "id",
      Map("a" -> 2.0, "b" -> 1.0)).collect()
    // stratum x has no weight -> dropped, loudly absent
    assert(out.length == 30 && !out.exists(_.getAs[String]("stratum") == "x"))
    // WFQ finish times: a's rn-th row at (rn-.5)/2, b's at (rn-.5)/1
    val byId = out.map(r => r.getAs[Long]("id") -> r.getAs[Double]("position")).toMap
    assert(byId(1L) == 0.25 && byId(2L) == 0.75)     // a: rn 1, 2
    assert(byId(21L) == 0.5 && byId(22L) == 1.5)     // b: rn 1, 2
    // every prefix of the position-sorted sequence holds the 2:1 mix
    // within one row per stratum
    val seq = out.sortBy(r => (r.getAs[Double]("position"), r.getAs[Long]("id")))
      .map(_.getAs[String]("stratum"))
    (1 to seq.length).foreach { n =>
      val a = seq.take(n).count(_ == "a").toDouble
      assert(math.abs(a - n * 2.0 / 3.0) <= 1.0, s"prefix $n: a=$a")
    }
    // deterministic: second run identical
    val again = TextAnalysis.interleaveByWeight(df, "grp", "id",
      Map("a" -> 2.0, "b" -> 1.0)).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("position")).toMap
    assert(again == byId)
  }

  test("native hashed-gram features are bit-identical to the HOF formulation") {
    // the DSIR feature contract: lowercase, ws-tokenize, unigrams then
    // bigrams, each as md5's first 8 hex chars. Edge cases: leading/
    // trailing/multi whitespace (split keeps empties that must drop),
    // tabs/newlines, single token (no bigrams), empty, whitespace-only,
    // null, Unicode case folding (İ, ß, Σ word-final), repeated grams
    val texts = Seq(
      "The Quick BROWN fox", "one", "", "   ", "  padded   both ends  ",
      "tab\tand\nnewline mix", "Σ ΣΟΦΟΣ İstanbul STRASSE ß",
      "dup dup dup", "a b a b a", null).toDF("t")
    val both = texts.select(
      graft.api.TextAnalysis.hashedNgramFeatures(col("t")).as("native"),
      graft.api.TextAnalysis.hashedNgramFeaturesHof(col("t")).as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0))
        assert(r.getSeq[String](0).toSeq == r.getSeq[String](1).toSeq,
          s"native ${r.getSeq[String](0)} != hof ${r.getSeq[String](1)}")
    }
    // and on real fixture text, end to end
    val docs = graft.core.Tables.documents(spark, TestSpark.sf).limit(200)
    val diff = docs.select(
      graft.api.TextAnalysis.hashedNgramFeatures(col("text")).as("a"),
      graft.api.TextAnalysis.hashedNgramFeaturesHof(col("text")).as("b"))
      .filter(not(col("a") === col("b")))
    assert(diff.isEmpty)
  }

  test("hashed-gram features: seeded random-unicode fuzz parity with the HOF form") {
    // 500 deterministic strings over a unicode-rich alphabet (ASCII,
    // case-mapping specials, combining marks, CJK, surrogate-pair
    // emoji, every whitespace class split() treats as \s) — the edge
    // surface a hand-picked list can miss
    val alphabet = ("abcXYZ09 \t\n\f\r" +
      "İıßΣσς́éK" + "汉字日本語한국" + "😀🌉").toCharArray
    val rnd = new scala.util.Random(20260815L)
    val texts = (1 to 500).map { _ =>
      val n = rnd.nextInt(40)
      Tuple1(String.valueOf(Array.fill(n)(alphabet(rnd.nextInt(alphabet.length)))))
    }
    val df = texts.toDF("t")
    val bad = df.select(
        graft.api.TextAnalysis.hashedNgramFeatures(col("t")).as("a"),
        graft.api.TextAnalysis.hashedNgramFeaturesHof(col("t")).as("b"),
        col("t"))
      .filter(not(col("a") === col("b")))
      .collect()
    assert(bad.isEmpty, s"native/HOF divergence on: ${bad.take(3).mkString("; ")}")
  }
}
