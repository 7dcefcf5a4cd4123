package graft

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Dedup, Similarity, VersionedIndex}

/** The one versioned layout of every persisted store: a fresh build is
  * `v1` holding its `_committed` marker, and a store in the old
  * unversioned layout fails loudly, untouched, on every path. */
class VersionedIndexSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def words(tag: String): String =
    (1 to 12).map(i => s"$tag$i").mkString(" ")

  private def docs = Seq(1L -> words("a"), 2L -> words("b")).toDF("doc_id", "text")

  /** Entries of a directory, checksum files aside. */
  private def ls(dir: String): Set[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.map(_.getName)
      .filterNot(_.startsWith(".")).toSet

  test("a fresh build of each of the seven stores is v1 alone, committed") {
    val base = Files.createTempDirectory("graft-v1-layout")
    def p(n: String) = base.resolve(n).toString
    val emb = graft.core.Tables.embeddings(spark, sf)
    Dedup.buildNearDupIndex(docs, p("neardup"))
    Dedup.buildHammingIndex(Seq(1L -> 0L, 2L -> -1L).toDF("doc_id", "sig"), p("hamming"))
    Dedup.buildContainmentIndex(docs, p("containment"))
    Similarity.buildIvfIndex(emb, p("ivf"))
    Similarity.buildIvfPqIndex(emb, p("ivfpq"), m = 8, ksub = 8)
    Dedup.buildSeenFilter(docs, "doc_id", p("seen"), expectedItems = 1000L)
    Similarity.savePcaWhitening(spark, Similarity.fitPcaWhitening(emb, components = 2), p("pca"))
    for (store <- Seq("neardup", "hamming", "containment", "ivf", "ivfpq", "seen", "pca")) {
      assert(ls(p(store)) == Set("v1"), store)
      assert(new File(p(store), "v1/_committed").isFile, store)
      assert(VersionedIndex.current(spark, p(store)) == Some("v1"), store)
    }
  }

  test("a store in the old unversioned layout fails loudly and stays untouched") {
    val base = Files.createTempDirectory("graft-old-layout")
    def p(n: String) = base.resolve(n).toString
    // a `_current` pointer beside v1: the old layout after a rewrite
    Dedup.buildNearDupIndex(docs, p("pointer"))
    Files.write(base.resolve("pointer/_current"), "v1".getBytes("UTF-8"))
    // tables at the root: the old layout of a fresh build
    Dedup.buildNearDupIndex(docs, p("root"))
    ls(p("root/v1")).filter(_ != "_committed").foreach(t =>
      Files.move(base.resolve(s"root/v1/$t"), base.resolve(s"root/$t")))
    IngestProbes.rmrfQuiet(new File(p("root/v1")))
    // a single-file seen filter
    Files.write(base.resolve("seen"), Array[Byte](1, 2, 3))
    def snapshot(): Map[String, Seq[Byte]] = {
      val all = Files.walk(base)
      try all.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]).map(f =>
        base.relativize(f).toString ->
          (if (Files.isDirectory(f)) Seq.empty[Byte] else Files.readAllBytes(f).toSeq)).toMap
      finally all.close()
    }
    val before = snapshot()
    val fresh = Seq(100L -> words("a")).toDF("doc_id", "text")
    def loud(store: String)(op: => Any): Unit = {
      val e = intercept[IllegalStateException](op)
      assert(e.getMessage.contains("old unversioned layout") &&
        e.getMessage.contains("delete it and rebuild"), s"$store: ${e.getMessage}")
    }
    for (store <- Seq("pointer", "root", "seen")) {
      loud(store)(VersionedIndex.resolveRoot(spark, p(store)))
      loud(store)(
        if (store == "seen") Dedup.markSeen(spark, fresh, "doc_id", p(store)).count()
        else Dedup.nearDupAgainstIndex(fresh, p(store)).count())
      loud(store)(Dedup.buildOrAppendSeenFilter(fresh, "doc_id", p(store)))
    }
    assert(snapshot() == before, "no old-layout store may be overwritten")
  }
}
