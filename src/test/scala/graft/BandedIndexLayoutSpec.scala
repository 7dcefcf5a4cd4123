package graft

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Dedup

/** On-disk layout of the near-dup and hamming indexes: table and
  * partition directories, the `_current` pointer a delete introduces,
  * and every table's parquet schema (names, order, physical types,
  * repetition). Indexes written by earlier builds must stay readable,
  * so any change here is a format change. */
class BandedIndexLayoutSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def words(tag: String): String =
    (1 to 12).map(i => s"$tag$i").mkString(" ")

  /** Visible entries of a directory (no _SUCCESS, no checksums). */
  private def ls(dir: String): Set[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.map(_.getName)
      .filterNot(n => n.startsWith(".") || n == "_SUCCESS").toSet

  /** The parquet footer schema of one data file under `dir`. */
  private def footer(dir: String): String = {
    val f = Files.walk(new File(dir).toPath).iterator()
    var file: Option[java.nio.file.Path] = None
    while (file.isEmpty && f.hasNext) {
      val p = f.next()
      if (p.getFileName.toString.endsWith(".parquet")) file = Some(p)
    }
    val in = HadoopInputFile.fromPath(new Path(file.get.toString),
      spark.sparkContext.hadoopConfiguration)
    val r = ParquetFileReader.open(in)
    try r.getFooter.getFileMetaData.getSchema.toString.replaceAll("\\s+", " ").trim
    finally r.close()
  }

  private def sparkSchema(dir: String): String =
    spark.read.parquet(dir).schema.simpleString

  /** table → (partition dirs, footer schema, read schema) under `root`. */
  private def layout(root: String, tables: Set[String]): Map[String, (String, String, String)] =
    tables.map { t =>
      val dir = s"$root/$t"
      t -> (ls(dir).filter(_.contains("=")).toSeq.sortBy(p =>
          p.dropWhile(_ != '=').tail.toInt).mkString(","),
        footer(dir), sparkSchema(dir))
    }.toMap

  private def msg(fields: String*): String =
    fields.mkString("message spark_schema { ", " ", " }")
  private def parts(col: String, n: Int): String =
    (0 until n).map(i => s"$col=$i").mkString(",")
  /** A rewrite (delete, compact, merge) writes back what it read, and
    * Spark reads every parquet field as nullable: the same layout with
    * every field optional. */
  private def rewritten(l: Map[String, (String, String, String)]) =
    l.map { case (t, (p, f, r)) => t -> ((p, f.replace("required", "optional"), r)) }

  private val nearDupLayout = Map(
    "params" -> (("", msg("required int32 shingle;", "required int32 hashes;",
      "required int32 bands;"), "struct<shingle:int,hashes:int,bands:int>")),
    "sketches" -> (("", msg("required int64 doc_id;",
      "optional group sh (LIST) { repeated group list { required int64 element; } }",
      "optional int32 n;"), "struct<doc_id:bigint,sh:array<bigint>,n:int>")),
    "bands" -> ((parts("band", 16), msg("required int64 doc_id;", "required int64 bkey;"),
      "struct<doc_id:bigint,bkey:bigint,band:int>")))

  private val hammingLayout = Map(
    "params" -> (("", msg("required int32 max_hamming;"), "struct<max_hamming:int>")),
    "chunks" -> ((parts("chunk", 4), msg("required int64 doc_id;", "required int64 sig;",
      "required int64 cval;"), "struct<doc_id:bigint,sig:bigint,cval:bigint,chunk:int>")))

  /** Build, check the legacy layout, delete doc 2, check the `v1` one. */
  private def check(prefix: String, expected: Map[String, (String, String, String)])
                   (build: String => Unit)(delete: (String, Seq[Long]) => Long): Unit = {
    val dir = Files.createTempDirectory(s"graft-layout-$prefix").toString
    build(dir)
    val tables = expected.keySet
    assert(ls(dir) == tables, "a fresh build is the legacy layout")
    assert(layout(dir, tables) == expected)
    assert(delete(dir, Seq(2L)) == 1L)
    assert(ls(dir) == tables ++ Set("v1", "_current"),
      "a delete writes v1 beside the untouched legacy tables")
    assert(new String(Files.readAllBytes(new File(dir, "_current").toPath),
      "UTF-8") == "v1")
    assert(ls(s"$dir/v1") == tables)
    assert(layout(s"$dir/v1", tables) == rewritten(expected))
    assert(spark.read.parquet(s"$dir/v1/${tables.filter(_ != "params").head}")
      .select("doc_id").distinct().as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("near-dup index layout: fresh build, then versioned by a delete") {
    check("nd", nearDupLayout)(dir => Dedup.buildNearDupIndex(
      Seq(1L -> words("a"), 2L -> words("b"), 3L -> words("c"))
        .toDF("doc_id", "text"), dir))(
      (dir, ids) => Dedup.deleteFromNearDupIndex(spark, dir, ids.toDF("doc_id")))
  }

  test("hamming index layout: fresh build, then versioned by a delete") {
    check("ham", hammingLayout)(dir => Dedup.buildHammingIndex(
      Seq(1L -> 0L, 2L -> -1L, 3L -> 0x0F0F0F0F0F0F0F0FL).toDF("doc_id", "sig"), dir))(
      (dir, ids) => Dedup.deleteFromHammingIndex(spark, dir, ids.toDF("doc_id")))
  }
}
