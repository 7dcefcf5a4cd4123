package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{Dedup, Similarity}

/** Index integrity reports (q174): healthy stores report all-true;
  * each surgical corruption flips exactly the flag built to catch it.
  * Stores here are spec-sized, so read-collect-rewrite surgery is
  * safe. */
class IntegritySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def words(tag: String): String =
    (1 to 25).map(i => s"$tag$i").mkString(" ")

  private def report(df: org.apache.spark.sql.DataFrame): (Long, Boolean, Boolean) = {
    val r = df.collect().head
    (r.getLong(1), r.getBoolean(2), r.getBoolean(3))
  }

  test("near-dup integrity: healthy true; torn band append and orphan band flip flags") {
    val dir = Files.createTempDirectory("graft-integ-nd").toString
    val idx = s"$dir/idx"
    Dedup.buildNearDupIndex(
      Seq(1L -> words("a"), 2L -> words("b")).toDF("doc_id", "text"), idx)
    assert(report(Dedup.nearDupIndexIntegrity(spark, idx)) == (2L, true, true))
    // tear doc 2's band rows (the candidate-invisible torn append)
    val bands = spark.read.parquet(s"$idx/v1/bands")
      .filter(col("doc_id") =!= 2L).collect()
    val schema = spark.read.parquet(s"$idx/v1/bands").schema
    spark.createDataFrame(
        spark.sparkContext.parallelize(bands.toIndexedSeq), schema)
      .write.mode("overwrite").partitionBy("band").parquet(s"$idx/v1/bands")
    val (n, st, co) = report(Dedup.nearDupIndexIntegrity(spark, idx))
    assert(n == 2L && !st && !co)
  }

  test("hamming integrity: missing chunk row and double signature flip the right flags") {
    val dir = Files.createTempDirectory("graft-integ-ham").toString
    val idx = s"$dir/idx"
    Dedup.buildHammingIndex(
      Seq((1L, 7L), (2L, -1L)).toDF("doc_id", "sig"), idx)
    assert(report(Dedup.hammingIndexIntegrity(spark, idx)) == (2L, true, true))
    // drop one chunk row of doc 1: pigeonhole hole -> structure_ok false
    val rows = spark.read.parquet(s"$idx/v1/chunks")
      .filter(!(col("doc_id") === 1L && col("chunk") === 0)).collect()
    val schema = spark.read.parquet(s"$idx/v1/chunks").schema
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq), schema)
      .write.mode("overwrite").partitionBy("chunk").parquet(s"$idx/v1/chunks")
    val (_, st1, co1) = report(Dedup.hammingIndexIntegrity(spark, idx))
    assert(!st1 && co1)
    // a second signature under doc 2's id -> consistency_ok false
    Dedup.appendToHammingIndex(Seq((2L, 12345L)).toDF("doc_id", "sig"), idx)
    val (_, _, co2) = report(Dedup.hammingIndexIntegrity(spark, idx))
    assert(!co2)
  }

  test("ivf integrity: duplicate replay append and corrupted norms flip the right flags") {
    val dir = Files.createTempDirectory("graft-integ-ivf").toString
    val idx = s"$dir/idx"
    def vec(axis: Int): Array[Float] = {
      val v = new Array[Float](8); v(axis) = 2.0f; v
    }
    val emb = Seq((1L, vec(0)), (2L, vec(1))).toDF("vec_id", "embedding")
    Similarity.buildIvfIndex(emb, idx, cells = 1)
    assert(report(Similarity.ivfIndexIntegrity(spark, idx)) == (2L, true, true))
    // the at-least-once replay hazard of the blind append path
    Similarity.appendToIvfIndex(
      Seq((2L, vec(1))).toDF("vec_id", "embedding"), idx)
    val (n, st, co) = report(Similarity.ivfIndexIntegrity(spark, idx))
    assert(n == 2L && !st && co)
    // corrupt the stored norms -> consistency_ok false
    val v = spark.read.parquet(s"$idx/v1/vectors")
      .select(col("vec_id"), col("embedding"),
        (col("nrm") * 2).as("nrm"), col("cell")).collect()
    val schema = spark.read.parquet(s"$idx/v1/vectors").schema
    spark.createDataFrame(
        spark.sparkContext.parallelize(v.toIndexedSeq), schema)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$idx/v1/vectors")
    val (_, _, co2) = report(Similarity.ivfIndexIntegrity(spark, idx))
    assert(!co2)
  }

  test("ivf+pq integrity: a codes cell missing flips consistency_ok") {
    val dir = Files.createTempDirectory("graft-integ-ivfpq").toString
    val idx = s"$dir/idx"
    val r = new java.util.Random(5L)
    val emb = (1L to 12L).map(i => (i, Array.fill(8)(r.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    Similarity.buildIvfPqIndex(emb, idx, cells = 2, m = 2, ksub = 2)
    assert(report(Similarity.ivfIndexIntegrity(spark, idx)) == (12L, true, true))
    // drop every code row of one cell: its vectors lose their ADC half
    val codes = spark.read.parquet(s"$idx/v1/codes")
    val cell = codes.select(min("cell")).head().getInt(0)
    val rows = codes.filter(col("cell") =!= cell).collect()
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq), codes.schema)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$idx/v1/codes")
    val (n, st, co) = report(Similarity.ivfIndexIntegrity(spark, idx))
    assert(n == 12L && st && !co)
  }
}
