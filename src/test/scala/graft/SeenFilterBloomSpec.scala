package graft

import graft.api.Dedup
import org.apache.spark.JobCounter
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import org.scalatest.funsuite.AnyFunSuite

/** The seen filter's Bloom build: Spark's own `stat.bloomFilter`, bit for
  * bit, that also accepts a frame with no rows. */
class SeenFilterBloomSpec extends AnyFunSuite {
  import TestSpark.spark

  private def bytes(bf: BloomFilter): Array[Byte] = {
    val os = new java.io.ByteArrayOutputStream()
    bf.writeTo(os)
    os.toByteArray
  }

  private val ids = spark.range(0, 5000).select(xxhash64(col("id")).as("h"))

  test("bloomOf equals stat.bloomFilter byte for byte, in no more jobs") {
    var built: BloomFilter = null
    var reference: BloomFilter = null
    val jobs = JobCounter.jobs(spark.sparkContext) {
      built = Dedup.bloomOf(ids, col("h"), 2000L, 0.01) }
    val refJobs = JobCounter.jobs(spark.sparkContext) {
      reference = ids.stat.bloomFilter(col("h"), 2000L, 0.01) }
    assert(bytes(built).sameElements(bytes(reference)))
    assert(jobs <= refJobs, s"jobs: bloomOf $jobs, stat.bloomFilter $refJobs")
  }

  test("bloomOf over no rows: an empty filter of the same geometry that merges") {
    val empty = Dedup.bloomOf(ids.filter(lit(false)), col("h"), 2000L, 0.01)
    val built = Dedup.bloomOf(ids, col("h"), 2000L, 0.01)
    assert(bytes(empty).sameElements(bytes(BloomFilter.create(2000L, 0.01))))
    assert(empty.bitSize == built.bitSize && empty.cardinality == 0)
    assert(empty.isCompatible(built))
    val hs = ids.collect().map(_.getLong(0))
    assert(!hs.exists(empty.mightContainLong))
    empty.mergeInPlace(built)
    assert(hs.forall(empty.mightContainLong))
    assert(bytes(empty).sameElements(bytes(built)))
  }

  test("past Spark's Bloom clamp: an empty filter merges with a built one, stats use the clamp") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-seen-clamp")
    def p(n: String) = base.resolve(n).toString
    try {
      // 10M expected ids at fpp 0.01 ask for more than the aggregate's
      // 4M-id, 64 Mi-bit cap
      Dedup.buildSeenFilter(spark.range(0).toDF("id"), "id", p("empty"), 10000000L)
      Dedup.buildSeenFilter(spark.range(100).toDF("id"), "id", p("built"), 10000000L)
      Dedup.mergeSeenFilters(spark, p("empty"), p("built"), p("merged"))
      assert(Dedup.markSeen(spark, spark.range(100).toDF("id"), "id", p("merged"))
        .filter(!col("probably_seen")).isEmpty)
      val est = Dedup.seenFilterStats(spark, p("built")).head().getAs[Long]("est_ids")
      assert(math.abs(est - 100L) <= 10L, s"est_ids $est for 100 ids")
    } finally graft.IngestProbes.rmrfQuiet(base.toFile)
  }
}
