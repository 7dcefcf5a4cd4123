package graft.ingest

import java.nio.file.Files

import graft.TestSpark
import org.apache.spark.JobCounter
import org.scalatest.funsuite.AnyFunSuite

/** The Spark jobs one commit runs. Every count a commit records — the
  * batch size, the `_pii` totals, the quarantined rows — rides a write
  * the commit runs anyway, so turning a count-producing feature on adds
  * no job of its own. */
class CommitJobsSpec extends AnyFunSuite {
  import TestSpark.spark

  /** Jobs of one fresh 2,000-row `runBatchCommitted` batch under `cfg`. */
  private def commitJobs(cfg: IngestConfig): Int = {
    val dir = Files.createTempDirectory("graft-commit-jobs").toString
    val c = cfg.copy(outputPath = Some(dir),
      quarantinePath = Some(s"$dir-quarantine").filter(_ => cfg.expectations.nonEmpty))
    var committed = -1L
    val jobs = JobCounter.jobs(spark.sparkContext) {
      committed = Ingest.runBatchCommitted(spark, c, 2000, batches = 1).rowsCommitted
    }
    assert(committed > 0)
    jobs
  }

  private val plain = IngestConfig(outputPath = None, parallelism = 2, buckets = 2)
  private val pii = Seq("ip_address")
  private val expect = plain.copy(
    expectations = Seq(graft.api.Profiling.Check.InSet("event_type", Seq("view", "click"))))

  test("PII redaction adds no job to a commit") {
    val without = commitJobs(plain)
    val withPii = commitJobs(plain.copy(redactPiiColumns = pii))
    assert(withPii <= without, s"jobs: redacted $withPii, plain $without")
  }

  test("with expectations, the quarantine and PII counts add no job") {
    val base = commitJobs(plain)
    val quarantined = commitJobs(expect)
    val both = commitJobs(expect.copy(redactPiiColumns = pii))
    // the quarantine write runs the batch's write once more; counting
    // what it wrote must not cost a read-back
    assert(quarantined <= 2 * base, s"jobs: expectations $quarantined, plain $base")
    assert(both <= quarantined, s"jobs: expectations + PII $both, expectations $quarantined")
  }
}
