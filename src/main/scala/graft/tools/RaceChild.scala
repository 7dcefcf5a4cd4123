package graft.tools

import org.apache.spark.sql.functions._

/** The second OS PROCESS of the cross-process race soak (VERDICT r13
  * #4): the staged-publish commit protocol and the seen-filter CAS
  * were spec-proven against a SIMULATED racer inside one JVM only —
  * this main is a real second JVM racing the smoke's parent process
  * on the same table / index paths, so the on-disk protocols (marker
  * files, `_lock` exclusive-create, the based-on version check) are
  * exercised across genuine process boundaries.
  *
  * Subcommands (driven by [[graft.ScaleSmoke]], rendezvous via files):
  *  - `race-commit <table> <firstBatch> <nBatches> <rowsPerBatch>` —
  *    commit `nBatches` staged-publish batches to `table` while the
  *    parent commits its own disjoint batch-id range concurrently;
  *    prints `CHILD_COMMITTED=<rows>`.
  *  - `race-append <filterPath> <rvDir> <idStart> <idCount>` — the
  *    deterministic conflicting pair: read the filter state (based-on
  *    version), signal `<rv>/child_read`, WAIT for `<rv>/go` (the
  *    parent appends in between, committing a new version), then try to
  *    commit the stale state — the check MUST fail loudly
  *    (`CONFLICT_LOUD` printed on IllegalStateException), after which
  *    the child retries through the public append on a fresh read
  *    (`RETRY_OK`). Exactly one racer of the conflicting pair fails,
  *    and its retry loses no ids.
  */
object RaceChild {

  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local("graft-race-child", "8")
    // the child's OWN IO account (VERDICT r16 #4: race_soak doubled
    // with no attribution — the children's CPU counts as parent
    // own-load, but their IO was invisible): physical MB moved by this
    // process plus the box's PSI io10 at exit, printed for the parent
    // to fold into the race stage record
    val io0 = graft.IoLoad.snap()
    def printIo(): Unit = {
      val io = graft.IoLoad.stageFields("c", io0, graft.IoLoad.snap()).toMap
      println("CHILD_IO=%.1f,%.1f,%.1f".formatLocal(java.util.Locale.ROOT,
        io("c_io_rmb"), io("c_io_wmb"), graft.IoLoad.ioSome10Now()))
    }
    try args.toList match {
      case "race-commit" :: table :: first :: n :: rows :: Nil =>
        val cfg = graft.ingest.IngestConfig(
          outputPath = Some(table), parallelism = 4)
        var committed = 0L
        (0 until n.toInt).foreach { i =>
          val batchId = first.toLong + i
          val raw = spark
            .range(batchId * rows.toLong, (batchId + 1) * rows.toLong, 1,
              cfg.parallelism)
            .select(col("id").as("value"), spark_partition_id().as("__pid"))
          committed +=
            graft.ingest.Ingest.commitBatch(cfg, table, raw, batchId)
        }
        println(s"CHILD_COMMITTED=$committed")
        printIo()
      case "race-append" :: path :: rv :: idStart :: idCount :: Nil =>
        import java.nio.file.{Files, Paths}
        // 1. read the live state (this is the based-on version)
        val st = graft.api.Dedup.readSeenState(spark, path)
        // 2. rendezvous: tell the parent the stale read happened, then
        // wait for it to land its own append
        Files.createFile(Paths.get(rv, "child_read"))
        val deadline = System.currentTimeMillis() + 60000
        while (!Files.exists(Paths.get(rv, "go")) &&
               System.currentTimeMillis() < deadline) Thread.sleep(100)
        require(Files.exists(Paths.get(rv, "go")), "rendezvous timed out")
        // 3. the stale commit: MUST fail loudly, never silently win
        try {
          graft.api.Dedup.commitSeenVersion(spark, path, st)
          println("CONFLICT_SILENT_WIN") // the bug the CAS exists to stop
        } catch {
          case _: IllegalStateException => println("CONFLICT_LOUD")
        }
        // 4. the documented recovery: retry through the public append
        // (fresh read) — the child's ids must land
        import spark.implicits._
        val ids = (idStart.toLong until idStart.toLong + idCount.toLong)
          .toDF("doc_id")
        graft.api.Dedup.buildOrAppendSeenFilter(ids, "doc_id", path)
        println("RETRY_OK")
        printIo()
      case other =>
        sys.error(s"unknown RaceChild args: ${other.mkString(" ")}")
    } finally spark.stop()
  }

  /** Thrown when the second JVM cannot be LAUNCHED (ProcessBuilder
    * refused: no fork permission, missing java binary, resource
    * exhaustion) — the one failure class the race soak soft-fails on.
    * Tagged at the spawn call-site precisely so an IOException from
    * the commit protocol itself (e.g. a publish-rename failure —
    * exactly what the stage exists to catch) can never be
    * misclassified as an environment problem. */
  final class SpawnUnavailable(cause: Throwable)
    extends RuntimeException(s"cannot fork a second JVM: ${cause.getMessage}", cause)

  /** Launch a child JVM with this process's graft classes plus the
    * Spark distribution jars (the same classpath recipe whether the
    * parent runs from sbt's classes dir or a packaged jar). Returns
    * the Process; stdout is captured to `outFile`. Launch failures
    * throw [[SpawnUnavailable]]. `mainClass`/`xmx` default to the race
    * soak's; Bench's forked batch probe (VERDICT r15 #3: the in-suite
    * probe inherits a hot heap and dirty page cache from ~200 queries,
    * so its samples are systematically depressed) reuses this spawner
    * for `graft.tools.ProbeIngest` on a bigger heap. */
  def spawn(args: Seq[String], outFile: java.io.File,
            mainClass: String = "graft.tools.RaceChild",
            xmx: String = "6g"): Process = {
    def locOf(c: Class[_]): java.io.File =
      new java.io.File(c.getProtectionDomain.getCodeSource.getLocation.toURI)
    val graftCp = locOf(RaceChild.getClass).getAbsolutePath
    // the distribution's jars dir (build.sbt unmanagedBase), falling
    // back to the dir holding spark-core: under an sbt bg-job the
    // parent's code source is a per-jar wrapper layout whose parent
    // dir holds ONE jar, so deriving spark's dir from a loaded class
    // yields an incomplete classpath there
    val sparkJars = {
      val dist = new java.io.File("/opt/spark/jars")
      val dir = if (dist.isDirectory) dist
        else locOf(classOf[org.apache.spark.SparkContext]).getParentFile
      dir.getAbsolutePath + "/*"
    }
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java")
      .getAbsolutePath
    // the add-opens set Spark's own launcher passes on JDK 17
    val opens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
      "java.io", "java.net", "java.nio", "java.util",
      "java.util.concurrent", "java.util.concurrent.atomic",
      "jdk.internal.ref", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")
    val cmd = Seq(javaBin, s"-Xmx$xmx", "-XX:+IgnoreUnrecognizedVMOptions") ++
      opens ++
      Seq("-cp", s"$graftCp:$sparkJars", mainClass) ++ args
    System.err.println(s"[fork] spawning: ${cmd.mkString(" ")}")
    // stderr merged into the capture file: a child failure must leave
    // its stack trace somewhere the parent can print
    try new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(outFile)
      .start()
    catch {
      case t @ (_: java.io.IOException | _: SecurityException |
                _: UnsupportedOperationException) =>
        throw new SpawnUnavailable(t)
    }
  }
}
