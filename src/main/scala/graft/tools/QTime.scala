package graft.tools

import graft.SparkEntry

/** One-off query timer: `runMain graft.tools.QTime <sfDir> q48 q47 ...`
  * — runs each named query (after one warmup pass of the first) and
  * prints wall seconds, for A/B plan comparisons without a full bench.
  * Reps: repeat a name (`q48 q48 q48`). */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail
    val spark = graft.core.Sessions.local("graft-qtime")
    // Bench's per-query cache scope, or an A/B here measures pinned-
    // block accumulation instead of the query: without the drop, a
    // checkpoint-heavy query's reps GROW (measured 5.8 → 9.2 → 10.0 s
    // for the same q197 at ambient < 1) while Bench records its
    // steady 4.5 s
    def once(n: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count()
      val t = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      t
    }
    graft.AmbientLoad.start()
    names.headOption.foreach(once) // warmup
    names.foreach(n => println(
      f"[qtime] $n%-26s ${once(n)}%6.2f s  (amb ${graft.AmbientLoad.ambientNow()}%.2f, io10 ${graft.IoLoad.ioSome10Now()}%.1f)"))
    spark.stop()
  }
}
