package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.api.PlanAudit

/** The materialization lifecycle: a scope releases every pin made
  * through it when its body exits, normally or by a throw, except the
  * frame the body keeps, which survives a normal exit only. */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark.spark

  private def pinned: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def idOf(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.get

  test("a normal exit releases every pin but the kept result") {
    val before = pinned
    var seen = Seq.empty[Int]
    val out = PlanAudit.scope { s =>
      val a = s.checkpoint(spark.range(10).toDF("x"))
      val b = s.checkpointHash(a.repartition(2, a("x")), 2, Seq("x"))
      seen = Seq(idOf(a), idOf(b))
      assert(seen.toSet.subsetOf(pinned))
      s.keep(s.checkpoint(b.selectExpr("x * 2 AS y")))
    }
    assert(out.count() == 10L)
    assert(pinned -- before == Set(idOf(out)), "only the kept result stays pinned")
    assert((pinned & seen.toSet).isEmpty)
    PlanAudit.release(out)
    assert((pinned -- before).isEmpty)
  }

  test("a throw releases every pin, the kept one included") {
    val before = pinned
    var seen = Seq.empty[Int]
    val boom = intercept[IllegalStateException] {
      PlanAudit.scope { s =>
        val a = s.checkpoint(spark.range(10).toDF("x"))
        val kept = s.keep(s.checkpoint(a.selectExpr("x + 1 AS y")))
        seen = Seq(idOf(a), idOf(kept))
        throw new IllegalStateException("append failed")
      }
    }
    assert(boom.getMessage == "append failed")
    assert(seen.size == 2 && (pinned -- before).isEmpty)
  }

  test("release frees a superseded iterate now, and ignores frames that are not pins") {
    val before = pinned
    PlanAudit.scope { s =>
      val base = s.checkpoint(spark.range(10).toDF("x"))
      // a frame derived from a pin is not one: releasing it must not
      // truncate the pin it reads
      s.release(base.selectExpr("x + 1 AS x"))
      assert(pinned.contains(idOf(base)))
      var cur = base
      (1 to 3).foreach { _ =>
        val next = s.checkpoint(cur.selectExpr("x + 1 AS x"))
        if (cur ne base) s.release(cur)
        cur = next
      }
      assert(pinned -- before == Set(idOf(base), idOf(cur)))
      assert(cur.agg(org.apache.spark.sql.functions.sum("x")).head().getLong(0) == 75L)
    }
    assert((pinned -- before).isEmpty)
  }

  test("keep refuses a frame that is not a live pin of its scope") {
    val before = pinned
    intercept[IllegalArgumentException] {
      PlanAudit.scope { s =>
        val a = s.checkpoint(spark.range(3).toDF("x"))
        s.keep(a.selectExpr("x"))
      }
    }
    assert((pinned -- before).isEmpty)
  }

  test("pinsDuring reports the pins made on this thread") {
    val (n, made) = PlanAudit.pinsDuring {
      PlanAudit.scope { s =>
        s.checkpoint(spark.range(5).toDF("x")).count()
      }
    }
    assert(n == 5L && made.size == 1)
    assert(!pinned.contains(made.head), "the scope released its pin")
  }
}
