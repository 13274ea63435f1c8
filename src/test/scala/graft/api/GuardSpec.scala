package graft.api

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.graft.SchedulerBackdoor
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The shared precheck mechanism: mode parsing, lazy estimates, one
  * fused estimate job per call, and each check judged against its own
  * estimate. */
class GuardSpec extends AnyFunSuite with SparkSpec {
  private val KeyA = "spark.graft.test.guard.a"
  private val KeyB = "spark.graft.test.guard.b"
  private val KeyC = "spark.graft.test.guard.c"
  private val MaxA = "spark.graft.test.guard.a.max"
  private val MaxB = "spark.graft.test.guard.b.max"

  private def withConfs[A](kvs: (String, String)*)(f: => A): A = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Spark jobs started while `body` runs, counted by a listener. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    SchedulerBackdoor.drainListeners(sc)
    sc.addSparkListener(listener)
    try { body; SchedulerBackdoor.drainListeners(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** A 1-row, 1-DOUBLE estimate frame that needs a job to evaluate: a
    * global aggregate over one partition, so no shuffle stage adds jobs
    * of its own. */
  private def est(v: Double): DataFrame =
    spark.range(0, 10, 1, 1).agg(max(lit(v)))

  test("modes are trimmed and lowercased; an unknown token fails naming the key") {
    assert(Guard.mode(spark, KeyA) == "enforce")
    withConfs(KeyA -> "OFF")(assert(Guard.mode(spark, KeyA) == "off"))
    withConfs(KeyA -> " Warn ")(assert(Guard.mode(spark, KeyA) == "warn"))
    withConfs(KeyA -> "bogus") {
      val e = intercept[IllegalArgumentException](
        Guard.run(spark, Guard.check(KeyA)(None)))
      assert(e.getMessage.contains(KeyA))
      assert(e.getMessage.contains("enforce|warn|off"))
    }
  }

  test("an off guard never evaluates its estimate") {
    var built = false
    var judged = false
    withConfs(KeyA -> "off", KeyB -> "Off") {
      val jobs = jobsOf(Guard.run(spark,
        Guard.budget(KeyA, MaxA, 0L) { built = true; est(1.0) } {
          (_, _) => "unreachable" },
        Guard.check(KeyB) { judged = true; Some("unreachable") }))
      assert(jobs == 0)
    }
    assert(!built && !judged)
  }

  test("two enabled frame estimates and an arithmetic check launch one job; all off launch none") {
    var judged = false
    def checks = Seq(
      Guard.budget(KeyA, MaxA, 100L)(est(1.0))((_, _) => "a"),
      Guard.budget(KeyB, MaxB, 100L)(est(2.0))((_, _) => "b"),
      Guard.check(KeyC) { judged = true; None })
    // broadcast off: the crossJoin of the two estimates plans as a
    // cartesian product inside the one result job, so the count is the
    // number of estimate evaluations (one per estimate would read 2)
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(jobsOf(Guard.run(spark, checks: _*)) == 1)
      assert(judged)
      withConfs(KeyA -> "off", KeyB -> "off", KeyC -> "off") {
        assert(jobsOf(Guard.run(spark, checks: _*)) == 0)
      }
    }
  }

  test("each fused guard is judged against its own estimate") {
    // A (est 50, budget 100) holds; B (est 20, budget 10) trips. Had
    // the estimates been paired by position in the wrong order, B would
    // report 50 instead.
    def checks = Seq(
      Guard.budget(KeyA, MaxA, 100L)(est(50.0))((e, b) => s"A: $e > $b"),
      Guard.budget(KeyB, MaxB, 10L)(est(20.0))((e, b) => s"B: $e > $b"))
    val e = intercept[IllegalArgumentException](Guard.run(spark, checks: _*))
    assert(e.getMessage == "B: 20.0 > 10")
    // warn logs the same message and proceeds; the budget conf is read
    withConfs(KeyB -> "warn")(Guard.run(spark, checks: _*))
    withConfs(MaxB -> "20")(Guard.run(spark, checks: _*))
  }
}
