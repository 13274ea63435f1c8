package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one precheck mechanism behind every sizing and budget guard of
  * the [[Dedup]] and [[Similarity]] verbs.
  *
  * Contract:
  *
  *  - MODES. Each guard is governed by one session conf holding
  *    `enforce` (the default), `warn` or `off`. The value is trimmed
  *    and lowercased, so `'OFF'` and `' Warn '` select their modes; any
  *    other token fails naming the key and the accepted set. [[run]]
  *    parses the mode of every check it is handed, so a typo'd conf
  *    fails on the first call, not on the first trip.
  *  - LAZY ESTIMATES. A check's estimate is passed by name and is
  *    evaluated only when its guard is not `off`: an `off` guard builds
  *    no frame, fills no barrier and runs no job.
  *  - ONE FUSED JOB PER CALL. The frame estimates of the enabled checks
  *    handed to one [[run]] — each a single-row, single-DOUBLE-column
  *    frame — are evaluated together in ONE Spark job (a crossJoin of
  *    the scalar aggregates). Each check is judged against its own
  *    estimate, never a neighbour's. Barriers built while constructing
  *    the estimates are released when that job returns. A call with no
  *    enabled frame check launches no job.
  *  - WARN-OR-THROW. After the fused job the enabled checks are judged
  *    in the order given (arithmetic checks evaluate at their turn). A
  *    tripped check throws an IllegalArgumentException carrying its
  *    message under `enforce`, and logs the same message under `warn`.
  */
private[graft] object Guard extends org.apache.spark.internal.Logging {

  /** One precheck: the conf key holding its mode, an optional frame
    * estimate, and the verdict on the estimate — Some(message) when
    * tripped. */
  final class Check private[Guard] (val key: String,
      private[Guard] val frame: Option[() => DataFrame],
      private[Guard] val verdict: (SparkSession, Double) => Option[String])

  /** A normalized mode conf: trimmed, lowercased, and one of `allowed`. */
  private def confMode(spark: SparkSession, key: String, default: String,
      allowed: Seq[String]): String = {
    val mode = spark.conf.get(key, default).trim.toLowerCase
    require(allowed.contains(mode),
      s"$key must be ${allowed.mkString("|")}, got '$mode'")
    mode
  }

  /** The `enforce|warn|off` mode of the guard at `key`. */
  def mode(spark: SparkSession, key: String): String =
    confMode(spark, key, "enforce", Seq("enforce", "warn", "off"))

  /** Whether the guard at `key` runs at all (its mode is not `off`). */
  def enabled(spark: SparkSession, key: String): Boolean =
    mode(spark, key) != "off"

  /** An `on|off` toggle conf (default `on`), normalized like a mode. */
  def on(spark: SparkSession, key: String): Boolean =
    confMode(spark, key, "on", Seq("on", "off")) == "on"

  /** An arithmetic check: `trip` runs only when the guard is enabled and
    * returns the failure message when the check trips. */
  def check(key: String)(trip: => Option[String]): Check =
    new Check(key, None, (_, _) => trip)

  /** A frame-estimated budget check: trips when the estimate exceeds
    * the long budget read from `maxKey` (`default` when unset). */
  def budget(key: String, maxKey: String, default: Long)(
      estimate: => DataFrame)(message: (Double, Long) => String): Check =
    new Check(key, Some(() => estimate), { (spark, est) =>
      val budget = spark.conf.get(maxKey, default.toString).toLong
      if (est > budget) Some(message(est, budget)) else None
    })

  /** Run one arithmetic check. */
  def apply(spark: SparkSession, key: String)(trip: => Option[String]): Unit =
    run(spark, check(key)(trip))

  /** Run the prechecks of one verb call, per the contract above. */
  def run(spark: SparkSession, checks: Check*): Unit = {
    val live = checks.map(c => (c, mode(spark, c.key))).filter(_._2 != "off")
    val ests = Barrier.scoped(scalarsOf(live.flatMap(_._1.frame).map(_())))
      .iterator
    for ((c, m) <- live) {
      val est = if (c.frame.isDefined) ests.next() else Double.NaN
      c.verdict(spark, est).foreach { msg =>
        if (m == "warn") logWarning(msg)
        else throw new IllegalArgumentException(msg)
      }
    }
  }

  /** Evaluate single-row single-DOUBLE-column frames in one job. */
  private def scalarsOf(frames: Seq[DataFrame]): Seq[Double] =
    if (frames.isEmpty) Seq.empty
    else {
      val row = frames.reduce(_.crossJoin(_)).head()
      frames.indices.map(row.getDouble)
    }
}
