package graft.perfbench

import scala.jdk.CollectionConverters._

import Tracer._

/** Turns a traced run's events into per-layer figures (medians over the
  * timed passes), a per-operation table and the span file. */
final class Layers(t: Tracer, passes: Seq[Main.PassRec], slots: Int) {

  private val jobs = t.jobs.asScala.toSeq
  private val stages = t.stages.asScala.toSeq
  private val tasks = t.tasks.asScala.toSeq.filter(_.stage != null)

  private def passOf(tag: String): Int =
    if (tag.isEmpty) -1 else tag.takeWhile(_ != '/').toInt
  private def opOf(tag: String): String = tag.dropWhile(_ != '/').drop(1)
  private def kindOf(tag: String): String = opOf(tag).takeWhile(_ != ':')

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def perPass(p: Main.PassRec): Map[String, Double] = {
    val pj = jobs.filter(j => passOf(j.tag) == p.index)
    val ps = stages.filter(s => passOf(s.tag) == p.index)
    val pt = tasks.filter(x => passOf(x.stage.tag) == p.index)
    val mrT = pt.filter(x => kindOf(x.stage.tag) == "mr")
    val tblT = pt.filter(x => kindOf(x.stage.tag) != "mr")
    val wall = p.wallS
    val covered = Tracer.unionLength(
      pj.filter(_.end >= 0).map(j => (j.start / 1e3, j.end / 1e3)))
    val taskRun = pt.map(_.runMs).sum / 1e3
    def opWall(kind: String) =
      p.ops.filter(_._1.kind == kind).map { case (_, s, e, _) => (e - s) / 1e3 }.sum
    val selfS = p.ops.map { case (op, s, e, _) =>
      val mine = pj.filter(j => opOf(j.tag) == op.name && j.end >= 0)
        .map(j => (math.max(j.start, s) / 1e3, math.min(j.end, e) / 1e3))
      (e - s) / 1e3 - Tracer.unionLength(mine)
    }.sum
    // time outside any Spark job, counted two ways: from the job spans
    // alone, and as op self time plus the time between ops; they agree
    // when every job ran inside the op that launched it
    val driverGap = math.max(0.0, wall - covered)
    val betweenOps = wall - p.ops.map { case (_, s, e, _) => (e - s) / 1e3 }.sum
    Map(
      "scheduler.jobs" -> pj.size.toDouble,
      "scheduler.stages" -> ps.size.toDouble,
      "scheduler.tasks" -> pt.size.toDouble,
      "scheduler.driver_gap_s" -> driverGap,
      "scheduler.task_run_s" -> taskRun,
      "scheduler.task_cpu_s" -> pt.map(_.cpuNs).sum / 1e9,
      "scheduler.slot_wait_s" -> pt.map(x => math.max(0L, x.launch - x.stage.submitted)).sum / 1e3,
      "scheduler.busy_ratio" -> taskRun / (wall * slots),
      "scheduler.max_task_s" -> (if (pt.isEmpty) 0.0 else pt.map(x => x.finish - x.launch).max / 1e3),
      "scheduler.failed_tasks" -> pt.count(_.failed).toDouble,
      "operators.build_s" -> opWall("build"),
      "operators.eager_jobs" -> pj.count(j => kindOf(j.tag) == "build").toDouble,
      "operators.run_s" -> opWall("run"),
      "api.barrier_fills" -> pj.count(j =>
        ps.exists(s => s.fillsBarrier && s.jobId.contains(j.id))).toDouble,
      "api.cached_peak_mb" -> p.cachedPeak / 1048576.0,
      "tables.schema_jobs" -> pj.count(Tracer.isSchemaJob).toDouble,
      "tables.bytes_read" -> tblT.map(_.inBytes).sum.toDouble,
      "tables.scan_tasks" -> tblT.count(x => x.inRecords > 0 || x.inBytes > 0).toDouble,
      "mr.map_s" -> mrT.filter(_.stage.shuffleMap).map(_.runMs).sum / 1e3,
      "mr.reduce_s" -> mrT.filterNot(_.stage.shuffleMap).map(_.runMs).sum / 1e3,
      "mr.records_in" -> mrT.map(_.inRecords).sum.toDouble,
      "mr.output_bytes" -> mrT.map(_.outBytes).sum.toDouble,
      "shuffle.write_bytes" -> pt.map(_.shWriteBytes).sum.toDouble,
      "shuffle.read_bytes" -> pt.map(_.shReadBytes).sum.toDouble,
      "shuffle.write_s" -> pt.map(_.shWriteNs).sum / 1e9,
      "shuffle.fetch_wait_s" -> pt.map(_.fetchWaitMs).sum / 1e3,
      "shuffle.spill_bytes" -> pt.map(_.spillBytes).sum.toDouble,
      "shuffle.store_read_ops" -> p.storeOps._1.toDouble,
      "shuffle.store_write_ops" -> p.storeOps._2.toDouble,
      "io.bytes_written" -> p.localBytes.toDouble,
      "io.files_written" -> p.storedFiles.toDouble,
      "io.write_ops" -> p.localWriteOps.toDouble,
      "jvm.gc_s" -> p.gcS,
      "trace.pass_s" -> wall,
      "trace.op_self_s" -> selfS,
      "trace.reconcile_err" -> math.abs(selfS + betweenOps - driverGap) / wall,
      "trace.delay_factor" -> (if (pt.map(_.cpuNs).sum > 0)
        taskRun / (pt.map(_.cpuNs).sum / 1e9) else 0.0))
  }

  lazy val perLayer: Map[String, Double] = {
    val rows = passes.filter(_.ok).map(perPass)
    rows.headOption.map(_.keys).getOrElse(Nil).map(k => k -> median(rows.map(_(k)))).toMap
  }

  /** Per operation: median wall, jobs and self time over the timed
    * passes, plus the job count of every pass. */
  lazy val opTable: Seq[Map[String, Any]] = {
    val names = passes.headOption.map(_.ops.map(_._1.name)).getOrElse(Nil)
    names.map { name =>
      val rows = passes.filter(_.ok).map { p =>
        val (_, s, e, _) = p.ops.find(_._1.name == name).get
        val mine = jobs.filter(j => passOf(j.tag) == p.index && opOf(j.tag) == name)
        val cov = Tracer.unionLength(mine.filter(_.end >= 0)
          .map(j => (math.max(j.start, s) / 1e3, math.min(j.end, e) / 1e3)))
        ((e - s) / 1e3, mine.size.toDouble, (e - s) / 1e3 - cov)
      }
      Map("op" -> name, "wall_s" -> median(rows.map(_._1)),
        "jobs" -> median(rows.map(_._2)), "self_s" -> median(rows.map(_._3)),
        "jobs_per_pass" -> rows.map(_._2.toInt))
    }
  }

  /** One JSON object per span: run, pass, operation, Spark job, stage. */
  def writeSpans(f: java.io.File, runStart: Long, runEnd: Long): Unit = {
    val w = new java.io.PrintWriter(f)
    def span(id: String, parent: String, kind: String, name: String,
        s: Long, e: Long): Unit =
      w.println(Json(Map("id" -> id, "parent" -> parent, "kind" -> kind,
        "name" -> name, "start_ms" -> s, "end_ms" -> e)))
    try {
      span("run", null, "run", "run", runStart, runEnd)
      passes.foreach { p =>
        span(s"p${p.index}", "run", "pass", s"pass ${p.index}", p.start, p.end)
        p.ops.foreach { case (op, s, e, _) =>
          span(s"p${p.index}/${op.name}", s"p${p.index}", "op", op.name, s, e)
        }
      }
      val inRun = passes.map(_.index).toSet
      jobs.filter(j => inRun(passOf(j.tag))).foreach { j =>
        span(s"job${j.id}", s"p${passOf(j.tag)}/${opOf(j.tag)}", "job",
          j.stageNames.lastOption.getOrElse(""), j.start, j.end)
      }
      stages.filter(s => inRun(passOf(s.tag))).foreach { s =>
        span(s"stage${s.id}.${s.attempt}", s.jobId.map(i => s"job$i").orNull,
          "stage", s.name, s.submitted, s.end)
      }
    } finally w.close()
  }
}
