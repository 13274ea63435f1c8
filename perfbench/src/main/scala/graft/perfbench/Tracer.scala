package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Records what the scheduler did on behalf of each benchmark
  * operation. The benchmark thread tags every operation with the Spark
  * local property [[Tracer.OpKey]] (`"<pass>/<op>"`); jobs submitted
  * from that thread, and from threads it starts, carry the tag, so jobs,
  * stages and tasks can be attributed to the operation that caused them
  * without any engine change. Events are kept in memory and turned into
  * spans and per-layer figures after the run. */
final class Tracer extends SparkListener {
  import Tracer._

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageByKey = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageRec]()
  // stage id -> the first job that listed it
  private val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
  private val filledRdds = mutable.Set[Int]()

  // block-manager bytes held by RDD blocks (barriers and caches)
  private val blockBytes = mutable.Map[String, Long]()
  private var heldBytes = 0L
  private var peakBytes = 0L

  private def tag(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(OpKey))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = JobRec(e.jobId, tag(e.properties), e.time,
      e.stageInfos.map(_.name))
    jobById.put(e.jobId, j)
    e.stageInfos.foreach(si => jobOfStage.putIfAbsent(si.stageId, Int.box(e.jobId)))
    jobs.add(j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    val fills = filledRdds.synchronized {
      si.rddInfos.filter(r => r.storageLevel.isValid && !filledRdds(r.id))
        .map(r => filledRdds.add(r.id)).nonEmpty
    }
    val s = StageRec(si.stageId, si.attemptNumber(), tag(e.properties),
      si.name, org.apache.spark.perfbench.SparkPrivate.isShuffleMap(si), fills,
      si.submissionTime.getOrElse(System.currentTimeMillis()),
      Option(jobOfStage.get(si.stageId)).map(_.intValue))
    stageByKey.put((si.stageId, si.attemptNumber()), s)
    stages.add(s)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    Option(stageByKey.get((si.stageId, si.attemptNumber())))
      .foreach(_.end = si.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    val st = stageByKey.get((e.stageId, e.stageAttemptId))
    if (m == null) {
      tasks.add(TaskRec(st, i.launchTime, i.finishTime, failed = true))
    } else {
      tasks.add(TaskRec(st, i.launchTime, i.finishTime, i.failed,
        m.executorRunTime, m.executorCpuTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.diskBytesSpilled))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    b.blockId match {
      case id: RDDBlockId => synchronized {
        val key = s"${b.blockManagerId.executorId}/${id.name}"
        val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        heldBytes += now - blockBytes.getOrElse(key, 0L)
        if (now == 0L) blockBytes.remove(key) else blockBytes(key) = now
        peakBytes = math.max(peakBytes, heldBytes)
      }
      case _ =>
    }
  }

  /** Peak RDD-block bytes since the previous call; restarts the peak at
    * what is held now. */
  def takeCachedPeak(): Long = synchronized {
    val p = peakBytes
    peakBytes = heldBytes
    p
  }
}

object Tracer {
  val OpKey = "perfbench.op"

  final case class JobRec(id: Int, tag: String, start: Long,
      stageNames: Seq[String]) {
    @volatile var end: Long = -1L
  }

  final case class StageRec(id: Int, attempt: Int, tag: String, name: String,
      shuffleMap: Boolean, fillsBarrier: Boolean,
      submitted: Long, jobId: Option[Int]) {
    @volatile var end: Long = -1L
  }

  final case class TaskRec(stage: StageRec, launch: Long, finish: Long,
      failed: Boolean, runMs: Long = 0L, cpuNs: Long = 0L,
      inBytes: Long = 0L, inRecords: Long = 0L, outBytes: Long = 0L,
      shWriteBytes: Long = 0L, shWriteNs: Long = 0L,
      shReadBytes: Long = 0L, fetchWaitMs: Long = 0L, spillBytes: Long = 0L)

  /** Total length of the union of [start, end] intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Job names that mark parquet schema inference and file listing,
    * the jobs the table layer launches before any data is read. */
  def isSchemaJob(j: JobRec): Boolean =
    j.stageNames.exists(n => n.startsWith("parquet at") ||
      n.contains("Listing leaf files") || n.contains("listLeafFiles"))
}
