package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one JVM: several set-ups (session
  * build plus a cold first pass that writes every output for checking),
  * then warm passes until the time budget is spent.
  * The run is summarised as a JSON record that `perfbench/run.py` turns
  * into metrics and checks against DuckDB.
  *
  * Usage: Main --workload W --data DIR --work DIR --seconds S --trace 0|1
  *             --slots N --seed N --record FILE */
object Main {

  final case class Args(workload: String, data: String, work: String,
      seconds: Double, trace: Boolean, slots: Int, seed: Long, record: String)

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Warm passes per run at least, whatever `--seconds` says. */
  val MinPasses = 2

  def parse(argv: Seq[String]): Args = {
    val m = argv.grouped(2).collect { case Seq(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("slots").toInt, m("seed").toLong, m("record"))
  }

  /** One benchmark call into the engine, timed as one operation span. */
  final case class Op(name: String, kind: String)

  /** A workload: the ordered calls one pass makes and the directories
    * its outputs land in. `checkDir` is set on cold passes, which write
    * their outputs there for checking; warm passes leave it empty. */
  trait Workload {
    def run(spark: SparkSession, timeOp: (Op, () => Unit) => Unit,
        checkDir: Option[String]): Unit
    def outputRoots: Seq[String]
    def beforePass(): Unit = ()
    def beforeSetup(k: Int): Unit = ()
    def oracle: Map[String, String] = Map.empty
  }

  /** corral's example jobs through the CLI front door. */
  final class CorralMr(data: String, work: String) extends Workload {
    private val jobs = Seq(
      "wordcount" -> Seq(s"$data/text"),
      "amplab1" -> Seq(s"$data/rankings"),
      "amplab2" -> Seq(s"$data/uservisits"),
      "amplab3" -> Seq(s"$data/rankings", s"$data/uservisits"))
    private val out = s"$work/out"
    def outputRoots: Seq[String] = Seq(out)
    override def beforePass(): Unit = deleteTree(new File(out))
    // every pass writes corral's TSV outputs; the last timed pass's are checked
    def run(spark: SparkSession, timeOp: (Op, () => Unit) => Unit,
        checkDir: Option[String]): Unit =
      jobs.foreach { case (job, inputs) =>
        val conf = graft.Main.parseArgs(Seq("--job", job, "-o", s"$out/$job") ++ inputs)
        timeOp(Op(s"mr:$job", "mr"), () => { graft.Main.run(spark, conf); () })
      }
  }

  /** Registered queries materialized to the noop sink, each under its own
    * barrier scope, as graft.Bench runs them. The engine seeds a corpus's
    * daily-increment assets once per JVM, keyed by the corpus path, so
    * each set-up reads the corpus through a link of its own and pays the
    * seeding again. */
  final class Queries(names: Seq[String], data: String, work: String) extends Workload {
    private val registry = graft.SparkEntry.queries
    private var corpus = data
    def outputRoots: Seq[String] = Seq(s"$work/target")
    override def beforeSetup(k: Int): Unit = {
      val link = new File(s"$work/corpus$k").toPath
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(link, new File(data).toPath)
      corpus = s"corpus$k"
    }
    def run(spark: SparkSession, timeOp: (Op, () => Unit) => Unit,
        checkDir: Option[String]): Unit =
      names.foreach { q =>
        graft.api.Barrier.scoped {
          var df: org.apache.spark.sql.DataFrame = null
          timeOp(Op(s"build:$q", "build"), () => df = registry(q)(spark, corpus))
          if (df != null) timeOp(Op(s"run:$q", "run"), () => checkDir match {
            case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$q")
            case None => graft.Bench.materialize(df)
          })
        }
      }
    override def oracle: Map[String, String] =
      names.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
  }

  val LlmQueries = Seq("dd6_dup_groups", "p4p_daily_increment_asset")

  def workload(a: Args): Workload = a.workload match {
    case "corral_mr" => new CorralMr(a.data, a.work)
    case "llm_dedup" => new Queries(LlmQueries, a.data, a.work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(f: File): Unit = {
    if (java.nio.file.Files.isDirectory(f.toPath, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Regular files under `roots` modified at or after `sinceMs`:
    * (count, bytes). Symlinks are not followed. */
  def filesSince(roots: Seq[String], sinceMs: Long): (Long, Long) = {
    var n = 0L; var bytes = 0L
    roots.map(new File(_)).filter(_.exists()).foreach { root =>
      java.nio.file.Files.walk(root.toPath).iterator().asScala.foreach { p =>
        val f = p.toFile
        if (f.isFile && f.lastModified() >= sinceMs &&
            !f.getName.startsWith(".") && !f.getName.startsWith("_")) {
          n += 1; bytes += f.length()
        }
      }
    }
    (n, bytes)
  }

  // -- process-level counters -------------------------------------------

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs(): Long = osBean.getProcessCpuTime

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap occupancy right after a full collection. One is forced at the
    * end of every warm pass (outside its timing), so each reading is the
    * heap the engine still holds then, not garbage a young collection
    * happened to leave behind. */
  def heapAfterFullGc(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Bytes written through the local filesystem, from Hadoop's
    * statistics for the `file` scheme. */
  def localBytesWritten(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum

  // -- the run -----------------------------------------------------------

  final case class PassRec(index: Int, start: Long, end: Long, wallS: Double,
      cpuS: Double, gcS: Double, heapBytes: Long, ok: Boolean,
      ops: Seq[(Op, Long, Long, Boolean)],
      storedFiles: Long, storedBytes: Long,
      storeOps: (Long, Long), localBytes: Long, localWriteOps: Long,
      cachedPeak: Long)

  def session(a: Args): SparkSession = {
    val shuffle = new File(s"${a.work}/shuffle").getAbsolutePath
    val conf = graft.GraftSession.Conf(maxConcurrency = a.slots,
      shuffleLocation = Some(s"graftfs://$shuffle"))
    val spark = graft.GraftSession.builder(conf)
      .appName(s"perfbench-${a.workload}")
      .config("spark.local.dir", new File(s"${a.work}/spark-local").getAbsolutePath)
      // Hadoop's vectored parquet reads bypass FileSystem statistics
      .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
      // the same filesystems, with store-operation counts
      .config("spark.hadoop.fs.graftfs.impl", classOf[CountingObjectFs].getName)
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toIndexedSeq)
    val wl = workload(a)
    new File(a.work).mkdirs()
    val errors = mutable.ArrayBuffer[String]()
    var attempted = 0
    var failed = 0
    val epoch0 = System.currentTimeMillis()
    val nano0 = System.nanoTime()
    def nowMs(): Long = epoch0 + (System.nanoTime() - nano0) / 1000000L

    var tracer: Tracer = null
    var passIndex = 0
    var passOps = mutable.ArrayBuffer[(Op, Long, Long, Boolean)]()
    var spark: SparkSession = null

    def timeOp(op: Op, body: () => Unit): Unit = {
      attempted += 1
      if (tracer != null)
        spark.sparkContext.setLocalProperty(Tracer.OpKey, s"$passIndex/${op.name}")
      val s = nowMs()
      val ok = try { body(); true } catch {
        case e: Throwable =>
          failed += 1
          errors += s"pass $passIndex ${op.name}: ${e.getClass.getName}: ${e.getMessage}".take(500)
          false
      }
      passOps += ((op, s, nowMs(), ok))
      if (tracer != null) spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
    }

    def runPass(checkDir: Option[String] = None): PassRec = {
      wl.beforePass()
      if (tracer != null) { org.apache.spark.perfbench.SparkPrivate.drain(spark.sparkContext); tracer.takeCachedPeak() }
      passOps = mutable.ArrayBuffer()
      val g0 = gcMillis(); val c0 = processCpuNs()
      val so0 = CountingFs.objectStore.snapshot
      val lw0 = CountingFs.local.writes.get; val lb0 = localBytesWritten()
      val s = nowMs(); val t0 = System.nanoTime()
      wl.run(spark, timeOp, checkDir)
      val wall = (System.nanoTime() - t0) / 1e9
      val e = nowMs()
      val cpu = (processCpuNs() - c0) / 1e9
      val gc = (gcMillis() - g0) / 1e3
      val heap = if (checkDir.isEmpty) heapAfterFullGc() else 0L
      val cached = if (tracer != null) {
        org.apache.spark.perfbench.SparkPrivate.drain(spark.sparkContext); tracer.takeCachedPeak()
      } else 0L
      val so1 = CountingFs.objectStore.snapshot
      val (nf, nb) = filesSince(wl.outputRoots, s - 2)
      val rec = PassRec(passIndex, s, e, wall, cpu, gc, heap, passOps.forall(_._4),
        passOps.toSeq, nf, nb, (so1._1 - so0._1, so1._2 - so0._2),
        localBytesWritten() - lb0, CountingFs.local.writes.get - lw0, cached)
      passIndex += 1
      rec
    }

    // contention read: an all-slots CPU kernel's wall x threads / CPU time
    val (calibWall, delayFactor) = graft.Bench.calibOnce(a.slots, a.seed)

    // each set-up's cold pass writes its outputs; the last one's are checked
    val checkDir = new File(s"${a.work}/check").getAbsolutePath
    val setupS = (1 to Setups).map { k =>
      if (spark != null) { spark.stop(); spark = null }
      wl.beforeSetup(k)
      val t0 = System.nanoTime()
      spark = session(a)
      runPass(Some(checkDir))
      (System.nanoTime() - t0) / 1e9
    }

    // A traced run alternates untraced and traced passes in one JVM, so
    // the tracing overhead is read under the same box conditions; only
    // the traced passes feed the per-layer figures.
    val traceLog = if (a.trace) new Tracer else null
    val runStart = nowMs()
    val passes = mutable.ArrayBuffer[PassRec]()
    val untraced = mutable.ArrayBuffer[PassRec]()
    val window0 = System.nanoTime()
    def enough = passes.size >= MinPasses &&
      (traceLog == null || untraced.size >= MinPasses) &&
      (System.nanoTime() - window0) / 1e9 >= a.seconds
    while (!enough) {
      if (traceLog != null && untraced.size <= passes.size) untraced += runPass()
      else {
        if (traceLog != null) {
          tracer = traceLog
          spark.sparkContext.addSparkListener(traceLog)
        }
        passes += runPass()
        if (traceLog != null) {
          spark.sparkContext.removeSparkListener(traceLog)
          tracer = null
        }
      }
    }
    val runEnd = nowMs()

    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "slots" -> a.slots,
      "setup_s" -> setupS, "passes" -> passes.map(p => Map(
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "gc_s" -> p.gcS, "ok" -> p.ok,
        "heap_mb" -> p.heapBytes / 1048576.0,
        "stored_files" -> p.storedFiles, "stored_bytes" -> p.storedBytes,
        "ops" -> p.ops.map { case (op, s, e, ok) =>
          Map("op" -> op.name, "wall_s" -> (e - s) / 1e3, "ok" -> ok) })),
      "peak_heap_mb" -> passes.map(_.heapBytes).max / 1048576.0,
      "delay_factor" -> delayFactor, "calib_wall_s" -> calibWall,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "check_dir" -> checkDir, "out_dir" -> new File(s"${a.work}/out").getAbsolutePath,
      "oracle_sql" -> wl.oracle)
    if (traceLog != null) {
      val layers = new Layers(traceLog, passes.toSeq, a.slots)
      val walls = untraced.map(_.wallS).sorted
      rec("per_layer") = layers.perLayer + ("trace.untraced_pass_s" ->
        (walls((walls.size - 1) / 2) + walls(walls.size / 2)) / 2)
      rec("op_table") = layers.opTable
      val spanFile = new File(s"${a.work}/spans.jsonl")
      layers.writeSpans(spanFile, runStart, runEnd)
      rec("span_file") = spanFile.getAbsolutePath
    }
    val out = new java.io.PrintWriter(a.record)
    try out.println(Json(rec)) finally out.close()
    spark.stop()
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => graft.Bench.jstr(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => graft.Bench.jstr(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => graft.Bench.jstr(other.toString)
  }
}
