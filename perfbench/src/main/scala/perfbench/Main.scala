package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val seed: Long,
    val tiny: Boolean, val corrupt: Boolean) {

  /** Gate failures, each with a one-line reason. */
  val failures = mutable.ArrayBuffer.empty[String]
  def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what

  private val held = mutable.ArrayBuffer.empty[DataFrame]

  /** In the traced run, materializes a lazy stage's output once inside
    * the caller's span, so its work is charged to the layer that built
    * it; in the timed run the frame stays lazy.
    */
  def mat(df: DataFrame): DataFrame =
    if (!tr.traced) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      held += p
      p
    }

  def release(): Unit = { held.foreach(_.unpersist()); held.clear() }

  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new java.io.File(path))
  }

  def writeBytes(path: String, b: Array[Byte]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, b)
    ()
  }
}

/** One benchmark workload: a set-up that can be repeated, a warm-up, and
  * a unit of work (`op`) repeated for the measured window.
  */
trait Workload {
  /** Generates the inputs and loads any base state under `dir`; returns
    * the inputs' SHA-256.
    */
  def setup(dir: String): String
  /** Untimed gates on the state `setup` loaded. */
  def verifySetup(): Unit = ()
  def warmup(): Unit
  /** One op; returns its wall time in seconds (reads excluded). */
  def op(i: Int): Double
  /** Untimed gates after the last op. */
  def finish(): Unit
  /** Workload-level figures for the run record (read latencies, write
    * amplification, recall) and per-layer ratios for the traced run.
    */
  def extras: Seq[(String, Double)]
  def ratios(layers: collection.Map[String, Double]): Seq[(String, Double)]
}

object Main {
  /** Set-ups per run. The first pays the JVM's class loading and JIT
    * warm-up and is left out; `setup_s` is the median of the others.
    */
  val SetupReps = 4

  /** Ops measured even when the window is shorter than them. */
  val MinOps = 3

  /** Layer figures of the last set-up, reported as `setup.<name>`. */
  val SetupLayers: Seq[String] = Seq("cdc.busy_s", "cdc.job_s", "sink.commit.busy_s",
    "sink.commit.job_s", "sink.ivm.busy_s", "sink.ivm.job_s", "sink.catalog.busy_s")

  /** Per-layer ratios; a workload that has no such layer work reports 0. */
  val Ratios: Seq[String] = Seq(
    "sink.commit.write_amp", "sink.commit.rebases", "sink.commit.data_writes_per_commit",
    "sink.ivm.rows_read_per_changed_row", "sources.files_planned_per_lookup",
    "llm.candidates", "llm.candidate_yield", "llm.cc_rounds", "llm.false_pair_share",
    "llm.recall")

  private def arg(args: Array[String], k: String): Option[String] = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** (steal, total) jiffies of all CPUs, from /proc/stat. */
  private def cpuJiffies: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    } finally src.close()
  }

  private def loadAvg: String = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(args, "--trace").contains("1")
    val cores = arg(args, "--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val work = arg(args, "--work").getOrElse(sys.error("--work is required"))
    val tiny = args.contains("--tiny")
    val corrupt = args.contains("--corrupt")
    val spanOut = arg(args, "--spans")
    require(Set("commit_cycle", "llm_dedup")(workload),
      s"unknown workload $workload")

    val t0 = System.nanoTime()
    val spark = graft.engine.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.CommitLock.fromConf(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tr = new Tracer(spark.sparkContext, traced)
    tr.record("engine", "GraftSession.builder.getOrCreate", t0, t0 + (sessionS * 1e9).toLong)
    val ctx = new Ctx(spark, tr, seed, tiny, corrupt)
    val w: Workload = workload match {
      case "commit_cycle" => new CommitCycle(ctx)
      case "llm_dedup"    => new LlmDedup(ctx)
    }

    var attempted = 0L
    var failed = 0L
    val opS = mutable.ArrayBuffer.empty[Double]
    val setupS = mutable.ArrayBuffer.empty[Double]
    var digest = ""
    var warmS = 0.0
    var gc = 0.0
    var windowS = 0.0
    var stealPct = 0.0
    var crash: Option[String] = None
    val setupLayers = mutable.LinkedHashMap.empty[String, Double]
    // one checked operation: set-up gates, warm-up, each op, final gates
    def attempt(what: String)(f: => Unit): Unit = {
      attempted += 1
      val before = ctx.failures.length
      try f
      catch { case e: Exception =>
        ctx.failures += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      if (ctx.failures.length > before) failed += 1
    }
    var lastSetup = 0L
    try {
      (0 until SetupReps).foreach { r =>
        val s0 = System.nanoTime()
        lastSetup = s0
        digest = w.setup(s"$work/setup$r")
        setupS += (System.nanoTime() - s0) / 1e9
        attempt(s"set-up $r gates")(w.verifySetup())
      }
      // the last (warm) set-up's layers: the base load is the backfill
      if (traced) {
        val layers = Report.layerMetrics(tr.allSpans.filter(_.start >= lastSetup), tr.allJobs)
        SetupLayers.foreach(k => setupLayers(s"setup.$k") = layers(k))
      }
      val w0 = System.nanoTime()
      attempt("warm-up")(w.warmup())
      warmS = (System.nanoTime() - w0) / 1e9
      tr.reset()
      val gc0 = gcSeconds
      val cpu0 = cpuJiffies
      val m0 = System.nanoTime()
      val deadline = m0 + (seconds * 1e9).toLong
      var i = 0
      while ((i < MinOps || System.nanoTime() < deadline) && failed < 3) {
        attempt(s"op $i")(opS += w.op(i))
        i += 1
      }
      windowS = (System.nanoTime() - m0) / 1e9
      gc = gcSeconds - gc0
      val cpu1 = cpuJiffies
      stealPct = 100.0 * (cpu1._1 - cpu0._1) / math.max(1L, cpu1._2 - cpu0._2)
      attempt("final gates")(w.finish())
    } catch {
      case e: Throwable =>
        crash = Some(s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }

    val correct = crash.isEmpty && ctx.failures.isEmpty && opS.nonEmpty
    val opMed = Report.median(opS.toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", Report.median(setupS.toSeq.drop(1)), "s"),
        ("op_p50_s", opMed, "s"))
      else {
        val spans = tr.allSpans
        val jobs = tr.allJobs
        val layers = Report.layerMetrics(spans, jobs)
        val units = (k: String) =>
          if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes") || k.endsWith("bytes_written")) "B"
          else "count"
        val measured = spans.filter(_.layer != "engine")
        val roots = measured.filter(_.parent == -1)
        val opRoots = roots.filter(_.name == "op")
        // driver time of the measured window: root span time outside any job
        val rootJobS = Tracer.unionLength(for {
          r <- roots; j <- jobs if j.end > 0 && j.start < r.end && j.end > r.start
        } yield (math.max(r.start, j.start), math.min(r.end, j.end))) / 1e9
        val rootS = roots.map(s => (s.end - s.start) / 1e9).sum
        // share of each op's wall time covered by its child spans
        val kids = measured.groupBy(_.parent)
        val coverage = opRoots.map { r =>
          Tracer.unionLength(kids.getOrElse(r.id, Nil).map(c => (c.start, c.end))).toDouble /
            math.max(1L, r.end - r.start)
        }
        spanOut.foreach(p => writeSpans(p, spans, jobs))
        val ratios = w.ratios(layers).toMap
        (layers.toSeq ++ SetupLayers.map(k => s"setup.$k" -> setupLayers.getOrElse(s"setup.$k", 0.0)))
          .map { case (k, v) => (k, v, units(k)) } ++
          Main.Ratios.map(k => (k, ratios.getOrElse(k, 0.0), "ratio")) ++ Seq(
            ("spark.jobs", jobs.length.toDouble, "count"),
            ("spark.driver_gap_s", math.max(0.0, rootS - rootJobS), "s"),
            ("jvm.gc_s", gc, "s"),
            ("trace.op_p50_s", opMed, "s"),
            ("trace.min_op_coverage", if (coverage.isEmpty) 0.0 else coverage.min, "ratio"))
      }

    val info = Seq(
      "workload" -> Report.str(workload), "seed" -> seed.toString,
      "seconds" -> Report.num(seconds), "trace" -> traced.toString, "tiny" -> tiny.toString,
      "nproc" -> cores.toString,
      "heap_max_mb" -> Report.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "loadavg" -> Report.str(loadAvg),
      "spark_conf" -> Report.obj(spark.conf.getAll.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Report.str(v) }),
      "input_sha256" -> Report.str(digest),
      "session_s" -> Report.num(sessionS),
      "setup_s_each" -> Report.arr(setupS.toSeq.map(Report.num)),
      "warmup_s" -> Report.num(warmS),
      "window_s" -> Report.num(windowS),
      "cpu_steal_pct" -> Report.num(stealPct),
      "peak_rss_mb" -> Report.num(peakRssMb),
      "ops" -> opS.length.toString,
      "op_s" -> Report.arr(opS.toSeq.map(Report.num)),
      "op_tail_pct" -> Report.tailPercentile(opS.length).toString,
      "gc_s" -> Report.num(gc),
      "failures" -> Report.arr(ctx.failures.toSeq.map(Report.str)),
      "crash" -> crash.map(Report.str).getOrElse("null")) ++
      w.extras.map { case (k, v) => k -> Report.num(v) }
    println(Report.obj(Seq("run_info" -> Report.obj(info))))
    println(Report.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(1L, attempted).toString,
      "failed" -> (failed + (if (crash.nonEmpty) 1 else 0)).toString,
      "metrics" -> Report.obj(metrics.map { case (k, v, u) =>
        k -> Report.obj(Seq("value" -> Report.num(v), "unit" -> Report.str(u)))
      }))))
    System.out.flush()
    tr.close()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  /** Writes the spans (with self time and their jobs' totals) as JSONL. */
  private def writeSpans(path: String, spans: Seq[Span], jobs: Seq[JobRec]): Unit = {
    val self = Report.selfTimes(spans)
    val t0 = spans.map(_.start).minOption.getOrElse(0L)
    val bySpan = jobs.groupBy(_.span)
    val lines = spans.map { s =>
      val js = bySpan.getOrElse(s.id, Nil)
      Report.obj(Seq(
        "id" -> s.id.toString, "name" -> Report.str(s.name), "layer" -> Report.str(s.layer),
        "parent" -> s.parent.toString, "op" -> s.op.toString,
        "start_s" -> Report.num((s.start - t0) / 1e9), "end_s" -> Report.num((s.end - t0) / 1e9),
        "self_s" -> Report.num(self(s.id) / 1e9), "failed" -> s.failed.toString,
        "jobs" -> js.length.toString,
        "job_s" -> Report.num(Tracer.unionLength(js.map(j =>
          (math.max(s.start, j.start), math.min(s.end, if (j.end < 0) s.end else j.end)))) / 1e9),
        "shuffle_bytes" -> js.map(_.shuffleBytes).sum.toString,
        "records_read" -> js.map(_.recordsRead).sum.toString,
        "bytes_written" -> js.map(_.bytesWritten).sum.toString))
    }
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    ()
  }
}
