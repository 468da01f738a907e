package perfbench

import scala.collection.mutable

/** Statistics, per-layer aggregation and JSON rendering. */
object Report {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive
    * method); 0 for an empty sample.
    */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.length - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(s.length - 1, lo + 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  /** The highest percentile with at least ten samples beyond it, among
    * p50/p75/p80/p90/p95/p99: the tail a run of `n` samples can resolve.
    */
  def tailPercentile(n: Int): Int =
    Seq(99, 95, 90, 80, 75, 50).find(p => n * (100 - p) / 100.0 >= 10.0).getOrElse(50)

  /** The layers a span can belong to; `bench` marks the op's root span. */
  val Layers: Seq[String] =
    Seq("engine", "cdc", "sink.commit", "sink.ivm", "sink.catalog", "sources", "llm")

  /** Per-layer metrics over spans and jobs recorded in the measured
    * window. Busy time is the layer's span self time; job time is the
    * union of the intervals of jobs attributed to the layer's spans,
    * clipped to them; the driver gap is busy time not covered by a job.
    */
  def layerMetrics(spans: Seq[Span], jobs: Seq[JobRec]): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val self = selfTimes(spans)
    val jobsBySpan = jobs.groupBy(_.span)
    Layers.foreach { layer =>
      val ss = spans.filter(_.layer == layer)
      val durs = ss.map(s => (s.end - s.start) / 1e9)
      val js = ss.flatMap(s => jobsBySpan.getOrElse(s.id, Nil).map(j => (s, j)))
      val clipped = js.map { case (s, j) =>
        (math.max(s.start, j.start), math.min(s.end, if (j.end < 0) s.end else j.end))
      }
      val jobS = Tracer.unionLength(clipped) / 1e9
      // self time, so a layer span nested in another of the same layer
      // is not counted twice
      val busy = ss.map(s => self(s.id) / 1e9).sum
      out(s"$layer.calls") = ss.length
      out(s"$layer.failed") = ss.count(_.failed)
      out(s"$layer.busy_s") = busy
      out(s"$layer.p50_s") = median(durs)
      out(s"$layer.jobs") = js.length
      out(s"$layer.job_s") = jobS
      out(s"$layer.driver_gap_s") = math.max(0.0, busy - jobS)
      out(s"$layer.shuffle_bytes") = js.map(_._2.shuffleBytes).sum.toDouble
      out(s"$layer.records_read") = js.map(_._2.recordsRead).sum.toDouble
      out(s"$layer.bytes_written") = js.map(_._2.bytesWritten).sum.toDouble
    }
    out
  }

  /** Self time of each span: its duration minus the union of its
    * children's intervals.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> ((s.end - s.start) -
        Tracer.unionLength(kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))))
    }.toMap
  }

  // ------------------------------------------------------------------ JSON
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

/** Physical-plan figures of an executed query. */
object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.FileSourceScanExec
  import org.apache.spark.sql.execution.datasources.FilePartition
  import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

  /** Files the query's scans planned to read. */
  def filesPlanned(df: org.apache.spark.sql.DataFrame): Long =
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case b: BatchScanExec => b.inputPartitions.collect {
        case f: FilePartition => f.files.length.toLong
      }.sum
    }.sum
}
