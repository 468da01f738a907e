package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cdc.CdcPipeline
import graft.sink.{DeleteMode, MaterializedAgg, MaterializedJoin, SnapshotCatalog}

/** The steady micro-batch state: a catalog with a fact table, a dim table,
  * a materialized join of the two and a rollup stacked on the join. One
  * client runs a closed loop; each op consumes one new small envelope
  * file through `readBatch → typed → merge → join refresh → rollup
  * refresh → commitCurrent`. Two reads follow each op: a lookup of a key
  * the op wrote, and a GROUP BY over the rollup at the catalog cut.
  */
final class CommitCycle(ctx: Ctx) extends Workload {
  import ctx.{spark, tr}

  private val nBaseEvents = if (ctx.tiny) 3000 else 4000
  private val nDims = if (ctx.tiny) 100 else 300
  private val factBuckets = 4
  private val factEvents = if (ctx.tiny) 20 else 100
  private val dimEvents = 5
  private val warmCycles = 1
  private val members = Seq("orders", "customers", "orders_enriched", "segment_rollup")

  private var dir = ""
  private var src: Inputs.CycleSource = _
  private var cat: SnapshotCatalog = _
  private var join: MaterializedJoin = _
  private var rollup: MaterializedAgg = _
  private var cycle = 0
  private var lastCut = -1L
  private val readS = mutable.ArrayBuffer.empty[Double]
  private var consumedBytes = 0L
  private var writtenBytes = 0L
  private var changedRows = 0L
  private var lookups = 0L
  private var filesPlanned = 0L
  private var rebases = 0L
  private var dataWrites = 0L
  private var commits = 0L

  private def typedOf(env: DataFrame, t: Inputs.Target): DataFrame =
    tr("cdc", s"forTable.expanded.typed ${t.full}")(ctx.mat(
      CdcPipeline.typed(CdcPipeline.expanded(CdcPipeline.forTable(env, t.full)), t.spec)))

  /** Applies one envelope file: merges, both refreshes and the catalog cut. */
  private def apply(path: String): Long = {
    val env = tr("cdc", "readBatch")(CdcPipeline.readBatch(spark, path))
    val fact = typedOf(env, Inputs.cycleFact)
    val dim = typedOf(env, Inputs.cycleDim)
    val orders = cat.openTable("orders")
    val customers = cat.openTable("customers")
    tr("sink.commit", "merge orders")(orders.merge(fact, Seq("row_order_id"), "seq", "is_delete"))
    orders.lastCommit.foreach(c => { rebases += c.rebases; dataWrites += c.dataWrites; commits += 1 })
    tr("sink.commit", "merge customers")(
      customers.merge(dim, Seq("row_cust_id"), "seq", "is_delete"))
    customers.lastCommit.foreach(c => { rebases += c.rebases; dataWrites += c.dataWrites; commits += 1 })
    tr("sink.ivm", "MaterializedJoin.refresh")(join.refresh(spark))
    tr("sink.ivm", "MaterializedAgg.refresh")(rollup.refresh(spark))
    val v = tr("sink.catalog", "commitCurrent")(cat.commitCurrent(members))
    ctx.release()
    v
  }

  def setup(d: String): String = {
    dir = d
    src = new Inputs.CycleSource(ctx.seed, nBaseEvents, nDims)
    val base = src.base()
    ctx.writeBytes(s"$d/base.jsonl", base)
    cat = new SnapshotCatalog(s"$d/catalog")
    val orders = cat.table("orders", factBuckets)
    val customers = cat.table("customers", 4)
    join = new MaterializedJoin(orders, customers, cat.table("orders_enriched", factBuckets),
      Seq("row_cust_id"), Seq("row_segment", "row_region"))
    rollup = new MaterializedAgg(join.sink, cat.table("segment_rollup", 4),
      Seq("row_segment", "row_region"),
      Seq(count(lit(1)).as("orders"), sum(col("row_amount")).as("amount"),
        sum(col("row_qty")).as("qty")), seqCol = "__vseq")
    lastCut = apply(s"$d/base.jsonl")
    cycle = 0
    Inputs.sha256(base)
  }

  /** The backfilled tables against the generator's last-write-wins state:
    * row count plus an order-independent checksum of canonical rows.
    */
  override def verifySetup(): Unit = {
    def rows(table: String, cols: Seq[org.apache.spark.sql.Column]) =
      cat.openTable(table).read(spark, DeleteMode.Hard)
        .select(concat_ws("|", cols.map(_.cast("string")): _*)).collect().map(_.getString(0))
    val facts = Inputs.checksum(rows("orders", Seq(col("row_order_id"), col("row_cust_id"),
      round(col("row_amount") * 100).cast("bigint"), col("row_qty"), col("row_status"))).toSeq)
    val dims = Inputs.checksum(rows("customers",
      Seq(col("row_cust_id"), col("row_segment"), col("row_region"))).toSeq)
    val wantFacts = Inputs.checksum(src.factRows)
    val want = if (ctx.corrupt) wantFacts.copy(sum = wantFacts.sum + 1) else wantFacts
    ctx.check(facts == want, s"backfilled orders $facts != last-write-wins $want")
    val wantDims = Inputs.checksum(src.dimRows)
    ctx.check(dims == wantDims, s"backfilled customers $dims != last-write-wins $wantDims")
  }

  /** Writes the next envelope file (untimed) and returns its path and the
    * fact keys it leaves live.
    */
  private def nextFile(): (String, Seq[Long]) = {
    val (bytes, written) = src.cycle(cycle, factEvents, dimEvents)
    val path = f"$dir/cycles/$cycle%05d.jsonl"
    ctx.writeBytes(path, bytes)
    consumedBytes += bytes.length
    changedRows += factEvents + dimEvents
    cycle += 1
    (path, written)
  }

  private def cycleOnce(): (Double, Seq[Long]) = {
    val (path, written) = nextFile()
    val before = ctx.dirBytes(s"$dir/catalog")
    val t0 = System.nanoTime()
    lastCut = tr("bench", "op")(apply(path))
    val s = (System.nanoTime() - t0) / 1e9
    writtenBytes += ctx.dirBytes(s"$dir/catalog") - before
    (s, written)
  }

  /** The op's two reads, checked against the generator's state. */
  private def reads(written: Seq[Long]): Unit = {
    val key = written.reverseIterator.find(src.facts.contains)
    val t0 = System.nanoTime()
    val (hit, regions) = tr("bench", "reads") {
      val hit = key.map { k =>
        tr("sources", "lookup") {
          val q = cat.openTable("orders").lookup(spark, Seq("row_order_id"), Seq(k))
            .select("row_amount", "row_status")
          val rows = q.collect()
          lookups += 1
          filesPlanned += Plans.filesPlanned(q)
          rows
        }
      }
      val regions = tr("sources", "graft-snapshot GROUP BY at cut") {
        val tv = cat.pins(lastCut)("segment_rollup")
        spark.read.format("graft-snapshot").option("asOf", tv)
          .load(s"$dir/catalog/segment_rollup")
          .filter(!col("__is_deleted"))
          .groupBy("row_region").agg(sum("orders").as("orders"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
      (hit, regions)
    }
    readS += (System.nanoTime() - t0) / 1e9
    key.foreach { k =>
      val (_, cents, _, status) = src.facts(k)
      val want = if (ctx.corrupt) cents + 1 else cents
      val rows = hit.get
      ctx.check(rows.length == 1 && math.round(rows(0).getDouble(0) * 100) == want &&
        rows(0).getString(1) == status,
        s"cycle $cycle: lookup of order $k returned ${rows.mkString(",")}, wrote $cents/$status")
    }
    val wantRegions = src.facts.values.groupBy(f => src.dims(f._1)._2)
      .map { case (r, fs) => r -> fs.size.toLong }
    ctx.check(regions == wantRegions,
      s"cycle $cycle: rollup at cut $regions != source state $wantRegions")
  }

  def warmup(): Unit = (0 until warmCycles).foreach { _ =>
    val (_, written) = cycleOnce()
    reads(written)
  }

  def op(i: Int): Double = {
    tr.op = i
    if (i == 0) {
      readS.clear(); consumedBytes = 0; writtenBytes = 0; changedRows = 0
      lookups = 0; filesPlanned = 0; rebases = 0; dataWrites = 0; commits = 0
    }
    val (s, written) = cycleOnce()
    reads(written)
    s
  }

  /** Both views against a from-scratch recompute over the last cut. */
  def finish(): Unit = {
    val at = cat.readAllAt(spark, lastCut)
    val cols = Seq("row_order_id", "row_cust_id", "row_amount", "row_qty", "row_status",
      "row_segment", "row_region")
    val scratch = at("orders").join(
      at("customers").select("row_cust_id", "row_segment", "row_region"),
      Seq("row_cust_id"), "left_outer").select(cols.map(col): _*)
    val view = at("orders_enriched").select(cols.map(col): _*)
    val extra = view.exceptAll(scratch).count()
    val missing = scratch.exceptAll(view).count()
    ctx.check(extra == 0 && missing == 0,
      s"join view differs from recompute: $extra extra, $missing missing rows")
    val g = Seq("row_segment", "row_region")
    val want = scratch.groupBy(g.map(col): _*)
      .agg(count(lit(1)).as("orders"), sum("row_amount").as("amount"), sum("row_qty").as("qty"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    val got = at("segment_rollup").select("row_segment", "row_region", "orders", "amount", "qty")
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3), r.getLong(4))).toMap
    val same = want.keySet == got.keySet && want.forall { case (k, (n, a, q)) =>
      val (n2, a2, q2) = got(k)
      n == n2 && q == q2 && math.abs(a - a2) <= 1e-6 * math.max(1.0, math.abs(a))
    }
    ctx.check(same, s"rollup differs from recompute over the cut (${want.size} vs ${got.size} groups)")
  }

  def extras: Seq[(String, Double)] = {
    val n = readS.length
    val p = Report.tailPercentile(n)
    Seq(
      "read_p50_s" -> Report.median(readS.toSeq),
      "read_tail_s" -> Report.quantile(readS.toSeq, p / 100.0),
      "read_tail_pct" -> p.toDouble,
      "write_amp" -> writtenBytes.toDouble / math.max(1L, consumedBytes))
  }

  def ratios(l: collection.Map[String, Double]): Seq[(String, Double)] = Seq(
    "sink.commit.write_amp" -> l("sink.commit.bytes_written") / math.max(1L, consumedBytes),
    "sink.commit.rebases" -> rebases.toDouble,
    "sink.commit.data_writes_per_commit" -> dataWrites.toDouble / math.max(1L, commits),
    "sink.ivm.rows_read_per_changed_row" -> l("sink.ivm.records_read") / math.max(1L, changedRows),
    "sources.files_planned_per_lookup" -> filesPlanned.toDouble / math.max(1L, lookups))
}
