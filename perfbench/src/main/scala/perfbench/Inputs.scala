package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generators. Every input is a pure function of the seed
  * (and, for the commit cycle, of the cycle number), so the same seed
  * writes byte-identical files. The generators also keep the state a
  * correct engine must reach, computed here without the engine.
  */
object Inputs {

  /** 64-bit FNV-1a: an order-independent checksum sums it over rows. */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val b = s.getBytes(UTF_8)
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    h
  }

  /** Count plus wrapping sum of row hashes: equal for equal multisets. */
  final case class Checksum(rows: Long, sum: Long)
  def checksum(rows: Iterable[String]): Checksum =
    Checksum(rows.size.toLong, rows.foldLeft(0L)(_ + fnv64(_)))

  /** Index into [0, n) with power-law skew toward 0 (hot keys first). */
  def skewed(r: SplittableRandom, n: Int, exponent: Double): Int =
    math.min(n - 1, (n * math.pow(r.nextDouble(), exponent)).toInt)

  private def q(s: String): String = "\"" + s + "\""
  private def jsonObj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")

  /** One Debezium-shaped envelope line: `row`/`old_row` values are wire
    * strings, `old_row` is absent on inserts.
    */
  def envelope(seq: Long, db: String, table: String, pk: String, delete: Boolean,
      row: Seq[(String, String)], oldRow: Option[Seq[(String, String)]]): String = {
    val data = Seq(
      "database_name" -> q(db), "table_name" -> q(table), "primary_key" -> q(pk),
      "metadata" -> jsonObj(Seq("is_delete" -> delete.toString)),
      "row" -> jsonObj(row)) ++ oldRow.map(o => "old_row" -> jsonObj(o)).toSeq
    jsonObj(Seq("seq" -> seq.toString, "data" -> jsonObj(data),
      "ts" -> q(f"2024-03-01T${(seq / 3600) % 24}%02d:${(seq / 60) % 60}%02d:${seq % 60}%02dZ")))
  }

  // ------------------------------------------------------------------ CDC
  /** A target table: its column list as (name, udt) pairs, key first. */
  final case class Target(full: String, cols: Seq[(String, String)]) {
    def spec: graft.model.TableSpec = graft.model.TableSpec(full,
      cols.zipWithIndex.map { case ((n, u), i) => graft.model.ColSpec(n, u, i == 0) })
  }

  /** Orders arrive from two shards (`orders_part_0/1`), so three source
    * table names fold into two targets.
    */
  val cycleFact: Target = Target("shop.orders",
    Seq("order_id" -> "int8", "cust_id" -> "int8", "amount" -> "decimal",
      "qty" -> "smallint", "status" -> "varchar"))
  val cycleDim: Target = Target("shop.customers",
    Seq("cust_id" -> "int8", "segment" -> "varchar", "region" -> "varchar"))

  private val segments = Array("retail", "smb", "enterprise", "public", "edu",
    "partner", "online", "wholesale")
  private val regions = Array("emea", "amer", "apac", "latam", "anz")
  private val statuses = Array("open", "paid", "shipped", "closed")

  /** The CDC source of the commit cycle: a backfill log for the base load,
    * then one small envelope file per cycle. `facts`/`dims` hold every
    * live key's current values: the state a correct engine must reach.
    */
  final class CycleSource(seed: Long, nBaseEvents: Int, nDims: Int) {
    val facts = mutable.HashMap.empty[Long, (Long, Long, Int, String)] // cust, cents, qty, status
    val dims = mutable.HashMap.empty[Long, (String, String)]
    private val factKeys = mutable.ArrayBuffer.empty[Long]
    private var nextFact = 0L
    private var seq = 0L

    private def dimRow(r: SplittableRandom): (String, String) =
      (segments(r.nextInt(segments.length)), regions(r.nextInt(regions.length)))

    private def factLine(id: Long, v: (Long, Long, Int, String), delete: Boolean): String =
      envelope(seq, "shop", s"orders_part_${id % 2}", id.toString, delete, Seq(
        "order_id" -> q(id.toString), "cust_id" -> q(v._1.toString),
        "amount" -> q(f"${v._2 / 100}%d.${v._2 % 100}%02d"), "qty" -> q(v._3.toString),
        "status" -> q(v._4)), None)
    private def dimLine(id: Long, v: (String, String)): String =
      envelope(seq, "shop", "customers", id.toString, delete = false, Seq(
        "cust_id" -> q(id.toString), "segment" -> q(v._1), "region" -> q(v._2)), None)

    /** One fact event: an insert (`insertPct`), a delete (`deletePct`) or
      * an update of a live key drawn with power-law skew toward hot keys.
      * Returns the line and the key when it is left live.
      */
    private def factEvent(r: SplittableRandom, insertPct: Int, deletePct: Int,
        skew: Double): (String, Option[Long]) = {
      val roll = r.nextInt(100)
      val out =
        if (roll < insertPct || factKeys.isEmpty) {
          val k = nextFact; nextFact += 1
          val v = (r.nextLong(nDims.toLong), r.nextLong(100000L), 1 + r.nextInt(20),
            statuses(r.nextInt(statuses.length)))
          facts(k) = v; factKeys += k
          (factLine(k, v, delete = false), Some(k))
        } else {
          val idx = skewed(r, factKeys.length, skew)
          val k = factKeys(idx)
          if (roll < insertPct + deletePct) {
            factKeys(idx) = factKeys(factKeys.length - 1); factKeys.remove(factKeys.length - 1)
            val line = factLine(k, facts(k), delete = true)
            facts.remove(k)
            (line, None)
          } else {
            val (c, _, _, _) = facts(k)
            val v = (c, r.nextLong(100000L), 1 + r.nextInt(20), statuses(r.nextInt(statuses.length)))
            facts(k) = v
            (factLine(k, v, delete = false), Some(k))
          }
        }
      seq += 1
      out
    }

    private def dimUpdate(r: SplittableRandom, k: Long): String = {
      val v = dimRow(r); dims(k) = v
      val line = dimLine(k, v)
      seq += 1
      line
    }

    /** The backfill log: every dim key inserted, then `nBaseEvents` fact
      * events (~25% inserts, ~65% updates on skewed keys, ~10% deletes)
      * with a dim update after every tenth. Lines are shuffled inside
      * windows of 64, so `seq` is out of order within the log.
      */
    def base(): Array[Byte] = {
      val r = new SplittableRandom(seed)
      val lines = mutable.ArrayBuffer.empty[String]
      (0L until nDims.toLong).foreach(k => lines += dimUpdate(r, k))
      (0 until nBaseEvents).foreach { i =>
        lines += factEvent(r, 25, 10, 3.0)._1
        if (i % 10 == 9) lines += dimUpdate(r, r.nextLong(nDims.toLong))
      }
      var w = 0
      while (w < lines.length) {
        val end = math.min(lines.length, w + 64)
        var j = end - 1
        while (j > w) {
          val k = w + r.nextInt(j - w + 1)
          val tmp = lines(j); lines(j) = lines(k); lines(k) = tmp
          j -= 1
        }
        w = end
      }
      val sb = new java.lang.StringBuilder(lines.length * 240)
      lines.foreach(l => sb.append(l).append('\n'))
      sb.toString.getBytes(UTF_8)
    }

    /** Cycle `c`'s envelope file: `nFactEvents` fact events on hot keys
      * (~15% inserts, ~5% deletes, the rest updates) and `nDimEvents` dim
      * updates. Returns the bytes and the fact keys left live, in log order.
      */
    def cycle(c: Int, nFactEvents: Int, nDimEvents: Int): (Array[Byte], Seq[Long]) = {
      val r = new SplittableRandom(seed * 1000003L + c)
      val sb = new java.lang.StringBuilder((nFactEvents + nDimEvents) * 240)
      val written = mutable.ArrayBuffer.empty[Long]
      (0 until nFactEvents).foreach { _ =>
        val (line, live) = factEvent(r, 15, 5, 4.0)
        sb.append(line).append('\n')
        live.foreach(written += _)
      }
      (0 until nDimEvents).foreach(_ =>
        sb.append(dimUpdate(r, r.nextLong(nDims.toLong))).append('\n'))
      (sb.toString.getBytes(UTF_8), written.filter(facts.contains).toSeq)
    }

    /** Canonical rows of the live state, as [[CommitCycle]] renders the
      * engine's tables in SQL.
      */
    def factRows: Iterable[String] = facts.map { case (k, (c, cents, qty, st)) =>
      s"$k|$c|$cents|$qty|$st" }
    def dimRows: Iterable[String] = dims.map { case (k, (seg, reg)) => s"$k|$seg|$reg" }
  }

  // ---------------------------------------------------------------- dedup
  /** A corpus with planted near-duplicate clusters. `planted` holds each
    * (base, variant) pair with its exact token Jaccard; `tokens` every document's token
    * set, for exact verification of emitted pairs.
    */
  final case class Corpus(docs: Seq[(Long, String)], tokens: Map[Long, Set[String]],
      planted: Seq[(Long, Long, Double)])

  val PlantedSimilarities: Seq[Double] = Seq(0.95, 0.85, 0.75, 0.6)

  /** `n` documents over a Zipf–Mandelbrot vocabulary of 100k words
    * (p(rank r) ∝ 1/(r + 100): a heavy head, but no stop words shared by
    * nearly every document), lengths 20–400 distinct tokens; every 10th
    * document seeds a cluster of 1–3 variants, each at one of the graded
    * similarities. Word `w<rank>` puts frequent words first in
    * alphabetical order, as digits are in text; alphabetical order sets
    * the dictionary codes, so the same few frequent words get the lowest
    * codes under every seed.
    */
  def corpus(seed: Long, n: Int): Corpus = {
    val r = new SplittableRandom(seed)
    val vocab = 100000
    val cdf = new Array[Double](vocab)
    var acc = 0.0
    var i = 0
    while (i < vocab) { acc += 1.0 / (i + 100); cdf(i) = acc; i += 1 }
    def word(): String = {
      val u = r.nextDouble() * acc
      var lo = 0; var hi = vocab - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
      "w" + lo
    }
    var fresh = 0L
    def freshWord(): String = { fresh += 1; "w" + (vocab + fresh) }
    def doc(len: Int): Vector[String] = {
      val s = mutable.LinkedHashSet.empty[String]
      while (s.size < len) s += word()
      s.toVector
    }
    val docs = mutable.ArrayBuffer.empty[(Long, Vector[String])]
    val planted = mutable.ArrayBuffer.empty[(Long, Long, Double)]
    // replacing k of m tokens gives Jaccard (m-k)/(m+k)
    def variant(of: Long, base: Vector[String], sim: Double): Unit = {
      val k = math.max(1, math.round(base.length * (1 - sim) / (1 + sim)).toInt)
      val drop = mutable.HashSet.empty[Int]
      while (drop.size < k) drop += r.nextInt(base.length)
      val v = base.indices.map(j => if (drop(j)) freshWord() else base(j)).toVector
      val vs = v.toSet; val bs = base.toSet
      val id = docs.length.toLong
      docs += id -> v
      planted += ((of, id, (vs intersect bs).size.toDouble / (vs union bs).size))
    }
    while (docs.length < n) {
      val len = 20 + (380 * math.pow(r.nextDouble(), 2.0)).toInt
      val baseId = docs.length.toLong
      val base = doc(len)
      docs += baseId -> base
      if (baseId % 10 == 0)
        (0 until 1 + r.nextInt(3)).foreach { _ =>
          if (docs.length < n)
            variant(baseId, base, PlantedSimilarities(r.nextInt(PlantedSimilarities.length)))
        }
    }
    Corpus(docs.map { case (d, t) => d -> t.mkString(" ") }.toSeq,
      docs.map { case (d, t) => d -> t.toSet }.toMap, planted.toSeq)
  }

  /** Digest of a byte array, for the same-seed-same-input check. */
  def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
}
