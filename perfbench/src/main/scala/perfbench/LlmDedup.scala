package perfbench

import scala.collection.mutable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.llm.{Dedup, MinHashAggregator}

/** Near-duplicate detection over a seeded corpus with planted clusters:
  * `tokenSets → withDictionaryCodes → MinHashAggregator.signatures →
  * bandKeys → lshCandidates → minhashEstimates → est ≥ θ → dedupVerdict`.
  * Shuffle- and compute-bound, no commits: `llm` changes show here and
  * `sink`/`cdc` changes must not.
  */
final class LlmDedup(ctx: Ctx) extends Workload {
  import ctx.{spark, tr}

  /** Estimate threshold for an emitted pair. */
  val Theta = 0.7
  /** The run fails below this recall of planted pairs at or above θ. */
  val RecallFloor = 0.5
  /** Exact token Jaccard below which an emitted pair counts as false. */
  val FalsePairJaccard = 0.3
  /** Largest share of a pass's emitted pairs that may be false. This is a
    * placeholder above the first capture's maximum (0.983), with room for
    * seeds outside the capture, not the strict gate (0): the engine's MinHash family (a_i = (2i+1)·a_0 mod P) is
    * correlated across i, so a token whose code c has a_0·c mod P small
    * takes the minimum of all 16 hashes and unrelated documents sharing it
    * get est ≈ 1; ~97% of emitted pairs are such false pairs. A dedup
    * change that emits a larger share of them fails the run; once the hash
    * family is fixed this ceiling should drop to 0.
    */
  val MaxFalsePairShare = 0.995

  private val nDocs = if (ctx.tiny) 600 else 800
  /** Corpora per run: one for the warm-up, then one per op in turn.
    * Whether a corpus's pair graph is deep decides between 4 and 6
    * connected-components rounds (~40% of a pass), so a run's median
    * spans several corpora rather than riding on one.
    */
  private val nCorpora = 4
  private var corpora: IndexedSeq[Inputs.Corpus] = _
  private var paths: IndexedSeq[String] = _
  private var corpus: Inputs.Corpus = _
  private var path = ""
  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false), StructField("text", StringType)))
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val falseShares = mutable.ArrayBuffer.empty[Double]
  private var candidates = 0L
  private var emitted = 0L
  private var ccRounds = 0L
  private var falsePairs = 0L
  private var passes = 0

  def setup(d: String): String = {
    corpora = (0 until nCorpora).map(k => Inputs.corpus(ctx.seed * 31 + k, nDocs))
    paths = corpora.indices.map(k => s"$d/corpus$k.parquet")
    corpora.zip(paths).foreach { case (c, p) =>
      val rows = c.docs.map { case (id, t) => org.apache.spark.sql.Row(id, t) }
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(p)
    }
    use(0)
    Inputs.sha256(corpora.flatMap(_.docs).map { case (id, t) => s"$id\t$t\n" }.mkString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def use(k: Int): Unit = { corpus = corpora(k); path = paths(k) }

  /** One dedup pass; returns emitted pairs, the verdict and CC rounds. */
  private def pass(): (Array[(Long, Long)], Array[(Long, Long, Boolean)], Int) =
    tr("bench", "op") {
      val docs = spark.read.schema(schema).parquet(path)
      val toks = tr("llm", "tokenSets")(ctx.mat(Dedup.tokenSets(docs)))
      val pairs = tr("llm", "withDictionaryCodes") {
        Dedup.withDictionaryCodes(toks) { codes =>
          val c = ctx.mat(codes)
          // the signatures feed three consumers; persisted as
          // Dedup.minhashLsh does
          val sig = tr("llm", "MinHashAggregator.signatures") {
            val s = MinHashAggregator.signatures(c).persist(StorageLevel.MEMORY_AND_DISK)
            if (tr.traced) s.count()
            s
          }
          try {
            val bands = tr("llm", "bandKeys")(ctx.mat(Dedup.bandKeys(sig)))
            val cands = tr("llm", "lshCandidates")(ctx.mat(Dedup.lshCandidates(bands)))
            if (tr.traced) candidates += cands.count()
            val est = tr("llm", "minhashEstimates")(ctx.mat(Dedup.minhashEstimates(sig, cands)))
            tr("llm", "est>=theta")(est.filter(col("est") >= Theta).select("i", "j")
              .collect().map(r => (r.getLong(0), r.getLong(1))))
          } finally { sig.unpersist(); () }
        }
      }
      ctx.release()
      val pairDf = spark.createDataFrame(pairs.toSeq).toDF("i", "j")
      val (verdict, rounds) = tr("llm", "dedupVerdict") {
        Dedup.connectedComponentsStats(pairDf, docs.select("doc_id")) { (labels, rounds) =>
          (Dedup.verdictFromLabels(docs, labels).select("doc_id", "cluster", "keep")
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))), rounds)
        }
      }
      (pairs, verdict, rounds)
    }

  private def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0 else (a intersect b).size.toDouble / (a union b).size

  private def verify(pairs: Array[(Long, Long)], verdict: Array[(Long, Long, Boolean)]): Unit = {
    ctx.check(verdict.length == nDocs, s"verdict covers ${verdict.length} of $nDocs docs")
    val badClusters = verdict.groupBy(_._2).count { case (_, ds) => ds.count(_._3) != 1 }
    ctx.check(badClusters == 0, s"$badClusters clusters without exactly one keep")
    val tokens = if (!ctx.corrupt) corpus.tokens
      else corpus.tokens ++ corpus.planted.map(p => p._2 -> Set(s"corrupt${p._2}"))
    val nFalse = pairs.count { case (i, j) => jaccard(tokens(i), tokens(j)) < FalsePairJaccard }
    val share = nFalse.toDouble / math.max(1, pairs.length)
    falseShares += share
    falsePairs += nFalse
    ctx.check(share <= MaxFalsePairShare, f"$share%.4f of emitted pairs below exact Jaccard " +
      f"$FalsePairJaccard, above the ceiling $MaxFalsePairShare")
    val found = pairs.toSet
    val target = corpus.planted.filter(_._3 >= Theta)
    val recall = target.count(p => found((p._1, p._2))).toDouble / math.max(1, target.length)
    recalls += recall
    ctx.check(recall >= RecallFloor, f"recall $recall%.3f of planted pairs below $RecallFloor")
  }

  def warmup(): Unit = {
    use(0)
    val (p, v, _) = pass()
    verify(p, v)
  }

  def op(i: Int): Double = {
    tr.op = i
    if (i == 0) {
      recalls.clear(); falseShares.clear(); candidates = 0; emitted = 0; ccRounds = 0; falsePairs = 0; passes = 0
    }
    use(1 + i % (nCorpora - 1))
    val t0 = System.nanoTime()
    val (p, v, rounds) = pass()
    val s = (System.nanoTime() - t0) / 1e9
    emitted += p.length
    ccRounds += rounds
    passes += 1
    verify(p, v)
    s
  }

  def finish(): Unit = ()

  def extras: Seq[(String, Double)] = Seq(
    "docs" -> nDocs.toDouble,
    "planted_pairs_at_theta" -> corpora.map(_.planted.count(_._3 >= Theta)).sum.toDouble / nCorpora,
    "emitted_pairs_per_pass" -> emitted.toDouble / math.max(1, passes),
    "false_pair_share" -> falsePairs.toDouble / math.max(1L, emitted),
    "false_pair_share_max" -> (if (falseShares.isEmpty) 0.0 else falseShares.max),
    "dedup_recall" -> Report.median(recalls.toSeq))

  def ratios(l: collection.Map[String, Double]): Seq[(String, Double)] = Seq(
    "llm.candidates" -> candidates.toDouble / math.max(1, passes),
    "llm.candidate_yield" -> emitted.toDouble / math.max(1L, candidates),
    "llm.cc_rounds" -> ccRounds.toDouble / math.max(1, passes),
    "llm.false_pair_share" -> falsePairs.toDouble / math.max(1L, emitted),
    "llm.recall" -> Report.median(recalls.toSeq))
}
