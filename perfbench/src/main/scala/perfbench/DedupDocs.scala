package perfbench

import graft.ops.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.File

/** `dedup_docs`: a seeded corpus with planted exact- and near-duplicate
  * pairs, written to parquet during set-up, then the blocking joins in turn:
  * `minhashLshPortable`, `simhashNearDupPortable`, `ngramJaccardJoin`,
  * `substringDedup` and `minhashClusters`, each result collected. No other
  * workload reaches these operators.
  *
  * Words are drawn uniformly from a [[DedupDocs.Vocab]]-word vocabulary, so
  * the simhash signatures of unrelated documents are independent: a pair
  * lands within Hamming distance 6 with probability about 5e-12, and
  * [[DedupDocs.SimhashMaxDist]] = 6 keeps the simhash output at the planted
  * pairs (Zipf text correlates the signatures, and maxDist 10 on it emitted
  * 134M pairs on 50k docs). */
final class DedupDocs(spark: SparkSession, seed: Long, work: File) extends Workload {
  import DedupDocs._
  val name = "dedup_docs"
  private val corpusPath = new File(work, "dedup_corpus").getPath
  private val exactPairs: Set[(Long, Long)] =
    (0L until ExactPairs).map(k => (2 * k, 2 * k + 1)).toSet
  private val nearPairs: Set[(Long, Long)] =
    (0L until NearPairs).map(k => (2 * ExactPairs + 2 * k, 2 * ExactPairs + 2 * k + 1)).toSet
  private val planted = exactPairs ++ nearPairs
  private var lastRecall = Map.empty[String, Double]

  private def words(id: Long): IndexedSeq[String] = {
    val n = 40 + (Workload.u01(seed, id, -1) * 20).toInt
    (0 until n).map(t => "w" + (Workload.u01(seed, id, t) * Vocab).toInt)
  }

  /** Doc text: pair partners copy the first doc; a near-duplicate partner
    * then replaces two of its words. */
  private def text(id: Long): String = {
    if (id < 2 * ExactPairs) words(id - id % 2).mkString(" ")
    else if (id < 2 * (ExactPairs + NearPairs)) {
      val base = words(id - id % 2)
      if (id % 2 == 0) base.mkString(" ")
      else {
        val a = (Workload.u01(seed, id, 7001) * base.size).toInt
        val b = (Workload.u01(seed, id, 7002) * base.size).toInt
        base.updated(a, "x" + id).updated(b, "y" + id).mkString(" ")
      }
    } else words(id).mkString(" ")
  }

  def setup(): Unit = {
    import spark.implicits._
    if (!new File(corpusPath).exists())
      (0L until Docs).map(i => (i, text(i))).toDF("id", "text")
        .repartition(4).write.parquet(corpusPath)
    runAll((_, body) => body) // warm-up
  }

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select(least(col("id_a"), col("id_b")), greatest(col("id_a"), col("id_b")))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def clusterPairs(df: DataFrame): Set[(Long, Long)] = {
    val canon = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    planted.filter { case (a, b) => canon.contains(a) && canon.get(a) == canon.get(b) }
  }

  /** All five operators in order; `wrap` puts each in its span. */
  private def runAll(wrap: (String, => Set[(Long, Long)]) => Set[(Long, Long)])
      : Seq[(String, Set[(Long, Long)])] = {
    val docs = spark.read.parquet(corpusPath)
    Seq(
      "ops.minhash_lsh" -> wrap("ops.minhash_lsh",
        pairsOf(Dedup.minhashLshPortable(docs, "id", "text"))),
      "ops.simhash" -> wrap("ops.simhash",
        pairsOf(Dedup.simhashNearDupPortable(docs, "id", "text", maxDist = SimhashMaxDist))),
      "ops.ngram_jaccard" -> wrap("ops.ngram_jaccard",
        pairsOf(Dedup.ngramJaccardJoin(docs, "id", "text"))),
      "ops.substring_dedup" -> wrap("ops.substring_dedup",
        pairsOf(Dedup.substringDedup(docs, "id", "text"))),
      "ops.minhash_clusters" -> wrap("ops.minhash_clusters",
        clusterPairs(Dedup.minhashClusters(docs, "id", "text"))))
  }

  private def finish(found: Seq[(String, Set[(Long, Long)])], wall: Double): Op = {
    lastRecall = found.map { case (op, ps) =>
      op -> (ps intersect planted).size.toDouble / planted.size }.toMap
    val ok = found.forall { case (_, ps) => exactPairs.subsetOf(ps) }
    Op(wall, Docs, ok, found.map(_._2.size.toLong),
      lastRecall.map { case (op, r) => s"$op.planted_recall" -> r })
  }

  def run(i: Int): Op = {
    val (found, wall) = Workload.time(runAll((_, body) => body))
    finish(found, wall)
  }

  val spans: Seq[String] = Seq("ops.minhash_lsh", "ops.simhash", "ops.ngram_jaccard",
    "ops.substring_dedup", "ops.minhash_clusters")

  def traced(t: Tracer, i: Int): Op = {
    val (found, wall) = Workload.time(t.op(name)(runAll((n, body) => t.span(n)(body))))
    finish(found, wall)
  }

  override def tracedExtras: Seq[(String, Double, String)] =
    spans.map(op => (s"$op.planted_recall", lastRecall.getOrElse(op, 0.0), "ratio"))

  override def report: Map[String, Any] = Map(
    "docs" -> Docs, "exact_pairs" -> ExactPairs, "near_pairs" -> NearPairs,
    "vocab" -> Vocab, "simhash_max_dist" -> SimhashMaxDist)
}

object DedupDocs {
  val Docs = 4000L
  val ExactPairs = 200L
  val NearPairs = 200L
  val Vocab = 5000
  val SimhashMaxDist = 6
}
