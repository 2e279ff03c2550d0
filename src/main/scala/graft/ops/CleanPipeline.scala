package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kg.Lineage

/** Composable pretraining-cleanup pipeline (VERDICT r6 #4): the cleanup
  * operators existed as independent queries; this chains them into one
  * resumable stage the way KgPipeline chains KG construction. Stage order
  * follows the standard corpus-cleanup recipe:
  *
  *   1. `strip`            — HTML/boilerplate strip (pure projection)
  *   2. `url_dedup`        — canonical-URL keep-one (min doc id per canon)
  *   3. `quality`          — Gopher-style quality filter
  *   4. `substring_clean`  — sequence-level duplicated-span removal
  *   5. `decontaminate`    — 13-gram benchmark-membership drop
  *   6. `sample`           — deterministic stratified mixture sampling
  *
  * Every stage is a pure DataFrame -> DataFrame function — q_clean_pipeline
  * composes them directly and its DuckDB oracle recomputes the whole chain
  * — and [[run]] wraps them in the same [[graft.kg.Lineage]] layer
  * KgPipeline uses: per-stage parquet output, a lineage entry per stage, and
  * (rows_in, rows_out, dropped-reason) metrics, so a SIGKILL'd run resumes
  * from the last completed stage with identical results (every stage is
  * deterministic: hash-derived decisions only, no RNG).
  */
object CleanPipeline {

  /** Stage 1: strip markup in place (rows unchanged). */
  def strip(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn(textCol, TextOps.htmlStrip(col(textCol)))

  /** Stage 2: canonical-URL dedup, keep-one = smallest id per canonical
    * URL (the substring-clean / minhash-cluster survivor policy). One
    * groupBy + one join, both keyed on the canon column — no window over
    * a single partition, no skew beyond genuinely hot URLs (bounded by
    * how many docs truly share one canonical URL). */
  def urlDedup(docs: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val withCanon = docs.withColumn("__canon", TextOps.urlCanon(col(urlCol)))
    val winners = withCanon.groupBy(col("__canon")).agg(min(col(idCol)).as(idCol))
    withCanon.join(winners, Seq("__canon", idCol)).drop("__canon")
  }

  /** Stage 3: Gopher-style quality gate (word count, mean word length,
    * symbol ratio, stopword ratio, dup-trigram fraction). */
  def qualityFilter(docs: DataFrame, textCol: String = "text",
                    minWords: Int = 50, maxWords: Int = 100000): DataFrame =
    docs.filter(TextOps.gopherKeep(col(textCol), minWords, maxWords))

  /** Stage 4: substring-dedup removal in place — textCol is rewritten to
    * the cleaned (token-joined) text and an `n_cut` column rides along.
    * Rows unchanged; only duplicated spans are cut. */
  def substringClean(docs: DataFrame, idCol: String, textCol: String = "text",
                     window: Int = 20, stride: Int = 1, maxDf: Int = 20): DataFrame = {
    val cleaned = Dedup.substringDedupClean(docs, idCol, textCol, window, stride, maxDf)
      .withColumnRenamed("id", idCol)
    docs.drop(textCol).join(cleaned, Seq(idCol))
      .withColumnRenamed("text_clean", textCol)
  }

  /** Stage 5: drop documents sharing any `n`-token window with the
    * benchmark corpus (left-anti against the contamination flags — the
    * removal half of [[Dedup.decontaminate]]). */
  def decontaminateDrop(docs: DataFrame, bench: DataFrame, idCol: String,
                        textCol: String, benchIdCol: String,
                        benchTextCol: String, n: Int = 13): DataFrame =
    docs.join(
      Dedup.decontaminate(docs, bench, idCol, textCol, benchIdCol, benchTextCol, n)
        .select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Per-stage row counts of a completed run (read back from lineage). */
  final case class Counts(docsIn: Long, afterStrip: Long, afterUrlDedup: Long,
                          afterQuality: Long, afterClean: Long,
                          afterDecontaminate: Long, sampled: Long,
                          tokensCut: Long)

  /** Full run with lineage/resume. `checksum` identifies the input (same
    * contract as KgPipeline: a resumed run with an identical checksum
    * reuses every completed stage's parquet; a changed checksum recomputes
    * from the first affected stage). Stage metrics record rows_in /
    * rows_out / dropped-with-reason per stage — written only when the
    * stage actually computes, so resumes don't duplicate them. */
  def run(spark: SparkSession, outRoot: String, docs: DataFrame,
          bench: DataFrame, checksum: String, runId: String = "clean1",
          idCol: String = "doc_id", textCol: String = "text",
          urlCol: String = "url", strataCol: String = "lang",
          rates: Map[String, Double] = Map("en" -> 0.5, "de" -> 0.25),
          defaultRate: Double = 0.1,
          minWords: Int = 50): Counts = {
    val lin = new Lineage(spark, outRoot, runId)
    var prevRows = -1L // rows_in of the first computed stage: counted lazily

    def staged(name: String, reason: String, in: => DataFrame)
              (f: DataFrame => DataFrame): DataFrame = {
      val fresh = !lin.isDone(name, checksum)
      val out = lin.stage(name, checksum)(f(in))
      val rows = lin.rowsOf(name).getOrElse(out.count())
      // one commit; the stage's own commit already carries its rowsOut
      if (fresh && prevRows >= 0)
        lin.recordMetrics(name, "rowsIn" -> prevRows.toDouble,
          s"dropped_$reason" -> (prevRows - rows).toDouble)
      prevRows = rows
      out
    }

    val nIn = docs.count()
    prevRows = nIn
    val stripped = staged("strip", "none", docs)(strip(_, textCol))
    val urld = staged("url_dedup", "url_dup", stripped)(urlDedup(_, idCol, urlCol))
    val qual = staged("quality", "quality_fail", urld)(
      qualityFilter(_, textCol, minWords))
    val cleaned = staged("substring_clean", "none", qual)(
      substringClean(_, idCol, textCol))
    // marker is itself resume-gated; records total tokens cut as rowsOut
    lin.marker("substring_clean_cut", checksum) {
      cleaned.agg(coalesce(sum(col("n_cut")), lit(0L))).collect()(0).getLong(0)
    }
    val deconta = staged("decontaminate", "contaminated", cleaned)(
      decontaminateDrop(_, bench, idCol, textCol, idCol, textCol))
    val sampled = staged("sample", "sampled_out", deconta)(
      Sampling.sampleStratified(_, idCol, strataCol, rates, defaultRate))

    Counts(
      docsIn = nIn,
      afterStrip = lin.rowsOf("strip").getOrElse(-1L),
      afterUrlDedup = lin.rowsOf("url_dedup").getOrElse(-1L),
      afterQuality = lin.rowsOf("quality").getOrElse(-1L),
      afterClean = lin.rowsOf("substring_clean").getOrElse(-1L),
      afterDecontaminate = lin.rowsOf("decontaminate").getOrElse(-1L),
      sampled = lin.rowsOf("sample").getOrElse(-1L),
      tokensCut = lin.rowsOf("substring_clean_cut").getOrElse(-1L))
  }
}
