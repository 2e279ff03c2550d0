package perfbench

import graft.kg.{DocSynth, KgPipeline, Lineage, TripleStore}
import graft.rdf.TurtleParser
import graft.shacl.{ValidationOptions, Validator}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.io.File

/** `kg_build`: DocSynth docs -> `KgPipeline.run` on a fresh root with
  * validation. Loads span tagging, mention detection, linking, connected
  * components, materialization, the store commit, lineage and the
  * small-shape at-scale validation; no property paths, no dedup. The traced
  * operation also runs the same `run` again on that root, where every stage
  * resumes from lineage; the untraced loop leaves the resume out so that
  * two fresh runs fit in one run of the benchmark. */
final class KgBuild(spark: SparkSession, seed: Long, work: File) extends Workload {
  import KgBuild._
  val name = "kg_build"
  private var opNo = 0
  private var expectedMentions = -1L

  /** Distinct (doc, entity) pairs recounted on the driver from the same
    * generator, with the same `Entity_[0-9]+` rule the mention stage uses. */
  private def recountMentions(): Long = {
    val re = "Entity_[0-9]+".r
    (0L until Docs).iterator.map { id =>
      DocSynth.spansFor(seed, id).iterator.filter(_.kind == "text")
        .flatMap(s => re.findAllIn(s.text)).toSet.size.toLong
    }.sum
  }

  def setup(): Unit = {
    expectedMentions = recountMentions()
    // warm-up: one fresh and one resumed run on a smaller corpus, untimed;
    // they load and compile the plans the timed runs use (the first run in
    // a JVM is about twice as slow as the next, and without the resumed
    // warm-up the first timed run is slower and spreads twice as wide)
    val root = nextRoot()
    KgPipeline.run(spark, root.getPath, WarmDocs, seed, partitions = Partitions)
    KgPipeline.run(spark, root.getPath, WarmDocs, seed, partitions = Partitions)
    Workload.deleteTree(root)
  }

  private def nextRoot(): File = { opNo += 1; new File(work, s"kg_$opNo") }

  private def check(root: File, fresh: KgPipeline.Counts): Boolean = {
    val triplesRows = spark.read.parquet(s"${root.getPath}/triples").count()
    val store = new TripleStore(spark, s"${root.getPath}/triple_store")
    val mentions = store.scanPredicate(KgPipeline.KG + "mentions").distinct().count()
    fresh.conforms && fresh.triples == triplesRows &&
      mentions == expectedMentions && fresh.docs == Docs
  }

  private def countsOf(c: KgPipeline.Counts): Seq[Long] =
    Seq(c.docs, c.spans, c.mentions, c.links, c.entities, c.components, c.triples,
      if (c.conforms) 1L else 0L)

  def run(i: Int): Op =
    fresh(root => KgPipeline.run(spark, root.getPath, Docs, seed, partitions = Partitions))

  private def fresh(body: File => KgPipeline.Counts): Op = {
    val root = nextRoot()
    val (counts, wall) = Workload.time(body(root))
    finish(root, counts, wall, check(root, counts), Map.empty)
  }

  private def finish(root: File, fresh: KgPipeline.Counts, wall: Double, ok: Boolean,
                     extra: Map[String, Double]): Op = {
    val bytesPerTriple =
      Workload.treeBytes(new File(root, "triple_store")).toDouble / math.max(fresh.triples, 1L)
    Workload.deleteTree(root)
    Op(wall, fresh.triples, ok, countsOf(fresh),
      extra + ("store_bytes_per_triple" -> bytesPerTriple))
  }


  val spans: Seq[String] = Seq(
    "kg.stage.spans", "kg.stage.mentions", "kg.stage.links", "kg.stage.components",
    "kg.stage.triples", "kg.store_commit", "shacl.validate_at_scale", "kg.run_counts",
    "kg.store_read", "kg.resume")

  private var untracedRuns, replays = 0

  /** The untraced runs of a traced run go under one job group of their own,
    * so that [[traceCheck]] can count their jobs; it costs no more than
    * setting a thread-local property. */
  override def untraced(t: Tracer, i: Int): Op = {
    untracedRuns += 1
    fresh(root => t.span(UntracedGroup)(
      KgPipeline.run(spark, root.getPath, Docs, seed, partitions = Partitions)))
  }

  /** `KgPipeline.run`'s body, call for call, with each step in a span, then
    * the same `run` again on that root, every stage resumed from lineage. */
  def traced(t: Tracer, i: Int): Op = {
    replays += 1
    val root = nextRoot()
    val out = root.getPath
    val ((fresh, wall), (resumed, resumeS)) = t.op(name) {
      val f = Workload.time(tracedRun(t, spark, out, Docs, seed, Partitions))
      (f, Workload.time(t.span("kg.resume")(
        KgPipeline.run(spark, out, Docs, seed, partitions = Partitions))))
    }
    finish(root, fresh, wall, check(root, fresh) && resumed == fresh,
      Map("kg_resume_s" -> resumeS))
  }

  /** Drift guard for the replay in [[KgBuild.tracedRun]]: a fresh
    * `KgPipeline.run` must start as many Spark jobs as the replay's spans,
    * the resume left out. When `run`'s body changes and the replay does not,
    * the counts part and the run is marked incorrect. */
  override def traceCheck(t: Tracer): (Boolean, Map[String, Any]) = {
    val replayJobs = spans.filterNot(_ == "kg.resume").map(t.jobs).sum
    val runJobs = t.jobs(UntracedGroup)
    (runJobs.toLong * replays == replayJobs.toLong * untracedRuns,
      Map("untraced_run_jobs" -> runJobs, "untraced_runs" -> untracedRuns,
        "replay_jobs" -> replayJobs, "replays" -> replays))
  }

  private var cores1S = 0.0
  private var cores4S = 0.0

  /** The fresh run at local[1] against local[4]: N -> 4N efficiency on this
    * host (1.0 = four cores do the work four times as fast). */
  override def tracedExtras: Seq[(String, Double, String)] =
    Seq(("kg.cores1_wall_s", cores1S, "s"),
      ("kg.eff_1to4", if (cores4S > 0) cores1S / (4 * cores4S) else 0.0, "ratio"))

  /** Times the fresh run on `one`, a new local[1] session in the same JVM,
    * warmed once with a [[KgBuild.WarmDocs]] run, against `cores4Wall`, the
    * mean untraced local[4] fresh run. */
  def measureScaling(one: SparkSession, cores4Wall: Double): Unit = {
    val warm = nextRoot()
    KgPipeline.run(one, warm.getPath, WarmDocs, seed, partitions = Partitions)
    Workload.deleteTree(warm)
    val root = nextRoot()
    cores1S = Workload.time(KgPipeline.run(one, root.getPath, Docs, seed, partitions = Partitions))._2
    cores4S = cores4Wall
    Workload.deleteTree(root)
  }

  override def report: Map[String, Any] = Map(
    "docs" -> Docs, "expected_mentions" -> expectedMentions)
}

object KgBuild {
  val Docs = 2000L
  val WarmDocs = 300L
  val Partitions = 4
  val UntracedGroup = "kg.untraced_run"

  def tracedRun(t: Tracer, spark: SparkSession, outRoot: String, nDocs: Long,
                seed: Long, partitions: Int): KgPipeline.Counts = {
    val lin = new Lineage(spark, outRoot, "run1")
    val ck = s"docs=$nDocs;seed=$seed"
    val docs = DocSynth.docs(spark, nDocs, seed, partitions)
    val spans = t.span("kg.stage.spans")(lin.stage("spans", ck)(KgPipeline.tagSpans(docs)))
    val ments = t.span("kg.stage.mentions")(lin.stage("mentions", ck)(KgPipeline.mentions(spans)))
    val links = t.span("kg.stage.links")(
      lin.stage("links", ck)(KgPipeline.linkEntities(spark, ments).toDF()))
    val comps = t.span("kg.stage.components")(
      lin.stage("components", ck)(KgPipeline.canonicalize(spark, links)))
    val triples = t.span("kg.stage.triples")(lin.stage("triples", ck) {
      KgPipeline.materializeTriples(links, comps, nLinksHint = lin.rowsOf("links"))
        .unionByName(KgPipeline.mediaTriples(spark, spans))
    })
    val store = new TripleStore(spark, s"$outRoot/triple_store")
    t.span("kg.store_commit")(lin.marker("store", ck) {
      val preds = triples.select(col("p")).distinct().collect().map(_.getString(0))
      store.overwritePartitions(triples, preds.toSeq)
      lin.rowsOf("triples").getOrElse(0L)
    })
    val conforms = t.span("shacl.validate_at_scale") {
      def iriOrLit(c: org.apache.spark.sql.Column) = struct(
        c.as("v"),
        when(c.startsWith("http") || c.startsWith("media:"), lit(0.toByte))
          .otherwise(lit(2.toByte)).as("k"),
        lit("").as("dt"), lit("").as("lang"))
      val tdf = triples.select(
        struct(col("s").as("v"), lit(0.toByte).as("k"), lit("").as("dt"), lit("").as("lang")).as("s"),
        col("p"), iriOrLit(col("o")).as("o"))
      val shapes = TurtleParser.parseGraph(KgPipeline.shapesTtl, "http://graft.dev/shapes")
      val out = Validator.validateFrameAtScale(spark, tdf, shapes, ValidationOptions())
      val c = out.conforms
      out.release()
      c
    }
    val counts = t.span("kg.run_counts")(KgPipeline.Counts(
      docs = nDocs,
      spans = spark.read.parquet(s"$outRoot/spans").count(),
      mentions = spark.read.parquet(s"$outRoot/mentions").count(),
      links = spark.read.parquet(s"$outRoot/links").count(),
      entities = spark.read.parquet(s"$outRoot/links").select(col("entity_id")).distinct().count(),
      components = spark.read.parquet(s"$outRoot/components").select(col("component")).distinct().count(),
      triples = -1L,
      conforms = conforms))
    // the last count of run's Counts is the store's read path
    counts.copy(triples = t.span("kg.store_read")(store.read().count()))
  }
}
