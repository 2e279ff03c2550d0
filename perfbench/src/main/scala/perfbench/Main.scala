package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Benchmark entry point; perfbench/run.py builds the classes and starts it.
  *
  *   --workload kg_build|shacl_small|dedup_docs
  *   --seed N --seconds S --trace 0|1 --work DIR
  *
  * Untraced (--trace 0): set up the named workload, then repeat its
  * operation closed-loop, one client, until S seconds have passed and the
  * workload's minimum number of operations has run, and print the
  * end-to-end metrics. S = 0 sets up and stops. Traced (--trace 1): see
  * [[traced]]. The last stdout line is the result object; the line before it
  * is the detailed report. */
object Main {
  val Cores = 4
  /** Workloads whose layers the per-layer metrics cover; BENCHMARK.json
    * names kg_build and shacl_small, and dedup_docs runs by hand. */
  val Benchmarked = Seq("kg_build", "shacl_small", "dedup_docs")
  /** Workloads a traced run measures besides the named one. */
  val Folded = Map("shacl_small" -> Seq("dedup_docs"))

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.max(cores * 4, 16).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def make(name: String, spark: SparkSession, seed: Long, work: File): Workload = name match {
    case "kg_build" => new KgBuild(spark, seed, work)
    case "shacl_small" => new ShaclSmall(spark, seed)
    case "dedup_docs" => new DedupDocs(spark, seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
    finally src.close()
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest percentile with at least ten samples beyond it, if any. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    (99 to 50 by -1).iterator.map(p => (p, math.ceil(p / 100.0 * s.size).toInt))
      .find { case (_, rank) => rank >= 1 && s.size - rank >= 10 }
      .map { case (p, rank) => (p, s(rank - 1)) }
  }

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Seq[(String, Double, String)], report: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work"))
    work.mkdirs()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(Cores, work)
    val res =
      try {
        if (trace) traced(spark, seed, work, workload)
        else untraced(spark, workload, seed, seconds, work, jvmStartMs)
      } finally SparkSession.active.stop()
    val host = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "cores" -> Cores,
      "available_processors" -> Runtime.getRuntime.availableProcessors(),
      "jdk" -> System.getProperty("java.version"), "spark" -> org.apache.spark.SPARK_VERSION)
    println(Json.render(Map("report" -> (host ++ res.report))))
    println(Json.render(Map(
      "correct" -> res.correct, "attempted" -> res.attempted, "failed" -> res.failed,
      "metrics" -> scala.collection.immutable.ListMap(res.metrics.map { case (n, v, u) =>
        n -> Map("value" -> v, "unit" -> u) }: _*))))
  }

  def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  private def attempt(w: Workload, op: => Op): Option[Op] =
    try Some(op)
    catch {
      case e: Exception =>
        System.err.println(s"${w.name}: operation failed: $e")
        None
    }

  def untraced(spark: SparkSession, name: String, seed: Long, seconds: Double,
               work: File, jvmStartMs: Long): Result = {
    val w = make(name, spark, seed, work)
    log(s"session ready ${(System.currentTimeMillis() - jvmStartMs) / 1e3} s after JVM start")
    w.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val t0 = System.nanoTime()
    val ops = scala.collection.mutable.ArrayBuffer.empty[Option[Op]]
    // closed loop, one client: the next operation starts when the previous
    // one ends, until the time is up and the workload's minimum has run
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (seconds > 0 && (ops.size < w.minOps || elapsed < seconds)) {
      ops += attempt(w, w.run(ops.size))
      log(s"op ${ops.size}: ${ops.last.map(o => f"${o.wallS}%.3f s ok=${o.ok}").getOrElse("failed")}")
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val done = ops.flatten.toSeq
    val failed = ops.count(_.forall(!_.ok))
    val walls = done.map(_.wallS)
    val extras = done.flatMap(_.extra.keys).distinct.map(k =>
      k -> median(done.flatMap(_.extra.get(k))))
    val tailMs = tail(walls.map(_ * 1e3))
    Result(failed == 0 && done.nonEmpty, ops.size, failed,
      Seq(("setup_s", setupS, "s"),
        ("items_per_s", if (done.isEmpty) 0.0 else done.map(_.items).sum / walls.sum, "1/s")),
      w.report ++ extras.toMap ++ Map(
        "op_p50_ms" -> median(walls) * 1e3,
        "peak_rss_mb" -> peakRssMb(),
        "ops" -> ops.size, "measured_s" -> measuredS,
        "op_wall_s" -> walls.map(x => f"$x%.4f").mkString(","),
        "failed_op_ratio" -> failed.toDouble / math.max(ops.size, 1),
        "op_tail" -> tailMs.map { case (p, v) => f"p$p=$v%.1fms" }
          .getOrElse(s"none: ${walls.size} ops leave no percentile with 10 beyond it")))
  }

  /** Traced run: set up the named workload, then run its operation
    * untraced, traced and untraced again on the same inputs (n times each
    * for workloads with short operations), so that the tracing overhead is
    * not the JVM's warming between the first and the second. dedup_docs has
    * no end-to-end slot in BENCHMARK.json, so shacl_small's traced run
    * measures its layers too. Every per-layer metric is printed; a span no
    * traced workload enters reads 0. */
  def traced(spark: SparkSession, seed: Long, work: File, name: String): Result = {
    val t = new Tracer(spark)
    val gc0 = gcSeconds()
    val names = name +: Folded.getOrElse(name, Nil)
    val runs = names.map { n =>
      val w = make(n, spark, seed, work)
      w.setup()
      def untraced() = (0 until w.tracedOps).map(i => w.untraced(t, i))
      val before = untraced()
      val tops = (0 until w.tracedOps).map(i => w.traced(t, i))
      TracedRun(w, before, tops, untraced())
    }
    t.drain()
    val accounting = runs.map(r => r.w.name -> t.accountingErr(r.w.name, r.w.spans)).toMap
    val checks = runs.map(r => r.w.name -> r.w.traceCheck(t)).toMap
    val overheadS = runs.map(_.overheadS).sum
    val traced = runs.map(_.w)
    val layers = Benchmarked.map(n => traced.find(_.name == n).getOrElse(make(n, spark, seed, work)))
    val spanMetrics = layers.flatMap(l => l.spans.map(s => s -> l.sparkFreeSpans.contains(s)))
      .distinct.flatMap { case (s, free) => t.spanMetrics(s, free) }
    val jvm = Seq(("jvm.gc_s", gcSeconds() - gc0, "s"),
      ("jvm.spill_mb", t.totalSpillMb, "MB"),
      ("trace.overhead_s", overheadS, "s"),
      ("trace.accounting_err", accounting.values.max, "ratio"))
    t.detach()
    runs.foreach { r =>
      r.w match {
        case k: KgBuild =>
          // N -> 4N: the same fresh run on a one-core session
          spark.stop()
          k.measureScaling(session(1, work), r.untracedWallS)
        case _ =>
      }
    }
    val ops = runs.flatMap(r => r.before ++ r.tops ++ r.after)
    Result(ops.forall(_.ok) && runs.forall(_.sameCounts) &&
      accounting.values.forall(_ <= 0.10) && checks.values.forall(_._1),
      ops.size, ops.count(!_.ok),
      spanMetrics ++ jvm ++ layers.flatMap(_.tracedExtras),
      runs.map(r => r.w.name -> (r.w.report ++ r.tops.flatMap(_.extra).toMap ++
        checks(r.w.name)._2 ++ Map(
        "traced_ops" -> r.w.tracedOps,
        "untraced_wall_s" -> r.untracedWallS,
        "traced_wall_s" -> r.tops.map(_.wallS).sum,
        "overhead_s" -> r.overheadS,
        "accounting_err" -> accounting(r.w.name),
        "trace_check" -> checks(r.w.name)._1,
        "traced_counts_match" -> r.sameCounts))).toMap)
  }

  /** One workload's side of a traced run: untraced operations before and
    * after the traced ones, on the same inputs. */
  final case class TracedRun(w: Workload, before: Seq[Op], tops: Seq[Op], after: Seq[Op]) {
    /** Mean untraced wall of one pass over the inputs. */
    def untracedWallS: Double = (before ++ after).map(_.wallS).sum / 2
    /** Traced minus untraced wall, the untraced side averaged over the
      * passes before and after. */
    def overheadS: Double = tops.map(_.wallS).sum - untracedWallS
    def sameCounts: Boolean =
      before.map(_.counts) == tops.map(_.counts) && after.map(_.counts) == tops.map(_.counts)
  }
}
