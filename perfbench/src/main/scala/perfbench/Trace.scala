package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Per-span Spark accounting for the traced run.
  *
  * Every span runs under its own Spark job group; the listener attributes
  * each job, stage and task to the group its job was submitted under. A span
  * name may be entered several times (one shacl_small graph after another);
  * its figures are summed over all entries.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext

  final class SpanAgg {
    var wallNs = 0L
    val windows = mutable.ArrayBuffer.empty[(Long, Long)] // span [start, end) ms
    val nsWindows = mutable.ArrayBuffer.empty[(Long, Long)] // the same, nanoTime
    var jobs = 0
    val jobWindows = mutable.ArrayBuffer.empty[(Long, Long)]
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  private val spans = mutable.LinkedHashMap.empty[String, SpanAgg]
  private val ops = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageGroup = mutable.Map.empty[Int, String]
  @volatile private var drained = false
  private val DrainGroup = "perfbench.drain"
  private def agg(name: String): SpanAgg = spans.getOrElseUpdate(name, new SpanAgg)

  sc.addSparkListener(this)

  /** Run `body` as span `name`; spans do not nest. */
  def span[T](name: String)(body: => T): T = {
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val a = synchronized(agg(name))
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      val ms1 = System.currentTimeMillis()
      sc.clearJobGroup()
      synchronized {
        a.wallNs += dt
        a.windows += ((ms0, ms1))
        a.nsWindows += ((t0, t0 + dt))
      }
    }
  }

  /** Run `body` as one traced operation of `workload`; its wall time is
    * what the spans inside it must account for. */
  def op[T](workload: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      synchronized(ops.getOrElseUpdate(workload, mutable.ArrayBuffer.empty) += ((t0, t1)))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { name =>
      jobGroup(e.jobId) = name
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageGroup(s) = name)
      if (name != DrainGroup) agg(name).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { name =>
      if (name == DrainGroup) drained = true
      else agg(name).jobWindows += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (name <- stageGroup.get(e.stageId) if name != DrainGroup;
         m <- Option(e.taskMetrics)) {
      val a = agg(name)
      a.cpuNs += m.executorCpuTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) +=
        (e.taskInfo.finishTime - e.taskInfo.launchTime)
    }
  }

  /** Block until the listener has seen every event posted so far: a marker
    * job's end arrives after all earlier events on the listener bus. */
  def drain(): Unit = {
    drained = false
    sc.setJobGroup(DrainGroup, DrainGroup, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!drained) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("Spark listener bus did not drain within 60 s")
      Thread.sleep(5)
    }
  }

  def detach(): Unit = sc.removeSparkListener(this)

  /** Union length (ms) of intervals clipped to the span windows. */
  private def busyMs(jobs: Seq[(Long, Long)], windows: Seq[(Long, Long)]): Long = {
    val clipped = for ((js, je) <- jobs; (ws, we) <- windows
                       if math.min(je, we) > math.max(js, ws))
      yield (math.max(js, ws), math.min(je, we))
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- clipped.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The six per-span figures; `sparkFree` spans report wall time only. */
  def spanMetrics(name: String, sparkFree: Boolean = false): Seq[(String, Double, String)] =
    synchronized {
      val a = spans.getOrElse(name, new SpanAgg)
      val wall = a.wallNs / 1e9
      if (sparkFree) {
        require(a.jobs == 0, s"span $name was expected to run no Spark job, ran ${a.jobs}")
        Seq((s"$name.wall_s", wall, "s"))
      } else {
        val gap = math.max(0.0, wall - busyMs(a.jobWindows.toSeq, a.windows.toSeq) / 1e3)
        val heaviest = a.stageTaskMs.values.toSeq.sortBy(-_.sum).headOption
        val skew = heaviest.map { ts =>
          val sorted = ts.sorted
          val med = sorted(sorted.size / 2).toDouble
          sorted.last.toDouble / math.max(med, 1.0)
        }.getOrElse(0.0)
        Seq(
          (s"$name.wall_s", wall, "s"),
          (s"$name.jobs", a.jobs.toDouble, "count"),
          (s"$name.task_cpu_s", a.cpuNs / 1e9, "s"),
          (s"$name.driver_gap_s", gap, "s"),
          (s"$name.shuffle_mb", a.shuffleWriteBytes / 1048576.0, "MB"),
          (s"$name.task_skew", skew, "ratio"))
      }
    }

  /** Jobs started under span (or job group) `name`. */
  def jobs(name: String): Int = synchronized(spans.get(name).map(_.jobs).getOrElse(0))

  /** Span accounting for `workload`'s traced operations: within each
    * [[op]], the walls of the named spans plus the gaps between consecutive
    * spans should add up to the operation's wall. Returns
    * |accounted - wall| / wall over all its operations: the time before the
    * first span and after the last one, or the excess of overlapping spans. */
  def accountingErr(workload: String, names: Seq[String]): Double = synchronized {
    val wins = names.flatMap(spans.get).flatMap(_.nsWindows).sortBy(_._1)
    val opWins = ops.getOrElse(workload, mutable.ArrayBuffer.empty[(Long, Long)]).toSeq
    val wallNs = opWins.map { case (s, e) => e - s }.sum
    val accountedNs = opWins.map { case (o0, o1) =>
      val in = wins.filter { case (s, e) => s >= o0 && e <= o1 }
      val gaps = in.zip(in.drop(1)).map { case ((_, e), (s, _)) => math.max(0L, s - e) }
      in.map { case (s, e) => e - s }.sum + gaps.sum
    }.sum
    math.abs(accountedNs - wallNs).toDouble / math.max(wallNs, 1L)
  }

  def totalSpillMb: Double = synchronized(spans.values.map(_.spillBytes).sum / 1048576.0)
}
