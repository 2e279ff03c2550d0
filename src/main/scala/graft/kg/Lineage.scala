package graft.kg

import graft.rdf.Json
import graft.rdf.Json.{J, JNum, JObj, JStr, JsonError}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.control.NonFatal

/** Checkpoint-resume bookkeeping: each pipeline stage persists its output
  * to `<root>/<stage>/`, and the lineage log records a done entry per stage
  * (runId, stage, status, rowsOut, inputChecksum, updatedAt) plus
  * per-stage metrics. On restart, a stage whose latest done entry carries
  * an identical input checksum is *not* recomputed — its persisted output
  * is read back. FIXTURES.md §5 shape.
  *
  * The log `<root>/_lineage_log/` is written by the driver, in the style of
  * Delta's `_delta_log`: one small JSON-lines file per commit, each line
  * either `{"entry": {...}}` or `{"metric": {...}}`, written under a hidden
  * temporary name and then renamed, so no reader sees half a commit. An
  * instance reads the log once, when it is built, and keeps the entries in
  * memory, extending them on each commit: `rowsOf`, `isDone` and the
  * resume checks start no Spark job, and a fresh stage starts only the job
  * of its own write, which also counts the rows it writes.
  *
  * Failures are explicit. A missing log means "no entries"; a commit file
  * that cannot be read or parsed raises an error naming the file; a root
  * holding the parquet `_lineage` / `_metrics` tables of older versions is
  * refused with the way to recover. A done stage is recomputed only when
  * its output directory is gone, and that is recorded as a `recomputed`
  * metric; any other failure to read the output surfaces.
  */
final case class LineageEntry(runId: String, stage: String, status: String,
                              rowsOut: Long, inputChecksum: String, updatedAt: Long)

final class Lineage(spark: SparkSession, root: String, runId: String) {
  import Lineage._
  private val logDir = new Path(root, LogDir)
  private val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  for (old <- Seq("_lineage", "_metrics") if fs.exists(new Path(root, old)))
    throw new IllegalStateException(
      s"$root/$old is a lineage table in the parquet format of an older " +
        s"version; lineage now lives in $root/$LogDir. Delete $root/_lineage " +
        s"and $root/_metrics to recompute every stage on the next run, or " +
        "start from a fresh root.")

  private val commitFiles: Seq[Path] =
    if (!fs.exists(logDir)) Nil
    else fs.listStatus(logDir).toSeq.map(_.getPath)
      .filterNot(p => p.getName.startsWith(".") || p.getName.startsWith("_"))
      .sortBy(_.getName)

  /** Every logged entry in commit order; extended by this instance's commits. */
  private val known: ArrayBuffer[LineageEntry] = ArrayBuffer.from(commitFiles.flatMap(readCommit))
  private var version = commitFiles.size.toLong

  private def readCommit(file: Path): Seq[LineageEntry] = {
    val text =
      try {
        val in = fs.open(file)
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      } catch {
        case e: java.io.IOException =>
          throw new IllegalStateException(s"cannot read lineage commit $file: ${e.getMessage}", e)
      }
    try text.split('\n').toSeq.filter(_.trim.nonEmpty).flatMap(parseLine)
    catch {
      case NonFatal(e) =>
        throw new IllegalStateException(s"malformed lineage commit $file: ${e.getMessage}", e)
    }
  }

  private def commit(lines: Seq[String], entry: Option[LineageEntry]): Unit = {
    val name = f"$version%020d-${java.util.UUID.randomUUID()}.json"
    val file = new Path(logDir, name)
    val tmp = new Path(logDir, s".$name.tmp")
    fs.mkdirs(logDir)
    val out = fs.create(tmp, false)
    try out.write(lines.mkString("", "\n", "\n").getBytes(UTF_8)) finally out.close()
    if (!fs.rename(tmp, file))
      throw new java.io.IOException(s"could not commit lineage file $file")
    version += 1
    known ++= entry
  }

  /** Record a done entry and the stage's metrics as one commit. */
  private def done(stage: String, rows: Long, inputChecksum: String,
                   metrics: Seq[(String, Double)]): Unit = {
    val now = System.currentTimeMillis()
    val e = LineageEntry(runId, stage, "done", rows, inputChecksum, now)
    commit(entryLine(e) +: metrics.map { case (n, v) => metricLine(runId, stage, n, v, now) },
      Some(e))
  }

  def metric(stage: String, name: String, value: Double): Unit = recordMetrics(stage, name -> value)

  /** Several metrics of one stage, written as one commit. */
  def recordMetrics(stage: String, values: (String, Double)*): Unit = {
    val now = System.currentTimeMillis()
    commit(values.map { case (n, v) => metricLine(runId, stage, n, v, now) }, None)
  }

  /** Every run's metrics (runId, stage, metric, value, recordedAt), read
    * from the commit files as they are on disk now. */
  def metrics(): DataFrame = readLog("metric", MetricSchema)

  /** Every run's entries, in the columns of [[LineageEntry]]. */
  def entries(): DataFrame = readLog("entry", EntrySchema)

  private def readLog(kind: String, schema: StructType): DataFrame =
    if (!fs.exists(logDir)) spark.createDataFrame(java.util.List.of[Row](), schema)
    else spark.read.schema(StructType(Seq(StructField(kind, schema))))
      .option("mode", "FAILFAST").json(logDir.toString)
      .where(col(kind).isNotNull).select(s"$kind.*")

  /** Latest done entry per stage wins. */
  private def doneEntry(stage: String): Option[LineageEntry] =
    known.filter(e => e.stage == stage && e.status == "done").sortBy(_.updatedAt).lastOption

  /** Row count the lineage recorded for a completed stage — lets callers
    * reuse an already-paid count instead of re-running the stage plan. */
  def rowsOf(stage: String): Option[Long] = doneEntry(stage).map(_.rowsOut)

  /** Whether a stage is already complete for this input — lets callers
    * gate their own side metrics so a resume doesn't re-append them. */
  def isDone(stage: String, inputChecksum: String): Boolean =
    doneEntry(stage).exists(_.inputChecksum == inputChecksum)

  /** Run a side-effecting step at most once per input checksum (e.g. a
    * store snapshot commit); replays are skipped on resume. */
  def marker(name: String, inputChecksum: String)(action: => Long): Unit =
    if (isDone(name, inputChecksum)) metric(name, "resumed", 1.0)
    else done(name, action, inputChecksum, Nil)

  /** Run (or resume) a stage: skip compute when a done entry with the same
    * input checksum exists and the persisted output directory does. */
  def stage(name: String, inputChecksum: String)(compute: => DataFrame): DataFrame = {
    val outPath = s"$root/$name"
    val wasDone = isDone(name, inputChecksum)
    if (wasDone && fs.exists(new Path(outPath))) {
      val df = spark.read.parquet(outPath)
      metric(name, "resumed", 1.0)
      df
    } else {
      val t0 = System.nanoTime()
      val df = compute
      val rows = CountedWrite(df)(_.write.mode(SaveMode.Overwrite).parquet(outPath))
      done(name, rows, inputChecksum,
        Seq("rowsOut" -> rows.toDouble, "seconds" -> (System.nanoTime() - t0) / 1e9) ++
          (if (wasDone) Seq("recomputed" -> 1.0) else Nil))
      spark.read.schema(df.schema).parquet(outPath)
    }
  }
}

object Lineage {
  /** Directory of the commit files under a pipeline root. */
  val LogDir = "_lineage_log"

  private val EntrySchema: StructType = StructType(Seq(
    StructField("runId", StringType), StructField("stage", StringType),
    StructField("status", StringType), StructField("rowsOut", LongType),
    StructField("inputChecksum", StringType), StructField("updatedAt", LongType)))

  private val MetricSchema: StructType = StructType(Seq(
    StructField("runId", StringType), StructField("stage", StringType),
    StructField("metric", StringType), StructField("value", DoubleType),
    StructField("recordedAt", LongType)))

  private def q(s: String): String = Json.quote(s)

  // non-finite doubles as the quoted names Spark's JSON reader accepts
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) q(d.toString) else d.toString

  private def entryLine(e: LineageEntry): String =
    s"""{"entry":{"runId":${q(e.runId)},"stage":${q(e.stage)},"status":${q(e.status)},""" +
      s""""rowsOut":${e.rowsOut},"inputChecksum":${q(e.inputChecksum)},"updatedAt":${e.updatedAt}}}"""

  private def metricLine(runId: String, stage: String, name: String, value: Double,
                         at: Long): String =
    s"""{"metric":{"runId":${q(runId)},"stage":${q(stage)},"metric":${q(name)},""" +
      s""""value":${num(value)},"recordedAt":$at}}"""

  private def field(o: J, k: String): J = o match {
    case JObj(m) => m.getOrElse(k, throw new JsonError(s"missing field '$k'"))
    case _ => throw new JsonError("expected an object")
  }
  private def str(o: J, k: String): String = field(o, k) match {
    case JStr(s) => s
    case v => throw new JsonError(s"field '$k' is not a string: $v")
  }
  private def long(o: J, k: String): Long = field(o, k) match {
    case JNum(n, _) => n.toLongExact
    case v => throw new JsonError(s"field '$k' is not an integer: $v")
  }
  private def double(o: J, k: String): Double = field(o, k) match {
    case JNum(n, _) => n.toDouble
    case JStr(s @ ("NaN" | "Infinity" | "-Infinity")) => s.toDouble
    case v => throw new JsonError(s"field '$k' is not a number: $v")
  }

  /** One log line: its entry, or None for a (validated) metric line. */
  private def parseLine(line: String): Option[LineageEntry] = Json.parse(line) match {
    case JObj(m) if m.keySet == Set("entry") =>
      val e = m("entry")
      Some(LineageEntry(str(e, "runId"), str(e, "stage"), str(e, "status"),
        long(e, "rowsOut"), str(e, "inputChecksum"), long(e, "updatedAt")))
    case JObj(m) if m.keySet == Set("metric") =>
      val x = m("metric")
      str(x, "runId"); str(x, "stage"); str(x, "metric"); double(x, "value"); long(x, "recordedAt")
      None
    case _ => throw new JsonError("""expected one {"entry": ...} or {"metric": ...} object per line""")
  }
}

/** Runs `write` on `df` and returns how many rows it wrote, counted inside
  * the write's own job (`Dataset.observe`) instead of by a second scan. */
private[kg] object CountedWrite {
  def apply(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("rows")))
    // the observed row reaches the driver through the listener bus once
    // the write's query ends; the bound turns a lost event into an error
    Await.result(obs.future, 10.minutes).getLong(0)
  }
}
