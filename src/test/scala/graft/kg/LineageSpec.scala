package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

import java.nio.file.{Files, Path, Paths}

/** The lineage log's failure modes: every way a root can be damaged or
  * outdated either resumes correctly or raises an error that names the
  * problem — nothing silently recomputes. */
class LineageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String = Files.createTempDirectory("lineage").toString

  private def logFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root, Lineage.LogDir)
    val it = Files.list(dir)
    try it.toArray.toSeq.map(_.asInstanceOf[Path])
      .filterNot(_.getFileName.toString.startsWith(".")).sortBy(_.toString)
    finally it.close()
  }

  private def deleteTree(p: Path): Unit = {
    val it = Files.walk(p)
    try it.toArray.map(_.asInstanceOf[Path]).sortBy(-_.getNameCount).foreach(Files.delete)
    finally it.close()
  }

  /** Replace a commit file's bytes, dropping the local file system's
    * checksum sidecar so the read reaches the parser. */
  private def overwrite(file: Path, text: String): Unit = {
    Files.writeString(file, text)
    Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
  }

  private def metricRows(root: String, stage: String, metric: String): Seq[Double] =
    new Lineage(spark, root, "reader").metrics()
      .filter($"stage" === stage && $"metric" === metric)
      .select($"value").as[Double].collect().toSeq

  test("a root without a log has no entries; a stage commit is read back by a new instance") {
    val root = freshRoot()
    val lin = new Lineage(spark, root, "r1")
    assert(lin.rowsOf("nums").isEmpty)
    assert(lin.entries().count() == 0 && lin.metrics().count() == 0)
    val out = lin.stage("nums", "ck")(spark.range(1000).toDF("n"))
    assert(out.count() == 1000)
    val again = new Lineage(spark, root, "r2")
    assert(again.rowsOf("nums").contains(1000L))
    assert(again.isDone("nums", "ck") && !again.isDone("nums", "other"))
    assert(again.entries().select($"runId", $"stage", $"status", $"rowsOut")
      .as[(String, String, String, Long)].collect().toSeq == Seq(("r1", "nums", "done", 1000L)))
    // one commit holds the entry and both stage metrics
    assert(logFiles(root).size == 1)
    assert(metricRows(root, "nums", "rowsOut") == Seq(1000.0))
    assert(metricRows(root, "nums", "seconds").size == 1)
  }

  test("an empty stage output records rowsOut 0") {
    val root = freshRoot()
    val lin = new Lineage(spark, root, "r1")
    val out = lin.stage("empty", "ck")(spark.range(100).toDF("n").filter($"n" < 0))
    assert(out.count() == 0)
    assert(lin.rowsOf("empty").contains(0L))
    assert(new Lineage(spark, root, "r2").rowsOf("empty").contains(0L))
    assert(metricRows(root, "empty", "rowsOut") == Seq(0.0))
  }

  test("a corrupt commit file raises an error naming the file") {
    val root = freshRoot()
    new Lineage(spark, root, "r1").stage("nums", "ck")(spark.range(10).toDF("n"))
    val file = logFiles(root).head
    // bytes that no longer match the file system's checksum: unreadable
    Files.writeString(file, """{"entry": {}}""" + "\n")
    val e0 = intercept[IllegalStateException](new Lineage(spark, root, "r2"))
    assert(e0.getMessage.contains(file.getFileName.toString))
    overwrite(file, """{"entry": {"runId": "r1", "stage": """)
    val e = intercept[IllegalStateException](new Lineage(spark, root, "r2"))
    assert(e.getMessage.contains("malformed lineage commit"))
    assert(e.getMessage.contains(file.getFileName.toString))
    // a well-formed line of the wrong shape is malformed too
    overwrite(file, """{"entry": {"runId": "r1", "stage": "nums"}}""" + "\n")
    val e2 = intercept[IllegalStateException](new Lineage(spark, root, "r3"))
    assert(e2.getMessage.contains(file.getFileName.toString))
    assert(e2.getMessage.contains("missing field 'status'"))
  }

  test("a deleted stage output is recomputed and recorded as recomputed") {
    val root = freshRoot()
    new Lineage(spark, root, "r1").stage("nums", "ck")(spark.range(10).toDF("n"))
    deleteTree(Paths.get(root, "nums"))
    val lin = new Lineage(spark, root, "r2")
    var computed = false
    val out = lin.stage("nums", "ck") { computed = true; spark.range(10).toDF("n") }
    assert(computed && out.count() == 10)
    assert(metricRows(root, "nums", "recomputed") == Seq(1.0))
    // a present output resumes without computing
    val lin3 = new Lineage(spark, root, "r3")
    lin3.stage("nums", "ck")(fail("a done stage with its output present must resume"))
    assert(metricRows(root, "nums", "resumed") == Seq(1.0))
  }

  test("an unreadable stage output raises instead of recomputing") {
    val root = freshRoot()
    new Lineage(spark, root, "r1").stage("nums", "ck")(spark.range(10).toDF("n"))
    val dir = Paths.get(root, "nums")
    val it = Files.list(dir)
    try it.toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.writeString(p, "not parquet"))
    finally it.close()
    val lin = new Lineage(spark, root, "r2")
    var computed = false
    intercept[Exception](lin.stage("nums", "ck") { computed = true; spark.range(10).toDF("n") })
    assert(!computed, "an unreadable output must not be recomputed")
  }

  test("a root with the older parquet _lineage table is refused with the way to recover") {
    val root = freshRoot()
    Seq(LineageEntry("r0", "spans", "done", 5L, "ck", 1L)).toDF()
      .write.parquet(s"$root/_lineage")
    val e = intercept[IllegalStateException](new Lineage(spark, root, "r1"))
    assert(e.getMessage.contains(s"$root/_lineage"))
    assert(e.getMessage.contains("Delete"))
    // following the advice makes the root usable again
    deleteTree(Paths.get(root, "_lineage"))
    assert(new Lineage(spark, root, "r1").rowsOf("spans").isEmpty)
  }

  test("batched metrics land as one commit, in the layout metrics() returns") {
    val root = freshRoot()
    val lin = new Lineage(spark, root, "r1")
    lin.recordMetrics("s", "rowsIn" -> 10.0, "dropped_x" -> 3.0, "ratio" -> Double.NaN)
    assert(logFiles(root).size == 1)
    val got = lin.metrics().select($"runId", $"stage", $"metric", $"value")
      .as[(String, String, String, Double)].collect().toSeq.sortBy(_._3)
    assert(got.map(r => (r._1, r._2, r._3)) ==
      Seq(("r1", "s", "dropped_x"), ("r1", "s", "ratio"), ("r1", "s", "rowsIn")))
    assert(got.head._4 == 3.0 && got(1)._4.isNaN && got(2)._4 == 10.0)
    assert(lin.metrics().columns.toSeq == Seq("runId", "stage", "metric", "value", "recordedAt"))
    // commit files parse back on a fresh instance
    assert(new Lineage(spark, root, "r2").rowsOf("s").isEmpty)
  }
}
