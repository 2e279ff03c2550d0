package graft.shacl

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.rdf._
import org.apache.spark.sql.functions._

/** The at-scale report path: validating a deliberately nonconforming
  * graph must keep the driver bounded — counts + a bounded sample, never a
  * full collect (VERDICT r1 "What's wrong" #1). */
class ScaleValidationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def iriCol(c: org.apache.spark.sql.Column) =
    struct(c.as("v"), lit(0.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
  private def litCol(c: org.apache.spark.sql.Column) =
    struct(c.as("v"), lit(2.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))

  test("1M-entity nonconforming graph validates with bounded driver memory") {
    val n = 1000000L
    val ids = spark.range(n)
    val ex = "http://ex.org/"
    val types = ids.select(
      iriCol(concat(lit(ex + "p"), $"id")).as("s"),
      lit(RDF.ty.value).as("p"),
      iriCol(lit(ex + "Person")).as("o"))
    // 3 of every 5 entities have a name; 2 of 5 violate minCount 1
    val names = ids.filter($"id" % 5 < 3).select(
      iriCol(concat(lit(ex + "p"), $"id")).as("s"),
      lit(ex + "name").as("p"),
      litCol(concat(lit("name-"), $"id")).as("o"))
    val triples = types.unionByName(names)

    val shapes = TurtleParser.parseGraph(
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |@prefix ex: <$ex> .
         |ex:PersonShape a sh:NodeShape ; sh:targetClass ex:Person ;
         |  sh:property [ sh:path ex:name ; sh:minCount 1 ] .
         |""".stripMargin, "http://test/")

    val out = Validator.validateFrameAtScale(spark, triples, shapes, sampleSize = 10)
    assert(!out.conforms)
    assert(out.totalViolations == 2L * (n / 5))
    assert(out.countsByComponent ==
      Map(SH.MinCountConstraintComponent.value -> 2L * (n / 5)))
    assert(out.countsBySeverity == Map(SH.Violation.value -> 2L * (n / 5)))
    assert(out.sample.size == 10)
    assert(out.sampleText.contains("more results not shown"))
    // the violations frame stays queryable / writable distributed
    assert(out.violations.filter($"comp" === SH.MinCountConstraintComponent.value)
      .limit(1).count() == 1)
  }

  test("sample: empty on conforming data, min(total, sampleSize) rows otherwise") {
    val ex = "http://ex.org/"
    val ids = spark.range(20)
    val types = ids.select(iriCol(concat(lit(ex + "p"), $"id")).as("s"),
      lit(RDF.ty.value).as("p"), iriCol(lit(ex + "Person")).as("o"))
    // the first 7 people have no name
    val names = ids.filter($"id" >= 7).select(iriCol(concat(lit(ex + "p"), $"id")).as("s"),
      lit(ex + "name").as("p"), litCol(concat(lit("name-"), $"id")).as("o"))
    val shapes = TurtleParser.parseGraph(
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |@prefix ex: <$ex> .
         |ex:PersonShape a sh:NodeShape ; sh:targetClass ex:Person ;
         |  sh:property [ sh:path ex:name ; sh:minCount 1 ] .
         |""".stripMargin, "http://test/")
    val ok = Validator.validateFrameAtScale(spark, types.unionByName(names).filter(
      !$"s.v".isin((0 until 7).map(i => s"${ex}p$i"): _*)), shapes, sampleSize = 5)
    assert(ok.conforms && ok.totalViolations == 0 && ok.sample.isEmpty)
    assert(!ok.sampleText.contains("more results not shown"))
    ok.release()
    for (size <- Seq(5, 7, 100)) {
      val bad = Validator.validateFrameAtScale(spark, types.unionByName(names), shapes,
        sampleSize = size)
      assert(!bad.conforms && bad.totalViolations == 7)
      assert(bad.sample.size == math.min(7, size), s"sampleSize $size")
      assert(bad.sample.map(_.focus).distinct.size == bad.sample.size)
      bad.release()
    }
  }

  test("report triples emit distributed and land in a TripleStore") {
    val n = 100000L
    val ex = "http://ex.org/"
    val ids = spark.range(n)
    val types = ids.select(iriCol(concat(lit(ex + "p"), $"id")).as("s"),
      lit(RDF.ty.value).as("p"), iriCol(lit(ex + "Person")).as("o"))
    val shapesG = TurtleParser.parseGraph(
      s"""@prefix sh: <http://www.w3.org/ns/shacl#> .
         |@prefix ex: <$ex> .
         |ex:PersonShape a sh:NodeShape ; sh:targetClass ex:Person ;
         |  sh:message "missing name" ;
         |  sh:property [ sh:path ex:name ; sh:minCount 1 ] .
         |""".stripMargin, "http://test/")
    val shapes = new ShapeCompiler(shapesG).compile()
    val engine = new ValidationEngine(spark, types, shapes, shapesG)
    val viol = engine.violationsFrame()
    val report = Validator.reportTriplesFrame(viol, shapes)
    // every violating focus contributes: type, focusNode, severity,
    // sourceShape, sourceConstraintComponent, resultPath (no value here)
    val byP = report.groupBy($"p").count().as[(String, Long)].collect().toMap
    assert(byP(SH.focusNode.value) == n)
    assert(byP(SH.resultPath.value) == n)
    assert(byP(SH.resultSeverity.value) == n)
    assert(!byP.contains(SH.value.value))
    // distributed write through the predicate-partitioned store
    val store = new graft.kg.TripleStore(spark,
      java.nio.file.Files.createTempDirectory("report").toString)
    store.append(report.select($"s", $"p", $"o"))
    assert(store.scanPredicate(SH.focusNode.value).count() == n)
  }

  test("at-scale outcome agrees with the collected path on a small graph") {
    val g = TurtleParser.parseGraph(
      """@prefix sh: <http://www.w3.org/ns/shacl#> .
        |@prefix ex: <http://ex.org/> .
        |ex:a a ex:T . ex:b a ex:T ; ex:p "x" .
        |ex:S a sh:NodeShape ; sh:targetClass ex:T ;
        |  sh:property [ sh:path ex:p ; sh:minCount 1 ] .
        |""".stripMargin, "http://test/")
    val df = TriplesDF.fromMemGraph(spark, g)
    val collected = Validator.validateFrame(spark, df, g, n => g.cbd(n))
    val atScale = Validator.validateFrameAtScale(spark, df, g)
    assert(collected.conforms == atScale.conforms)
    assert(atScale.totalViolations == collected.results.size)
    // once the caller is done with the violations frame, release() frees
    // the engine's checkpoint blocks (same contract as validateFrame's
    // automatic close)
    val before = spark.sparkContext.getPersistentRDDs.size
    atScale.release()
    assert(spark.sparkContext.getPersistentRDDs.size <= before)
  }
}
