package graft.tools

import graft.rdf._
import graft.shacl._

/** Debug: dump actual vs expected report for one SHT fixture. */
object ShtDebug {
  def main(args: Array[String]): Unit = {
    val file = args(0)
    val spark = Sessions.local()
    val base = "file://" + file
    val g = TurtleParser.parseFile(file)
    val MF = ShtSuite.MF; val SHT = ShtSuite.SHT
    for (entry <- g.subjects(RDF.ty, Iri(SHT + "Validate")).toList) {
      val action = g.value(entry, Iri(MF + "action")).get
      def gr(p: String, role: String): MemGraph = g.value(action, Iri(SHT + p)) match {
        case Some(Iri(v)) if v == base => g
        case Some(Iri(v)) => TurtleParser.parseFile(v.stripPrefix("file://"), bnodePrefix = role)
        case _ => g
      }
      val out = Validator.validateGraph(spark, gr("dataGraph", "d"), Some(gr("shapesGraph", "s")),
        ValidationOptions(inference = "rdfs"))
      println("=== ACTUAL REPORT ===")
      println(NTriplesWriter.write(out.reportGraph))
      println("=== EXPECTED (mf:result cbd) ===")
      val exp = g.value(entry, Iri(MF + "result")).get
      println(NTriplesWriter.write(MemGraph(g.cbd(exp))))
      val log = new StringBuilder
      val ok = ReportCompare.compare(out.reportGraph.copyGraph(), g.copyGraph(), exp, log)
      println(s"COMPARE=$ok  $log")
    }
    spark.stop()
  }
}
