package perfbench

import graft.rdf.{MemGraph, TurtleParser}
import graft.shacl.{SH, ShapeCompiler, ValidationOptions, Validator}
import org.apache.spark.sql.SparkSession

/** `shacl_small`: a fixed, seeded set of small Turtle data graphs, each
  * parsed and validated on its own with `Validator.validateGraph`
  * (advanced = true, one `sh:TripleRule`), report collected. This is
  * pySHACL's typical call; its cost is the per-call driver floor (plan
  * construction, SPARQL frames, rules, report building), not executor
  * work. One operation is one graph; the loop cycles through the set. */
final class ShaclSmall(spark: SparkSession, seed: Long) extends Workload {
  import ShaclSmall._
  val name = "shacl_small"
  private lazy val shapes: MemGraph = TurtleParser.parseGraph(
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("perfbench/shapes/small.ttl")), "UTF-8"), "http://ex.org/shapes")
  private val graphs: IndexedSeq[Graph] = (0 until Graphs).map(g => Graph.make(seed, g))
  private val opts = ValidationOptions(advanced = true)

  def setup(): Unit = {
    shapes
    // warm-up: the first calls of a JVM are the slowest (~3.4 s against
    // ~2 s once the JIT has compiled the per-call planning path)
    (0 until WarmCalls).foreach(i =>
      Validator.validateGraph(spark, parse(graphs(i % Graphs)), Some(shapes), opts))
  }

  private def parse(g: Graph): MemGraph = TurtleParser.parseGraph(g.ttl, "http://ex.org/data")

  private def finish(g: Graph, out: Validator.Outcome, wall: Double): Op = {
    val byComp = out.results.filterNot(_.isDetail).groupBy(_.component.value)
      .map { case (k, v) => k -> v.size.toLong }
    val counts = g.expected.keys.toSeq.sorted.map(k => byComp.getOrElse(k, 0L))
    Op(wall, g.triples, out.conforms == g.conforms && byComp == g.expected.filter(_._2 > 0),
      (if (out.conforms) 1L else 0L) +: counts)
  }

  def run(i: Int): Op = {
    val g = graphs(i % Graphs)
    val (out, wall) = Workload.time(
      Validator.validateGraph(spark, parse(g), Some(shapes), opts))
    finish(g, out, wall)
  }

  val spans: Seq[String] = Seq("rdf.parse", "shacl.compile", "shacl.validate_graph")
  /** One pass over the set, so every run validates the same graphs. */
  override val minOps = Graphs
  override val tracedOps = 4
  override val sparkFreeSpans: Set[String] = Set("rdf.parse", "shacl.compile")

  /** `shacl.compile` times `ShapeCompiler.compile` on its own; validateGraph
    * compiles the shapes again inside its span, so the probe is part of the
    * tracing overhead. */
  def traced(t: Tracer, i: Int): Op = {
    val g = graphs(i % Graphs)
    val (out, wall) = Workload.time(t.op(name) {
      val data = t.span("rdf.parse")(parse(g))
      t.span("shacl.compile")(new ShapeCompiler(shapes).compile())
      t.span("shacl.validate_graph")(Validator.validateGraph(spark, data, Some(shapes), opts))
    })
    finish(g, out, wall)
  }

  override def report: Map[String, Any] = Map(
    "graphs" -> Graphs, "triples_per_graph" -> graphs.map(_.triples).mkString(","),
    "conforming_graphs" -> graphs.count(_.conforms))
}

object ShaclSmall {
  val Graphs = 8
  val WarmCalls = 4
  private val Sh = SH.ns

  /** One data graph of 20-34 people; on a nonconforming graph each
    * violation class is planted on a seeded subset of them. */
  final case class Graph(ttl: String, triples: Long, expected: Map[String, Long]) {
    def conforms: Boolean = expected.values.forall(_ == 0)
  }

  object Graph {
    def make(seed: Long, g: Int): Graph = {
      def u(i: Int, slot: Int) = Workload.u01(seed, g.toLong * 1000 + i, slot)
      // sizes depend on the graph's index only, so every seed validates
      // the same amount of data
      val persons = 20 + 2 * g
      // every fourth graph conforms
      val rate = if (g % 4 == 3) 0.0 else 0.1
      val sb = new StringBuilder("@prefix ex: <http://ex.org/> .\n" +
        "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n")
      var triples = 0L
      var noName, twoNames, badAge, knowsThing = 0L
      def add(s: String): Unit = { sb.append(s).append(" .\n"); triples += 1 }
      for (i <- 0 until persons) {
        val p = s"ex:p$i"
        add(s"$p a ex:Person")
        if (u(i, 1) < rate) noName += 1
        else {
          add(s"""$p ex:name "Person $i"""")
          if (u(i, 2) < rate) { add(s"""$p ex:name "Alias $i""""); twoNames += 1 }
        }
        if (u(i, 3) < rate) { add(s"""$p ex:age "old""""); badAge += 1 }
        else add(s"""$p ex:age "${20 + i % 50}"^^xsd:integer""")
        if (u(i, 4) < rate) { add(s"$p ex:knows ex:thing$i"); knowsThing += 1 }
        else add(s"$p ex:knows ex:p${(i + 1) % persons}")
      }
      Graph(sb.toString, triples, Map(
        Sh + "MinCountConstraintComponent" -> 2 * noName,
        Sh + "MaxCountConstraintComponent" -> twoNames,
        Sh + "DatatypeConstraintComponent" -> badAge,
        Sh + "ClassConstraintComponent" -> knowsThing))
    }
  }
}
