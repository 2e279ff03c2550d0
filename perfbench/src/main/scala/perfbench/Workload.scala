package perfbench

import org.apache.spark.sql.SparkSession

/** One timed operation: its wall time, the work it did (triples or docs),
  * whether every check on its output passed, and the counts the traced run
  * must reproduce. `extra` holds workload-specific figures for the report. */
final case class Op(wallS: Double, items: Long, ok: Boolean, counts: Seq[Long],
                    extra: Map[String, Double] = Map.empty)

/** A benchmark workload: seeded inputs, a set-up step that builds them and
  * warms the engine, and one operation that the timed loop repeats. */
trait Workload {
  def name: String
  /** Input generation, store prebuild and warm-up; may run more than once. */
  def setup(): Unit
  /** Untraced operation number `i` (a workload with a set of inputs takes
    * input `i` of it). */
  def run(i: Int): Op
  /** Operation `i` as a traced run makes it untraced, before and after the
    * traced one; a workload may count its jobs here (see [[KgBuild]]). */
  def untraced(t: Tracer, i: Int): Op = run(i)
  /** The same operation, with each call into a layer wrapped in a span and
    * the whole in [[Tracer.op]]. */
  def traced(t: Tracer, i: Int): Op
  /** Span names in the order the traced operation enters them. */
  def spans: Seq[String]
  /** Operations an untraced run makes at least, however short --seconds. */
  def minOps: Int = 2
  /** Operations per side (untraced, traced) in a traced run. */
  def tracedOps: Int = 1
  /** Spans whose layer never starts a Spark job (parsers, compilers). */
  def sparkFreeSpans: Set[String] = Set.empty
  /** Traced-only metrics beyond the spans (recall, scaling). */
  def tracedExtras: Seq[(String, Double, String)] = Nil
  /** A check on a traced run's Spark accounting, made after the listener
    * has drained: whether it passed, and its figures for the report. */
  def traceCheck(t: Tracer): (Boolean, Map[String, Any]) = (true, Map.empty)
  /** Figures the report prints for this workload beyond the shared ones. */
  def report: Map[String, Any] = Map.empty
}

object Workload {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()

  /** SplitMix64 finalizer: seeded, position-addressable pseudo-randomness. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def u01(seed: Long, a: Long, b: Long): Double =
    (mix(mix(mix(seed) ^ a) ^ b) >>> 11).toDouble / (1L << 53).toDouble
}
