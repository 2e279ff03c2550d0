package graft.shacl

import graft.rdf._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** High-level validation entry point — the analogue of pyshacl.validate()
  * (/root/reference/pyshacl/entrypoints.py:33-256 +
  * /root/reference/pyshacl/validator.py:193-342).
  *
  * Data scales through the DataFrame path; the shapes graph is compiled
  * driver-side (it is always small). When no shapes graph is supplied the
  * data graph doubles as the shapes graph (validator.py:73-83).
  */
object Validator {

  final case class Outcome(
    conforms: Boolean,
    reportGraph: MemGraph,
    reportNode: Node,
    reportText: String,
    results: Seq[ResultRow],
    /** shapeKey → sh:severity of the source shape, for renderers that only
      * see result rows (the CLI table); defaults keep old call sites green. */
    sevByShape: Map[String, Iri] = Map.empty)

  /** Validate a driver-side data graph (tests / small graphs): the data is
    * shipped through the same DataFrame engine; CBDs for report cloning
    * come from the in-memory graph. */
  def validateGraph(
      spark: SparkSession,
      dataGraph: MemGraph,
      shapesGraph: Option[MemGraph],
      opts: ValidationOptions = ValidationOptions(),
      ontGraph: Option[MemGraph] = None): Outcome = {
    val sg = shapesGraph.getOrElse(dataGraph)
    // ont_graph mixin = axiom inoculation, not a plain union (validator.py
    // mix_in_ontology -> rdfutil/inoculate.py)
    val data = ontGraph.map(o => Inoculate.mix(dataGraph, o)).getOrElse(dataGraph)
    val df0 = TriplesDF.fromMemGraph(spark, data)
    val df = inferenceStep(spark, df0, opts)
    validateFrame(spark, df, sg, dataCbd = n => data.cbd(n), opts,
      prefixes = sg.nsPrefixes ++ data.nsPrefixes)
  }

  /** Validate an arbitrary triples DataFrame (the at-scale path). CBDs for
    * blank-node report cloning are fetched via targeted scans. */
  def validateFrame(
      spark: SparkSession,
      triples: DataFrame,
      shapesGraph: MemGraph,
      dataCbd: Node => Seq[Triple],
      opts: ValidationOptions = ValidationOptions(),
      prefixes: Map[String, String] = Map.empty): Outcome = {
    // advanced mode: apply SHACL-AF rules (graph mutation) before any
    // constraint runs — validator.py:323-330
    val expanded =
      if (opts.advanced) RulesEngine.expand(spark, triples, shapesGraph, opts.iterateRules)
      else triples
    val shapes = new ShapeCompiler(shapesGraph).compile()
    val engine = new ValidationEngine(spark, expanded, shapes, shapesGraph, opts)
    val rows = engine.run()
    // allow_infos/allow_warnings: allowed severities still report but do not
    // flip conformance (shape.py:729-741)
    val allowed: Set[Iri] =
      (if (opts.allowWarnings) Set(SH.Info, SH.Warning)
       else if (opts.allowInfos) Set(SH.Info)
       else Set.empty[Iri])
    val shapesByKey = shapes.values.map(sh => sh.id.key -> sh).toMap
    // detail rows (sh:detail children) never flip conformance on their own
    val blocking = rows.filterNot(_.isDetail).filterNot(r =>
      allowed.contains(shapesByKey.get(r.shapeKey).map(_.severity).getOrElse(SH.Violation)))
    val conformsV = blocking.isEmpty
    val (conforms, g, rep) = ReportBuilder.build(rows, shapes, shapesGraph, dataCbd,
      conformsOverride = Some(conformsV))
    val out = Outcome(conforms, g, rep,
      ReportBuilder.text(conforms, rows.filterNot(_.isDetail), shapes,
        if (prefixes.nonEmpty) prefixes else shapesGraph.nsPrefixes), rows,
      shapesByKey.map { case (k, s) => k -> s.severity })
    // all results are collected into `rows` above; free the engine's
    // localCheckpoint blocks (memo cache, value-node frames) so long
    // sessions validating many graphs don't pin RDDs for the JVM lifetime
    engine.close()
    out
  }

  /** At-scale validation outcome: nothing driver-bound except bounded
    * aggregates. `violations` is the full distributed frame — write it to
    * parquet / a TripleStore, or derive report triples from it. */
  final case class ScaleOutcome(
    conforms: Boolean,
    totalViolations: Long,
    countsByComponent: Map[String, Long],
    countsBySeverity: Map[String, Long],
    sample: Seq[ResultRow],
    sampleText: String,
    violations: DataFrame,
    /** frees the engine's checkpointed RDDs; call AFTER `violations` has
      * been written/collected — the frame is lazy and unusable afterwards */
    release: () => Unit = () => ())

  /** Validate an arbitrarily large triples DataFrame without collecting
    * the violations to the driver (the reference materializes every result
    * into an in-memory report graph — a scale-killer for nonconforming
    * data at 100 TB; here the driver sees only counts and a bounded
    * sample). */
  def validateFrameAtScale(
      spark: SparkSession,
      triples: DataFrame,
      shapesGraph: MemGraph,
      opts: ValidationOptions = ValidationOptions(),
      sampleSize: Int = 100): ScaleOutcome = {
    val inferred = inferenceStep(spark, triples, opts)
    val expanded =
      if (opts.advanced) RulesEngine.expand(spark, inferred, shapesGraph, opts.iterateRules)
      else inferred
    val shapes = new ShapeCompiler(shapesGraph).compile()
    val engine = new ValidationEngine(spark, expanded, shapes, shapesGraph, opts)
    import org.apache.spark.sql.functions._
    // detail rows are report decoration, not top-level results
    val viol = engine.violationsFrame().filter(col("prid").isNull)
    // one distributed aggregation: (component, shape) cardinality is tiny
    val counts = viol.groupBy(col("comp"), col("shape")).count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val total = counts.map(_._3).sum
    val bySev = counts.groupBy { case (_, sk, _) => engine.severityOf(sk).value }
      .map { case (sev, rows) => sev -> rows.map(_._3).sum }
    val byComp = counts.groupBy(_._1).map { case (c, rows) => c -> rows.map(_._3).sum }
    val allowed: Set[String] =
      (if (opts.allowWarnings) Set(SH.Info.value, SH.Warning.value)
       else if (opts.allowInfos) Set(SH.Info.value)
       else Set.empty[String])
    val blocking = bySev.filterNot { case (sev, _) => allowed.contains(sev) }.values.sum
    // on conforming data the sample would re-run every shape's plan only
    // to come back empty
    val sampleRows = (if (total == 0) Seq.empty else viol.limit(sampleSize).collect().toSeq)
      .map(r => ResultRow(
        focus = TriplesDF.nodeOf(r.getStruct(0)),
        value = Option(r.getStruct(1)).map(TriplesDF.nodeOf),
        pathKey = Option(r.getString(2)),
        component = Iri(r.getString(3)),
        shapeKey = r.getString(4)))
    val text = ReportBuilder.text(blocking == 0, sampleRows, shapes, shapesGraph.nsPrefixes) +
      (if (total > sampleRows.size)
         s"... (${total - sampleRows.size} more results not shown; see the violations frame)\n"
       else "")
    ScaleOutcome(blocking == 0, total, byComp, bySev, sampleRows, text, viol,
      release = () => engine.close())
  }

  /** Violations frame → validation-report TRIPLES frame, fully
    * distributed (the at-scale completion of the report path: write these
    * through a TripleStore / parquet sink instead of collecting an
    * in-memory report graph). One deterministic result bnode per row;
    * severities resolve through a broadcastable shape-key map. Report-root
    * and sh:conforms triples are driver-side one-liners the caller adds
    * (they need the global count anyway). */
  def reportTriplesFrame(viol: DataFrame, shapes: Map[graft.rdf.Node, ShapeIR]): DataFrame = {
    import org.apache.spark.sql.functions._
    val termType = TriplesDF.termType
    def iriT(v: Column) = struct(v.as("v"), lit(0.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    def keyT(k: Column) = // term key -> term struct (IRI or bnode or literal key)
      when(k.startsWith("_:"),
        struct(k.substr(lit(3), length(k)).as("v"), lit(1.toByte).as("k"),
          lit("").as("dt"), lit("").as("lang")))
        .otherwise(iriT(regexp_replace(k, "^<|>$", "")))
    val sevMap = shapes.values.map(s => s.id.key -> s.severity.value).toMap
    val sevCol = sevMap.foldLeft(lit(SH.Violation.value)) { case (acc, (k, sev)) =>
      when(col("shape") === k, sev).otherwise(acc)
    }
    // the constraint node and messages are part of the identity: two
    // distinct sh:sparql constraints on one shape hitting the same
    // (focus, value) must yield distinct result nodes, not one merged
    // result with both message sets
    val rn = struct(
      concat(lit("vr"), conv(xxhash64(col("f"), col("v"), col("path"), col("comp"),
        col("shape"), col("orig"), col("constraint"), col("msgs"))
        .cast("string"), 10, 16)).as("v"),
      lit(1.toByte).as("k"), lit("").as("dt"), lit("").as("lang"))
    val base = viol.filter(col("prid").isNull).select(
      rn.as("_rn"), col("f"), col("v"), col("path"), col("comp"), col("shape"), col("msgs"))
    val parts = Seq(
      base.select(col("_rn").as("s"), lit(graft.rdf.RDF.ty.value).as("p"),
        iriT(lit(SH.ValidationResult.value)).as("o")),
      base.select(col("_rn").as("s"), lit(SH.focusNode.value).as("p"), col("f").as("o")),
      base.select(col("_rn").as("s"), lit(SH.resultSeverity.value).as("p"), iriT(sevCol).as("o")),
      base.select(col("_rn").as("s"), lit(SH.sourceShape.value).as("p"),
        keyT(col("shape")).as("o")),
      base.select(col("_rn").as("s"), lit(SH.sourceConstraintComponent.value).as("p"),
        iriT(col("comp")).as("o")),
      base.filter(col("v").isNotNull)
        .select(col("_rn").as("s"), lit(SH.value.value).as("p"), col("v").as("o")),
      base.filter(col("path").isNotNull)
        .select(col("_rn").as("s"), lit(SH.resultPath.value).as("p"), keyT(col("path")).as("o")),
      base.filter(col("msgs").isNotNull)
        .select(col("_rn").as("s"), lit(SH.resultMessage.value).as("p"),
          explode(col("msgs")).as("o")))
    parts.reduce(_ unionByName _)
  }

  /** Pre-validation inference (run_type.py:21-85): 'rdfs', 'owlrl', or
    * 'both' (owlrl here subsumes the rdfs closure). With
    * failOnInconsistency, an inconsistent graph aborts with the
    * reference's failure instead of proceeding to validation. */
  private def inferenceStep(spark: SparkSession, df: DataFrame,
                            opts: ValidationOptions): DataFrame =
    opts.inference match {
      case "rdfs" => RdfsInference.expand(spark, df)
      case "owlrl" | "both" =>
        val out = OwlRlInference.expand(spark, df)
        if (opts.failOnInconsistency) OwlRlInference.requireConsistent(spark, out)
        out
      case _ => df
    }

  /** CBD provider over a DataFrame for the at-scale path: one targeted
    * filter per requested bnode subtree (reports are small). */
  def frameCbd(spark: SparkSession, triples: DataFrame)(root: Node): Seq[Triple] = {
    import org.apache.spark.sql.functions._
    val out = scala.collection.mutable.ListBuffer.empty[Triple]
    val seen = scala.collection.mutable.Set.empty[Node]
    var frontier: Seq[Node] = Seq(root)
    while (frontier.nonEmpty) {
      val keys = frontier.map(_.key)
      val got = TriplesDF.collectTriples(
        triples.filter(TriplesDF.termKey(col("s")).isin(keys: _*)))
      out ++= got
      seen ++= frontier
      frontier = got.map(_.o).collect { case b: BNode if !seen.contains(b) => b }.distinct
    }
    out.toSeq.distinct
  }
}
