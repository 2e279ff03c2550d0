package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class KgSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("connected components match a union-find oracle") {
    // deterministic random graph
    val rnd = new scala.util.Random(7)
    val n = 500
    val edges = (1 to 700).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    // driver-side union-find oracle
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val ra = find(a.toInt); val rb = find(b.toInt)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> {
        // min id in component
        val r = find(v.toInt)
        edges.flatMap(e => Seq(e._1, e._2)).distinct.filter(u => find(u.toInt) == r).min
      }).toMap

    val got = ConnectedComponents.run(spark, edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every vertex mapped, to the component min
    assert(expected.keySet == got.keySet)
    val diff = expected.filter { case (k, v) => got(k) != v }
    assert(diff.isEmpty, s"mismatched: ${diff.take(5)}")
  }

  test("CC local contraction is exact across partitions (chain + cliques + singletons)") {
    // r8: converge() contracts each partition with a local union-find
    // before the star rounds. Plant structures that SPAN partitions so the
    // contraction can never see a whole component locally: one 2000-node
    // chain (hash-partitioning scatters adjacent edges), two 30-cliques,
    // and duplicate/reversed edges; force 8 partitions.
    val chain = (0L until 1999L).map(k => (k + 10000L, k + 10001L))
    val clique1 = for (i <- 0 until 30; j <- i + 1 until 30) yield (100L + i, 100L + j)
    val clique2 = for (i <- 0 until 30; j <- i + 1 until 30) yield (500L + j, 500L + i) // reversed
    val edges = (chain ++ clique1 ++ clique2 ++ chain.take(50)).toDF("src", "dst")
      .repartition(8)
    val got = ConnectedComponents.run(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected =
      (10000L to 11999L).map(_ -> 10000L) ++
        (100L until 130L).map(_ -> 100L) ++ (500L until 530L).map(_ -> 500L)
    assert(got == expected.toMap)
    // same graph through the multi-partition STAR branch: with AQE
    // coalescing off, the contracted set keeps 4 shuffle partitions, so
    // the single-partition endgame never fires and the star rounds must
    // produce the identical forest
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try {
      val gotStar = ConnectedComponents.run(spark, edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotStar == expected.toMap)
    } finally spark.conf.set(key, "true")
    // runWithVertices: vertex set covers endpoints plus edge-free singletons
    val verts = (Seq(1L, 2L) ++ got.keys).toDF("id")
    val withV = ConnectedComponents.runWithVertices(spark, edges, verts)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(withV == expected.toMap ++ Map(1L -> 1L, 2L -> 2L))
  }

  test("CC raises at the iteration cap instead of returning an unconverged forest") {
    // a chain scattered over 8 partitions with AQE coalescing off: the
    // contracted set keeps several partitions, so the star rounds run, and
    // one round cannot span the chain
    val edges = (0L until 1999L).map(k => (k + 10000L, k + 10001L)).toDF("src", "dst")
      .repartition(8)
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try {
      val e = intercept[IllegalStateException](
        ConnectedComponents.run(spark, edges, maxIter = 1).collect())
      assert(e.getMessage.contains("did not converge within 1 rounds"))
      // the default cap converges to the single component
      val comps = ConnectedComponents.run(spark, edges).select($"component").distinct()
        .as[Long].collect().toSeq
      assert(comps == Seq(10000L))
    } finally spark.conf.set(key, "true")
  }

  test("fresh stages: lineage rowsOut equals the output's parquet count, schema equals read-back") {
    val out = java.nio.file.Files.createTempDirectory("kgfresh").toString
    val lin = new Lineage(spark, out, "fresh")
    val ck = "docs=300"
    // KgPipeline.run's stage chain, keeping each returned frame
    val docs = DocSynth.docs(spark, 300, seed = 42, partitions = 4)
    val spans = lin.stage("spans", ck)(KgPipeline.tagSpans(docs))
    val ments = lin.stage("mentions", ck)(KgPipeline.mentions(spans))
    val links = lin.stage("links", ck)(KgPipeline.linkEntities(spark, ments).toDF())
    val comps = lin.stage("components", ck)(KgPipeline.canonicalize(spark, links))
    val triples = lin.stage("triples", ck)(
      KgPipeline.materializeTriples(links, comps).unionByName(KgPipeline.mediaTriples(spark, spans)))
    val reread = new Lineage(spark, out, "reader")
    val rowsOutMetric = reread.metrics().filter($"metric" === "rowsOut")
      .select($"stage", $"value").as[(String, Double)].collect().toMap
    for ((name, df) <- Seq("spans" -> spans, "mentions" -> ments, "links" -> links,
                           "components" -> comps, "triples" -> triples)) {
      val back = spark.read.parquet(s"$out/$name")
      val n = back.count()
      assert(n > 0, name)
      assert(lin.rowsOf(name).contains(n), name)
      assert(reread.rowsOf(name).contains(n), name)
      assert(rowsOutMetric(name) == n.toDouble, name)
      assert(df.schema == back.schema, name)
      assert(df.count() == n, name)
    }
    // the full pipeline on a fresh root agrees with the lineage counts
    val root2 = java.nio.file.Files.createTempDirectory("kgfresh2").toString
    val c = KgPipeline.run(spark, root2, 300, partitions = 4, validate = false, runId = "f")
    val lin2 = new Lineage(spark, root2, "reader")
    assert(lin2.rowsOf("spans").contains(c.spans))
    assert(lin2.rowsOf("mentions").contains(c.mentions))
    assert(lin2.rowsOf("links").contains(c.links))
    assert(lin2.rowsOf("triples").contains(c.triples))
    assert(lin2.rowsOf("store").contains(c.triples))
  }

  test("span tagger preserves per-row span-sequence (kind,text,media_ref,order)") {
    val docs = DocSynth.docs(spark, 200, seed = 42, partitions = 4)
    val tagged = KgPipeline.tagSpans(docs)
    // reassemble and compare against the source rows
    val back = tagged.groupBy($"doc_id")
      .agg(sort_array(collect_list(struct($"span_idx", $"kind", $"text", $"media_ref", $"offset"))).as("xs"))
      .select($"doc_id", expr("transform(xs, x -> struct(x.kind as kind, x.text as text, x.media_ref as media_ref, x.offset as offset))").as("spans"))
    val orig = docs.toDF().select($"doc_id", $"spans")
    assert(back.exceptAll(orig).isEmpty && orig.exceptAll(back).isEmpty)
  }

  test("linkEntities native expressions match the EntityScorer contract") {
    // r8 moved scoring from the typed mapPartitions closure to codegen'd
    // column expressions; every field (incl. the hashCode-derived double
    // score) must be bit-identical to the reference scorer
    val docs = DocSynth.docs(spark, 500, seed = 42, partitions = 4)
    val ments = KgPipeline.mentions(KgPipeline.tagSpans(docs))
    val got = KgPipeline.linkEntities(spark, ments).collect().toSeq
      .sortBy(l => (l.doc_id, l.span_idx, l.surface, l.entity_id))
    val scorer = new KgPipeline.EntityScorer
    val expected = ments.select($"doc_id", $"span_idx", $"surface")
      .as[(String, Int, String)].collect().toSeq
      .map { case (d, i, s) => scorer.score(d, i, s) }
      .sortBy(l => (l.doc_id, l.span_idx, l.surface, l.entity_id))
    assert(got == expected)
  }

  test("pipeline is resumable: second run reuses persisted stages") {
    val out = java.nio.file.Files.createTempDirectory("kgresume").toString
    val c1 = KgPipeline.run(spark, out, 300, partitions = 4, validate = false, runId = "a")
    val c2 = KgPipeline.run(spark, out, 300, partitions = 4, validate = false, runId = "b")
    assert(c1 == c2)
    // every stage of run b must be a resume (skip), recorded in metrics
    val lin = new Lineage(spark, out, "b")
    val resumed = lin.metrics().filter($"runId" === "b" && $"metric" === "resumed").count()
    assert(resumed >= 5, s"expected all 5 stages resumed, got $resumed")
    // changed input => recompute
    val c3 = KgPipeline.run(spark, out, 301, partitions = 4, validate = false, runId = "c")
    assert(c3.docs == 301)
  }

  test("emitted triples match an independently-computed oracle with P/R = 1") {
    val out = java.nio.file.Files.createTempDirectory("kgpr").toString
    KgPipeline.run(spark, out, 400, partitions = 4, validate = false, runId = "pr")
    val got = spark.read.parquet(s"$out/triple_store")
      .select($"s", $"p", $"o").as[(String, String, String)].collect().toSet

    // oracle: recompute mentions + CC driver-side from the same synth
    val docs = (0L until 400L).map(id => id -> DocSynth.spansFor(42, id))
    val mentions = docs.flatMap { case (id, spans) =>
      spans.zipWithIndex.collect { case (s, i) if s.kind == "text" =>
        "Entity_[0-9]+".r.findAllIn(s.text).map(m => (id, i, m.stripPrefix("Entity_").toLong))
      }.flatten
    }
    val edges = mentions.groupBy(_._1).values.flatMap { ms =>
      val sorted = ms.sortBy(m => (m._2, m._3)).map(_._3)
      sorted.zip(sorted.drop(1))
    }.toSeq
    val ids = mentions.map(_._3).distinct
    val idx = ids.sorted.zipWithIndex.toMap
    val parent = Array.tabulate(ids.size)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val ra = find(idx(a)); val rb = find(idx(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val sortedIds = ids.sorted
    val comp: Map[Long, Long] = ids.map { v =>
      val r = find(idx(v)); v -> sortedIds(r)
    }.toMap
    // min-id per component: relabel to true min
    val byRoot = comp.groupBy(_._2).flatMap { case (_, m) =>
      val minId = m.keys.min; m.keys.map(_ -> minId)
    }
    val KG = KgPipeline.KG
    // media triples: every media span emits doc->hasMedia->ref, and each
    // distinct ref a mediaType derived from the same hash the synthesizer
    // uses (ops/Multimodal.synthPayloads)
    val mediaPairs = docs.flatMap { case (id, spans) =>
      spans.collect { case sp if sp.kind == "media" => (id, sp.media_ref) }
    }
    def mtype(ref: String): String = math.abs(ref.hashCode) % 3 match {
      case 0 => "image"; case 1 => "audio"; case _ => "video"
    }
    val mediaExpected = mediaPairs.flatMap { case (id, ref) =>
      Seq((s"http://graft.dev/doc/$id", KG + "hasMedia", ref),
        (ref, KG + "mediaType", mtype(ref)))
    }.toSet
    val expected0 = mentions.flatMap { case (id, _, e) =>
      val c = byRoot(e)
      Seq(
        (s"http://graft.dev/doc/$id", KG + "mentions", s"${KG}entity/$e"),
        (s"${KG}entity/$c", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", KG + "Entity"),
        (s"${KG}entity/$c", KG + "label", s"Entity_$c")) ++
        (if (e != c) Seq((s"${KG}entity/$e", KG + "canonical", s"${KG}entity/$c")) else Nil)
    }.toSet
    val expected = expected0 ++ mediaExpected
    val precision = got.intersect(expected).size.toDouble / got.size
    val recall = got.intersect(expected).size.toDouble / expected.size
    assert(precision >= 0.95 && recall >= 0.95,
      s"P=$precision R=$recall got=${got.size} expected=${expected.size} " +
        s"gotOnly=${got.diff(expected).take(3)} expOnly=${expected.diff(got).take(3)}")
  }
}
