package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class TripleStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def mkStore(): TripleStore =
    new TripleStore(spark, java.nio.file.Files.createTempDirectory("tstore").toString)

  test("append snapshots + time-travel reads") {
    val st = mkStore()
    val s1 = st.append(Seq(("e:a", "http://kg#label", "A")).toDF("s", "p", "o"))
    val s2 = st.append(Seq(("e:b", "http://kg#label", "B")).toDF("s", "p", "o"))
    assert(st.snapshots() == Seq(s1, s2))
    assert(st.read().count() == 2)
    assert(st.readAt(s1).count() == 1)
    assert(st.readAt(s1).select($"s").as[String].collect().toSeq == Seq("e:a"))
  }

  test("overwrite by predicate partition leaves others untouched") {
    val st = mkStore()
    st.append(Seq(
      ("e:a", "http://kg#label", "A"),
      ("e:a", "http://kg#type", "T")).toDF("s", "p", "o"))
    st.overwritePartitions(Seq(("e:a", "http://kg#label", "A2")).toDF("s", "p", "o"),
      Seq("http://kg#label"))
    val rows = st.read().as[(String, String, String)].collect().toSet
    assert(rows == Set(("e:a", "http://kg#label", "A2"), ("e:a", "http://kg#type", "T")))
  }

  test("read-transform-overwrite loop: df derived from the store survives the overwrite") {
    val st = mkStore()
    st.append(Seq(
      ("e:a", "http://kg#label", "a"),
      ("e:b", "http://kg#label", "b"),
      ("e:a", "http://kg#type", "T")).toDF("s", "p", "o"))
    // the classic pattern ADVICE flagged: transform a LAZY read of the same
    // store, then overwrite the partition it reads from
    val uppered = st.read().filter($"p" === "http://kg#label")
      .select($"s", $"p", upper($"o").as("o"))
    val sid = st.overwritePartitions(uppered, Seq("http://kg#label"))
    val rows = st.read().as[(String, String, String)].collect().toSet
    assert(rows == Set(
      ("e:a", "http://kg#label", "A"),
      ("e:b", "http://kg#label", "B"),
      ("e:a", "http://kg#type", "T")))
    // time travel to before the overwrite still sees the old values
    assert(st.readAt(sid - 1).filter($"p" === "http://kg#label")
      .select($"o").as[String].collect().toSet == Set("a", "b"))
    // vacuum physically drops superseded files; current read unchanged
    st.vacuum()
    assert(st.read().as[(String, String, String)].collect().toSet == rows)
  }

  test("partition names agree between write and lookup for non-word local names") {
    val st = mkStore()
    st.append(Seq(
      ("e:a", "http://kg#has-part", "e:b"), // '-' broke the old regex
      ("e:a", "urn:flat:pred", "X"), // no #/ separator at all
      ("e:a", "http://kg/nested/p.x", "Y")).toDF("s", "p", "o"))
    assert(st.scanPredicate("http://kg#has-part").count() == 1)
    assert(st.scanPredicate("urn:flat:pred").count() == 1)
    assert(st.scanPredicate("http://kg/nested/p.x").count() == 1)
    st.overwritePartitions(Seq(("e:a", "http://kg#has-part", "e:c")).toDF("s", "p", "o"),
      Seq("http://kg#has-part"))
    assert(st.scanPredicate("http://kg#has-part")
      .select($"o").as[String].collect().toSeq == Seq("e:c"))
  }

  test("read on an empty store raises a descriptive error, not a path failure") {
    val st = mkStore()
    assert(st.currentSnapshot().isEmpty)
    val e = intercept[IllegalStateException](st.read())
    assert(e.getMessage.contains("no committed snapshots"))
  }

  test("predicate scan prunes to the partition") {
    val st = mkStore()
    st.append(Seq(
      ("e:a", "http://kg#label", "A"),
      ("e:b", "http://kg#mentions", "e:c")).toDF("s", "p", "o"))
    val scan = st.scanPredicate("http://kg#label")
    assert(scan.count() == 1)
    // partition filter must appear in the plan (directory pruning)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("p_part"), s"no partition filter in plan:\n$plan")
  }

  test("compact rewrites fragmented partitions; contents + time travel intact") {
    val st = mkStore()
    // 4 append snapshots fragment the label partition into >= 4 files
    val preSnaps = (1 to 4).map { i =>
      st.append(Seq((s"e:$i", "http://kg#label", s"v$i")).toDF("s", "p", "o"))
    }
    st.append(Seq(("e:x", "http://kg#type", "T")).toDF("s", "p", "o"))
    val before = st.liveFileCounts()
    assert(before("label") >= 4)
    val pre = st.read().as[(String, String, String)].collect().toSet
    val cid = st.compact(minFiles = 2)
    assert(cid.isDefined)
    // contents unchanged, label partition down to one file
    assert(st.read().as[(String, String, String)].collect().toSet == pre)
    val after = st.liveFileCounts()
    assert(after("label") == 1, s"label files after compact: $after")
    // the single-file type partition was below the threshold: untouched
    assert(after("type") == before("type"))
    // time travel to before compaction still works (until vacuum)
    assert(st.readAt(preSnaps.last).filter($"p" === "http://kg#label").count() == 4)
    st.vacuum()
    assert(st.read().as[(String, String, String)].collect().toSet == pre)
    // distributed NT export of the live table round-trips through the reader
    val ntDir = java.nio.file.Files.createTempDirectory("ntexp").toString + "/out"
    st.exportNTriples(ntDir)
    assert(graft.rdf.TriplesDF.readNTriples(spark, ntDir).count() == st.read().count())
  }

  test("each snapshot's logged rows equal a scan of that snapshot's files") {
    val root = java.nio.file.Files.createTempDirectory("tstore").toString
    val st = new TripleStore(spark, root)
    val label = "http://kg#label"
    st.append((1 to 5).map(i => (s"e:$i", label, s"v$i")).toDF("s", "p", "o"))
    // one file, so compaction below touches only the label partition
    st.append(Seq(("e:x", "http://kg#type", "T"), ("e:y", "http://kg#type", "T"))
      .toDF("s", "p", "o").coalesce(1))
    st.append(Seq.empty[(String, String, String)].toDF("s", "p", "o")) // an empty write logs 0
    st.overwritePartitions((1 to 3).map(i => (s"e:$i", label, s"w$i")).toDF("s", "p", "o")
      .union(Seq(("e:z", "http://kg#type", "ignored")).toDF("s", "p", "o")), Seq(label))
    st.append(Seq(("e:9", label, "v9")).toDF("s", "p", "o"))
    assert(st.compact(minFiles = 2).isDefined)
    assert(st.appendBatch(Seq(("e:b", label, "b")).toDF("s", "p", "o"), batchId = 0L).isDefined)
    assert(st.appendBatch(Seq(("e:b", label, "b")).toDF("s", "p", "o"), batchId = 0L).isEmpty)
    val logged = spark.read.parquet(s"$root/_snapshots")
      .select($"snapshot_id", $"op", $"rows").as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    val files = spark.read.parquet(s"$root/data")
    val scanned = logged.map { case (id, _, _) => files.filter($"snap" === id).count() }
    assert(logged.map(_._3) == scanned)
    assert(logged.map(_._3) == Seq(5L, 2L, 0L, 3L, 1L, 4L, 1L))
    assert(logged.map(_._2) == Seq("append", "append", "append", "overwrite:label", "append",
      "overwrite:label", "stream:0"))
  }

  test("salted join equals plain join on skewed keys") {
    val big = spark.range(0, 10000).select(
      when($"id" % 100 =!= 0, $"id" % 500).otherwise(lit(7L)).as("k"), $"id".as("payload"))
    val small = spark.range(0, 500).select($"id".as("k"), concat(lit("v"), $"id").as("v"))
    val hot = Skew.hotKeys(big, "k", threshold = 50)
    assert(hot.contains(7L))
    val plain = big.join(small, "k").select($"k", $"payload", $"v")
      .as[(Long, Long, String)].collect().toSet
    val salted = Skew.saltedJoin(spark, big, small, "k", hot)
      .select($"k", $"payload", $"v").as[(Long, Long, String)].collect().toSet
    assert(salted == plain)
  }

  test("format marker: marker-less store with AGREEING p_part values is adopted") {
    // a store written by v2 code just before the marker landed must not be
    // forced through a needless re-export: verify names, write the marker
    val root = java.nio.file.Files.createTempDirectory("tstore").toString
    val st = new TripleStore(spark, root)
    st.append(Seq(("e:a", "http://kg#label", "A")).toDF("s", "p", "o"))
    assert(st.read().count() == 1)
    val marker = java.nio.file.Paths.get(root, s"_format_v${TripleStore.FormatVersion}")
    java.nio.file.Files.delete(marker)
    val reopened = new TripleStore(spark, root)
    assert(reopened.read().count() == 1) // adoption path, no error
    assert(java.nio.file.Files.exists(marker)) // marker restored after verify
  }

  test("format marker: store whose p_part values DISAGREE refuses to open") {
    val root = java.nio.file.Files.createTempDirectory("tstore").toString
    val st = new TripleStore(spark, root)
    st.append(Seq(("e:a", "http://kg#label", "A")).toDF("s", "p", "o"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      root, s"_format_v${TripleStore.FormatVersion}"))
    // simulate an older partition-name scheme: rename the partition dir
    val dataDir = java.nio.file.Paths.get(root, "data")
    java.nio.file.Files.move(dataDir.resolve("p_part=label"),
      dataDir.resolve("p_part=kg%23label"))
    val reopened = new TripleStore(spark, root)
    val e1 = intercept[IllegalStateException](reopened.read())
    assert(e1.getMessage.contains("partition-name"))
    val e2 = intercept[IllegalStateException](
      reopened.append(Seq(("e:b", "http://kg#label", "B")).toDF("s", "p", "o")))
    assert(e2.getMessage.contains("partition-name"))
  }
}
