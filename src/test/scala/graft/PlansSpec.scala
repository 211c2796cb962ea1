package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core._
import graft.stages._
import graft.synth.Transcripts

/** Physical-plan audits: the scale properties claimed in the scaladoc are
  * asserted here against `.explain` output, so a regression that silently
  * changes a broadcast join into a shuffle join (or drops a parquet filter
  * pushdown) fails the suite — not just the benchmark.
  */
class PlansSpec extends SparkSpecBase {
  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q01 scan pushes the shipdate filter and prunes columns") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n$p")
    // projection pruning: the scan must not read unneeded columns
    assert(!p.contains("l_comment") && !p.contains("l_suppkey"))
  }

  test("q02 joins dimensions via broadcast, fact side never shuffles for the dims") {
    val df = SparkEntry.queries("q02_revenue_by_nation")(spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$p")
  }

  /** Plans of the two layouts that encode canon rows: Packed32 (with the
    * transcripts conv codec) and hashed conv keys. */
  private def encodedPlans(): Seq[(String, String)] = {
    val canon = (0 until 40).map(i =>
      CanonMention(f"conv_${i % 4}%08d", i / 4, 0, 5, "PER", "x", s"PER$i", s"PER$i")).toDS()
    val dict = TripleDict(Seq("PER"), (0 until 40).map(i => s"PER$i"))
    Seq(
      "packed32" -> plan(Triples.runEncodedSorted(canon, dict,
        Pipeline.transcriptsConvCodec, chunkTurns = 2).toDF()),
      "hashed" -> plan(Triples.runEncodedSortedHashed(canon, dict, chunkTurns = 2).toDF()))
  }

  test("encoded triple assembly: ONE shuffle exchange of packed longs, dict joins broadcast") {
    // the entity-rank encode must be a broadcast hash join (the mention side
    // never shuffles for it), and the assembly itself must keep the single
    // hash(conv key, chunk) exchange — carrying 8-byte longs per mention
    // instead of ~40-byte string structs
    for ((name, p) <- encodedPlans()) {
      assert(p.contains("BroadcastHashJoin"), s"$name: dict encode must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name: no shuffle join allowed:\n$p")
      val nShuffle = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(nShuffle == 1, s"$name: expected exactly 1 shuffle exchange, got $nShuffle:\n$p")
      // the exchanged mention column is the packed long, not the raw strings
      assert(p.contains("_m"), s"$name: packed column missing from plan:\n$p")
    }
  }

  test("sorted-exchange triple assembly: ONE shuffle, no window, partition-local sort") {
    val turns = (0 until 8).map(i => Turn(f"conv_${i % 4}%08d", i / 4, "user",
      "Alice Varga just joined Acme Corp", null, new java.sql.Timestamp(0L))).toDS()
    val tagger = Detect.lexiconTagger(spark, Transcripts.aliasRows, Transcripts.tagSet)
    val fused = plan(Triples.runFusedDetect(turns, tagger, Transcripts.aliasRows,
      Transcripts.sameAs, Pipeline.transcriptsDict, Pipeline.transcriptsConvEncodeJvm,
      Pipeline.transcriptsConvCodec.decode, chunkTurns = 2).toDF())
    // every production layout: ONE hash(conv key, chunk) exchange, and the
    // grouping/ordering/lag machinery is a partition-local sort feeding the
    // walker — no window, no aggregation, no shuffle join. The sort must
    // NOT be global (that would add a range exchange).
    for ((name, p) <- ("fused" -> fused) +: encodedPlans()) {
      assert(!p.contains("SortMergeJoin"), s"$name: no shuffle join allowed:\n$p")
      assert(!p.contains("Window"), s"$name: sorted path must not window:\n$p")
      assert(!p.contains("rangepartitioning"), s"$name: sort must be partition-local:\n$p")
      val nShuffle = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(nShuffle == 1, s"$name: expected exactly 1 shuffle exchange, got $nShuffle:\n$p")
    }
  }

  test("the tagger entry points read only conv_id, turn_idx and text from parquet") {
    val d = java.nio.file.Files.createTempDirectory("graft_plan_turns")
    (0 until 4).map(i => Turn(f"conv_$i%08d", i, "user", "Alice Varga just joined Acme Corp",
        "search", new java.sql.Timestamp(0L))).toDS()
      .write.parquet(s"$d/turns")
    val turns = spark.read.parquet(s"$d/turns").as[Turn]
    val tagger = Detect.lexiconTagger(spark, Transcripts.aliasRows, Transcripts.tagSet)
    val plans = Seq(
      "Triples.runFusedDetect" -> Triples.runFusedDetect(turns, tagger, Transcripts.aliasRows,
        Transcripts.sameAs, Pipeline.transcriptsDict, Pipeline.transcriptsConvEncodeJvm,
        Pipeline.transcriptsConvCodec.decode).toDF(),
      "Link.runFusedDetect" -> Link.runFusedDetect(turns, tagger, Transcripts.aliasRows).toDF(),
      "Detect.run" -> Detect.run(turns, tagger).toDF())
    for ((name, df) <- plans) {
      val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan(df)).toSet
      assert(schemas == Set("ReadSchema: struct<conv_id:string,turn_idx:int,text:string>"),
        s"$name reads more than the tagger uses:\n${plan(df)}")
    }
    // the projection is exact: the staged chain still sees every mention
    assert(Detect.run(turns, tagger).count() == 8)
    graft.io.SnapshotIO.deleteRecursively(d)
  }

  test("brute-force top-k broadcasts the query side, not the corpus") {
    val emb = (0 until 10).map(i => (i.toLong, Array.fill(4)(i.toFloat))).toDF("vec_id", "embedding")
    val p = plan(graft.ops.Similarity.bruteForceTopK(emb.filter($"vec_id" < 2), emb, 3))
    assert(p.contains("BroadcastNestedLoopJoin"), s"expected broadcast cross join:\n$p")
  }

  test("readConll plans fully distributed: no global window, no single-partition coalesce") {
    val d = java.nio.file.Files.createTempDirectory("graft_plan_conll")
    java.nio.file.Files.writeString(d.resolve("x.conll"), "a O\nb O\n\nc O\n")
    val df = graft.io.Formats.readConll(spark, s"$d/x.conll")
    val p = plan(df)
    assert(!p.contains("Window"), s"serial window survived:\n$p")
    assert(!p.contains("SinglePartition") && !p.contains("Coalesce 1"),
      s"single-partition stage survived:\n$p")
    graft.io.SnapshotIO.deleteRecursively(d)
  }

  test("whole-stage codegen covers the scalar text-analysis path") {
    // NOTE: higher-order functions (transform/filter/aggregate lambdas) are
    // CodegenFallback in Spark — the HOF-based profile columns run
    // interpreted. The scalar subset (regexp, md5, length math) must stay
    // inside WholeStageCodegen.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = docs.select(col("doc_id"),
      graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"),
      graft.ops.TextAnalysis.punctRatio(col("text")).as("pr"))
      .filter(col("pr") >= 0)
    val p = plan(df)
    // executedPlan.toString renders codegen spans as "*(n) Operator"
    assert(p.contains("*(") || p.contains("WholeStageCodegen"),
      s"scalar path must stay codegen'd:\n$p")
  }

  test("Pipeline.run is lazy (zero jobs at construction) and memoized per (session, n, seed)") {
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r1 = Pipeline.run(spark, 3123L) // fresh key: nothing may execute yet
      Thread.sleep(500) // listener events post asynchronously
      assert(jobs == 0, s"Pipeline.run construction ran $jobs Spark jobs")
      val r2 = Pipeline.run(spark, 3123L)
      assert(r1 eq r2, "same (session, n, seed) must return the memoized Result")
      assert(Pipeline.run(spark, 3123L, memoize = false) ne r1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("salted per-conversation aggregation is two-phase") {
    val t = Seq(Triple("a", "p", "b", "c1", 0)).toDS()
    val p = plan(Triples.triplesPerConversation(t))
    // two HashAggregate pairs: (partial+final) on (conv_id, salt), then on conv_id
    val nAggs = "HashAggregate".r.findAllIn(p).length
    assert(nAggs >= 4, s"expected two-phase agg, got $nAggs HashAggregates:\n$p")
  }
}
