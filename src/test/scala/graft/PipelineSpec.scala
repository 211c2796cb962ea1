package graft

import org.apache.spark.sql.functions._
import graft.core._
import graft.stages._
import graft.synth.Transcripts

/** End-to-end KG pipeline against the generator's gold tables — the
  * BASELINE.json gate: triple and mention P/R ≥ 0.95 (here exactly 1.0 by
  * construction: deterministic tagger over a deterministic corpus), plus
  * per-turn text-equality and resume-idempotence invariants.
  */
class PipelineSpec extends SparkSpecBase {
  private val N = 120L // conversations (includes hot conv 0 and 97)

  private var cachedResult: Option[Pipeline.Result] = None
  lazy val result: Pipeline.Result = {
    val r = Pipeline.run(spark, N)
    r.mentions.cache(); r.triples.cache()
    cachedResult = Some(r)
    r
  }

  override def afterAll(): Unit = {
    // the session is shared across suites — release this suite's cached
    // blocks so later memory-hungry suites aren't eating into storage memory
    cachedResult.foreach { r => r.mentions.unpersist(); r.triples.unpersist() }
    super.afterAll()
  }

  /** A triple Dataset collected in `TripleModel.sorted` order. */
  private def sorted(t: org.apache.spark.sql.Dataset[Triple]): Seq[Triple] =
    TripleModel.sorted(t.collect())

  /** The reference model's triples over a canon Dataset. */
  private def modelOf(canon: org.apache.spark.sql.Dataset[CanonMention]): Seq[Triple] =
    TripleModel.triples(canon.collect().toSeq)

  test("mention P/R vs gold ≥ 0.95 (target: = 1.0)") {
    val gold = Transcripts.goldMentions(spark, N).toDF()
    val prf = Eval.prf(result.mentions, gold, Eval.spanKeys)
    assert(prf.nGold > 0)
    assert(prf.precision == 1.0, s"precision ${prf.precision}")
    assert(prf.recall == 1.0, s"recall ${prf.recall}")
  }

  test("mention surfaces are exact text slices (per-turn text equality)") {
    import spark.implicits._
    val turns = Transcripts.turns(spark, N)
    val joined = result.mentions.join(turns.toDF(), Seq("conv_id", "turn_idx"))
      .withColumn("slice", expr("substring(text, start + 1, end - start)"))
    assert(joined.filter(col("slice") =!= col("surface")).count() == 0)
  }

  test("all mentions link exactly (complete dictionary)") {
    assert(result.linked.filter(col("entity_id").isNull).count() == 0)
    assert(result.linked.filter(col("method") =!= "exact").count() == 0)
  }

  test("triple P/R vs gold ≥ 0.95 (target: = 1.0)") {
    val gold = Transcripts.goldTriples(spark, N).toDF()
    val prf = Eval.prf(result.triples, gold, Eval.tripleKeys)
    assert(prf.nGold > 0, "gold triples empty")
    assert(prf.precision == 1.0, s"precision ${prf.precision} (${prf.nPred} pred vs ${prf.nGold} gold)")
    assert(prf.recall == 1.0, s"recall ${prf.recall} (${prf.nMatch} matched of ${prf.nGold})")
  }

  test("model ≡ Transcripts.goldTriples on the N=120 corpus") {
    import spark.implicits._
    // the reference every assembler is checked against, pinned to the
    // generator's independent gold
    val model = modelOf(result.canon.as[CanonMention])
    assert(model.exists(_.pred == "follows_up") && model.exists(_.pred == "mentions_with"))
    assert(model == sorted(Transcripts.goldTriples(spark, N)))
  }

  test("sorted exchange: 32-bit packed and hashed-key layouts are equivalent") {
    import spark.implicits._
    val canon = result.canon.as[graft.core.CanonMention]
    val model = modelOf(canon)
    // small chunks force cross-chunk context through the walker's
    // derived-ctx path
    for (chunk <- Seq(Triples.DefaultChunkTurns, 3, 2)) {
      assert(sorted(Triples.runEncodedSorted(canon, Pipeline.transcriptsDict,
        Pipeline.transcriptsConvCodec, chunkTurns = chunk)) == model,
        s"packed32 chunkTurns=$chunk diverged")
      // the hashed path treats ANY string id as opaque — numeric ones too
      assert(sorted(Triples.runEncodedSortedHashed(canon, Pipeline.transcriptsDict,
        chunkTurns = chunk)) == model, s"hashed chunkTurns=$chunk diverged")
    }
  }

  test("hashed sorted exchange: UUID-keyed corpus, natural and adversarial layouts") {
    import spark.implicits._
    // deterministic UUID-shaped remap of every conv id (md5 hex 8-4-4-4-12):
    // NOT numeric-derivable, so no ConvCodec can serve it — the exact shape
    // runEncodedSortedHashed exists for
    val uuid = expr("concat(substr(md5(conv_id),1,8),'-',substr(md5(conv_id),9,4)," +
      "'-',substr(md5(conv_id),13,4),'-',substr(md5(conv_id),17,4),'-'," +
      "substr(md5(conv_id),21,12))")
    val canon = result.canon.withColumn("conv_id", uuid).as[graft.core.CanonMention]
    val model = modelOf(canon)
    assert(model.nonEmpty)
    for (chunk <- Seq(Triples.DefaultChunkTurns, 3, 2))
      assert(sorted(Triples.runEncodedSortedHashed(canon, Pipeline.transcriptsDict,
        chunkTurns = chunk)) == model, s"uuid hashed chunkTurns=$chunk diverged")
    // adversarial map-side layout: round-robin repartition destroys the
    // turn-contiguous run structure markCarriers amortizes on — carriers
    // multiply and turns can sort before their group's first carrier,
    // exercising the walker's pending-turn buffering; output must not move
    val shuffled = canon.repartition(7).as[graft.core.CanonMention]
    assert(sorted(Triples.runEncodedSortedHashed(shuffled, Pipeline.transcriptsDict,
      chunkTurns = 3)) == model, "adversarial layout diverged")
  }

  test("fused detect→packed path ≡ detect→link→canon→sorted chain (round-7 hot path)") {
    import spark.implicits._
    val canon = result.canon.as[graft.core.CanonMention]
    val viaChain = sorted(Triples.runEncodedSorted(canon, Pipeline.transcriptsDict,
      Pipeline.transcriptsConvCodec))
    assert(viaChain.nonEmpty && viaChain == modelOf(canon))
    val tagger = Detect.lexiconTagger(spark, Transcripts.aliasRows, Transcripts.tagSet)
    // small chunk sizes force cross-chunk context through the fused path's
    // own overlap duplication (computed in the JVM, not in Catalyst)
    for (chunk <- Seq(Triples.DefaultChunkTurns, 3, 2))
      assert(sorted(Triples.runFusedDetect(result.turns, tagger,
        Transcripts.aliasRows, Transcripts.sameAs, Pipeline.transcriptsDict,
        Pipeline.transcriptsConvEncodeJvm, Pipeline.transcriptsConvCodec.decode,
        chunkTurns = chunk)) == viaChain, s"fused chunkTurns=$chunk diverged")
    // Result.triples IS the fused path since round 7 — pin the wiring too
    assert(sorted(result.triples.as[Triple]) == viaChain)
  }

  test("duplicate (conv_id, turn_idx) rows are pooled into one turn on every batch path") {
    import spark.implicits._
    val ts = new java.sql.Timestamp(0L)
    val c = f"conv_${9}%08d"
    // turn 1 arrives as two rows; turns 0 and 2 are its neighbours
    val turns = Seq(
      Turn(c, 0, "user", "Carol Danvers opened a new office in Osaka", null, ts),
      Turn(c, 1, "user", "Alice Varga just joined Acme Corp", null, ts),
      Turn(c, 1, "assistant", "Bob Castillo flew to Berlin", null, ts),
      Turn(c, 2, "user", "reminder: Deepak Rao presents the roadmap tomorrow", null, ts)).toDS()
    val tagger = Detect.lexiconTagger(spark, Transcripts.aliasRows, Transcripts.tagSet)
    val canon = Canon.runFusedLinked(
      Link.run(Detect.run(turns, tagger), Transcripts.aliasRows), Transcripts.sameAs)
    val model = modelOf(canon)
    // pooled: the two rows' mentions pair with each other, and both rows
    // link to each neighbour
    for (t <- Seq(Triple("PER00", "mentions_with", "PER01", c, 1),
        Triple("PER01", "affiliated_with", "ORG00a", c, 1),
        Triple("ORG00a", "located_in", "LOC00", c, 1),
        Triple("PER01", "follows_up", "PER02", c, 1),
        Triple("PER03", "follows_up", "PER00", c, 2),
        Triple("PER03", "follows_up", "PER01", c, 2)))
      assert(model.contains(t), s"model lacks $t: $model")
    assert(sorted(Triples.runFusedDetect(turns, tagger, Transcripts.aliasRows,
      Transcripts.sameAs, Pipeline.transcriptsDict, Pipeline.transcriptsConvEncodeJvm,
      Pipeline.transcriptsConvCodec.decode)) == model, "runFusedDetect")
    assert(sorted(Triples.runEncodedSorted(canon, Pipeline.transcriptsDict,
      Pipeline.transcriptsConvCodec)) == model, "runEncodedSorted")
    assert(sorted(Triples.runEncodedSortedHashed(canon, Pipeline.transcriptsDict)) == model,
      "runEncodedSortedHashed")
  }

  test("snapshot linked/canon ≡ Pipeline.run linked/canon ≡ generator gold") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lc").toString
    try {
      Pipeline.runWithSnapshots(spark, 30, dir)
      def committed(stage: String) = spark.read.parquet(
        graft.io.SnapshotIO.snapshotDir(dir, stage, "n30_s42").toString)
      def lk(d: org.apache.spark.sql.DataFrame) = d.as[LinkedMention].collect().toSeq
        .sortBy(m => (m.conv_id, m.turn_idx, m.start, m.label))
      def ck(d: org.apache.spark.sql.DataFrame) = d.as[CanonMention].collect().toSeq
        .sortBy(m => (m.conv_id, m.turn_idx, m.start, m.label))
      val r = Pipeline.run(spark, 30)
      val linked = lk(r.linked)
      val canon = ck(r.canon)
      assert(lk(committed("linked")) == linked)
      assert(ck(committed("canon")) == canon)
      // independent reference: the generator's own gold spans and entities
      val gold = Transcripts.goldMentions(spark, 30).collect().toSeq
        .sortBy(m => (m.conv_id, m.turn_idx, m.start, m.label))
      assert(gold.nonEmpty)
      assert(linked == gold.map(g => LinkedMention(g.conv_id, g.turn_idx, g.start,
        g.end, g.label, g.surface, g.entity_id, "exact")))
      assert(canon == gold.map(g => CanonMention(g.conv_id, g.turn_idx, g.start,
        g.end, g.label, g.surface, g.entity_id, Transcripts.canonicalOf(g.entity_id))))
    } finally graft.io.SnapshotIO.deleteRecursively(java.nio.file.Paths.get(dir))
    // NIL propagation: an unlinkable mention keeps null entity AND canonical
    val nil = Seq(LinkedMention("c", 0, 0, 3, "PER", "nope", null, null)).toDS()
    val c = Canon.runFusedLinked(nil, Transcripts.sameAs).collect()
    assert(c.head.entity_id == null && c.head.canonical_id == null)
  }

  test("JVM conv encode ≡ Column conv encode on boundary ids (fused-path codec mirror)") {
    import spark.implicits._
    val ids = Seq(
      // accepts: exactly 8 digits (any leading zeros), 9–18 digits without
      "conv_00000000", "conv_00000042", "conv_99999999", "conv_100000000",
      "conv_4294967296", "conv_999999999999999999",
      // rejects: short, 9-digit leading zero, non-digit, bad prefix, empty
      // tail, 19 digits (beyond the rlike range)
      "conv_0000000", "conv_012345678", "conv_1234567x", "x_00000000",
      "conv_", "conv_1234567890123456789")
    val colEnc = ids.toDF("id")
      .select(Pipeline.transcriptsConvCodec.encode(col("id")).cast("long").as("e"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    val jvmEnc = ids.map(s =>
      try Some(Pipeline.transcriptsConvEncodeJvm(s))
      catch { case _: IllegalStateException => None })
    assert(colEnc == jvmEnc, s"col=$colEnc jvm=$jvmEnc")
  }

  test("fused path keeps the loud guards: bad conv id, 32-bit conv key, chunk overflow") {
    import spark.implicits._
    val tagger = Detect.lexiconTagger(spark, Transcripts.aliasRows, Transcripts.tagSet)
    def fused(turns: org.apache.spark.sql.Dataset[Turn], chunk: Int = Triples.DefaultChunkTurns) =
      Triples.runFusedDetect(turns, tagger, Transcripts.aliasRows,
        Transcripts.sameAs, Pipeline.transcriptsDict,
        Pipeline.transcriptsConvEncodeJvm, Pipeline.transcriptsConvCodec.decode,
        chunkTurns = chunk)
    val text = "Alice Varga just joined Acme Corp as a staff engineer"
    val bad = Seq(Turn("not_numeric", 0, "user", text, null,
      new java.sql.Timestamp(0L))).toDS()
    val e1 = intercept[Exception] { fused(bad).collect() }
    assert(msgs(e1).exists(_.contains("convCodec failed")), s"got: ${msgs(e1)}")
    val big = Seq(Turn("conv_4294967296", 0, "user", text, null,
      new java.sql.Timestamp(0L))).toDS()
    val e2 = intercept[Exception] { fused(big).collect() }
    assert(msgs(e2).exists(_.contains("use Triples.runEncodedSortedHashed")),
      s"got: ${msgs(e2)}")
    val deep = Seq(Turn(f"conv_${7}%08d", 3 * 32768 - 1, "user", text, null,
      new java.sql.Timestamp(0L))).toDS()
    val e3 = intercept[Exception] { fused(deep, chunk = 3).collect() }
    assert(msgs(e3).exists(_.contains("turn_idx ≥ chunkTurns")), s"got: ${msgs(e3)}")
    // an all-NIL turn guards nothing (packedMentions' post-filter semantics):
    // the SAME corrupt conv id with no dictionary mention must pass silently
    val nilOnly = Seq(Turn("not_numeric", 0, "user",
      "no entities here, just chatter", null, new java.sql.Timestamp(0L))).toDS()
    assert(fused(nilOnly).collect().isEmpty)
  }

  test("null text and null conv_id fail loudly through Detect.run and Triples.runFusedDetect") {
    import spark.implicits._
    val tagger = Detect.lexiconTagger(spark, Transcripts.aliasRows, Transcripts.tagSet)
    def fused(turns: org.apache.spark.sql.Dataset[Turn]) =
      Triples.runFusedDetect(turns, tagger, Transcripts.aliasRows,
        Transcripts.sameAs, Pipeline.transcriptsDict,
        Pipeline.transcriptsConvEncodeJvm, Pipeline.transcriptsConvCodec.decode)
    val ts = new java.sql.Timestamp(0L)
    val nullText = Seq(
      Turn(f"conv_${3}%08d", 0, "user", "Alice Varga met Bob Castillo", null, ts),
      Turn(f"conv_${3}%08d", 1, "user", null, null, ts)).toDS()
    val textMsg = "Detect: null text at conv_id=conv_00000003 turn_idx=1"
    for ((name, run) <- Seq[(String, () => Any)](
        "Detect.run" -> (() => Detect.run(nullText, tagger).collect()),
        "runFusedDetect" -> (() => fused(nullText).collect()))) {
      val e = intercept[Exception] { run() }
      assert(msgs(e).exists(_.contains(textMsg)), s"$name got: ${msgs(e)}")
    }
    val nullConv = Seq(Turn(null, 0, "user", "Alice Varga met Bob Castillo", null, ts)).toDS()
    val e = intercept[Exception] { fused(nullConv).collect() }
    assert(msgs(e).exists(_.contains("Triples: convCodec failed on: null")), s"got: ${msgs(e)}")
  }

  test("fusedLut is strict: an alias entry outside the TripleDict fails at construction, hit or not") {
    import spark.implicits._
    val tagger = Detect.lexiconTagger(spark, Transcripts.aliasRows, Transcripts.tagSet)
    // no turn mentions either extra entry, so the staged chain's per-mention
    // raise_error guards would never fire; the fused LUT build still fails
    val turns = Seq(Turn(f"conv_${1}%08d", 0, "user",
      "no entities here, just chatter", null, new java.sql.Timestamp(0L))).toDS()
    def fused(alias: Seq[AliasRow]) =
      Triples.runFusedDetect(turns, tagger, alias, Transcripts.sameAs,
        Pipeline.transcriptsDict, Pipeline.transcriptsConvEncodeJvm,
        Pipeline.transcriptsConvCodec.decode)
    val e1 = intercept[IllegalArgumentException] {
      fused(Transcripts.aliasRows :+ AliasRow("Zed Nobody", "ZZZ99", "PER"))
    }
    assert(e1.getMessage.contains("canonical_id not in dict: ZZZ99"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      fused(Transcripts.aliasRows :+ AliasRow("Zed Nobody", "PER00", "NOPE"))
    }
    assert(e2.getMessage.contains("label not in dict: NOPE"), e2.getMessage)
    // the dictionary's own alias rows build, and the turn runs
    assert(fused(Transcripts.aliasRows).collect().isEmpty)
  }

  test("TripleDict entity gate fails LOUDLY past MaxEntities (driver-memory bound)") {
    val e = intercept[IllegalArgumentException] {
      TripleDict(Seq("PER"), (0 until 10).map(i => s"E$i"), maxEntities = 4)
    }
    assert(e.getMessage.contains("exceeds MaxEntities (4)"), e.getMessage)
    // at the bound: fine
    assert(TripleDict(Seq("PER"), (0 until 4).map(i => s"E$i"), maxEntities = 4)
      .entities.length == 4)
    assert(TripleDict.MaxEntities == 50000000)
  }

  test("k=2 rule set through the sorted walker: lag ring ≡ local reference on all layouts") {
    import spark.implicits._
    // sparse handcrafted corpus: turn gaps make lag POSITION ≠ turn distance,
    // the trap a depth-2 rule must survive (ring lookup is by absolute turn)
    val rnd = new scala.util.Random(123)
    val labels = Array("PER", "ORG", "LOC")
    val rows = (0 until 6).flatMap { c =>
      (0 until 25).flatMap { t =>
        if (rnd.nextInt(3) == 0) Nil
        else (0 until 1 + rnd.nextInt(2)).map { m =>
          val lbl = labels(rnd.nextInt(3))
          CanonMention(f"conv_$c%08d", t, m * 10, m * 10 + 3, lbl, "x",
            s"$lbl$m", s"$lbl$m")
        }
      }
    }
    val canon = rows.toDS()
    val dict = TripleDict(labels.toSeq, rows.map(_.canonical_id))
    val perB = dict.rankOfLabel("PER")
    // default k=1 rules PLUS PER(t)×PER(t−2), distinct ids → follows_up2
    val rules2 = new Triples.PackedRules {
      val depth = 2
      private val inner = Triples.defaultRules(dict)
      def emit(ms: Array[Long], msLen: Int, ring: Triples.LagRing,
               convId: String, turnIdx: Int, ents: IndexedSeq[String],
               dedup: Triples.PairDedup,
               out: scala.collection.mutable.ArrayBuffer[Triple]): Unit = {
        inner.emit(ms, msLen, ring, convId, turnIdx, ents, dedup, out)
        val prev = ring.msAt(turnIdx - 2); val prevLen = ring.lenAt(turnIdx - 2)
        val seen = scala.collection.mutable.Set.empty[(Int, Int)]
        var i = 0
        while (i < msLen) {
          if (((ms(i) >>> 32) & 0xff).toInt == perB) {
            var j = 0
            while (j < prevLen) {
              if (((prev(j) >>> 32) & 0xff).toInt == perB) {
                val s = (ms(i) & 0xffffffffL).toInt
                val o = (prev(j) & 0xffffffffL).toInt
                if (s != o && seen.add((s, o)))
                  out += Triple(ents(s), "follows_up2", ents(o), convId, turnIdx)
              }
              j += 1
            }
          }
          i += 1
        }
      }
    }
    // local reference: base k=1 triples from the reference model, plus
    // follows_up2 computed directly from the fixture rows
    val byTurn = rows.groupBy(r => (r.conv_id, r.turn_idx))
    val fu2 = byTurn.keys.toSeq.flatMap { case (cid, t) =>
      val cur = byTurn((cid, t)).filter(_.label == "PER").map(_.canonical_id)
      val prev = byTurn.getOrElse((cid, t - 2), Nil).filter(_.label == "PER")
        .map(_.canonical_id)
      (for (p <- cur; q <- prev; if p != q) yield Triple(p, "follows_up2", q, cid, t))
        .distinct
    }
    assert(fu2.nonEmpty, "fixture must exercise depth-2 context")
    val expect = TripleModel.sorted(TripleModel.triples(rows) ++ fu2)
    for (chunk <- Seq(Triples.DefaultChunkTurns, 7, 4, 3)) {
      assert(sorted(Triples.runEncodedSortedRules(canon, dict, chunk,
        Pipeline.transcriptsConvCodec, rules2)) == expect, s"packed32 k=2 chunkTurns=$chunk")
      assert(sorted(Triples.runEncodedSortedHashedRules(canon, dict, chunk,
        rules2)) == expect, s"hashed k=2 chunkTurns=$chunk")
    }
  }

  /** All messages down a Spark-nested cause chain (raise_error wraps). */
  private def msgs(t: Throwable): Seq[String] =
    if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)

  /** The two packed sorted exchanges; both encode through `packedMentions`,
    * so each of its loud guards must fire on either path.
    */
  private def packedPaths(dict: TripleDict, chunk: Int = Triples.DefaultChunkTurns)
      : Seq[(String, org.apache.spark.sql.Dataset[CanonMention] => org.apache.spark.sql.Dataset[Triple])] =
    Seq("packed32" -> (c => Triples.runEncodedSorted(c, dict, Pipeline.transcriptsConvCodec, chunk)),
      "hashed" -> (c => Triples.runEncodedSortedHashed(c, dict, chunk)))

  /** Runs `canon` through both packed paths; each must abort naming `msg`. */
  private def assertBothAbort(canon: org.apache.spark.sql.Dataset[CanonMention],
      dict: TripleDict, msg: String, chunk: Int = Triples.DefaultChunkTurns): Unit =
    for ((name, path) <- packedPaths(dict, chunk)) {
      val e = intercept[Exception] { path(canon).collect() }
      assert(msgs(e).exists(_.contains(msg)), s"$name got: ${msgs(e)}")
    }

  test("conv codec fails LOUDLY on an id its encoder cannot parse") {
    import spark.implicits._
    val canon = Seq(
      CanonMention("not_numeric", 0, 0, 3, "PER", "x", "PER00", "PER00")).toDS()
    val e = intercept[Exception] {
      Triples.runEncodedSorted(canon, Pipeline.transcriptsDict,
        Pipeline.transcriptsConvCodec).collect()
    }
    assert(msgs(e).exists(_.contains("convCodec failed")), s"got: ${msgs(e)}")
  }

  test("conv codec fails LOUDLY on a conv key ≥ 2^32 (would alias another conversation)") {
    import spark.implicits._
    // conv_4294967296 parses (10 digits, no leading zero) but exceeds 32
    // bits — the Packed32 layout must abort, never truncate into a
    // different conversation's key space
    val canon = Seq(
      CanonMention("conv_4294967296", 0, 0, 3, "PER", "x", "PER00", "PER00")).toDS()
    val e = intercept[Exception] {
      Triples.runEncodedSorted(canon, Pipeline.transcriptsDict,
        Pipeline.transcriptsConvCodec).collect()
    }
    assert(msgs(e).exists(_.contains("use Triples.runEncodedSortedHashed")),
      s"got: ${msgs(e)}")
    // the SAME corpus is served fine by the hashed layout the message names
    val ok = Triples.runEncodedSortedHashed(canon, Pipeline.transcriptsDict).collect()
    assert(ok.isEmpty) // one lone PER mention emits no triples — but it ran
  }

  test("packed layouts fail LOUDLY when turn_idx overflows the chunk field") {
    import spark.implicits._
    // chunk occupies 15 bits in the Packed32/Hashed layouts: with a tiny
    // chunk size, a turn index past chunkTurns·2^15 must abort, not wrap
    val canon = Seq(
      CanonMention(f"conv_${7}%08d", 3 * 32768, 0, 3, "PER", "x", "PER00", "PER00")).toDS()
    assertBothAbort(canon, Pipeline.transcriptsDict, "turn_idx ≥ chunkTurns", chunk = 3)
    // regression: the OVERLAP COPY's chunk+1 must also fit 15 bits — turn
    // chunkTurns·2^15 − k sits in the last chunk's overlap window, whose
    // copy would compute chunk 2^15 and carry into the conv-key bits,
    // leaking a phantom negative-turn context row into the NEXT key's
    // chunk 0 (the original guard admitted it)
    val boundary = Seq(
      CanonMention(f"conv_${7}%08d", 3 * 32768 - 1, 0, 3, "PER", "x",
        "PER00", "PER00")).toDS()
    assertBothAbort(boundary, Pipeline.transcriptsDict, "turn_idx ≥ chunkTurns", chunk = 3)
  }

  test("encoded path fails LOUDLY on a canonical_id missing from the dict") {
    import spark.implicits._
    val canon = Seq(
      CanonMention(f"conv_${1}%08d", 0, 0, 3, "PER", "x", "PER00", "PER00"),
      CanonMention(f"conv_${1}%08d", 0, 5, 8, "PER", "x", "ZZZ99", "ZZZ99")).toDS()
    assertBothAbort(canon, TripleDict(Seq("PER"), Seq("PER00")), "canonical_id not in dict")
  }

  test("encoded path fails LOUDLY on a negative mention start (corrupt upstream row)") {
    import spark.implicits._
    // a negative start would otherwise pack into the long's high bits and
    // silently corrupt sort order + dedup — must hit the raise_error guard
    val canon = Seq(
      CanonMention(f"conv_${1}%08d", 0, -1, 3, "PER", "x", "PER00", "PER00")).toDS()
    assertBothAbort(canon, TripleDict(Seq("PER"), Seq("PER00")), "start outside")
  }

  test("encoded path fails LOUDLY on a negative turn_idx (corrupt upstream row)") {
    import spark.implicits._
    // the sorted exchange packs (chunk, turn) into one long whose order is
    // (chunk asc, turn asc) only for non-negative turns — a corrupt negative
    // index must abort, not silently mis-sort the conversation
    val canon = Seq(
      CanonMention(f"conv_${1}%08d", -3, 0, 3, "PER", "x", "PER00", "PER00")).toDS()
    assertBothAbort(canon, TripleDict(Seq("PER"), Seq("PER00")), "negative turn_idx")
  }

  test("property: chunked ≡ window ≡ join on random sparse corpora × random chunk sizes") {
    import spark.implicits._
    val rnd = new scala.util.Random(1337)
    val labels = Array("PER", "ORG", "LOC")
    for (trial <- 1 to 4) {
      val nConvs = 1 + rnd.nextInt(6)
      val rows = (0 until nConvs).flatMap { c =>
        val nTurns = 1 + rnd.nextInt(40)
        (0 until nTurns).flatMap { t =>
          // ~1/3 of turns empty → exercises non-adjacent prev filtering
          if (rnd.nextInt(3) == 0) Nil
          else (0 until 1 + rnd.nextInt(3)).map { m =>
            val lbl = labels(rnd.nextInt(3))
            CanonMention(f"conv_$c%08d", t, m * 10, m * 10 + 3, lbl, "x",
              s"$lbl${rnd.nextInt(5)}", s"$lbl${rnd.nextInt(5)}")
          }
        }
      }
      val canon = rows.toDS()
      val model = TripleModel.triples(rows)
      val chunk = Seq(2, 3, 5, 17)(rnd.nextInt(4))
      // sorted walker: both wire layouts (packed32, hashed) see every random
      // corpus; the dict covers every id the random generator can emit
      val dict = TripleDict(labels.toSeq,
        for (l <- labels.toSeq; i <- 0 until 5) yield s"$l$i")
      for ((name, path) <- packedPaths(dict, chunk))
        assert(sorted(path(canon)) == model,
          s"trial $trial $name chunkTurns=$chunk diverged")
    }
  }

  test("sorted walker: no lag context leaks between conversations sharing a partition") {
    import spark.implicits._
    // one turn per conversation, at index c % 2: wherever an odd
    // conversation's group follows an even one's in a partition, a lag ring
    // carried over the group edge would pair it with its neighbour's turn
    val rows = (0 until 40).flatMap { c =>
      Seq(CanonMention(f"conv_$c%08d", c % 2, 0, 3, "PER", "x", s"P$c", s"P$c"),
        CanonMention(f"conv_$c%08d", c % 2, 5, 8, "ORG", "x", "O", "O"))
    }
    val model = TripleModel.triples(rows)
    assert(model.size == 40 && model.forall(_.pred == "affiliated_with"))
    val dict = TripleDict(Seq("PER", "ORG"), rows.map(_.canonical_id))
    for (chunk <- Seq(Triples.DefaultChunkTurns, 2); (name, path) <- packedPaths(dict, chunk))
      assert(sorted(path(rows.toDS())) == model, s"$name chunkTurns=$chunk")
  }

  test("a pathological oversized conversation spreads across chunks and matches the window") {
    import spark.implicits._
    // one conversation 100× over the chunk size, mixed with normal ones —
    // the shape that would serialize one task at web scale without
    // chunking; sparse turns (every 3rd empty) exercise the non-adjacent-prev
    // filtering at chunk boundaries too
    val huge = (0 until 5000).filter(_ % 3 != 2).map(i =>
      CanonMention("huge", i, 0, 5, "PER", "x", s"P${i % 7}", s"P${i % 7}"))
    val normal = (0 until 60).map(i =>
      CanonMention(s"c${i / 3}", i % 3, 0, 5, "PER", "x", s"Q$i", s"Q$i"))
    val model = TripleModel.triples(huge ++ normal)
    assert(model.exists(_.conv_id == "huge") && model.exists(_.conv_id == "c0"))
    val dict = TripleDict(Seq("PER"),
      (0 until 7).map(i => s"P$i") ++ (0 until 60).map(i => s"Q$i"))
    assert(sorted(Triples.runEncodedSortedHashed((huge ++ normal).toDS(), dict,
      chunkTurns = 50)) == model)
  }

  test("canonicalization resolves sibling org ids to component min") {
    val canon = result.canon
    val acme = canon.filter(col("entity_id").isin("ORG00a", "ORG00b"))
      .select("canonical_id").distinct().collect().map(_.getString(0))
    assert(acme.toSeq == Seq("ORG00a"))
  }

  test("turn ordering is dense and unique per conversation") {
    import spark.implicits._
    val turns = Transcripts.turns(spark, N).toDF()
    val bad = turns.groupBy("conv_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("turn_idx")).as("d"),
        max(col("turn_idx")).as("mx"))
      .filter(col("n") =!= col("d") || col("mx") =!= col("n") - 1)
    assert(bad.count() == 0)
  }

  test("hot conversations exist (skew fixture)") {
    import spark.implicits._
    val sizes = Transcripts.turns(spark, N).groupBy("conv_id").count()
    val mx = sizes.agg(max("count")).head().getLong(0)
    val med = sizes.agg(expr("percentile_approx(count, 0.5)")).head().getLong(0)
    assert(mx >= med * 10, s"expected skew, max=$mx median=$med")
  }
}

class ResumeSpec extends SparkSpecBase {
  test("snapshot resume is idempotent and byte-stable") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    val t1 = Pipeline.runWithSnapshots(spark, 30, dir)
    val rows1 = t1.orderBy("conv_id", "turn_idx", "subj", "pred", "obj").collect().toSeq
    // second run: every stage must resume from committed snapshots
    val t2 = Pipeline.runWithSnapshots(spark, 30, dir)
    val rows2 = t2.orderBy("conv_id", "turn_idx", "subj", "pred", "obj").collect().toSeq
    assert(rows1 == rows2)
    // simulate crash-after-stage-2: delete downstream snapshots, rerun
    graft.io.SnapshotIO.deleteRecursively(java.nio.file.Paths.get(dir, "canon"))
    graft.io.SnapshotIO.deleteRecursively(java.nio.file.Paths.get(dir, "triples"))
    val t3 = Pipeline.runWithSnapshots(spark, 30, dir)
    val rows3 = t3.orderBy("conv_id", "turn_idx", "subj", "pred", "obj").collect().toSeq
    assert(rows1 == rows3)
    // crash-mid-write simulation: a _tmp_ orphan (no manifest) must NOT be
    // trusted by resume — stage recomputes and commits atomically over it
    val mentionsDir = java.nio.file.Paths.get(dir, "mentions")
    graft.io.SnapshotIO.deleteRecursively(
      java.nio.file.Paths.get(dir, "mentions", "snapshot=n30_s42"))
    java.nio.file.Files.createDirectories(
      mentionsDir.resolve("_tmp_snapshot=n30_s42"))
    java.nio.file.Files.writeString(
      mentionsDir.resolve("_tmp_snapshot=n30_s42").resolve("junk.parquet"), "garbage")
    graft.io.SnapshotIO.deleteRecursively(java.nio.file.Paths.get(dir, "canon"))
    graft.io.SnapshotIO.deleteRecursively(java.nio.file.Paths.get(dir, "triples"))
    val t4 = Pipeline.runWithSnapshots(spark, 30, dir)
    val rows4 = t4.orderBy("conv_id", "turn_idx", "subj", "pred", "obj").collect().toSeq
    assert(rows1 == rows4)
    graft.io.SnapshotIO.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("manifest-pointer commit (object-store protocol): resume matrix without any rename") {
    import graft.io.SnapshotIO
    val dir = java.nio.file.Files.createTempDirectory("graft_snapmp").toString
    def run() = Pipeline
      .runWithSnapshots(spark, 30, dir, protocol = SnapshotIO.ManifestPointer)
      .orderBy("conv_id", "turn_idx", "subj", "pred", "obj").collect().toSeq
    val rows1 = run()
    assert(rows1.nonEmpty)
    // layout: data lives under an immutable data-<uuid> dir named by the
    // manifest; nothing was ever renamed into place
    val snapDir = SnapshotIO.snapshotDir(dir, "triples", "n30_s42")
    val manifest = new String(java.nio.file.Files.readAllBytes(
      snapDir.resolve("_manifest.json")))
    assert(manifest.contains("\"data_dir\":\"data-"), manifest)
    // plain rerun resumes every stage (byte-stable)
    assert(run() == rows1)
    // crash-mid-write: an uncommitted data-<uuid> orphan beside a DELETED
    // manifest must not be trusted — stage recomputes and re-publishes
    java.nio.file.Files.delete(snapDir.resolve("_manifest.json"))
    java.nio.file.Files.createDirectories(snapDir.resolve("data-deadbeef"))
    java.nio.file.Files.writeString(
      snapDir.resolve("data-deadbeef").resolve("junk.parquet"), "garbage")
    assert(run() == rows1)
    // mixed-protocol resume: a workdir committed under ManifestPointer
    // resumes under the default (AtomicRename) entry point too
    val mixed = Pipeline.runWithSnapshots(spark, 30, dir)
      .orderBy("conv_id", "turn_idx", "subj", "pred", "obj").collect().toSeq
    assert(mixed == rows1)
    SnapshotIO.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("an EMPTY stage output commits and resumes under both protocols") {
    import graft.io.SnapshotIO
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    val empty = spark.range(0).selectExpr("id", "cast(id as string) as s")
    // the metrics sum over zero lineage rows is null — an unguarded getLong
    // crashed here post-write/pre-commit, wedging the stage forever
    val out1 = SnapshotIO.resumeOrCompute(spark, dir, "stg", "h0")(empty.toDF())
    assert(out1.count() == 0)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      SnapshotIO.snapshotDir(dir, "stg", "h0").resolve("_manifest.json")))
    assert(manifest.contains("\"rows\":0"), manifest)
    var computed = false
    val out2 = SnapshotIO.resumeOrCompute(spark, dir, "stg", "h0") {
      computed = true; empty.toDF()
    }
    assert(out2.count() == 0 && !computed, "resume must not recompute")
    val out3 = SnapshotIO.resumeOrCompute(spark, dir, "stg2", "h0",
      protocol = SnapshotIO.ManifestPointer)(empty.toDF())
    assert(out3.count() == 0)
    SnapshotIO.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("orphan sweep: TTL-aged orphans reclaimed, deep-fresh writers kept") {
    import graft.io.SnapshotIO
    import java.nio.file.{Files, Path, Paths}
    import java.nio.file.attribute.FileTime
    val dir = Files.createTempDirectory("graft_sweep").toString
    def run() = Pipeline
      .runWithSnapshots(spark, 30, dir, protocol = SnapshotIO.ManifestPointer)
      .orderBy("conv_id", "turn_idx", "subj", "pred", "obj").collect().toSeq
    val rows1 = run()
    val snapDir = SnapshotIO.snapshotDir(dir, "triples", "n30_s42")
    // two uncommitted data-* orphans beside the committed snapshot, shaped
    // like in-flight parquet writes (churn deep under _temporary):
    //   data-aged — every mtime 2×TTL old → reclaimed on the next entry
    //   data-live — shallow mtimes old, ONE deep part file fresh (the
    //   long-skewed-task signature) → kept: the unbounded liveness walk
    //   must see it
    def mk(name: String): Path = {
      val deep = snapDir.resolve(name).resolve("_temporary").resolve("0")
        .resolve("_temporary").resolve("attempt_0")
      Files.createDirectories(deep)
      Files.writeString(deep.resolve("part-00000"), "x")
      snapDir.resolve(name)
    }
    val old = FileTime.fromMillis(
      System.currentTimeMillis() - 2 * SnapshotIO.OrphanTtlMs)
    def ageAll(p: Path): Unit = { // after creation: creating children bumps parents
      val walk = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.foreach(q => Files.setLastModifiedTime(q, old))
      } finally walk.close()
    }
    val aged = mk("data-aged"); ageAll(aged)
    val live = mk("data-live"); ageAll(live)
    Files.setLastModifiedTime( // deep touch only — parents stay old
      live.resolve("_temporary").resolve("0").resolve("_temporary")
        .resolve("attempt_0").resolve("part-00000"),
      FileTime.fromMillis(System.currentTimeMillis()))
    assert(run() == rows1) // the entry sweep runs with both orphans present
    assert(!Files.exists(aged), "TTL-aged orphan must be swept")
    assert(Files.exists(live), "deep-fresh orphan must read as a live writer")
    SnapshotIO.deleteRecursively(Paths.get(dir))
  }

  test("writer lock: two racing writers serialize; the loser resumes the winner's commit") {
    import graft.io.SnapshotIO
    import java.nio.file.{Files, Paths}
    import java.util.concurrent.atomic.AtomicInteger
    // the single-writer contract is now ENFORCED: the second entrant must
    // block on the lock, never run compute, and NEVER disturb the winner's
    // committed snapshot (the ADVICE-r4 cross-protocol race: an
    // AtomicRename writer's deleteRecursively vs a ManifestPointer writer's
    // in-flight data-* dir — impossible once both hold the same lock)
    for ((pA, pB) <- Seq(
        (SnapshotIO.AtomicRename, SnapshotIO.AtomicRename),
        (SnapshotIO.ManifestPointer, SnapshotIO.AtomicRename),
        (SnapshotIO.AtomicRename, SnapshotIO.ManifestPointer))) {
      val dir = Files.createTempDirectory("graft_lock").toString
      val computes = new AtomicInteger(0)
      def enter(protocol: SnapshotIO.CommitProtocol, delayMs: Long) =
        SnapshotIO.resumeOrCompute(spark, dir, "stg", "h0", protocol = protocol) {
          computes.incrementAndGet()
          Thread.sleep(delayMs) // hold the lock long enough for B to collide
          spark.range(100).selectExpr("id", "cast(id as string) as s").toDF()
        }.selectExpr("sum(id)").head().getLong(0)
      @volatile var bResult = -1L
      @volatile var bErr: Throwable = null
      val a = new Thread(() => enter(pA, 1500L))
      val b = new Thread(() => {
        // enter only once A demonstrably holds the lock (or already won) —
        // a fixed sleep would race the scheduler, not the protocol
        val lock = SnapshotIO.lockPath(SnapshotIO.snapshotDir(dir, "stg", "h0"))
        while (!Files.exists(lock) && !SnapshotIO.isCommitted(dir, "stg", "h0"))
          Thread.sleep(10)
        try bResult = enter(pB, 0L)
        catch { case t: Throwable => bErr = t }
      })
      a.start(); b.start(); a.join(60000); b.join(60000)
      assert(bErr == null, s"loser failed spuriously under ($pA,$pB): $bErr")
      assert(computes.get() == 1,
        s"exactly one writer must compute under ($pA,$pB), got ${computes.get()}")
      assert(bResult == 4950L, s"loser must serve the winner's rows under ($pA,$pB)")
      // the winner's snapshot survived both exits, is committed, readable,
      // and the lock was released
      assert(SnapshotIO.isCommitted(dir, "stg", "h0"))
      val reread = SnapshotIO.resumeOrCompute(spark, dir, "stg", "h0") {
        fail("post-race resume must not recompute")
      }
      assert(reread.count() == 100)
      assert(!Files.exists(SnapshotIO.lockPath(
        SnapshotIO.snapshotDir(dir, "stg", "h0"))), "lock must be released")
      SnapshotIO.deleteRecursively(Paths.get(dir))
    }
  }

  test("writer lock: a dead holder's TTL-aged lock is stolen, a recompute proceeds") {
    import graft.io.SnapshotIO
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val dir = Files.createTempDirectory("graft_stale").toString
    val lock = SnapshotIO.lockPath(SnapshotIO.snapshotDir(dir, "stg", "h0"))
    Files.createDirectories(lock.getParent)
    Files.writeString(lock, """{"holder":"dead-jvm"}""")
    // a LIVE holder heartbeats at TTL/4, so 2×TTL-old can only mean a crash
    Files.setLastModifiedTime(lock,
      FileTime.fromMillis(System.currentTimeMillis() - 2 * SnapshotIO.OrphanTtlMs))
    val out = SnapshotIO.resumeOrCompute(spark, dir, "stg", "h0") {
      spark.range(7).toDF()
    }
    assert(out.count() == 7, "stale lock must be stolen, not waited on")
    assert(SnapshotIO.isCommitted(dir, "stg", "h0"))
    assert(!Files.exists(lock), "stolen lock must be released after commit")
    SnapshotIO.deleteRecursively(Paths.get(dir))
  }

  test("writer lock: release never deletes a lock stolen and re-held by a peer") {
    import graft.io.SnapshotIO
    import java.nio.file.{Files, Paths}
    // The residual wedged-holder scenario: while a writer is inside its
    // body, a peer deems its lock stale, steals it, and CREATE_NEWs a fresh
    // lock at the same path. The original writer's release must then leave
    // that fresh lock alone (holder-id check) — an unconditional delete
    // would let a third writer in beside the live peer. Simulated by
    // swapping the lock's content for a foreign holder's inside compute.
    val dir = Files.createTempDirectory("graft_stolen").toString
    val lock = SnapshotIO.lockPath(SnapshotIO.snapshotDir(dir, "stg", "h0"))
    val out = SnapshotIO.resumeOrCompute(spark, dir, "stg", "h0") {
      Files.delete(lock) // the peer's steal…
      Files.writeString(lock, """{"holder":"peer-jvm"}""") // …and fresh lock
      spark.range(5).toDF()
    }
    assert(out.count() == 5)
    assert(Files.exists(lock), "release must not delete a peer's re-held lock")
    assert(Files.readString(lock).contains("peer-jvm"))
    SnapshotIO.deleteRecursively(Paths.get(dir))
  }
}

class CanonSpec extends SparkSpecBase {
  import graft.stages.Canon

  test("connected components: chains, stars, isolated pairs") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "d"), // chain → comp a
      ("x", "y"),                          // pair → comp x
      ("m", "n"), ("n", "o"), ("m", "o")  // triangle → comp m
    ).toDF("src", "dst")
    val comp = Canon.connectedComponents(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Seq("a", "b", "c", "d").forall(comp(_) == "a"))
    assert(Seq("x", "y").forall(comp(_) == "x"))
    assert(Seq("m", "n", "o").forall(comp(_) == "m"))
  }

  test("long path converges (log-round algorithm)") {
    import spark.implicits._
    val n = 64
    val edges = (0 until n).map(i => (f"v$i%03d", f"v${i + 1}%03d")).toDF("src", "dst")
    val comp = Canon.connectedComponents(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comp.values.toSet == Set("v000"))
    assert(comp.size == n + 1)
  }

  test("512-edge chain: rounds stay within the log bound, convergence reported") {
    import spark.implicits._
    // the adversarial shape CCBench runs at 10M edges — pinned small here so
    // a regression in the star loop's round complexity fails the suite
    // (maxLocalEdges = 0 forces the DISTRIBUTED loop past the fast path)
    val n = 512
    val edges = (0 until n).map(i => (f"v$i%04d", f"v${i + 1}%04d")).toDF("src", "dst")
    val (comp, rounds, converged) =
      Canon.connectedComponentsWithStats(edges, maxLocalEdges = 0)
    assert(converged, "chain must converge before maxIter")
    assert(rounds >= 1 && rounds <= 12,
      s"log-round bound violated (or fast path taken): $rounds rounds for a $n-chain")
    val m = comp.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m.size == n + 1 && m.values.toSet == Set("v0000"))
  }

  test("driver fast path ≡ distributed star loop on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 3) {
      val nV = 30 + rnd.nextInt(50)
      val edges = (0 until 80).map { _ =>
        (s"n${rnd.nextInt(nV)}", s"n${rnd.nextInt(nV)}")
      }.toDF("src", "dst")
      def sortedComp(maxLocal: Long) =
        Canon.connectedComponents(edges, maxLocalEdges = maxLocal)
          .orderBy("id").collect().map(r => (r.getString(0), r.getString(1))).toSeq
      val fast = sortedComp(Long.MaxValue)
      val loop = sortedComp(0)
      assert(fast == loop, s"trial $trial: fast path diverged from star loop")
    }
  }
}

class LinkSpec extends SparkSpecBase {
  test("property: Link.lowerUtf8 ≡ the engine's UTF8String.toLowerCase") {
    import org.apache.spark.unsafe.types.UTF8String
    // ASCII (the fast path) and every class the engine path must keep:
    // Latin-1, dotted capital I, capital sigma, surrogate pairs (one with
    // a lowercase mapping outside the BMP) and a lone surrogate
    val ascii = (0 until 0x80).map(_.toChar.toString)
    val other = (0x80 to 0xff).map(_.toChar.toString) ++
      Seq("\u0130", "\u03a3", "\ud83d\ude00", "\ud801\udc00", "\ud801")
    val rnd = new scala.util.Random(1019)
    (1 to 5000).foreach { trial =>
      val pool = if (trial % 2 == 0) ascii else ascii ++ other
      val s = (0 until rnd.nextInt(12)).map(_ => pool(rnd.nextInt(pool.length))).mkString
      assert(Link.lowerUtf8(s) == UTF8String.fromString(s).toLowerCase.toString,
        s"diverged on '${s.map(c => f"\\u${c.toInt}%04x").mkString}'")
    }
  }

  test("fuzzy LSH linking catches near-miss surfaces") {
    import spark.implicits._
    val mentions = Seq(
      Mention("c1", 0, 0, 9, "ORG", "Acme Corp"),     // exact hit
      Mention("c1", 1, 0, 10, "ORG", "Acme  Corp."),  // fuzzy: extra space + dot
      Mention("c1", 2, 0, 7, "ORG", "Zzzzzzz")        // NIL
    ).toDS()
    val linked = Link.run(mentions, Transcripts.aliasRows).collect()
    val byTurn = linked.map(l => l.turn_idx -> l).toMap
    assert(byTurn(0).method == "exact" && byTurn(0).entity_id == "ORG00a")
    assert(byTurn(1).method == "fuzzy" && byTurn(1).entity_id == "ORG00a")
    assert(byTurn(2).entity_id == null && byTurn(2).method == null)
  }

  test("fuzzy pass preserves same-span mentions with different labels (mention identity incl. label)") {
    import spark.implicits._
    // identical span, two labels; ORG fuzzy-recovers, PER has no candidate —
    // a span-only rerank or join-back would silently drop one of them
    val mentions = Seq(
      Mention("c1", 0, 0, 10, "ORG", "Acme  Corp."),
      Mention("c1", 0, 0, 10, "PER", "Acme  Corp.")).toDS()
    val out = Link.run(mentions, Transcripts.aliasRows).collect()
    assert(out.length == 2, s"mention lost: ${out.toSeq}")
    val byLabel = out.map(l => l.label -> l).toMap
    assert(byLabel("ORG").method == "fuzzy" && byLabel("ORG").entity_id == "ORG00a")
    assert(byLabel("PER").entity_id == null)
  }

  test("ambiguous dictionary: exact path emits ONE row per mention, min(entity_id) wins") {
    import spark.implicits._
    val mentions = Seq(Mention("c1", 0, 0, 6, "ORG", "Globex")).toDS()
    // two candidate ids for the same (surface, label) — the sibling-id shape
    val alias = Seq(
      AliasRow("Globex", "ORG01b", "ORG"),
      AliasRow("Globex", "ORG01a", "ORG"))
    val linked = Link.run(mentions, alias).collect()
    assert(linked.length == 1, s"duplicated mention rows: ${linked.toSeq}")
    assert(linked.head.entity_id == "ORG01a" && linked.head.method == "exact")
  }

  test("word→multi-label join carries up to K sorted labels (mlabel_le_loader.py:199-213)") {
    import spark.implicits._
    val words = Seq("spark", "window", "batch").toDF("word")
    val dict = SparkEntry.multiLabelDict.toDF("word", "label")
    val got = Link.multiLabelJoin(words, dict, k = 2).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(got("spark") == Seq("ENGINE", "TECH"))
    assert(got("window") == Seq("SQL", "TIME")) // 3 labels sliced to K=2
    assert(got("batch") == Seq())               // dictionary miss → empty array
  }

  test("fuzzy pass with ZERO misses: no driver gate, runtime-collapsed empty join") {
    import spark.implicits._
    // every mention links exactly — the miss side is empty at RUNTIME, which
    // since round 6 is handled by AQE empty-relation propagation instead of
    // a driver-side count() gating the plan (VERDICT r5 item 6)
    val mentions = Seq(
      Mention("c1", 0, 0, 9, "ORG", "Acme Corp"),
      Mention("c2", 3, 5, 11, "LOC", "Berlin")).toDS()
    val out = Link.run(mentions, Transcripts.aliasRows).collect()
    assert(out.length == 2 && out.forall(_.method == "exact"))
    assert(out.map(_.entity_id).toSet == Set("ORG00a", "LOC00"))
  }
}
