package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.core._
import graft.stages.{Detect, Pipeline, TripleDict}
import graft.streaming.StreamingDetect
import graft.streaming.StreamingTriples
import graft.streaming.StreamingTriples.TimedCanonMention
import graft.synth.Transcripts

/** Structured Streaming path: detect over a streaming source, watermarked
  * event-time windows (SURVEY.md §2.9 extension).
  */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private def mkTurn(conv: String, idx: Int, text: String, minute: Int): Turn =
    Turn(conv, idx, "user", text, null,
      Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00"))

  test("streaming detect emits mentions incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val tagger = Detect.lexiconTagger(spark, Transcripts.aliasRows, Transcripts.tagSet)
    val src = MemoryStream[Turn]
    src.addData(
      mkTurn("c1", 0, "Alice Varga joined Acme Corp last week", 0),
      mkTurn("c1", 1, "no entities here", 1))
    // Detect.run is a typed mapPartitions, so it runs on the stream as is
    val q = Detect.run(src.toDS(), tagger)
      .writeStream.format("memory").queryName("m_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // incremental: a second micro-batch arrives after the first completed
      src.addData(mkTurn("c2", 0, "Grace Obi flew to Lisbon", 2))
      q.processAllAvailable()
    } finally q.stop() // a leaked query would poison later suites' job counts
    val rows = spark.sql("SELECT label, surface FROM m_out ORDER BY label, surface")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("LOC", "Lisbon"), ("ORG", "Acme Corp"),
      ("PER", "Alice Varga"), ("PER", "Grace Obi")))
  }

  test("watermarked tumbling windows aggregate mention counts per label") {
    implicit val sqlCtx = spark.sqlContext
    val tagger = Detect.lexiconTagger(spark, Transcripts.aliasRows, Transcripts.tagSet)
    val src = MemoryStream[Turn]
    val q = StreamingDetect.windowedMentionCounts(src.toDS(), tagger,
        windowLen = "5 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("w_out")
      .outputMode("append").start()
    // two windows of data, then events far enough ahead to advance the
    // watermark past them (the watermark advances at batch BOUNDARIES, so a
    // third batch is needed for the closing event to take effect)
    try {
      src.addData(
        mkTurn("c1", 0, "Alice Varga met Bob Castillo", 0),   // win 10:00
        mkTurn("c1", 1, "Berlin office of Acme Corp", 2),     // win 10:00
        mkTurn("c2", 0, "Hiro Tanaka visited Osaka", 7))      // win 10:05
      q.processAllAvailable()
      src.addData(mkTurn("c3", 0, "advancing the watermark", 59))
      q.processAllAvailable()
      src.addData(mkTurn("c3", 1, "and flushing closed windows", 59))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.sql(
      "SELECT window_start, label, n_mentions FROM w_out ORDER BY window_start, label")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
    assert(rows.contains(("2024-01-01 10:00:00.0", "PER", 2L)))
    assert(rows.contains(("2024-01-01 10:00:00.0", "ORG", 1L)))
    assert(rows.contains(("2024-01-01 10:00:00.0", "LOC", 1L)))
    assert(rows.contains(("2024-01-01 10:05:00.0", "PER", 1L)))
    assert(rows.contains(("2024-01-01 10:05:00.0", "LOC", 1L)))
  }
}

/** The streaming operator `StreamingTriples.assembleWithEvictionEncoded`
  * against the reference model (`TripleModel`) over the rows that are not
  * late. Where a scenario evicts state on purpose, the links it loses are
  * listed by hand.
  */
class StreamingTriplesSpec extends SparkSpecBase {
  import spark.implicits._

  private def at(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  private def tcm(conv: String, turn: Int, start: Int, label: String, canon: String,
                  minute: Int): TimedCanonMention =
    TimedCanonMention(conv, turn, start, start + 3, label, "xxx", canon, canon, at(minute))

  private def model(rows: Seq[TimedCanonMention]): Seq[Triple] =
    TripleModel.triples(rows.map(t => CanonMention(t.conv_id, t.turn_idx, t.start,
      t.end, t.label, t.surface, t.entity_id, t.canonical_id)))

  /** A dictionary over the rows' own ids, for fixtures whose ids the
    * transcripts dictionary does not hold.
    */
  private def dictOf(rows: Seq[TimedCanonMention]): TripleDict =
    TripleDict(Seq("PER", "ORG", "LOC"), rows.map(_.canonical_id))

  /** Feeds `batches` one micro-batch each through the operator into a
    * memory sink and returns what it emitted. With `noDataBatches` off, no
    * watermark-only micro-batch runs between the data batches, as in a file
    * replay where every next batch has data.
    */
  private def stream(name: String, batches: Seq[Seq[TimedCanonMention]], dict: TripleDict,
                  watermark: String = "1 hour", idleGap: String = "30 minutes",
                  noDataBatches: Boolean = true): Seq[Triple] = {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[TimedCanonMention]
    val ds = StreamingTriples.assembleWithEvictionEncoded(src.toDS(), dict,
      watermark = watermark, idleGap = idleGap)
    if (!noDataBatches) spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val q = try ds.writeStream.format("memory").queryName(name).outputMode("append").start()
      finally spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
    try batches.foreach { b => src.addData(b); q.processAllAvailable() }
    finally q.stop() // a leaked query would poison later suites' job counts
    TripleModel.sorted(
      spark.sql(s"SELECT subj, pred, obj, conv_id, turn_idx FROM $name").as[Triple].collect())
  }

  test("stateful incremental triples match the batch rules across micro-batches") {
    // batch 1: turn 0 with PER+ORG, turn 1 with PER
    val b1 = Seq(tcm("c1", 0, 0, "PER", "PER00", 0), tcm("c1", 0, 10, "ORG", "ORG00a", 0),
      tcm("c1", 1, 0, "PER", "PER01", 1))
    // batch 2: turn 2 with PER — cross-turn vs turn 1's PER, carried in state
    val b2 = Seq(tcm("c1", 2, 0, "PER", "PER02", 2))
    val got = stream("t_out", Seq(b1, b2), Pipeline.transcriptsDict)
    assert(got == model(b1 ++ b2))
    assert(got.map(t => (t.subj, t.pred, t.obj, t.turn_idx)).toSet == Set(
      ("PER00", "affiliated_with", "ORG00a", 0),
      ("PER01", "follows_up", "PER00", 1),   // state from batch-1 turn 0
      ("PER02", "follows_up", "PER01", 2)))  // state carried ACROSS batches
  }

  test("event-time eviction: idle conversations lose state; late turns are dropped") {
    val late = tcm("A", 1, 0, "PER", "PER01", 1)
    val batches = Seq(
      Seq(tcm("A", 0, 0, "PER", "PER00", 0)),    // conv A turn 0 at 10:00
      // unrelated conv B far ahead (minute 120) — advances the watermark to
      // ~11:50, far past A's 10:00 + 5min idle gap
      Seq(tcm("B", 0, 0, "PER", "PER90", 120)),
      // another B event so the timer actually fires in a batch whose
      // watermark already covers A's timeout
      Seq(tcm("B", 1, 0, "PER", "PER91", 121)),
      Seq(late),                                 // LATE (10:01) → dropped
      // fresh A turn ABOVE the watermark: state was evicted, so no
      // follows_up against PER00 even though turn_idx is adjacent
      Seq(tcm("A", 1, 0, "PER", "PER01", 125)))
    val got = stream("ev_out", batches, dictOf(batches.flatten),
      watermark = "10 minutes", idleGap = "5 minutes")
    val evicted = Seq(Triple("PER01", "follows_up", "PER00", "A", 1))
    val onTime = batches.flatten.filterNot(_ == late)
    assert(evicted.forall(model(onTime).contains))
    assert(got == model(onTime).diff(evicted), s"got: $got")
    // B's own follows_up proves the handler still works
    assert(got.contains(Triple("PER91", "follows_up", "PER90", "B", 1)))
  }

  test("out-of-order turns within the watermark still assemble (matches batch)") {
    val turns = Map(
      0 -> Seq(tcm("A", 0, 0, "PER", "PER00", 0), tcm("A", 0, 10, "ORG", "ORG00a", 0)),
      1 -> Seq(tcm("A", 1, 0, "PER", "PER01", 1)),
      2 -> Seq(tcm("A", 2, 0, "PER", "PER02", 2), tcm("A", 2, 10, "PER", "PER02b", 2)),
      3 -> Seq(tcm("A", 3, 0, "PER", "PER03", 3)))
    // whole turns arrive SHUFFLED across micro-batches: 2, 0, 3, 1 — every
    // arrival stays within the watermark window. Compound interval: idleGap
    // must accept every form Spark's own watermark parser does (pins the
    // delay-parsing contract)
    val got = stream("ooo_out", Seq(2, 0, 3, 1).map(turns), dictOf(turns.values.flatten.toSeq),
      watermark = "30 minutes", idleGap = "1 hour 30 minutes")
    val expect = model(turns.values.flatten.toSeq)
    assert(expect.exists(_.pred == "follows_up") && got == expect,
      s"out-of-order stream diverged from the model:\n  stream=$got\n  model=$expect")
  }

  test("packed-state eviction path ≡ string-state path (out-of-order + eviction scenarios)") {
    // out-of-order turns, an idle conversation that gets evicted, and a late
    // drop. Canonical ids come from the transcripts dict.
    val batches = Seq(
      Seq(tcm("A", 2, 0, "PER", "PER02", 2), tcm("A", 2, 10, "PER", "PER03", 2)),
      Seq(tcm("A", 0, 0, "PER", "PER00", 0), tcm("A", 0, 10, "ORG", "ORG00a", 0),
        tcm("A", 0, 20, "LOC", "LOC01", 0)),
      Seq(tcm("A", 3, 0, "PER", "PER04", 3)),
      Seq(tcm("A", 1, 0, "PER", "PER01", 1)),
      Seq(tcm("B", 0, 0, "PER", "PER05", 120)), // advances watermark far past A
      Seq(tcm("B", 1, 0, "PER", "PER06", 121)), // fires A's eviction timer
      Seq(tcm("A", 4, 0, "PER", "PER07", 125))) // A evicted: no follows_up to 3
    val got = stream("pk_packed", batches, Pipeline.transcriptsDict,
      watermark = "10 minutes", idleGap = "5 minutes")
    val evicted = Seq(Triple("PER07", "follows_up", "PER04", "A", 4))
    val all = model(batches.flatten)
    assert(evicted.forall(all.contains))
    assert(got.exists(_.pred == "follows_up"))
    assert(got == all.diff(evicted), s"packed state diverged from the model:\n  got=$got")
  }

  test("packed-state path fails LOUDLY on a canonical id outside the dict") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[TimedCanonMention]
    src.addData(TimedCanonMention("A", 0, 0, 3, "PER", "xxx", "ZZZ99", "ZZZ99",
      Timestamp.valueOf("2024-01-01 10:00:00")))
    val q = StreamingTriples.assembleWithEvictionEncoded(src.toDS(), Pipeline.transcriptsDict)
      .writeStream.format("memory").queryName("pk_loud").outputMode("append").start()
    val e = intercept[Exception] { try q.processAllAvailable() finally q.stop() }
    def msgs(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(msgs(e).exists(_.contains("canonical_id not in dict")),
      s"got: ${msgs(e)}")
  }

  test("streaming triples equal batch triples on a full replayed corpus") {
    val r = Pipeline.run(spark, 25)
    val canon = r.canon.as[CanonMention].collect().toSeq
    // one event time for every row: nothing is ever late or evicted
    val ordered = canon.sortBy(m => (m.conv_id, m.turn_idx, m.start))
      .map(m => TimedCanonMention(m.conv_id, m.turn_idx, m.start, m.end, m.label,
        m.surface, m.entity_id, m.canonical_id, at(0)))
    // feed in two turn-ordered chunks, split at a TURN boundary (a turn's
    // mentions must land in one micro-batch — the handler treats each
    // invocation's rows per turn as complete)
    var cut = ordered.size / 2
    while (cut < ordered.size && ordered(cut - 1).conv_id == ordered(cut).conv_id &&
           ordered(cut - 1).turn_idx == ordered(cut).turn_idx) cut += 1
    val (first, second) = ordered.splitAt(cut)
    val got = stream("t_out2", Seq(first, second), Pipeline.transcriptsDict)
    assert(got.nonEmpty && got == TripleModel.triples(canon))
  }

  test("exactly-once across a query RESTART: checkpointed state resumes, no dupes, no losses") {
    import java.nio.file.Files
    // the streaming analogue of ResumeSpec: stop the query mid-corpus,
    // restart from the checkpoint, and require the total emitted triple
    // multiset to equal the model — which proves BOTH that the
    // per-conversation link frontier was restored across the restart (the
    // follows_up pairs spanning the cut exist) and that no triple was
    // re-emitted (the checkpoint + file-sink commit log give exactly-once)
    val base = Files.createTempDirectory("graft_restart")
    val srcDir = base.resolve("src"); Files.createDirectories(srcDir)
    val chk = base.resolve("chk"); val outDir = base.resolve("out")
    // event time = turn minute: far inside the watermark and the idle gap,
    // so nothing is late or evicted
    val all = for {
      c <- Seq("A", "B"); t <- 0 until 4
      m <- tcm(s"c$c", t, 0, "PER", s"PER_${c}$t", t) ::
           (if (t % 2 == 0) List(tcm(s"c$c", t, 10, "ORG", s"ORG_${c}$t", t)) else Nil)
    } yield m
    val dict = dictOf(all)
    // cut at a turn boundary: turns 0-1 before the restart, 2-3 after, so
    // every conversation has a follows_up pair CROSSING the restart
    val (first, second) = all.partition(_.turn_idx < 2)
    def writeBatch(rows: Seq[TimedCanonMention]): Unit =
      spark.createDataset(rows).repartition(1)
        .write.mode("append").json(srcDir.toString)
    def runOnce(): Unit = {
      val src = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[TimedCanonMention]].schema)
        .json(srcDir.toString).as[TimedCanonMention]
      val q = StreamingTriples.assembleWithEvictionEncoded(src, dict)
        .writeStream.format("parquet").option("path", outDir.toString)
        .option("checkpointLocation", chk.toString)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    try {
      writeBatch(first); runOnce()  // run 1: first half, then STOP
      writeBatch(second); runOnce() // run 2: restart — state from checkpoint
      runOnce()                     // run 3: restart with NO new data
      // reading via the sink's _spark_metadata commit log: only files whose
      // batch COMMITTED count — the exactly-once read surface
      val streamed = TripleModel.sorted(spark.read.parquet(outDir.toString)
        .select("subj", "pred", "obj", "conv_id", "turn_idx").as[Triple].collect())
      val expect = model(all)
      assert(expect.exists(t => t.pred == "follows_up" && t.turn_idx == 2),
        "fixture must have follows_up pairs crossing the restart cut")
      assert(streamed == expect,
        s"restarted stream diverged from the model:\n  stream=$streamed\n  model=$expect")
    } finally graft.io.SnapshotIO.deleteRecursively(base)
  }

  test("turns behind the advanced watermark are dropped in the handler; the query finishes") {
    // on time at 12:00; the watermark then advances to 11:50, but Spark
    // filters the next micro-batch against the PREVIOUS watermark, so the
    // 10:0x turns of C reach the handler — they must emit nothing and arm
    // no timer below the watermark
    val onTime1 = Seq(tcm("A", 0, 0, "PER", "PER00", 120), tcm("A", 0, 10, "ORG", "ORG00a", 120),
      tcm("A", 1, 0, "PER", "PER01", 121))
    val late = Seq(tcm("C", 0, 0, "PER", "PER02", 0), tcm("C", 0, 10, "ORG", "ORG00a", 0),
      tcm("C", 1, 0, "PER", "PER03", 1), tcm("A", 2, 0, "PER", "PER04", 2))
    val onTime2 = Seq(tcm("A", 2, 0, "PER", "PER05", 122), tcm("A", 2, 10, "LOC", "LOC01", 122))
    val expect = model(onTime1 ++ onTime2)
    assert(expect.exists(_.pred == "follows_up") && expect.exists(_.pred == "affiliated_with"))
    // no no-data micro-batches: one between the data batches would run the
    // late-row filter at the advanced watermark and hide the late turns
    // from the handler
    assert(stream("late_packed", Seq(onTime1, late, onTime2), Pipeline.transcriptsDict,
      watermark = "10 minutes", idleGap = "5 minutes", noDataBatches = false) == expect)
  }

  test("packed-state path fails LOUDLY on a negative turn_idx") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[TimedCanonMention]
    src.addData(TimedCanonMention("A", -1, 0, 3, "PER", "xxx", "PER00", "PER00",
      Timestamp.valueOf("2024-01-01 10:00:00")))
    val q = StreamingTriples.assembleWithEvictionEncoded(src.toDS(), Pipeline.transcriptsDict)
      .writeStream.format("memory").queryName("pk_neg").outputMode("append").start()
    val e = intercept[Exception] { try q.processAllAvailable() finally q.stop() }
    def msgs(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(msgs(e).exists(_.contains("StreamingTriples encoded: negative turn_idx -1 in A")),
      s"got: ${msgs(e)}")
  }
}

/** The packed link frontier's per-conversation step, checked without Spark
  * against a full buffer that keeps every turn inside the horizon and
  * applies the reference model's rule bodies (`TripleModel`).
  */
class LinkFrontierSpec extends org.scalatest.funsuite.AnyFunSuite {
  import org.scalacheck.{Gen, Prop, Test}
  import graft.streaming.StreamingTriples.LinkFrontier
  import graft.streaming.StreamingTriples.LinkFrontier.Arrival

  private val dict = TripleDict(Seq("PER", "ORG", "LOC"), (0 until 6).map(i => s"e$i"))
  private val IdleGapMs = 60000L

  private def pack(start: Int, label: String, e: Int): Long =
    (start.toLong << 40) | (dict.rankOfLabel(label).toLong << 32) | e.toLong

  private def arrival(turn: Int, ts: Long, ms: Long*): Arrival =
    Arrival(turn, ts, ms.toArray.sorted)

  private def sorted(ts: Iterable[Triple]) =
    ts.toSeq.sortBy(t => (t.turn_idx, t.pred, t.subj, t.obj))

  /** Full-buffer reference state: every turn inside the horizon, keyed by
    * turn index, as (event time, PER ids); and the turns t whose pair
    * (t−1, t) has been joined, i.e. whose later-arriving side found the
    * other one buffered.
    */
  private final case class RefState(buf: Map[Int, (Long, Seq[String])], joined: Set[Int]) {
    /** The turns the link frontier must hold: inside the horizon and with
      * a neighbour pair still unjoined.
      */
    def frontier(wm: Long): Map[Int, (Long, Seq[String])] = buf.filter { case (t, (ts, _)) =>
      ts + IdleGapMs > wm && !((t == 0 || joined(t)) && joined(t + 1))
    }
  }

  /** The full buffer on the model's string rule bodies. */
  private def referenceStep(st: RefState, arrivals: Seq[Arrival],
                            wm: Long): (RefState, Seq[Triple]) = {
    var buf = if (wm <= 0) st.buf else st.buf.filter(_._2._1 + IdleGapMs > wm)
    var joined = st.joined
    val out = Seq.newBuilder[Triple]
    arrivals.foreach { a =>
      val ms = a.ms.toSeq.map(v => ((v >>> 40).toInt,
        dict.labels(((v >>> 32) & 0xff).toInt), dict.entities((v & 0xffffffffL).toInt)))
      val pers = ms.filter(_._2 == "PER").map(_._3)
      out ++= TripleModel.withinTurnTriples("c", a.turn, ms).distinct
      buf.get(a.turn - 1).foreach { p =>
        out ++= TripleModel.followUps("c", a.turn, pers, p._2).distinct
        joined += a.turn
      }
      buf.get(a.turn + 1).foreach { n =>
        out ++= TripleModel.followUps("c", a.turn + 1, n._2, pers).distinct
        joined += a.turn + 1
      }
      buf += a.turn -> ((a.ts, pers))
    }
    (RefState(buf, joined), out.result())
  }

  /** The frontier's turns as (event time, PER ids) inside the horizon. */
  private def held(fr: LinkFrontier, wm: Long): Map[Int, (Long, Seq[String])] = {
    var off = 0
    (0 until fr.turns).map { i =>
      val h = fr.meta(2 * i)
      val n = (h & 0x3fffffffL).toInt
      val pers = fr.pers.slice(off, off + n).toSeq.map(dict.entities(_))
      off += n
      (h >>> 32).toInt -> ((fr.meta(2 * i + 1), pers))
    }.toMap.filter(_._2._1 + IdleGapMs > wm)
  }

  /** One micro-batch for this conversation: the turns it delivers (possibly
    * none, when only the watermark moves) and the watermark it runs under.
    */
  private final case class Batch(turns: Seq[Arrival], wm: Long)

  private val mention: Gen[Long] = for {
    start <- Gen.choose(0, 40)
    label <- Gen.oneOf("PER", "PER", "ORG", "LOC")
    e <- Gen.choose(0, 5)
  } yield pack(start, label, e)

  /** A conversation of up to 12 turns, about one in five missing, delivered
    * in a random order over random micro-batches, with watermark-only
    * batches in between; the watermark starts unset (0), just below the
    * first turn or at it, and advances by steps up to 2.5 idle gaps.
    */
  private val scenario: Gen[Seq[Batch]] = for {
    n <- Gen.choose(1, 12)
    present <- Gen.listOfN(n, Gen.frequency(4 -> true, 1 -> false))
    turns <- Gen.sequence[List[Arrival], Arrival]((0 until n).filter(present).map { t =>
      Gen.choose(0, 4).flatMap(k => Gen.listOfN(k, mention))
        .map(ms => arrival(t, 1000000L + t * 30000L, ms: _*))
    })
    shuffleSeed <- Gen.long
    cuts <- Gen.listOfN(turns.size, Gen.frequency(2 -> false, 1 -> true))
    ticks <- Gen.listOfN(turns.size, Gen.frequency(3 -> false, 1 -> true))
    wm0 <- Gen.oneOf(0L, 950000L, 1000000L)
    steps <- Gen.listOfN(2 * turns.size, Gen.oneOf(0L, 0L, 20000L, 60000L, 150000L))
  } yield {
    val order = new scala.util.Random(shuffleSeed).shuffle(turns)
    val groups = order.indices.foldLeft(Vector.empty[Vector[Arrival]]) { (acc, i) =>
      if (acc.isEmpty || cuts(i)) acc :+ Vector(order(i)) else acc.init :+ (acc.last :+ order(i))
    }
    val withTicks = groups.zipWithIndex.flatMap { case (g, i) =>
      if (ticks(i)) Seq(Vector.empty[Arrival], g) else Seq(g)
    }
    withTicks.zip(steps.scanLeft(wm0)(_ + _)).map { case (g, wm) => Batch(g.sortBy(_.turn), wm) }
  }

  /** Runs both models over the batches the way Spark drives a key: late
    * turns are dropped first, a watermark-only batch fires the timer once
    * the watermark has passed it, and a batch with data calls the step.
    * Returns both outputs and whether, after every batch, the frontier held
    * exactly the reference's unjoined turns.
    */
  private def replay(batches: Seq[Batch]): (Seq[Triple], Seq[Triple], Boolean) = {
    var ref = RefState(Map.empty, Set.empty)
    var fr = LinkFrontier.Empty
    var frontierOk = true
    val refOut, frOut = Seq.newBuilder[Triple]
    batches.foreach { b =>
      val live = b.turns.filter(_.ts > b.wm)
      if (live.isEmpty) {
        if (ref.buf.nonEmpty && b.wm > ref.buf.valuesIterator.map(_._1).max + IdleGapMs)
          ref = ref.copy(buf = Map.empty)
        if (fr.turns > 0 && b.wm > fr.maxTs + IdleGapMs) fr = LinkFrontier.Empty
      } else {
        val (r, ro) = referenceStep(ref, live, b.wm)
        ref = r; refOut ++= ro
        val (f, fo) = LinkFrontier.step(dict, IdleGapMs, "c", fr, live, b.wm)
        fr = f; frOut ++= fo
      }
      frontierOk &&= held(fr, b.wm) == ref.frontier(b.wm)
    }
    (sorted(refOut.result()), sorted(frOut.result()), frontierOk)
  }

  test("property: frontier step ≡ full-buffer reference over arrival orders, gaps and eviction") {
    var linked = 0
    val prop = Prop.forAll(scenario) { batches =>
      val (ref, fr, frontierOk) = replay(batches)
      if (ref.exists(_.pred == "follows_up")) linked += 1
      ref == fr && frontierOk
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(2000)
      .withInitialSeed(org.scalacheck.rng.Seed(20241019L)), prop)
    assert(res.passed, s"frontier diverged from the full buffer: ${res.status}")
    assert(linked > 200, s"too few scenarios emitted a follows_up: $linked")
  }

  test("an in-order conversation with no missing turn holds exactly one buffered turn") {
    val rnd = new scala.util.Random(7)
    var fr = LinkFrontier.Empty
    var t = 0
    while (t < 200) {
      val k = 1 + rnd.nextInt(4)
      val batch = (t until t + k).map(i => arrival(i, 1000000L + i * 30000L,
        pack(0, "PER", rnd.nextInt(6)), pack(5, "ORG", rnd.nextInt(6))))
      fr = LinkFrontier.step(dict, IdleGapMs, "c", fr, batch, 1000000L + t * 30000L - 1)._1
      assert(fr.turns == 1 && (fr.meta(0) >>> 32) == t + k - 1, s"after turn ${t + k - 1}")
      assert(fr.pers.length == 1)
      t += k
    }
  }

  test("redelivered turn: within-turn triples again, new PER set kept, no repeated follows_up") {
    def step(fr: LinkFrontier, a: Arrival) = LinkFrontier.step(dict, IdleGapMs, "c", fr, Seq(a), 0L)
    val (f0, o0) = step(LinkFrontier.Empty, arrival(0, 1000L, pack(0, "PER", 0)))
    val (f1, o1) = step(f0, arrival(1, 2000L, pack(0, "PER", 1)))
    // turn 1 again, now with another PER set and an ORG
    val (f2, o2) = step(f1, arrival(1, 2500L, pack(0, "PER", 2), pack(4, "ORG", 3)))
    val (f3, o3) = step(f2, arrival(2, 3000L, pack(0, "PER", 4)))
    assert(o0.isEmpty)
    assert(o1 == Seq(Triple("e1", "follows_up", "e0", "c", 1)))
    // turn 0 left the frontier when turn 1 first arrived: no second link
    assert(o2 == Seq(Triple("e2", "affiliated_with", "e3", "c", 1)))
    assert(o3 == Seq(Triple("e4", "follows_up", "e2", "c", 2)))
    assert(f2.turns == 1 && f3.turns == 1 && (f3.meta(0) >>> 32) == 2)
  }

  test("frontier step fails loudly on a negative turn index") {
    val e = intercept[IllegalStateException] {
      LinkFrontier.step(dict, IdleGapMs, "conv_x", LinkFrontier.Empty,
        Seq(arrival(-3, 1000L, pack(0, "PER", 0))), 0L)
    }
    assert(e.getMessage == "StreamingTriples encoded: negative turn_idx -3 in conv_x")
  }
}

class MetricsSpec extends SparkSpecBase {
  import graft.io.SnapshotIO
  import graft.stages.Pipeline
  import org.apache.spark.sql.functions._

  test("snapshot layer records per-partition lineage counters (north_rule)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_metrics").toString
    Pipeline.runWithSnapshots(spark, 20, dir).count()
    val m = SnapshotIO.metrics(spark, dir)
    val stages = m.select("stage").distinct().collect().map(_.getString(0)).toSet
    assert(stages == Set("transcripts", "mentions", "linked", "canon", "triples"))
    // per-partition rows sum to the manifest's committed row count
    val triplesTotal = m.filter(col("stage") === "triples")
      .agg(sum("rows")).head().getLong(0)
    val actual = spark.read.parquet(
      SnapshotIO.snapshotDir(dir, "triples",
        "n20_s42").toString).count()
    assert(triplesTotal == actual)
    // retry-safe manifest counters: every total in the mentions manifest is
    // a count over COMMITTED snapshot data, so it must equal the dataset
    // counts exactly (accumulator-derived figures could not promise this
    // under task retries / speculative execution)
    val mentionsDir = SnapshotIO.snapshotDir(dir, "mentions", "n20_s42")
    val manifest = java.nio.file.Files.readString(mentionsDir.resolve("_manifest.json"))
    val turnsIn = """"turns_in":(\d+)""".r.findFirstMatchIn(manifest).map(_.group(1).toLong)
    val rowsField = """"rows":(\d+)""".r.findFirstMatchIn(manifest).map(_.group(1).toLong)
    val nTurns = spark.read.parquet(
      SnapshotIO.snapshotDir(dir, "transcripts", "n20_s42").toString).count()
    val nMentions = spark.read.parquet(mentionsDir.toString).count()
    assert(turnsIn.contains(nTurns), s"turns_in=$turnsIn != $nTurns in $manifest")
    assert(rowsField.contains(nMentions), s"rows=$rowsField != $nMentions in $manifest")
    assert(nMentions > 0, "fixture must produce mentions")
    // a distinct `version` forces a fresh snapshot key (staleness contract)
    Pipeline.runWithSnapshots(spark, 20, dir, version = "2").count()
    assert(SnapshotIO.isCommitted(dir, "triples", "n20_s42_v2"))
    SnapshotIO.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("per-type report generalizes to any type column (per-predicate over triples)") {
    val r = Pipeline.run(spark, 20)
    val rep = graft.stages.Eval.perTypeReport(r.triples, r.triples,
      graft.stages.Eval.tripleKeys, typeCol = "pred").collect()
    assert(rep.length > 1) // per-predicate rows + micro total
    assert(rep.forall(_.getDouble(rep.head.fieldIndex("f1")) == 1.0)) // self vs self
    intercept[IllegalArgumentException] {
      graft.stages.Eval.perTypeReport(r.triples, r.triples,
        graft.stages.Eval.tripleKeys, typeCol = "nope")
    }
  }
}
