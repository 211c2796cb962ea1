package graft.kgbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryProgress, Trigger}
import graft.core._
import graft.stages._
import graft.streaming.StreamingTriples
import graft.streaming.StreamingTriples.TimedCanonMention
import graft.synth.Transcripts

/** One benchmark over the KG chain `(conv_id, turn_idx, text) → spans →
  * (subj, pred, obj)`. Usage:
  *
  *   graft.kgbench.Main --workload W --seed N --seconds S --trace 0|1
  *                      [--scale full|tiny]
  *
  * One workload per JVM. Prints host and run accounting lines, then, as the
  * last line of stdout, one JSON object {correct, attempted, failed,
  * metrics}: the end-to-end metrics with `--trace 0`, the per-layer metrics
  * with `--trace 1`. Exits 1 only when an output differs from the gold.
  */
object Main {
  val Workloads = Seq("batch_table", "stream_replay")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        scale: Scale)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Scale.of(m.getOrElse("scale", "full")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val run = new Run(a, Paths.get(".bench_build").toAbsolutePath)
    val ok = try run.go() finally run.close()
    println(run.resultJson)
    if (!ok) sys.exit(1)
  }

  /** Detect → exact link → canonical id for the stream, through the batch
    * engine's own tables: `Detect.spanPartition`, `Link.aliasLut` and
    * `Canon.localCanonicalMap`. NIL mentions carry no triple and are dropped.
    */
  def streamMentions(turns: Dataset[Turn], tagger: Broadcast[MentionTagger],
                     lut: Broadcast[java.util.HashMap[String, String]],
                     canon: Broadcast[Map[String, String]]): Dataset[TimedCanonMention] = {
    import turns.sparkSession.implicits._
    turns.mapPartitions { it =>
      val l = lut.value
      val c = canon.value
      Detect.spanPartition(it, tagger.value).flatMap { case (turn, spans) =>
        spans.iterator.flatMap { sp =>
          val eid = l.get(sp.label + "\u0000" + Link.lowerUtf8(sp.surface))
          if (eid == null) Iterator.empty
          else Iterator.single(TimedCanonMention(turn.conv_id, turn.turn_idx, sp.start,
            sp.end, sp.label, sp.surface, eid, c.getOrElse(eid, eid), turn.ts))
        }
      }
    }
  }
}

/** One streaming query's run: wall from the first micro-batch to the end
  * and time from start to the first micro-batch.
  */
final case class Replay(wall: Double, initS: Double,
                        progress: Seq[StreamingQueryProgress],
                        error: Option[StreamingQueryException]) {
  def dataBatches: Seq[StreamingQueryProgress] = progress.filter(_.numInputRows > 0)
}

final class Run(a: Main.Args, root: Path) {
  import Main._
  private val cores = Runtime.getRuntime.availableProcessors
  private val inputs = new Inputs(root.resolve("data"), a.scale, a.seed)
  private val work = root.resolve("work")
  private val sparkDir = root.resolve("spark")
  private val alias = Transcripts.aliasRows
  private val sameAs = Transcripts.sameAs
  // event-time settings of the stream: the watermark delay exceeds the
  // longest conversation's span (hot conversations: 400 turns × 30 s ≈ 200
  // minutes), so no on-time turn is ever behind it
  private val Watermark = "4 hours"
  private val IdleGap = "30 minutes"

  private var spark: SparkSession = _
  private var tagger: Broadcast[MentionTagger] = _
  private var bcLut: Broadcast[java.util.HashMap[String, String]] = _
  private var bcCanon: Broadcast[Map[String, String]] = _
  private val tracer = new Tracer

  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  // stream_replay: median time from query start to the first micro-batch
  private var queryInitS = 0.0
  private var attempted = 0L
  private var failed = 0L
  private val errors = mutable.ArrayBuffer.empty[String]

  private def log(s: String): Unit = println(f"[kgbench +${
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs] $s")
  private def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  private def med(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)
  private def check(what: String, r: Option[String]): Unit =
    r.foreach { e => errors += s"$what: $e"; log(s"CHECK FAILED $what: $e") }
  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Full GC and a short pause before each timed operation. */
  private def settle(): Unit = { System.gc(); Thread.sleep(100) }

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kgbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", sparkDir.resolve("local").toString)
      .config("spark.sql.warehouse.dir", sparkDir.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", sparkDir.resolve("hadoop").toString)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  def close(): Unit = {
    try if (spark != null) spark.streams.active.foreach(_.stop()) finally stopSession()
    Inputs.deleteTree(work)
  }

  private val kind = a.workload match {
    case "batch_table" => "table"
    case "stream_replay" => "stream"
  }

  /** Generates the run's inputs and gold unless they are on disk. */
  private def prepare(): Unit = {
    // the traced batch run also times the UUID-keyed chain and the
    // resumable path
    val kinds = if (a.trace && kind == "table") Seq("table", "uuid", "snap") else Seq(kind)
    if (!kinds.forall(k => Files.exists(inputs.dir.resolve(s"$k/_DONE")))) {
      log("generating inputs")
      val t0 = now()
      spark = session()
      kinds.foreach(inputs.ensure(spark, _))
      stopSession()
      log(f"inputs generated in ${secs(t0)}%.1f s")
    }
  }

  def go(): Boolean = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    log(f"host nproc=$cores mem_gb=${os.getTotalMemorySize / 1073741824.0}%.1f " +
      s"jdk=${System.getProperty("java.version")} spark=${org.apache.spark.SPARK_VERSION} " +
      s"heap_mb=${Runtime.getRuntime.maxMemory >> 20} workload=${a.workload} seed=${a.seed} " +
      s"seconds=${a.seconds} trace=${if (a.trace) 1 else 0} scale=${a.scale.name}")
    prepare()
    Inputs.deleteTree(work)
    Files.createDirectories(work)
    val (setupS, taggerS) = setup()
    log(f"set up: median $setupS%.3f s")
    a.workload match {
      case "batch_table" => batch()
      case "stream_replay" => stream()
    }
    if (a.trace) {
      put("Detect.tagger_build_s", taggerS, "s")
    } else {
      put("setup_s", setupS + queryInitS, "s")
      System.gc(); System.gc(); Thread.sleep(200)
      val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      put("driver_heap_mb", heap / 1048576.0, "MB")
    }
    log(s"operations workload=${a.workload} attempted=$attempted failed=$failed")
    errors.isEmpty
  }

  /** Session start plus the driver-side builds every workload needs
    * (tagger, alias LUT, canonical map, triple dictionary), repeated; the
    * medians of the whole and of the tagger build alone.
    */
  private def setup(): (Double, Double) = {
    val whole = mutable.ArrayBuffer.empty[Double]
    val tag = mutable.ArrayBuffer.empty[Double]
    for (i <- 0 until 5) {
      if (i > 0) stopSession()
      val t0 = now()
      spark = session()
      val t1 = now()
      tagger = Detect.lexiconTagger(spark, alias, Transcripts.tagSet)
      tag += secs(t1)
      bcLut = spark.sparkContext.broadcast(Link.aliasLut(alias))
      bcCanon = spark.sparkContext.broadcast(Canon.localCanonicalMap(sameAs))
      TripleDict(alias.map(_.label), alias.map(_.entity_id) ++ sameAs.flatMap(p => Seq(p._1, p._2)))
      whole += secs(t0)
    }
    (med(whole), med(tag))
  }

  private def turnsOf(path: String): Dataset[Turn] =
    spark.read.parquet(path).as(Encoders.product[Turn])

  /** Runs `round` at least once, until `seconds` have passed. */
  private def rounds(warmups: Int)(round: Boolean => Unit): Unit = {
    (0 until warmups).foreach(_ => round(false))
    val deadline = now() + a.seconds * 1000000000L
    do round(true) while (now() < deadline)
  }

  private def time(f: => Unit): Double = { settle(); val t0 = now(); f; secs(t0) }

  // ---- batch_table ---------------------------------------------------------

  /** Pipeline's default chain: fused detect→packed 32-bit exchange. */
  private def codecChain(turns: Dataset[Turn]): Dataset[Triple] =
    Triples.runFusedDetect(turns, tagger, alias, sameAs, Pipeline.transcriptsDict,
      Pipeline.transcriptsConvEncodeJvm, Pipeline.transcriptsConvCodec.decode)

  /** The chain for conv ids the codec cannot encode: fused link, fused
    * canon, 96-bit hashed exchange with carrier strings.
    */
  private def linked(turns: Dataset[Turn]) = Link.runFusedDetect(turns, tagger, alias)
  private def canonized(turns: Dataset[Turn]) = Canon.runFusedLinked(linked(turns), sameAs)
  private def hashedChain(turns: Dataset[Turn]): Dataset[Triple] =
    Triples.runEncodedSortedHashed(canonized(turns), Pipeline.transcriptsDict)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def batch(): Unit = {
    val table = inputs.table
    val gold = inputs.gold
    val out = work.resolve("triples")
    def rep(timedOp: Boolean): Double = {
      Inputs.deleteTree(out)
      val t = time(codecChain(turnsOf(table)).write.parquet(out.toString))
      if (timedOp) {
        attempted += 1
        check("batch triples", Check.verify(spark.read.parquet(out.toString), gold))
      }
      t
    }
    if (!a.trace) {
      val walls = mutable.ArrayBuffer.empty[Double]
      // the JIT needs about six reps before the rep time stops falling
      rounds(warmups = 6) { timedOp => val t = rep(timedOp); if (timedOp) walls += t }
      log(s"rep walls s: ${walls.map(w => f"$w%.3f").mkString(" ")}")
      put("turns_per_s", inputs.turnCount("table") / med(walls), "turns/s")
      return
    }
    // traced: chain prefixes to a noop sink, the full chain to parquet with
    // the listener attached and once more without it; then the same prefixes
    // of the UUID-keyed chain over the UUID copy of the table
    val codec = Seq[(String, Dataset[Turn] => DataFrame)](
      "scan" -> (t => t.toDF()),
      "Detect" -> (t => Detect.run(t, tagger).toDF()),
      "Triples" -> (t => codecChain(t).toDF()))
    val uuid = Seq[(String, Dataset[Turn] => DataFrame)](
      "uDetect" -> (t => Detect.run(t, tagger).toDF()),
      "Link" -> (t => linked(t).toDF()),
      "Canon" -> (t => canonized(t).toDF()),
      "hashed" -> (t => hashedChain(t).toDF()))
    val pre = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val traced, plain = mutable.ArrayBuffer.empty[Double]
    val hashedMb = mutable.ArrayBuffer.empty[Double]
    def listen[A](f: => A): A = {
      tracer.reset()
      spark.sparkContext.addSparkListener(tracer)
      try f finally {
        org.apache.spark.KgbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
      }
    }
    (0 until 4).foreach { _ =>
      rep(timedOp = false)
      noop(hashedChain(turnsOf(inputs.tableUuid)).toDF())
    }
    rounds(warmups = 0) { timedOp =>
      def prefix(tbl: String, name: String, f: Dataset[Turn] => DataFrame): Unit = {
        val t = time(noop(f(turnsOf(tbl))))
        if (timedOp) pre.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += t
      }
      codec.foreach { case (k, f) => prefix(table, k, f) }
      val t = listen(rep(timedOp))
      // the chain is one action: its only exchange is the triple exchange
      if (timedOp) recordExec(exchange = tracer.allJobs, all = tracer.allJobs)
      val p = rep(timedOp)
      uuid.init.foreach { case (k, f) => prefix(inputs.tableUuid, k, f) }
      listen(prefix(inputs.tableUuid, uuid.last._1, uuid.last._2))
      if (timedOp) {
        traced += t; plain += p
        hashedMb += tracer.stagesOf(tracer.allJobs).map(_.shuffleWriteBytes).sum / 1048576.0
      }
    }
    val m = pre.map { case (k, v) => k -> med(v) }
    put("scan.self_s", m("scan"), "s")
    put("Detect.self_s", m("Detect") - m("scan"), "s")
    put("Triples.self_s", m("Triples") - m("Detect"), "s")
    put("sink.self_s", med(traced ++ plain) - m("Triples"), "s")
    put("Link.self_s", m("Link") - m("uDetect"), "s")
    put("Canon.self_s", m("Canon") - m("Link"), "s")
    put("Triples.hashed_self_s", m("hashed") - m("Canon"), "s")
    put("Triples.hashed_shuffle_write_mb", med(hashedMb), "MB")
    putExec()
    put("Link.nil_mentions", nilMentions(turnsOf(table)).toDouble, "count")
    put("trace.overhead_s", med(traced) - med(plain), "s")
    check("hashed-layout triples", Check.verify(hashedChain(turnsOf(inputs.tableUuid)).toDF(),
      inputs.goldUuid))
    resumable()
  }

  /** What the listener saw of one traced operation. */
  private final case class ExecStats(shuffleMb: Double, shuffleRecords: Double, spillMb: Double,
                                     skew: Double, cpuS: Double, gcS: Double)
  private val execStats = mutable.ArrayBuffer.empty[ExecStats]

  /** Exchange metrics from the stages of `exchange`, CPU and GC from `all`. */
  private def recordExec(exchange: Seq[JobRec], all: Seq[JobRec]): Unit = {
    val ex = tracer.stagesOf(exchange)
    val every = tracer.stagesOf(all)
    execStats += ExecStats(ex.map(_.shuffleWriteBytes).sum / 1048576.0,
      ex.map(_.shuffleWriteRecords).sum.toDouble, ex.map(_.spillBytes).sum / 1048576.0,
      tracer.taskSkew(exchange), every.map(_.cpuNs).sum / 1e9, every.map(_.gcMs).sum / 1000.0)
  }

  private def putExec(): Unit = {
    def m(f: ExecStats => Double) = med(execStats.map(f))
    put("Triples.shuffle_write_mb", m(_.shuffleMb), "MB")
    put("Triples.shuffle_records", m(_.shuffleRecords), "count")
    put("Triples.spill_mb", m(_.spillMb), "MB")
    put("Triples.task_skew", m(_.skew), "ratio")
    put("executor_cpu_s", m(_.cpuS), "s")
    put("gc_s", m(_.gcS), "s")
  }

  /** NIL mentions in a workload's input, counted with Link's exact lookup. */
  private def nilMentions(turns: Dataset[Turn]): Long =
    Link.runFusedDetect(turns, tagger, alias).filter(col("entity_id").isNull).count()

  // ---- the resumable path, timed in the traced batch_table run ------------

  /** `Pipeline.runWithSnapshots` over a work dir in which only the
    * `transcripts` stage is committed, as after a crash right after ingest,
    * then three reruns over the fully committed dir. Traced: per-stage
    * commit times from the manifests, SnapshotIO's own jobs, the staged
    * Link and Canon jobs and the fuzzy recovery count.
    */
  private def resumable(): Unit = {
    val n = a.scale.snapConvs
    val gold = inputs.snapGold
    val wd = work.resolve("snapshots")
    val key = Inputs.snapshotKey(n, a.seed)
    def runs() = Pipeline.runWithSnapshots(spark, n, wd.toString, a.seed)
    def round(timedOp: Boolean): Unit = {
      Inputs.deleteTree(wd)
      Inputs.copyTree(inputs.snapTemplate, wd)
      settle()
      tracer.reset()
      spark.sparkContext.addSparkListener(tracer)
      val startMs = System.currentTimeMillis()
      val t0 = now()
      val df = try runs() finally {
        org.apache.spark.KgbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
      }
      val resume = secs(t0)
      log(f"resume $resume%.3f s")
      val reruns = (0 until 3).map(_ => time(check("rerun triples", Check.verify(runs(), gold))))
      if (!timedOp) return
      attempted += 4
      check("resumed triples", Check.verify(df, gold))
      def committed(stage: String): Double = {
        val js = Files.readString(wd.resolve(stage).resolve(s"snapshot=$key").resolve("_manifest.json"))
        val at = "\"committed_at\":\"([^\"]+)\"".r.findFirstMatchIn(js).get.group(1)
        (java.time.Instant.parse(at).toEpochMilli - startMs) / 1000.0
      }
      val js = tracer.allJobs
      def of(m: String) = js.filter(tracer.moduleOf(_) == m)
      put("snapshot.resume_s", resume, "s")
      put("snapshot.rerun_s", med(reruns), "s")
      put("Detect.stage_s", committed("mentions"), "s")
      put("Link.stage_s", committed("linked") - committed("mentions"), "s")
      put("Canon.stage_s", committed("canon") - committed("linked"), "s")
      put("Triples.stage_s", committed("triples") - committed("canon"), "s")
      put("Link.jobs", of("Link").size.toDouble, "count")
      put("Canon.jobs", of("Canon").size.toDouble, "count")
      put("SnapshotIO.rescan_s", tracer.busySeconds(of("SnapshotIO")), "s")
      put("SnapshotIO.jobs", of("SnapshotIO").size.toDouble, "count")
      put("SnapshotIO.bytes_written_mb",
        (Inputs.treeBytes(wd) - Inputs.treeBytes(inputs.snapTemplate)) / 1048576.0, "MB")
      put("SnapshotIO.outside_jobs_s", resume - tracer.busySeconds(js), "s")
      val linked = spark.read.parquet(wd.resolve("linked").resolve(s"snapshot=$key").toString)
      put("Link.fuzzy_mentions", linked.filter(col("method") === "fuzzy").count().toDouble, "count")
    }
    // the first resume in a JVM takes about three times as long as the third
    round(timedOp = false)
    round(timedOp = false)
    round(timedOp = true)
  }

  // ---- stream_replay -------------------------------------------------------

  /** One `Trigger.AvailableNow` query over `src`, one file per micro-batch;
    * each micro-batch starts only after the previous one has committed.
    * `upTo` cuts the chain after the scan or the mentions.
    */
  private def replay(src: String, upTo: String, sink: String, name: String): Replay = {
    val ck = work.resolve(s"$name-ck")
    val out = work.resolve(s"$name-out")
    Inputs.deleteTree(ck)
    Inputs.deleteTree(out)
    val turns = spark.readStream.schema(Encoders.product[Turn].schema)
      .option("maxFilesPerTrigger", 1L)
      .parquet(src).as(Encoders.product[Turn])
    val df: DataFrame = upTo match {
      case "scan" => turns.toDF()
      case "mentions" => streamMentions(turns, tagger, bcLut, bcCanon).toDF()
      case "full" => StreamingTriples.assembleWithEvictionEncoded(
        streamMentions(turns, tagger, bcLut, bcCanon), Pipeline.transcriptsDict,
        Watermark, IdleGap).toDF()
    }
    val w = df.writeStream.trigger(Trigger.AvailableNow()).outputMode("append")
      .option("checkpointLocation", ck.toString)
    settle()
    val startMs = System.currentTimeMillis()
    val q = (if (sink == "noop") w.format("noop") else w.format("parquet").option("path", out.toString)).start()
    val err = try { q.awaitTermination(); None } catch { case e: StreamingQueryException => Some(e) }
    val endMs = System.currentTimeMillis()
    val ps = q.recentProgress.toSeq
    val first = ps.headOption.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli).getOrElse(startMs)
    Replay((endMs - first) / 1000.0, (first - startMs) / 1000.0, ps, err)
  }

  private def streamOut(name: String): DataFrame = spark.read.parquet(work.resolve(s"$name-out").toString)

  /** The late-arrival replay: on-time file, late file, on-time file, one
    * file per micro-batch. Its micro-batches are operations; an aborted one
    * is a failed operation and does not stop the workload.
    */
  private def lateReplay(timedOp: Boolean): Unit = {
    val r = replay(inputs.streamLate, "full", "parquet", "late")
    val n = r.dataBatches.size
    r.error match {
      case Some(e) =>
        if (timedOp) { attempted += n + 1; failed += 1 }
        val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
        val cls = "[A-Z_]{12,}".r.findFirstIn(e.toString + " " + msg).getOrElse(e.getClass.getSimpleName)
        log(s"late-arrival replay: micro-batch ${n + 1} of 3 aborted the query: $cls: " +
          msg.linesIterator.take(2).mkString(" ").take(300))
      case None =>
        if (timedOp) attempted += n
        check("late-arrival triples", Check.verify(streamOut("late"), inputs.lateGold))
    }
  }

  /** In-order replays per timed `stream_replay` round; each round also runs
    * the late-arrival replay once.
    */
  private val ReplaysPerRound = 5

  private def stream(): Unit = {
    val gold = inputs.streamGold
    val nTurns = inputs.turnCount("stream")
    val src = inputs.streamSrc
    def full(timedOp: Boolean, sink: String): Replay = {
      val r = replay(src, "full", sink, "main")
      r.error.foreach(e => throw e)
      if (timedOp) attempted += r.dataBatches.size
      if (timedOp && sink == "parquet") check("stream triples", Check.verify(streamOut("main"), gold))
      r
    }
    if (!a.trace) {
      val warm, rs = mutable.ArrayBuffer.empty[Replay]
      def show(r: Replay, what: String): Unit = log(f"$what replay: wall ${r.wall}%.3f s, " +
        f"init ${r.initS}%.3f s, micro-batches ms: " +
        r.dataBatches.map(_.durationMs.get("triggerExecution")).mkString(" "))
      // in a fresh JVM the replay wall falls from about 6.5 s to 4.4, 4.2 and
      // 4.0 s, then more slowly; five replays outlast `--seconds 10`, so such
      // a run times exactly one round
      rounds(warmups = 4) { timedOp =>
        if (!timedOp) { val r = full(timedOp, "parquet"); show(r, "warm-up"); warm += r }
        else {
          (0 until ReplaysPerRound).foreach { _ =>
            val r = full(timedOp, "parquet"); show(r, "timed"); rs += r
          }
          lateReplay(timedOp)
        }
      }
      put("turns_per_s", nTurns / med(rs.map(_.wall)), "turns/s")
      // the first query in the JVM initialises the state store and the
      // checkpoint code cold; every later one is a sample
      queryInitS = med((warm.drop(1) ++ rs).map(_.initS))
      return
    }
    val pre = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def addPre(k: String, v: Double): Unit = pre.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
    val traced, plain = mutable.ArrayBuffer.empty[Double]
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
    full(timedOp = false, "parquet")
    full(timedOp = false, "parquet")
    rounds(warmups = 0) { timedOp =>
      val scan = replay(src, "scan", "noop", "scan").wall
      val ment = replay(src, "mentions", "noop", "mentions").wall
      val fullNoop = full(timedOp = false, "noop").wall
      tracer.reset()
      spark.sparkContext.addSparkListener(tracer)
      val r = full(timedOp, "parquet")
      org.apache.spark.KgbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tracer)
      val p = full(timedOp, "parquet")
      lateReplay(timedOp)
      if (timedOp) {
        addPre("scan", scan); addPre("mentions", ment); addPre("noop", fullNoop)
        traced += r.wall; plain += p.wall
        progress ++= r.dataBatches
        recordExec(exchange = Nil, all = tracer.allJobs)
      }
    }
    val m = pre.map { case (k, v) => k -> med(v) }
    put("scan.self_s", m("scan"), "s")
    // detect, exact link and canonical lookup run in one mapPartitions
    put("Detect.self_s", m("mentions") - m("scan"), "s")
    put("Link.self_s", 0, "s")
    put("Canon.self_s", 0, "s")
    put("Triples.self_s", 0, "s")
    put("StreamingTriples.self_s", m("noop") - m("mentions"), "s")
    put("sink.self_s", med(traced ++ plain) - m("noop"), "s")
    putExec()
    put("Link.nil_mentions", nilMentions(turnsOf(src)).toDouble, "count")
    def dur(k: String) = med(progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    put("stream.batch_p50_ms", dur("triggerExecution"), "ms")
    put("stream.addBatch_ms", dur("addBatch"), "ms")
    put("stream.walCommit_ms", dur("walCommit"), "ms")
    put("stream.commitOffsets_ms", dur("commitOffsets"), "ms")
    put("stream.queryPlanning_ms", dur("queryPlanning"), "ms")
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      med(progress.map(p => p.stateOperators.map(f).sum))
    put("StreamingTriples.state_commit_ms", state(_.commitTimeMs.toDouble), "ms")
    put("StreamingTriples.state_update_ms", state(_.allUpdatesTimeMs.toDouble), "ms")
    put("StreamingTriples.state_rows", state(_.numRowsTotal.toDouble), "count")
    put("StreamingTriples.state_mb", state(_.memoryUsedBytes / 1048576.0), "MB")
    put("StreamingTriples.rows_dropped_by_watermark",
      progress.map(p => p.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble, "count")
    put("trace.overhead_s", med(traced) - med(plain), "s")
  }

  // ---- result --------------------------------------------------------------

  /** Per-layer metrics a workload's path does not run are reported as 0. */
  private val PerLayer: Seq[(String, String)] = Seq(
    "scan.self_s" -> "s", "Detect.self_s" -> "s", "Detect.stage_s" -> "s",
    "Detect.tagger_build_s" -> "s", "Link.self_s" -> "s", "Link.stage_s" -> "s",
    "Link.jobs" -> "count", "Link.nil_mentions" -> "count", "Link.fuzzy_mentions" -> "count",
    "Canon.self_s" -> "s", "Canon.stage_s" -> "s", "Canon.jobs" -> "count",
    "Triples.self_s" -> "s", "Triples.stage_s" -> "s", "Triples.shuffle_write_mb" -> "MB",
    "Triples.shuffle_records" -> "count", "Triples.spill_mb" -> "MB", "Triples.task_skew" -> "ratio",
    "Triples.hashed_self_s" -> "s", "Triples.hashed_shuffle_write_mb" -> "MB",
    "snapshot.resume_s" -> "s", "snapshot.rerun_s" -> "s",
    "sink.self_s" -> "s", "SnapshotIO.rescan_s" -> "s", "SnapshotIO.jobs" -> "count",
    "SnapshotIO.bytes_written_mb" -> "MB", "SnapshotIO.outside_jobs_s" -> "s",
    "stream.batch_p50_ms" -> "ms", "stream.addBatch_ms" -> "ms", "stream.walCommit_ms" -> "ms",
    "stream.commitOffsets_ms" -> "ms", "stream.queryPlanning_ms" -> "ms",
    "StreamingTriples.self_s" -> "s",
    "StreamingTriples.state_commit_ms" -> "ms", "StreamingTriples.state_update_ms" -> "ms",
    "StreamingTriples.state_rows" -> "count", "StreamingTriples.state_mb" -> "MB",
    "StreamingTriples.rows_dropped_by_watermark" -> "count",
    "executor_cpu_s" -> "s", "gc_s" -> "s", "trace.overhead_s" -> "s")

  def resultJson: String = {
    if (a.trace) PerLayer.foreach { case (k, u) => if (!metrics.contains(k)) put(k, 0, u) }
    def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
    val ms = metrics.toSeq.filterNot(_._1.startsWith("_")).map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":${errors.isEmpty},"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
  }
}
