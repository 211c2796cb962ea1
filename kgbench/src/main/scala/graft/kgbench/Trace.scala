package graft.kgbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Records jobs, stage task metrics and SQL executions from Spark's own
  * listener events, from outside the program. Registered only in the traced
  * run.
  *
  * A job is attributed to a module by the call site of its SQL execution
  * (`spark.sql.execution.id` → `SparkListenerSQLExecutionStart.details`),
  * matched on the module's file name; the result-stage call site is no use
  * because AQE submits shuffle stages from a thread pool. Jobs that
  * `SnapshotIO` runs while writing a stage's snapshot belong to that stage
  * (found from the output path in the physical plan); its other jobs (the
  * per-file row-counter rescan, the metrics table, manifest counters) are
  * `SnapshotIO`'s own.
  */
final class Tracer extends SparkListener {
  private val execs = mutable.HashMap.empty[Long, (String, String)]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.HashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageAgg]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = (s.details, s.physicalPlanDescription)
    }
    case _ =>
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val j = new JobRec(e.jobId, exec, e.time, e.stageIds)
    jobs += j
    jobById(e.jobId) = j
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.taskMs += e.taskInfo.duration
    }
  }

  def reset(): Unit = synchronized {
    execs.clear(); jobs.clear(); jobById.clear(); stages.clear()
  }

  private val moduleFiles = Seq("Detect", "Link", "Canon", "Triples", "SnapshotIO",
    "Pipeline", "StreamingTriples", "Transcripts")
  // the write's output path, on the "Arguments:" line of the formatted
  // InsertIntoHadoopFsRelationCommand node (scans print "Location:")
  private val stageWrite =
    "Arguments: [^,\n]*/(transcripts|mentions|linked|canon|triples)/_tmp_snapshot=".r
  private val moduleOfStage = Map("transcripts" -> "scan", "mentions" -> "Detect",
    "linked" -> "Link", "canon" -> "Canon", "triples" -> "Triples")

  /** The module a job is attributed to; "bench" for the benchmark's own
    * actions (a single-action chain run end to end), "other" without an
    * SQL execution.
    */
  def moduleOf(j: JobRec): String = synchronized {
    execs.get(j.exec) match {
      case None => "other"
      case Some((details, plan)) =>
        val frame = details.split("\n").iterator.flatMap { f =>
          moduleFiles.find(m => f.contains(s"($m.scala:"))
        }.nextOption()
        frame match {
          case Some("SnapshotIO") | Some("Pipeline") =>
            stageWrite.findFirstMatchIn(plan).map(m => moduleOfStage(m.group(1)))
              .getOrElse("SnapshotIO")
          case Some(m) => m
          case None => "bench"
        }
    }
  }

  def allJobs: Seq[JobRec] = synchronized(jobs.toVector)
  def jobsOf(module: String): Seq[JobRec] = allJobs.filter(moduleOf(_) == module)
  def stagesOf(js: Seq[JobRec]): Seq[StageAgg] = synchronized {
    js.flatMap(_.stages).distinct.flatMap(stages.get)
  }

  /** Seconds covered by the union of the jobs' [start, end] intervals. */
  def busySeconds(js: Seq[JobRec]): Double = {
    val iv = js.map(j => (j.start, j.end)).sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  /** Max ÷ median task time of the exchange-reading stage (the stage with
    * the most shuffle input) among `js`; 0 when none reads a shuffle.
    */
  def taskSkew(js: Seq[JobRec]): Double = {
    val readers = stagesOf(js).filter(_.shuffleReadBytes > 0)
    if (readers.isEmpty) 0.0 else {
      val s = readers.maxBy(_.shuffleReadBytes)
      val ts = s.taskMs.sorted
      val med = Stats.median(ts.map(_.toDouble))
      if (med <= 0) 0.0 else ts.last / med
    }
  }
}

final class JobRec(val id: Int, val exec: Long, val start: Long, val stages: Seq[Int]) {
  var end: Long = start
}

final class StageAgg {
  var shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes, spillBytes = 0L
  var cpuNs, gcMs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

object Stats {
  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
