package graft.kgbench

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.stages.Pipeline
import graft.synth.Transcripts

/** The benchmark's correctness check must reject a corrupted output, and
  * the traced run must attribute the snapshot chain's jobs to its modules.
  */
class CheckSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]").appName("kgbench-test")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private lazy val gold = Transcripts.goldTriples(spark, 40, 7L).toDF().cache()
  private lazy val goldSummary = Check.summarize(gold)
  private lazy val rows: Seq[Row] = gold.collect().toSeq.sortBy(_.toString)

  private def frame(rs: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), gold.schema)

  test("the gold triples pass their own check") {
    assert(rows.size > 10)
    assert(Check.verify(frame(rows.reverse), goldSummary).isEmpty)
  }

  test("one dropped triple fails the check") {
    assert(Check.verify(frame(rows.tail), goldSummary).isDefined)
  }

  test("one altered conv id fails the check") {
    val r = rows.head
    val i = r.fieldIndex("conv_id")
    val altered = Row.fromSeq(r.toSeq.updated(i, r.getString(i) + "x"))
    assert(Check.verify(frame(altered +: rows.tail), goldSummary).isDefined)
  }

  test("a duplicate in place of a dropped triple fails the check") {
    assert(Check.verify(frame(rows.head +: rows.tail.tail :+ rows.head), goldSummary).isDefined)
  }

  test("a gold summary reads back from its JSON") {
    assert(Summary.parse(goldSummary.json) == goldSummary)
  }

  test("snapshot chain jobs are attributed by call-site file and written stage") {
    val dir = Files.createTempDirectory("kgbench-snap")
    val tracer = new Tracer
    spark.sparkContext.addSparkListener(tracer)
    try {
      val out = Pipeline.runWithSnapshots(spark, 30, dir.toString, 7L)
      assert(Check.verify(out, Check.summarize(Transcripts.goldTriples(spark, 30, 7L).toDF())).isEmpty)
      org.apache.spark.KgbenchBus.drain(spark.sparkContext)
      Seq("scan", "Detect", "Link", "Canon", "Triples", "SnapshotIO").foreach { m =>
        assert(tracer.jobsOf(m).nonEmpty, s"no job attributed to $m")
      }
    } finally {
      spark.sparkContext.removeSparkListener(tracer)
      Inputs.deleteTree(dir)
    }
  }
}
