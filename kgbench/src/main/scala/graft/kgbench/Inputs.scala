package graft.kgbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.SnapshotIO
import graft.synth.Transcripts

/** Input sizes per scale. `full` is what the benchmark measures; `tiny`
  * only exercises every path (the benchmark's own tests).
  */
final case class Scale(name: String, batchConvs: Long, snapConvs: Long,
                       streamConvs: Long, streamFiles: Int)

object Scale {
  val Full = Scale("full", batchConvs = 32000, snapConvs = 3000,
    streamConvs = 12000, streamFiles = 4)
  val Tiny = Scale("tiny", batchConvs = 600, snapConvs = 300,
    streamConvs = 120, streamFiles = 4)
  def of(s: String): Scale = s match {
    case "full" => Full
    case "tiny" => Tiny
    case other => throw new IllegalArgumentException(s"unknown scale $other")
  }
}

/** Generated inputs and gold summaries for one (scale, seed), made outside
  * the timed region and kept on disk for later runs with the same seed.
  * The program under test sees only the tables written here.
  */
final class Inputs(root: Path, val scale: Scale, val seed: Long) {
  val dir: Path = root.resolve(scale.name).resolve(s"seed=$seed")

  // batch_table, and its UUID-keyed copy for the traced run
  def table: String = dir.resolve("table/turns").toString
  def gold: Summary = readSummary(dir.resolve("table/gold.json"))
  def tableUuid: String = dir.resolve("uuid/turns").toString
  def goldUuid: Summary = readSummary(dir.resolve("uuid/gold.json"))
  // the resumable path (traced batch_table run)
  def snapTemplate: Path = dir.resolve("snap/workdir")
  def snapGold: Summary = readSummary(dir.resolve("snap/gold.json"))
  // stream_replay
  def streamSrc: String = dir.resolve("stream/src").toString
  def streamLate: String = dir.resolve("stream/late").toString
  def streamGold: Summary = readSummary(dir.resolve("stream/gold.json"))
  def lateGold: Summary = readSummary(dir.resolve("stream/gold_late.json"))
  def turnCount(kind: String): Long =
    Files.readString(dir.resolve(s"$kind/turns.count")).trim.toLong

  private def readSummary(p: Path): Summary = Summary.parse(Files.readString(p))

  /** Late-arrival replay layout, in conversation indexes: an on-time file,
    * a file about 35 event-time hours behind the first (older than the
    * watermark), then a second on-time file.
    */
  val lateFiles: Seq[(Long, Long)] = Seq((40L, 48L), (1L, 9L), (48L, 56L))

  def ensure(spark: SparkSession, kind: String): Unit = {
    val done = dir.resolve(s"$kind/_DONE")
    if (Files.exists(done)) return
    Inputs.deleteTree(dir.resolve(kind))
    Files.createDirectories(dir.resolve(kind))
    kind match {
      case "table" => makeTable(spark)
      case "uuid" => makeUuid(spark)
      case "snap" => makeSnap(spark)
      case "stream" => makeStream(spark)
    }
    Files.writeString(done, "")
  }

  private def write(p: Path, s: String): Unit = Files.writeString(p, s)

  private def makeTable(spark: SparkSession): Unit = {
    val n = scale.batchConvs
    Transcripts.turns(spark, n, seed).write.parquet(table)
    write(dir.resolve("table/turns.count"), spark.read.parquet(table).count().toString)
    write(dir.resolve("table/gold.json"),
      Check.summarize(Transcripts.goldTriples(spark, n, seed).toDF()).json)
  }

  /** The same turns keyed by UUIDs derived from the conv ids (the q48
    * expression); the gold is mapped the same way.
    */
  private def makeUuid(spark: SparkSession): Unit = {
    val n = scale.batchConvs
    Transcripts.turns(spark, n, seed).withColumn("conv_id", Check.uuidOf).write.parquet(tableUuid)
    write(dir.resolve("uuid/gold.json"), Check.summarize(
      Transcripts.goldTriples(spark, n, seed).withColumn("conv_id", Check.uuidOf)).json)
  }

  private def makeSnap(spark: SparkSession): Unit = {
    val n = scale.snapConvs
    // a work dir as left by a crash right after ingest: only the
    // `transcripts` stage committed, holding the generated turns
    SnapshotIO.resumeOrCompute(spark, snapTemplate.toString, "transcripts",
      Inputs.snapshotKey(n, seed))(Transcripts.turns(spark, n, seed).toDF())
    write(dir.resolve("snap/gold.json"),
      Check.summarize(Transcripts.goldTriples(spark, n, seed).toDF()).json)
  }

  private def makeStream(spark: SparkSession): Unit = {
    val n = scale.streamConvs
    val turns = Transcripts.turns(spark, n, seed).toDF()
    // event-time order: range partitions on ts, one file each, file i
    // holding the i-th ts range; modification times follow the same order
    // because the file source picks files oldest first
    val staged = dir.resolve("stream/_staged").toString
    turns.repartitionByRange(scale.streamFiles, col("ts")).sortWithinPartitions("ts")
      .write.parquet(staged)
    Inputs.publishInOrder(Inputs.partFiles(staged), dir.resolve("stream/src"))
    write(dir.resolve("stream/turns.count"), turns.count().toString)
    val late = dir.resolve("stream/_late")
    lateFiles.zipWithIndex.foreach { case ((lo, hi), i) =>
      turns.filter(col("conv_id") >= f"conv_$lo%08d" && col("conv_id") < f"conv_$hi%08d")
        .coalesce(1).sortWithinPartitions("ts").write.parquet(late.resolve(s"f$i").toString)
    }
    Inputs.publishInOrder(lateFiles.indices.flatMap(i =>
      Inputs.partFiles(late.resolve(s"f$i").toString)), dir.resolve("stream/late"))
    Inputs.deleteTree(late)
    Inputs.deleteTree(java.nio.file.Paths.get(staged))
    val gold = Transcripts.goldTriples(spark, n, seed).toDF()
    write(dir.resolve("stream/gold.json"), Check.summarize(gold).json)
    // what the late replay must emit once late turns are dropped instead of
    // aborting the query: the gold triples of the two on-time files
    val onTime = Seq(lateFiles(0), lateFiles(2)).map { case (lo, hi) =>
      col("conv_id") >= f"conv_$lo%08d" && col("conv_id") < f"conv_$hi%08d"
    }.reduce(_ || _)
    write(dir.resolve("stream/gold_late.json"), Check.summarize(gold.filter(onTime)).json)
  }
}

object Inputs {
  def snapshotKey(nConvs: Long, seed: Long): String = s"n${nConvs}_s$seed"

  def partFiles(dir: String): Seq[Path] = {
    val s = Files.list(java.nio.file.Paths.get(dir))
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** Move `files` into `to` as part-00000, part-00001, … with strictly
    * increasing modification times, so a file source replays them in this
    * order.
    */
  def publishInOrder(files: Seq[Path], to: Path): Unit = {
    Files.createDirectories(to)
    val t0 = System.currentTimeMillis() - 3600000L
    files.zipWithIndex.foreach { case (f, i) =>
      val dst = to.resolve(f"part-$i%05d.parquet")
      Files.move(f, dst, StandardCopyOption.ATOMIC_MOVE)
      Files.setLastModifiedTime(dst, java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L))
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally w.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val w = Files.walk(from)
    try w.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally w.close()
  }

  def treeBytes(p: Path): Long = {
    val w = Files.walk(p)
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally w.close()
  }
}
