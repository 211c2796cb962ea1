package graft.streaming

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.stages.{Detect, MentionTagger}

/** Structured Streaming wrapper over the batch pipeline (SURVEY.md §2.9:
  * absent in the reference — this is the incremental-ingest path a
  * transcript firehose needs; the batch snapshot flow stays the primary
  * resume mechanism).
  *
  * The detect stage is reused verbatim: `Detect.run` is a typed
  * `mapPartitions`, legal in streaming plans, so a streaming
  * `Dataset[Turn]` goes through it directly. Aggregations use event-time
  * windows on `ts` with a watermark so state is bounded: late turns beyond
  * the watermark are dropped, everything else lands exactly once per
  * (window, label) in append mode.
  */
object StreamingDetect {

  /** Windowed mention counts per label: 5-minute tumbling event-time
    * windows, 1-hour watermark (north-star shape: `withWatermark` +
    * `window`). Joining mention rows back to their turn's `ts` is done
    * before aggregation so the watermark column survives detect.
    */
  def windowedMentionCounts(turns: Dataset[Turn], tagger: Broadcast[MentionTagger],
                            windowLen: String = "5 minutes",
                            watermark: String = "1 hour"): DataFrame = {
    val spark = turns.sparkSession
    import spark.implicits._
    // ONE row per turn (spans as an array), so the watermark operator sees
    // every turn's event time — flatMap-style emission would starve the
    // watermark whenever a micro-batch contains only entity-less turns,
    // and closed windows would never flush. Explode AFTER the watermark.
    val tagged = turns.mapPartitions { it =>
      val tg = tagger.value
      // Detect.spanPartition: the same micro-batch + length-sort + span
      // fast path as batch Detect.run — one source of truth
      Detect.spanPartition(it, tg).map { case (turn, spans) =>
        (turn.conv_id, turn.turn_idx, turn.ts,
          spans.map(sp => (sp.label, sp.surface)))
      }
    }.toDF("conv_id", "turn_idx", "ts", "spans")
    tagged
      .withWatermark("ts", watermark)
      // explode_outer, NOT explode: plain explode makes Catalyst infer a
      // `size(spans) > 0` filter and push it BELOW the EventTimeWatermark
      // node (PushPredicateThroughNonJoin), so entity-less turns would never
      // reach the watermark tracker and closed windows would never flush.
      // The null-span filter below is on the GENERATED column, which cannot
      // be pushed under the Generate.
      .select(col("ts"), explode_outer(col("spans")).as("span"))
      .filter(col("span").isNotNull)
      .select(col("ts"), col("span._1").as("label"), col("span._2").as("surface"))
      .groupBy(window(col("ts"), windowLen), col("label"))
      .agg(count(lit(1)).as("n_mentions"),
        approx_count_distinct(col("surface")).as("n_surfaces"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("label"),
        col("n_mentions"), col("n_surfaces"))
  }
}
