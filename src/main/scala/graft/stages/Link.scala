package graft.stages

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.jdk.CollectionConverters._
import graft.core._

/** Entity-linking stage: `Dataset[Mention] → Dataset[LinkedMention]`.
  *
  * Exact linking is one dictionary lookup per span — the reference's
  * word→tag lookup (`CC/loaders/lex_loader.py:69-73`, `vocab_tag.py:24-37`):
  * [[aliasLut]] elects min(entity_id) per (label, lower(surface)) once on
  * the driver, and every entry point (`run`, `runFusedDetect`,
  * `Triples.runFusedDetect`, streaming) probes that one table through a
  * per-task [[Memo]]. The dictionary is the small side (≤ a few hundred MB
  * of aliases even at web scale), so the mention side never shuffles here.
  *
  * `run` then sends its NIL (unlinked) mentions through **MinHash-LSH
  * blocking** on char 3-gram sets (`org.apache.spark.ml.feature.MinHashLSH`;
  * stands in for the reference's SBert cosine candidate ranking,
  * `label_counter.py:56-75`, whose quadratic pair space cannot materialize
  * at scale): LSH buckets produce candidate pairs, exact Jaccard distance
  * reranks, best candidate per mention wins (deterministic tie-break on
  * distance then entity_id).
  */
object Link {
  private val NGram = 3
  private val LshSeed = 42L
  /** Largest Jaccard distance a fuzzy candidate may have. */
  private val FuzzyMaxJaccardDist = 0.5

  /** The engine's own `lower()`: UTF8String.toLowerCase, NOT
    * String.toLowerCase — the fused paths' LUT keys must match
    * `lower(col("surface"))` byte-for-byte.
    */
  private[graft] def lowerUtf8(s: String): String = {
    // all-ASCII input (the common case) lowercases A–Z only, which is what
    // the engine does to ASCII bytes; anything else takes the engine path
    var upper = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= 0x80)
        return org.apache.spark.unsafe.types.UTF8String.fromString(s).toLowerCase.toString
      if (c >= 'A' && c <= 'Z') upper = true
      i += 1
    }
    if (!upper) return s
    val cs = s.toCharArray
    i = 0
    while (i < cs.length) {
      if (cs(i) >= 'A' && cs(i) <= 'Z') cs(i) = (cs(i) + ('a' - 'A')).toChar
      i += 1
    }
    new String(cs)
  }

  /** Entries one task's [[Memo]] holds at most; later misses go to the LUT. */
  private val MemoEntries = 1 << 14

  /** Per-task memo of an [[aliasLut]]-keyed LUT by (label, surface): a hit
    * or NIL is resolved once per task, not once per span. A probe costs two
    * hash probes and no allocation; a direct-path surface is the
    * dictionary's own `String`, so its hash is cached and equals is an
    * identity check. A miss builds the (label + NUL + lower(surface)) key.
    */
  private[graft] final class Memo[V <: AnyRef](lut: java.util.HashMap[String, V]) {
    private val byLabel = new java.util.HashMap[String, java.util.HashMap[String, AnyRef]]()
    private var size = 0
    /** @return the LUT value, or null for NIL */
    def apply(label: String, surface: String): V = {
      var bySurface = byLabel.get(label)
      if (bySurface == null) {
        bySurface = new java.util.HashMap[String, AnyRef]()
        byLabel.put(label, bySurface)
      }
      val known = bySurface.get(surface)
      if (known != null) return (if (known eq Memo.Unlinked) null else known).asInstanceOf[V]
      val v = lut.get(label + "\u0000" + lowerUtf8(surface))
      if (size < MemoEntries) {
        bySurface.put(surface, if (v == null) Memo.Unlinked else v)
        size += 1
      }
      v
    }
  }
  private object Memo { val Unlinked = new Object }

  /** The exact-link election: (label + NUL + lower(surface)) →
    * min(entity_id) under Spark's binary string min
    * (`TripleDict.utf8Order`). NUL-joined keys are unambiguous because
    * labels cannot contain NUL. Shared by `run`, the fused detect→link
    * emit and `Triples.runFusedDetect`'s rank LUT.
    */
  private[graft] def aliasLut(alias: Seq[AliasRow]): java.util.HashMap[String, String] = {
    val lut = new java.util.HashMap[String, String](alias.size * 2)
    alias.groupBy(r => (lowerUtf8(r.surface), r.label)).foreach {
      case ((low, label), rows) =>
        lut.put(label + "\u0000" + low,
          rows.map(_.entity_id).min(TripleDict.utf8Order))
    }
    lut
  }

  /** Fused detect→link: emits `LinkedMention` rows straight from the
    * tagger's span loop via the driver-built `aliasLut`, with no Mention
    * Dataset between the stages — exactly the exact half of
    * `run(Detect.run(turns, tagger), alias)`: misses → NIL (entity_id null,
    * method null), hits → method "exact". No fuzzy recovery: the hot path
    * stays one action; `run` is the entry point that recovers NILs.
    */
  def runFusedDetect(turns: Dataset[Turn],
      tagger: org.apache.spark.broadcast.Broadcast[MentionTagger],
      alias: Seq[AliasRow]): Dataset[LinkedMention] = {
    val spark = turns.sparkSession
    import spark.implicits._
    val bcLut = spark.sparkContext.broadcast(aliasLut(alias))
    Detect.mapSpans(turns, tagger) { () =>
      val link = new Memo(bcLut.value)
      (turn: Turn, spans: List[Span]) => spans.iterator.map { sp =>
        val eid = link(sp.label, sp.surface)
        LinkedMention(turn.conv_id, turn.turn_idx, sp.start, sp.end,
          sp.label, sp.surface, eid, if (eid != null) "exact" else null)
      }
    }
  }

  def charNGrams(s: String, n: Int = NGram): Seq[String] = {
    if (s.length < n) Seq(s) else s.sliding(n).toSeq
  }

  /** Word→multi-label join (`CC/loaders/mlabel_le_loader.py:199-213`): each
    * word joins the tagged dictionary and carries up to `k` labels — the
    * relational half of the reference's `[L, W, K]` label scatter (`:191`;
    * the tensor half is `Encode.convert`'s layout). Broadcast join on the
    * dictionary (small side); labels are sorted for determinism and sliced
    * to `k`, matching the reference's fixed label-slot budget. Words with no
    * dictionary entry keep an empty label array (the reference pads with
    * the null label at scatter time).
    *
    * @param dict DataFrame(word, label) — one row per (word, label) pair.
    */
  def multiLabelJoin(words: DataFrame, dict: DataFrame, k: Int): DataFrame =
    words.select(col("word"))
      .join(broadcast(dict.select(col("word"), col("label"))), Seq("word"), "left")
      .groupBy(col("word"))
      .agg(slice(sort_array(collect_set(col("label"))), 1, k).as("labels"))

  /** Exact linking through [[aliasLut]] (one typed map, the same per-span
    * lookup as `runFusedDetect`), then MinHash-LSH fuzzy recovery of the
    * NIL rows against the same table's entries. Mentions with no fuzzy
    * candidate stay NIL (entity_id and method null).
    *
    * `mentions` is read three times (hits, misses, fuzzy candidates), so it
    * should be a committed snapshot or otherwise cheap to recompute.
    * The zero-miss case needs no driver gate: AQE's empty-relation
    * propagation collapses the similarity join at runtime.
    */
  def run(mentions: Dataset[Mention], alias: Seq[AliasRow]): Dataset[LinkedMention] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val lut = aliasLut(alias)
    val bcLut = spark.sparkContext.broadcast(lut)
    val exact = mentions.mapPartitions { it =>
      val link = new Memo(bcLut.value)
      it.map { m =>
        val eid = link(m.label, m.surface)
        LinkedMention(m.conv_id, m.turn_idx, m.start, m.end, m.label,
          m.surface, eid, if (eid != null) "exact" else null)
      }
    }
    val hit = exact.filter(col("entity_id").isNotNull)
    val miss = exact.filter(col("entity_id").isNull).drop("entity_id", "method")

    // the candidate side is the election's own entries, so exact and fuzzy
    // linking cannot disagree on which id an alias stands for
    val aliasNorm = lut.entrySet.iterator.asScala.map { e =>
      val k = e.getKey
      val nul = k.indexOf('\u0000')
      (k.substring(nul + 1), k.substring(0, nul), e.getValue)
    }.toSeq.toDF("alias_surface", "alias_label", "entity_id")

    // Locale.ROOT: a default-locale lowercase varies per executor JVM
    // locale (e.g. Turkish dotless-i) — nondeterministic buckets
    val grams = udf((s: String) => charNGrams(s.toLowerCase(java.util.Locale.ROOT)))
    val tf = new HashingTF().setInputCol("grams").setOutputCol("features")
      .setNumFeatures(1 << 16).setBinary(true)
    val lsh = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(4).setSeed(LshSeed)
    val missFeat = tf.transform(miss.withColumn("grams", grams(col("surface"))))
    val aliasFeat = tf.transform(
      aliasNorm.withColumn("grams", grams(col("alias_surface"))))
    // label IS part of the mention identity: two mentions sharing a span
    // but differing in label (possible on replayed/unioned inputs) must
    // each keep their own rerank winner
    val keys = Seq("conv_id", "turn_idx", "start", "end", "label")
    val best = lsh.fit(aliasFeat)
      .approxSimilarityJoin(missFeat, aliasFeat, FuzzyMaxJaccardDist, "jaccard_dist")
      .select(keys.map(k => col(s"datasetA.$k")) ++ Seq(col("datasetB.entity_id"),
        col("datasetB.alias_label"), col("jaccard_dist")): _*)
      .filter(col("label") === col("alias_label"))
      .withColumn("rn", row_number().over(Window.partitionBy(keys.map(col): _*)
        .orderBy(col("jaccard_dist").asc, col("entity_id").asc)))
      .filter(col("rn") === 1)
      .select((keys :+ "entity_id").map(col): _*)

    hit.toDF().unionByName(miss.join(best, keys, "left")
        .withColumn("method", when(col("entity_id").isNotNull, lit("fuzzy"))))
      .as[LinkedMention]
  }
}
